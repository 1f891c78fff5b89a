package graft

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.tools.{PhaseTimer, Probe, StageMetrics}

/** Benchmark main: times every [[SparkEntry]] query against
  * `SPARK_GRAFT_SF_DIR` on `local[SPARK_GRAFT_CPUS]` (default: every core),
  * prints ONE JSON line, writes the full record to `BENCH_DETAIL.json`, and
  * exits 1 if any query failed (a broken query must fail the bench, not
  * silently record a wall time).
  *
  * One path: an untimed warm-up, then a cold pass and a warm pass in
  * [[SparkEntry.runOrder]], each query timed by [[Probe.measure]], then the
  * shared-artifact timings.
  *
  * Reporting notes:
  *  - `value` is the sum of cold walls, `value_cpu` the sum of cold
  *    executor CPU. Host load stretches wall time but not the cycles a plan
  *    consumes, so compare runs by `value_cpu` first, then by
  *    `perq.<q>.cold_cpu_sec`; wall A/Bs need alternating runs (perfbench's
  *    pairs, or Probe), not two Bench runs.
  *  - `errors` maps query name → exception class+message (empty when
  *    clean). A failed query has no timing: a time-to-failure must not
  *    read as a measurement.
  *  - `q_ml_forecast`/`q_ml_anomaly` share one memoized model fit
  *    (graft.queries.MlQueries) — whichever runs first pays the training;
  *    `ml_fused` reports their combined time, which is the only number
  *    meaningful across runs. No `q_ml_*` query has a warm reading: a
  *    second run would measure the memo, not the work.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = session(cpus)
    val acct = StageMetrics.attach(spark.sparkContext)
    val errors = mutable.LinkedHashMap.empty[String, String]
    def describe(e: Throwable): String = s"${e.getClass.getSimpleName}: " +
      Option(e.getMessage).getOrElse("").take(200)
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
    } catch { case NonFatal(e) => errors("warmup") = describe(e) }
    // One pass over `order`: the untimed gc before each query keeps one
    // query's allocation churn from being billed to the next one's wall.
    def pass(order: Seq[(String, Boolean)]): Seq[(String, Try[Probe.Reading])] =
      order.map { case (name, clear) =>
        if (clear) spark.catalog.clearCache()
        System.gc()
        name -> Try(Probe.measure(spark, acct, sfDir, name))
      }
    val order = SparkEntry.runOrder(SparkEntry.queries.keys)
    val coldRuns = pass(order)
    coldRuns.foreach {
      case (name, Failure(e)) => errors(name) = describe(e)
      case _ => ()
    }
    val cold = coldRuns.collect { case (name, Success(r)) => name -> r }
    // Second, WARM pass: same order and cache clearing, but the JVM now has
    // every query's generated code JIT'd. Cold numbers stay the headline
    // (what a fresh cluster pays); the warm readings separate a cold-run
    // drift (suite ordering, Janino compile, JIT) from a plan change. The
    // cold pass already reported any error.
    val warm = pass(order.filterNot(_._1.startsWith("q_ml_")))
      .collect { case (name, Success(r)) => name -> r }.toMap
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
      } catch { case NonFatal(_) => -1.0 }
    // count only clean queries that actually RE-LEARN the artifact
    // (brute-force and hyperplane-LSH never train the coarse quantizer;
    // exact dedup never builds signatures)
    val annN = cold.count { case (n, _) => n.startsWith("q_ann_") &&
      n != "q_ann_bruteforce" && n != "q_ann_hyperplane" }
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
    val dedupN = cold.count { case (n, _) => (n.startsWith("q_dedup_") ||
      n.startsWith("q_minhash_")) && n != "q_dedup_exact" }
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
    def jobj(kvs: Iterable[(String, String)]) =
      kvs.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")
    // itemize at most 3 errors with trimmed messages — error text must
    // never push the result line past the harness tail window (that would
    // lose the report exactly when there are failures to report); the full
    // messages land in BENCH_DETAIL.json
    val errJson = errors.take(3)
      .map { case (k, v) => jstr(k) + ":" + jstr(v.take(80)) }
      .mkString("{", ",",
        (if (errors.size > 3) s""","more_errors":${errors.size - 3}""" else
          "") + "}")
    val errJsonFull = jobj(errors.map { case (k, v) => k -> jstr(v) })
    val mlFused = cold.collect {
      case (n, r) if n.startsWith("q_ml_") => r.wallSec
    }.sum
    val total = cold.map(_._2.wallSec).sum
    // value_cpu: total cold executor-CPU — the LOAD-INVARIANT run-over-run
    // axis: external contention inflates wall but not this sum. Plan
    // regressions show here first; wall-only regressions (added barriers,
    // IO waits) still need `value`.
    val totalCpu = cold.map(_._2.m.cpuSec).sum
    // The harness keeps only the last ~2000 chars of stdout and parses the
    // JSON result line out of that window; ~100 full-precision per-query
    // entries overflow it. Print the slowest queries itemized plus an
    // aggregate for the rest (always well under the window), and write the
    // complete full-precision map (plus per-query shuffle/spill MB from the
    // stage-metrics listener) to BENCH_DETAIL.json alongside.
    val (top, rest) = cold.sortBy(-_._2.wallSec).splitAt(40)
    val qs = top.map { case (k, r) => jstr(k) + ":" + jnum(r.wallSec) }
      .mkString("{", ",",
        s""","other_n":${rest.size},"other_sec":${jnum(rest.map(_._2.wallSec).sum)}}""")
    val fullQs = jobj(cold.map { case (k, r) => k -> r.wallSec.toString })
    val shuffleQs = jobj(cold.map { case (k, r) =>
      k -> s"""{"read_mb":${jnum(r.m.shuffleReadB / 1e6)},"write_mb":${jnum(r.m.shuffleWriteB / 1e6)},"spill_mb":${jnum(r.m.spillB / 1e6)},"cpu_sec":${jnum(r.m.cpuSec)}}"""
    })
    val warmSorted = warm.toSeq.sortBy(_._1)
    val warmQs = jobj(warmSorted.map { case (k, r) => k -> r.wallSec.toString })
    val warmCpuQs = jobj(warmSorted.map { case (k, r) => k -> jnum(r.m.cpuSec) })
    // the unified per-query record: cold wall, cold executor-CPU, warm
    // wall, warm executor-CPU side by side, so "host band or regression?"
    // is decidable from the artifact alone — CPU is the load-invariant axis
    // on both passes (warm fields null for the `q_ml_*` queries)
    val perQ = jobj(cold.sortBy(_._1).map { case (k, r) =>
      val w = warm.get(k)
      k -> (s"""{"cold_sec":${jnum(r.wallSec)},"cold_cpu_sec":${jnum(r.m.cpuSec)},""" +
        s""""warm_sec":${w.fold("null")(x => jnum(x.wallSec))},""" +
        s""""warm_cpu_sec":${w.fold("null")(x => jnum(x.m.cpuSec))}}""")
    })
    // operator-internal phase map (PhaseTimer): per-phase fit/transform
    // seconds for the ML family (forecast.* and anomaly.* keys, summed
    // over the run), the axis that decides "variance or plan
    // regression" without re-running anything. Concurrent phases
    // accumulate their own thread's wall time (sums may exceed the fused
    // wall clock — documented PhaseTimer semantics).
    val mlPhases = jobj(PhaseTimer.snapshot.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> jnum(v) })
    // per-family cost attribution (family = first token after q_): the
    // suite total decomposed into ~15 stable groups, so run-over-run
    // growth reads as "which family got more expensive / gained queries"
    // instead of an opaque scalar
    val families = jobj(cold
      .groupBy(_._1.stripPrefix("q_").split("_").head)
      .toSeq.sortBy(-_._2.map(_._2.wallSec).sum)
      .map { case (fam, rs) =>
        fam -> s"""{"n":${rs.size},"sec":${jnum(rs.map(_._2.wallSec).sum)},"cpu_sec":${jnum(rs.map(_._2.m.cpuSec).sum)}}"""
      })
    def relearn(sec: Double, n: Int): Double =
      if (sec < 0) -1.0 else sec * math.max(0, n - 1)
    val sharedJson =
      s"""{"ann_coarse_sec":${jnum(annCoarseSec)},"ann_n":$annN,"ann_relearn_sec":${jnum(relearn(annCoarseSec, annN))},"dedup_minhash_sec":${jnum(minhashSec)},"dedup_n":$dedupN,"dedup_relearn_sec":${jnum(relearn(minhashSec, dedupN))}}"""
    val detail = s"""{"metric":"total","value":$total,"unit":"sec","value_cpu":${jnum(totalCpu)},"queries":$fullQs,"perq":$perQ,"warm":$warmQs,"warm_cpu":$warmCpuQs,"shuffle":$shuffleQs,"families":$families,"ml_phases":$mlPhases,"shared":$sharedJson,"ml_fused":$mlFused,"errors":$errJsonFull,"sf":"$sfDir"}"""
    try {
      val w = new java.io.PrintWriter("BENCH_DETAIL.json")
      try w.println(detail) finally w.close()
    } catch { case _: java.io.IOException => () } // best-effort
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","value_cpu":${jnum(totalCpu)},"queries":$qs,"ml_fused":${jnum(mlFused)},"shared":$sharedJson,"errors":$errJson,"sf":"$sfDir","detail":"BENCH_DETAIL.json"}""")
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
