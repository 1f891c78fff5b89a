package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import graft.io.StateDir

/** Persisted ANN index: build once from a corpus, serve queries many
  * times without re-learning anything — the deployment lifecycle the
  * live [[Similarity.ivfPqResSearch]] operator folds into one plan.
  *
  * At 100 TB the index build (one Lloyd pass for cells, m residual
  * sub-Lloyds, one codegen'd encode pass over the corpus) is a batch job
  * measured in node-hours; queries arrive continuously and must not pay
  * it. The artifacts are plain parquet — readable by any Spark session,
  * partition-prunable, and small relative to the corpus (codes are
  * 2 bytes per vector at m=4/kSub=16; unit vectors dominate and exist
  * for the exact stage-C re-rank only):
  *
  * {{{
  * dir/centroids  (bkt INT, cvec ARRAY<DOUBLE>)   |cells| rows
  * dir/codes      (bkt INT, uid, code ARRAY<INT>) one row per vector
  * dir/vectors    (uid, uvec ARRAY<DOUBLE>)       one row per vector
  * dir/books      (j INT, cj INT, center ARRAY<DOUBLE>)  m·kSub rows
  * dir/params     (dim, m, kSub, n_centers, n_base, format_version) 1 row
  * dir/uidbloom   (format_version, expected_items, fpp, uid_type,
  *                 bloom BINARY) 1 row
  * dir/addstate   (n_added BIGINT) 1 row, written/advanced by add()
  * dir/tombstones (uid) appended by supersede(); absent = none
  * }}}
  *
  * SINGLE WRITER, ENFORCED: [[add]], [[supersede]], and [[rebuild]] all
  * mutate shared per-version state (addstate, the bloom, the tombstone
  * set, the version list), and their correctness arguments are
  * single-producer — e.g. an add() that resolved the old root while a
  * rebuild runs appends rows the rebuild's vector read never saw; those
  * rows live only in the old version, which a later rebuild prunes —
  * silent row loss. Every mutating call therefore takes an advisory
  * marker lock (`dir/_WRITER`, created atomically, deleted on
  * completion): a second concurrent mutator fails fast with a named
  * error instead of corrupting state. A crash leaves a stale marker;
  * the error says exactly what to delete once the dead writer is
  * confirmed gone — deliberate-action-shaped, like the streaming
  * `_OWNER` lock. Reads ([[search]], [[stats]]) never take the lock.
  *
  * REBUILD VERSIONS: [[rebuild]] writes a complete fresh artifact set
  * under `dir/r=<n>` (params written LAST is the commit marker, the
  * corpus-state convention) and every reader/writer here resolves the
  * newest committed version first ([[currentRoot]]), falling back to the
  * legacy flat layout when no `r=` version exists — so a rebuild swaps in
  * atomically for new calls while calls already past resolution keep
  * serving the version they opened. `addstate` lives per version: a
  * rebuild resets the staleness counter by construction.
  *
  * `format_version` (the [[NbClassifier]]/[[Bpe]] artifact convention) is
  * 1; params/uidbloom rows missing the column are pre-versioning
  * artifacts and load with fallback behavior (no bloom → full-scan dup
  * guard; no n_base → no staleness guard). `uidbloom` is a Bloom filter
  * over the uids of every vector ever written (over-approximation by
  * construction — it is written BEFORE the row appends, so a failed add
  * leaves stale positives that the exact confirm clears, never false
  * negatives). `uid_type` records the probe transform: `long` blooms the
  * raw integral uid; `hashed` blooms `xxhash64(uid)` (string/content-hash
  * keys — the deterministic hash keeps the no-false-negative invariant,
  * hash collisions only add false positives the exact confirm clears);
  * a row without the column is a pre-r15 `long` bloom. It exists so
  * [[add]]'s duplicate-id guard is DELTA-sized: without it every nightly
  * add pays a full index scan. Sketch size is O(n) bits (~1.2 MB per
  * million uids at fpp 0.01) — within the codebook driver-side allowance
  * for any index whose codes fit a cluster; shard the index itself before
  * the bloom is the bottleneck.
  *
  * [[search]] reloads the codebooks to the driver (m·kSub·dsub = k·dim
  * doubles — the codebook allowance every ANN operator shares) and runs
  * the EXACT serve plan of the live operator
  * ([[Similarity.ivfPqResServe]]), so a persisted-then-served query
  * returns the same rows the live search would — the equivalence the
  * spec asserts.
  */
object AnnIndex {

  /** Artifact format version stamped into `params` and `uidbloom`
    * (missing column = version 0, the pre-r14 layout, accepted). */
  val FormatVersion = 1

  private val BloomFpp = 0.01

  /** The advisory single-writer marker (see the object scaladoc). */
  private[graft] val WriterMarker = "_WRITER"

  /** Run `body` holding the index's single-writer lock: `dir/_WRITER`
    * is created atomically ([[graft.io.StateDir.createExclusive]] — the
    * same primitive the streaming `_OWNER` lock races on), holding `op`,
    * and deleted in a finally. A concurrent mutator — or the stale marker
    * of a crashed one — fails fast with instructions instead of
    * interleaving writes.
    */
  private def withWriterLock[T](spark: SparkSession, dir: String,
                                op: String)(body: => T): T = {
    val lock = new org.apache.hadoop.fs.Path(s"$dir/$WriterMarker")
    val fs = StateDir.fs(spark, dir)
    if (!StateDir.createExclusive(fs, lock, op))
      throw new IllegalStateException(
        s"AnnIndex.$op: $dir is being mutated by another writer " +
          s"($dir/$WriterMarker exists) — add/supersede/rebuild are " +
          "single-writer (concurrent mutation silently loses rows " +
          "across a rebuild's version swap). If the other writer " +
          "crashed and is confirmed dead, delete the marker to " +
          "take over")
    try body finally fs.delete(lock, false)
  }

  /** The tombstoned uids of the current version, when any exist —
    * DISTINCT rows (a retried or repeated [[supersede]] appends
    * duplicates by design; the set semantics live here). Delta-sized by
    * construction: tombstones accumulate per supersede call and reset at
    * [[rebuild]].
    */
  private[graft] def readTombstones(spark: SparkSession,
                                    root: String): Option[DataFrame] =
    readTombstonesSized(spark, root).map(_._1)

  /** [[readTombstones]] plus the committed part files' total on-disk
    * bytes — the already-paid `listStatus` is the broadcast-decision
    * input [[minusTombstones]] needs, so callers never run a count
    * action just to decide a join strategy.
    */
  private[graft] def readTombstonesSized(spark: SparkSession,
                                         root: String)
      : Option[(DataFrame, Long)] = {
    // gate on COMMITTED PART FILES, not the directory and not _SUCCESS:
    // a crashed supersede leaves tombstones/ holding only _temporary
    // (the dir is created at job SETUP), and reading it would kill
    // every LOCKLESS search/stats with a schema-inference error until
    // hand-cleaned — while keying on _SUCCESS would silently DISCARD
    // committed tombstones on deployments that suppress marker files
    // (marksuccessfuljobs=false, object-store tooling that drops
    // underscore files), resurrecting retired vectors with no error.
    // Committed task output is exactly the part files; supersede only
    // ever writes non-empty frames, so data present = part files
    // present.
    val dir = s"$root/tombstones"
    val fs = StateDir.fs(spark, dir)
    val bytes =
      if (!fs.exists(new org.apache.hadoop.fs.Path(dir))) 0L
      else StateDir.partFiles(fs, dir).map(_.getLen).sum
    if (bytes > 0)
      Some((spark.read.parquet(s"$root/tombstones").distinct(), bytes))
    else None
  }

  /** Tombstone ROWS above which [[minusTombstones]] stops forcing a
    * broadcast (256k uids ≈ 8 MB of single-long UnsafeRows built on
    * the driver — inside every broadcast budget). The old unconditional
    * hint was the one O(index) driver materialization left on the
    * serve path (VERDICT r18 #1): tombstones are delta-sized PER
    * SUPERSEDE but accumulate until a rebuild, and the budget that
    * forces a rebuild is a FRACTION of the index — at 1B vectors and a
    * 0.3 drift bound that is a ~300M-uid set shipped to every task.
    * Above the threshold the join is left un-hinted: AQE broadcasts
    * while the runtime stats are still small and shuffles when not,
    * and the bucket/filter pushdown through the anti-join's left side
    * keeps the codes scan pruned either way.
    *
    * The decision reads ROW COUNTS FROM THE PARQUET FOOTERS, not
    * on-disk bytes: a contiguous retirement's monotone uids
    * delta-encode to ~4 bytes/uid (the r19 tombscan probe measured
    * 500k uids in 2.0 MB), so a byte threshold under-counts rows by
    * two orders of magnitude on exactly the old-generation-cut shape
    * that accumulates fastest. Footer reads are driver-side and
    * file-count-bounded (one coalesced file per supersede call), no
    * Spark job. Duplicate rows from retried supersedes over-count —
    * conservative in the safe direction.
    */
  private val TombstoneBroadcastMaxRows: Long = 1L << 18

  /** `left` minus the tombstoned uids of `root` — the serve/rebuild
    * anti-join, with the broadcast kept under an explicit size check
    * (see [[TombstoneBroadcastMaxRows]]). No-op when no tombstones
    * are committed.
    */
  private[graft] def minusTombstones(spark: SparkSession, root: String,
                                     left: DataFrame): DataFrame =
    readTombstonesSized(spark, root) match {
      case Some((tomb, _)) =>
        val dir = s"$root/tombstones"
        val conf = spark.sparkContext.hadoopConfiguration
        val rows = StateDir.partFiles(StateDir.fs(spark, dir), dir)
          .map { st =>
            val in = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile
                .fromStatus(st, conf))
            try in.getRecordCount finally in.close()
          }.sum
        val right =
          if (rows <= TombstoneBroadcastMaxRows) broadcast(tomb)
          else tomb
        left.join(right, Seq("uid"), "left_anti")
      case None => left
    }

  private def tombstoneCount(spark: SparkSession, root: String): Long =
    readTombstones(spark, root).map(_.count()).getOrElse(0L)

  /** The uids of `candidates` the CURRENT version's codes actually hold
    * — the ONE membership probe behind every delta-sized mutation: the
    * keyed absorb's retirement cut, the supersession feed apply,
    * [[supersede]]'s exists guard, [[add]]'s duplicate confirm,
    * [[knownUidCount]]. Returns one `uid` row per served candidate,
    * PROJECTED FROM CODES (the type/provenance [[supersedeVerified]]
    * requires). `candidates` must carry a `uid` column.
    *
    * Scale shape — this probe was a full codes uid-column scan per
    * delta-sized batch until r18 (the loop's largest remaining
    * O(index)-per-delta cost once every write went delta-sized):
    *
    *  1. RANGE PUSHDOWN: the candidates' min/max (one delta-sized agg)
    *     becomes a typed `uid BETWEEN lo AND hi` predicate on the codes
    *     scan. [[build]] writes codes uid-range-sorted per file (and
    *     [[add]] appends range-sorted, delta-coalesced files whose
    *     monotone ingest uids give tight disjoint ranges), so parquet
    *     footer stats prune the files and row groups outside the
    *     candidate span — the footers ARE the per-file uid min/max
    *     manifest, consistent for free because parquet files are
    *     immutable. A feed naming only ids outside the index's uid
    *     range (new-generation ingest ids, docs without embeddings)
    *     prunes EVERY file: zero row IO.
    *  2. EXACT CONFIRM: one semi-join of the pruned codes uid column
    *     against the broadcast candidates.
    *
    * Deliberately NO uid-bloom prefilter here: the bloom artifact is
    * O(index) BYTES (≈1.2 MB per million uids — ~1 GB at a billion)
    * and a prefilter would read + deserialize + task-ship it through
    * the DRIVER on every delta-sized batch — the uidscan probe measured
    * that cost GROWING with the index while the naive scan stayed
    * parallel. The span predicate gives the absent-ids fast path
    * without any driver-side O(index) state; the bloom stays where a
    * single driver-side load is already paid and amortized
    * ([[add]]'s dup guard, which loads it to merge/write anyway).
    *
    * Worst case (candidates spread across the whole live uid span, or
    * a non-rangeable uid type mismatch) degrades to exactly the
    * pre-r18 cost — one parallel codes uid-column scan — never worse;
    * SCALING.md "Round 18: the served-uid membership probe goes
    * delta-sized" measures the designed cases (out-of-span ids,
    * clustered re-embeds) FLAT as the index grows 10× at fixed delta
    * size.
    */
  private[graft] def servedUids(spark: SparkSession, root: String,
                                candidates: DataFrame): DataFrame = {
    val ids = candidates.select(col("uid")).distinct()
      .transform(CacheScope.cache)
    val codes = spark.read.parquet(s"$root/codes").select(col("uid"))
    // typed literals only (same dataType both sides): a coerced
    // predicate would wrap the column in a cast and lose the parquet
    // pushdown that makes the pruning real
    val uidDt = codes.schema("uid").dataType
    val rangeable = (isIntegral(uidDt) || uidDt == StringType) &&
      ids.schema("uid").dataType == uidDt
    if (!rangeable) codes.join(broadcast(ids), Seq("uid"), "left_semi")
    else {
      val mm = ids.agg(min(col("uid")), max(col("uid"))).head()
      if (mm.isNullAt(0)) codes.limit(0) // no non-null candidates
      else codes.filter(col("uid") >= lit(mm.get(0)) &&
          col("uid") <= lit(mm.get(1)))
        .join(broadcast(ids), Seq("uid"), "left_semi")
    }
  }

  /** How many of `uids` the CURRENT version's codes already hold — the
    * delta-sized membership probe behind the streaming loop's
    * exactly-once retry ([[graft.streaming.StreamingIndex]]): all
    * present = a completed add's re-delivery (skip), none = a fresh
    * delta (add). One [[servedUids]] pass: a fresh delta's monotone new
    * uids sit ABOVE the index's range, so the pushed span predicate
    * prunes every codes file — the common case reads zero rows.
    */
  private[graft] def knownUidCount(spark: SparkSession, dir: String,
                                   uids: DataFrame, idCol: String): Long = {
    val root = currentRoot(spark, dir)
    servedUids(spark, root, uids.select(col(idCol).as("uid"))).count()
  }

  /** Learn and persist the index. The corpus must carry a coarse cell
    * column (from [[Similarity.kmeansBuckets]] or any bucketing).
    * Fails on an empty/all-null corpus — there is no codebook to learn.
    * Write order ends bloom → params so `params` doubles as the commit
    * marker a [[rebuild]] version is judged committed by.
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            bucketCol: String, dir: String, dim: Int,
            m: Int = 4, kSub: Int = 16, iters: Int = 1,
            trainFraction: Double = 1.0): Unit = {
    // a dir that holds committed rebuild versions resolves to the newest
    // r=<n>, so a flat build here would be written and then SHADOWED —
    // silently serving the old version forever. Refuse loudly instead.
    val spark0 = corpus.sparkSession
    require(currentRoot(spark0, dir) == dir,
      s"AnnIndex.build: $dir holds committed rebuild versions (r=<n>) " +
        "that would shadow a flat build — use rebuild() to advance this " +
        "index, or build into a fresh directory")
    val parts = Similarity.ivfPqResIndexParts(corpus, idCol, vecCol,
      bucketCol, dim, m, kSub, iters, trainFraction)
    require(parts.nonEmpty,
      "AnnIndex.build: corpus has no non-null vectors — nothing to index")
    val (cents, coded, unit, books) = parts.get
    val spark = corpus.sparkSession
    import spark.implicits._
    cents.write.mode("overwrite").parquet(s"$dir/centroids")
    // codes land uid-RANGE-SORTED per file (disjoint per-file ranges,
    // monotone within — the rangeSortedParquet layout): parquet footer
    // stats then act as a free per-file/row-group uid manifest for the
    // delta-sized membership probes ([[servedUids]]) that retire and
    // dedup against this index every batch. Search is unaffected — its
    // bkt cut never relied on file clustering (the encode shuffle left
    // codes unclustered before r18 too).
    coded.repartitionByRange(
        spark.sessionState.conf.numShufflePartitions, col("uid"))
      .sortWithinPartitions(col("uid"))
      .write.mode("overwrite").parquet(s"$dir/codes")
    unit.write.mode("overwrite").parquet(s"$dir/vectors")
    books.zipWithIndex.flatMap { case (cs, j) =>
      cs.zipWithIndex.map { case (c, cj) => (j, cj, c.toSeq) }
    }.toSeq.toDF("j", "cj", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/books")
    // footer-stats count over the just-written codes (cheap) = the base
    // size the add() staleness guard measures growth against
    val nBase = spark.read.parquet(s"$dir/codes").count()
    // uid bloom: integral uids bloom raw longs; string uids bloom
    // xxhash64(uid) (`hashed`) — both give add() the delta-sized dup
    // guard. Other key types fall back to the full-scan guard.
    uidTypeOf(coded.schema("uid").dataType).foreach { ut =>
      writeBloom(spark, dir,
        buildBloom(coded, math.max(2L * nBase, 1024L), BloomFpp, ut),
        math.max(2L * nBase, 1024L), BloomFpp, ut)
    }
    // params LAST = the commit marker (rebuild versions are committed
    // only once their params row is readable)
    Seq((dim, m, kSub, books(0).length, nBase, FormatVersion))
      .toDF("dim", "m", "kSub", "n_centers", "n_base", "format_version")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/params")
  }

  private def isIntegral(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  /** Bloom key family for a uid type: raw longs for integral uids,
    * `hashed` (xxhash64) for strings, None (no bloom) otherwise. */
  private def uidTypeOf(dt: DataType): Option[String] = dt match {
    case t if isIntegral(t) => Some("long")
    case StringType => Some("hashed")
    case _ => None
  }

  /** The LONG the bloom stores/probes for a uid under `uidType`. */
  private def bloomKey(uidType: String, uid: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = uidType match {
    case "long" => uid.cast("long")
    case "hashed" => xxhash64(uid)
    case other => throw new IllegalArgumentException(
      s"AnnIndex: unknown uid_type '$other' in uidbloom — rebuild the " +
        "index with this library version")
  }

  private[graft] def buildBloom(withUid: DataFrame, expectedItems: Long,
                         fpp: Double, uidType: String = "long")
      : org.apache.spark.util.sketch.BloomFilter =
    withUid.select(bloomKey(uidType, col("uid")).as("uid"))
      .stat.bloomFilter("uid", expectedItems, fpp)

  /** Persist the bloom CRASH-SAFELY: write to a sibling tmp dir, then
    * swap via rename — the window where `uidbloom` is absent is one
    * rename wide, and [[add]] self-heals a missing bloom anyway (one
    * vectors uid scan) so even a crash inside the window cannot strand
    * the index bloomless forever.
    */
  private[graft] def writeBloom(spark: SparkSession, dir: String,
                         bf: org.apache.spark.util.sketch.BloomFilter,
                         expectedItems: Long, fpp: Double,
                         uidType: String = "long"): Unit = {
    import spark.implicits._
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/uidbloom__tmp")
    val live = new org.apache.hadoop.fs.Path(s"$dir/uidbloom")
    Seq((FormatVersion, expectedItems, fpp, uidType, out.toByteArray))
      .toDF("format_version", "expected_items", "fpp", "uid_type", "bloom")
      .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    if (fs.exists(live)) fs.delete(live, true)
    fs.rename(tmp, live)
    ()
  }

  private[graft] def readBloom(spark: SparkSession, dir: String)
      : Option[(org.apache.spark.util.sketch.BloomFilter, Long, Double,
                String)] = {
    val path = new org.apache.hadoop.fs.Path(s"$dir/uidbloom")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else {
      val row = spark.read.parquet(s"$dir/uidbloom").head()
      requireVersion(row, "uidbloom") // same guard as params — a future
      // serialization bump must fail with the rebuild instruction, not
      // deserialize blindly into a wrong membership filter
      val bytes = row.getAs[Array[Byte]]("bloom")
      // pre-r15 blooms carry no uid_type column: they were only ever
      // written for integral uids, so `long` is the faithful default
      val uidType =
        if (row.schema.fieldNames.contains("uid_type"))
          row.getAs[String]("uid_type")
        else "long"
      Some((org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bytes)),
        row.getAs[Long]("expected_items"), row.getAs[Double]("fpp"),
        uidType))
    }
  }

  private def requireVersion(row: org.apache.spark.sql.Row,
                             what: String): Unit =
    if (row.schema.fieldNames.contains("format_version")) {
      val v = row.getAs[Int]("format_version")
      require(v == FormatVersion,
        s"AnnIndex: $what format_version $v is not the supported " +
          s"$FormatVersion — rebuild the index with this library version")
    } // absent = pre-versioning artifact, accepted with fallback behavior

  /** The directory the CURRENT index version lives under: the newest
    * committed `dir/r=<n>` rebuild version (committed = its params row
    * is readable — params is written last), else `dir` itself (the
    * legacy flat layout every [[build]] writes). One resolution per
    * call: a [[rebuild]] completing mid-call does not tear artifacts
    * from two versions into one plan.
    */
  private[graft] def currentRoot(spark: SparkSession, dir: String): String =
    StateDir.versions(StateDir.fs(spark, dir), dir, "r").reverse
      .collectFirst(Function.unlift { v =>
        val root = s"$dir/r=$v"
        try {
          spark.read.parquet(s"$root/params").head()
          Some(root)
        } catch { case scala.util.control.NonFatal(_) => None }
      })
      .getOrElse(dir)

  /** REBUILD the index over everything it currently holds — the loop
    * [[stats]]' `added_fraction` alert points at and [[add]]'s staleness
    * refusal demands: re-learn cells and residual codebooks from the
    * persisted unit vectors (built + added rows alike — no external
    * corpus access), re-encode, and publish as a NEW VERSION under
    * `dir/r=<n>` that [[currentRoot]] swaps every subsequent
    * add/search/stats onto atomically (params written last is the
    * commit marker; a crashed rebuild leaves an uncommitted version the
    * resolver skips). The new version starts with a fresh `addstate`
    * (n_added = 0) and an `n_base` of the full rebuilt size — the
    * staleness budget resets, which is the point. The PREVIOUS version
    * stays on disk for calls that resolved before the swap; older
    * committed versions are pruned (the corpus-state retention rule).
    *
    * `nBuckets <= 0` re-derives the cell count from the rebuilt size
    * (clamp(ceil(n/1024), 16, 4096) — the facade's auto rule), so a
    * corpus that tripled since build gets proportionally more cells.
    * `m`/`kSub`/`dim` carry over from the current params. `iters` is the
    * coarse-cell Lloyd budget; `pqIters` the per-subspace residual
    * sub-Lloyd budget (1 = the standard build's default — the two knobs
    * are deliberately separate so a rebuild can refine cells without
    * changing the code geometry class).
    *
    * TOMBSTONES ([[supersede]]) are REALIZED here: superseded uids'
    * vectors are excluded from the re-learn and from the rebuilt
    * artifacts entirely, and the new version starts with an empty
    * tombstone set — the tombstone budget resets along with the add
    * budget, exactly like a log-structured store's compaction.
    */
  def rebuild(spark: SparkSession, dir: String, nBuckets: Int = 0,
              iters: Int = 2, trainFraction: Double = 1.0,
              pqIters: Int = 1): Unit =
      withWriterLock(spark, dir, "rebuild") {
    val root = currentRoot(spark, dir)
    val params = spark.read.parquet(s"$root/params").head()
    requireVersion(params, "params")
    val dim = params.getAs[Int]("dim")
    val m = params.getAs[Int]("m")
    val kSub = params.getAs[Int]("kSub")
    val allVecs = spark.read.parquet(s"$root/vectors")
    // physical purge: tombstoned uids do not enter the re-learn, the
    // codes, or the vectors of the new version. rebuild runs exactly AT
    // the drift bound — the moment tombstones are largest — so the
    // anti-join broadcasts only under the explicit size check
    // (minusTombstones), never unconditionally
    val vecs = minusTombstones(spark, root, allVecs)
    val k =
      if (nBuckets > 0) nBuckets
      else {
        val n = vecs.count()
        math.min(4096L, math.max(16L, (n + 1023L) / 1024L)).toInt
      }
    val bucketed = Similarity.kmeansBuckets(vecs, "uid", "uvec", k = k,
      iters = iters, bucketCol = "__cell", trainFraction = trainFraction)
    val fs = StateDir.fs(spark, dir)
    def versions = StateDir.versions(fs, dir, "r")
    // r=0 is never written: the flat layout under `dir` is the first version
    val next = math.max(1L, StateDir.nextSlot(versions))
    build(bucketed, "uid", "uvec", "__cell", s"$dir/r=$next", dim = dim,
      m = m, kSub = kSub, iters = pqIters, trainFraction = trainFraction)
    // retention: keep the NEW version and the COMMITTED predecessor the
    // in-flight readers actually resolved before the swap (`root`);
    // delete everything else — older committed versions AND stale
    // uncommitted junk from crashed rebuilds, which a listing-based
    // dropRight would have kept while deleting the committed
    // predecessor it shadows
    versions.foreach { v =>
      val vd = s"$dir/r=$v"
      if (v != next && vd != root)
        fs.delete(new org.apache.hadoop.fs.Path(vd), true)
    }
  }

  /** LATEST-WINS IDENTITY for the index — retire uids whose documents
    * were re-embedded (the one-layer-down mirror of the corpus loop's
    * [[graft.api.Graft.RekeyPolicy.LatestWins]] supersession): the
    * re-embedded version enters under a NEW uid via [[add]] (exactly as
    * a re-crawled key enters at a new ingest id), and `supersede`
    * tombstones the old uid so [[search]] stops serving its STALE vector
    * immediately — no rebuild required to stop lying. [[rebuild]]
    * physically drops tombstoned rows and resets the tombstone set.
    *
    * State shape: `root/tombstones` is an append-only delta-sized
    * parquet of uid rows (set semantics restored at read — a retried or
    * repeated supersede of the same uids is idempotent by construction,
    * so the call is crash/retry-safe without a commit protocol).
    * Tombstoned rows still occupy codes/vectors and their uids stay in
    * the bloom, so re-adding a tombstoned uid keeps refusing (the dup
    * guard) until a rebuild purges it — identical to the corpus rule
    * that a digest once kept is never re-admitted.
    *
    * Guards, all loud: every uid must EXIST in the index (a typo'd
    * supersede "succeeding" silently would leave the stale vector
    * serving forever — the exact failure this operator removes); null
    * uids refuse. Scale shape: the existence check and the tombstone
    * projection are ONE pass over the codes uid column with the
    * delta broadcast — no shuffle of the index side, no vector bytes
    * read. Tombstones COUNT TOWARD THE STALENESS BUDGET ([[add]]'s
    * guard and [[stats]]' drift_fraction): a heavily-superseded index
    * is geometrically stale in exactly the way a heavily-grown one is —
    * its frozen cells describe vectors that no longer exist.
    */
  def supersede(spark: SparkSession, dir: String, uids: DataFrame,
                idCol: String): Unit =
      withWriterLock(spark, dir, "supersede") {
    val root = currentRoot(spark, dir)
    val params = spark.read.parquet(s"$root/params").head()
    requireVersion(params, "params")
    val ids = uids.select(col(idCol).as("uid")).distinct()
      .transform(CacheScope.cache)
    val nNull = ids.filter(col("uid").isNull).count()
    require(nNull == 0,
      s"AnnIndex.supersede: $idCol carries NULLs — there is no uid to " +
        "retire; drop or repair those rows first")
    val n = ids.count()
    if (n > 0) {
      // existence check and typed tombstone rows in one pass: project
      // the matching uids FROM codes (the index's own uid type), so the
      // anti-join in search never fights a type coercion. servedUids is
      // the range-pruned membership probe (span pushdown + semi-join;
      // deliberately NO bloom — its own scaladoc explains why) — a
      // delta-sized supersede never scans the whole codes uid column.
      val tombRows = servedUids(spark, root, ids)
        .transform(CacheScope.cache)
      require(tombRows.count() == n,
        "AnnIndex.supersede: some uids do not exist in the index — a " +
          "supersede that silently skipped them would leave their stale " +
          "vectors serving; check the uids (already rebuilt away? never " +
          "added?)")
      // ONE file per supersede call (uid-only rows — even a corpus-wide
      // retirement is a few MB): un-coalesced appends land up to
      // shuffle-partitions splinter files per call, and the tombstone
      // family is re-listed and re-read by EVERY absorb, add, and
      // search until the next rebuild resets it — the r18 lifetime
      // probe measured that creep
      tombRows.coalesce(1).write.mode("append")
        .parquet(s"$root/tombstones")
    }
  }

  /** [[supersede]] for PRE-VERIFIED uid rows — the feed-apply fast path
    * ([[graft.streaming.StreamingIndex.applySupersessionFeed]] already
    * projected the rows FROM this version's codes and anti-joined the
    * existing tombstones), skipping the exists probe's second codes
    * scan. Same writer lock, same append, same set-at-read semantics.
    * `tombRows` must carry exactly a `uid` column typed from codes —
    * callers that cannot guarantee provenance use [[supersede]].
    */
  private[graft] def supersedeVerified(spark: SparkSession, dir: String,
                                       tombRows: DataFrame): Unit =
      withWriterLock(spark, dir, "supersede") {
    val root = currentRoot(spark, dir)
    // coalesce(1): see [[supersede]] — one file per call keeps the
    // every-reader tombstone family's file count at calls-since-rebuild
    tombRows.select(col("uid")).coalesce(1).write.mode("append")
      .parquet(s"$root/tombstones")
  }

  /** INCREMENTAL index maintenance — the faiss `add()` contract: encode
    * `newVectors` under the index's FROZEN geometry (no retraining, no
    * touch of existing rows) and append them to `codes`/`vectors`, so
    * the next [[search]] retrieves old and new rows through one probe.
    *
    * Assignment rule: each new vector goes to the nearest STORED
    * centroid — the probe geometry queries use — then its residual
    * encodes under the frozen per-subspace codebooks with the exact
    * [[Similarity.assignOn]] kernel the build used (guard-rounded
    * distances, lowest-index ties), so added codes are bit-compatible
    * with built codes. For a corpus bucketed by [[Similarity.kmeansBuckets]]
    * the build-time bucketing used the Lloyd centers instead (the index
    * does not persist those); cell means are the next Lloyd iterate, so
    * the two geometries converge with `iters` — and probe-side
    * consistency is what recall actually depends on.
    *
    * Guards, all loud:
    *  - wrong-dimension vectors fail (cannot encode under the geometry);
    *  - duplicate uids WITHIN the delta fail (two codes rows would fan
    *    out the exact re-rank join; the probe shares the delta-sized
    *    count job);
    *  - uids already present in `codes` fail. The membership probe is
    *    DELTA-sized when the index carries a uid bloom: only bloom HITS
    *    pay an exact confirm against `codes` (false positives are
    *    cleared there) — a fresh-uid nightly add never scans the index.
    *    Integral uids bloom raw longs; string uids bloom xxhash64(uid).
    *    A VERSIONED index whose bloom artifact is missing (crash inside
    *    the bloom swap) self-heals: the bloom is rebuilt from one
    *    `vectors` uid-column scan before the guard runs. Pre-versioning
    *    indexes fall back to the full semi-join.
    *  - STALENESS: recall under frozen geometry decays as the vector
    *    distribution drifts from the frozen cells/books (measured curve
    *    in SCALING.md — recall@5 vs added fraction). `maxAddedFraction`
    *    bounds cumulative adds relative to the build size (`n_base`):
    *    exceeding it fails with a rebuild instruction ([[rebuild]] is
    *    that instruction's one-call form). The counter rides
    *    `dir/addstate`.
    *
    * Failure/retry semantics (writes ordered bloom → vectors → codes →
    * addstate, each a single parquet job): the bloom over-approximates
    * (written first — a failed add leaves stale positives, cleared by
    * the exact confirm; never false negatives), an orphaned `vectors`
    * row (vectors committed, codes failed) is INERT for search
    * (candidates come from codes) and is SKIPPED on retry rather than
    * duplicated, so a rerun of a failed add CONVERGES to exactly-once —
    * PROVIDED the retry carries the same content: an orphan whose stored
    * unit vector differs from the incoming vector's (a REGENERATED
    * delta, e.g. re-embedded docs under reused ids) fails loudly instead
    * of silently serving the stale vector to the exact re-rank. A rerun
    * after a fully-applied add correctly fails the duplicate guard; if
    * only the addstate bookkeeping write was lost, the staleness counter
    * undercounts by that one delta (guard slack, not corruption).
    */
  def add(spark: SparkSession, dir: String, newVectors: DataFrame,
          idCol: String, vecCol: String,
          maxAddedFraction: Double = 2.0): Unit =
      withWriterLock(spark, dir, "add") {
    val root = currentRoot(spark, dir)
    val params = spark.read.parquet(s"$root/params").head()
    requireVersion(params, "params")
    val dim = params.getAs[Int]("dim")
    val m = params.getAs[Int]("m")
    val centFrame = spark.read.parquet(s"$root/centroids")
    // centroids collected in BKT ORDER: the assignment kernel breaks
    // distance ties on array position, so a partition-order collect
    // would make tie resolution nondeterministic across runs
    val centPairs = centFrame.select(col("bkt"), col("cvec"))
      .orderBy(col("bkt")).collect()
      .map(r => r.getAs[Int]("bkt") -> r.getSeq[Double](1).toArray)
    require(centPairs.nonEmpty,
      s"AnnIndex.add: $root has no centroids — not a built index")
    val bookRows = spark.read.parquet(s"$root/books").collect()
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { j =>
      bookRows.filter(_.getAs[Int]("j") == j)
        .sortBy(_.getAs[Int]("cj")).map(_.getSeq[Double](2).toArray)
    }
    val vd = col(vecCol).cast("array<double>")
    val newV = newVectors.filter(vd.isNotNull)
      .select(col(idCol).as("uid"), vd.as("v"))
      .transform(CacheScope.cache) // guards + two appends read it
    // the three delta-local guards (count, intra-batch duplicate uids,
    // wrong dimension) in ONE delta-sized probe job
    val probe = newV.groupBy(col("uid"))
      .agg(count(lit(1)).as("__c"),
        max((size(col("v")) =!= dim).cast("int")).as("__bd"))
      .agg(sum(col("__c")).as("__n"), max(col("__c")).as("__mx"),
        max(col("__bd")).as("__anybad"))
      .head()
    val deltaN = if (probe.isNullAt(0)) 0L else probe.getLong(0)
    require(probe.isNullAt(2) || probe.getInt(2) == 0,
      s"AnnIndex.add: input carries vectors whose dimension != $dim " +
        "(the index geometry) — they cannot be encoded")
    require(probe.isNullAt(1) || probe.getLong(1) <= 1L,
      "AnnIndex.add: input carries duplicate uids WITHIN the delta — " +
        "two rows per uid would fan out the exact re-rank join; dedup " +
        "the delta by id first")
    // staleness guard: cumulative adds vs the build size (see SCALING.md
    // recall-vs-added-fraction curve for where the default comes from)
    val nBase =
      if (params.schema.fieldNames.contains("n_base"))
        Some(params.getAs[Long]("n_base"))
      else None
    val addPath = new org.apache.hadoop.fs.Path(s"$root/addstate")
    val fs = addPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nAdded =
      if (fs.exists(addPath))
        spark.read.parquet(s"$root/addstate").head().getAs[Long]("n_added")
      else 0L
    // tombstones count toward the same budget: a superseded vector's
    // cell/codebooks describe a row that no longer exists, which is
    // geometric drift exactly like an added row's (supersede scaladoc)
    val nTomb = tombstoneCount(spark, root)
    nBase.foreach { nb =>
      require(nAdded + deltaN + nTomb <= maxAddedFraction * nb,
        s"AnnIndex.add: cumulative drift (${nAdded + deltaN} added + " +
          s"$nTomb tombstoned) would exceed $maxAddedFraction of the " +
          s"build size ($nb) — recall under the frozen geometry decays " +
          "with drift fraction (SCALING.md curve); REBUILD the index " +
          "over the grown corpus (graft.api.Graft.annIndexRebuild), or " +
          "raise maxAddedFraction if the measured recall decay is " +
          "acceptable")
    }
    // duplicate-id / orphan guards, delta-sized via the uid bloom: only
    // uids the bloom claims to have seen pay the exact confirm scans.
    // A versioned index with a MISSING bloom artifact (crash inside the
    // bloom swap) self-heals here — one vectors uid scan, vs. silently
    // paying the full-index semi-join on every future add forever.
    val inputUidType = uidTypeOf(newV.schema("uid").dataType)
    val bloom = readBloom(spark, root).orElse {
      val versioned = params.schema.fieldNames.contains("format_version")
      (versioned, inputUidType) match {
        case (true, Some(ut)) =>
          System.err.println(s"[annindex] $root is versioned but has no " +
            "uidbloom (crash during a bloom swap?) — rebuilding it from " +
            "the vectors uid column")
          val expected =
            math.max(2L * (nBase.getOrElse(0L) + nAdded + deltaN), 1024L)
          val bf = buildBloom(
            spark.read.parquet(s"$root/vectors").select(col("uid")),
            expected, BloomFpp, ut)
          writeBloom(spark, root, bf, expected, BloomFpp, ut)
          Some((bf, expected, BloomFpp, ut))
        case _ => None // pre-versioning or unbloomable uid type: full scan
      }
    }
    // a bloom-carrying index tracks uids under ONE key family; appending
    // rows the bloom cannot represent would break its "contains every
    // written uid" invariant and let a LATER add of the same id skip the
    // duplicate guard silently — refuse instead
    bloom.foreach { case (_, _, _, ut) =>
      require(inputUidType.contains(ut),
        s"AnnIndex.add: this index carries a uid bloom keyed '$ut', " +
          s"but the input's $idCol is ${newV.schema("uid").dataType} — " +
          "cast the ids to the index's uid type (or rebuild the index " +
          "from the re-keyed corpus)")
    }
    val cands = bloom match {
      case Some((bf, _, _, ut)) =>
        val out = new java.io.ByteArrayOutputStream()
        bf.writeTo(out)
        newV.filter(ColumnBridge.column(BloomFilterMightContain(
          Literal(out.toByteArray, BinaryType),
          ColumnBridge.expression(bloomKey(ut, col("uid"))))))
          .select(col("uid"))
      case None => newV.select(col("uid")) // pre-bloom: full scan
    }
    val candsEmpty = cands.isEmpty
    if (!candsEmpty) {
      // range-pruned confirm ([[servedUids]] pushes the candidates' uid
      // span onto the sorted codes scan, then semi-joins exact — no
      // second bloom pass; the prefilter above already paid it)
      require(servedUids(spark, root, cands).isEmpty,
        "AnnIndex.add: input ids already exist in the index — a duplicate " +
          "uid would fan out the exact re-rank join; re-id or rebuild")
    }
    // orphaned vectors rows (a prior add wrote vectors, then failed
    // before codes): skip them on the vectors append IF the stored unit
    // vector matches the incoming one (a retry of the identical delta —
    // skipping converges it to exactly-once). A CONTENT MISMATCH means
    // the caller regenerated the delta under reused ids: appending would
    // duplicate the uid, skipping would serve the STALE vector to every
    // exact re-rank — fail loudly instead.
    val orphanFree =
      if (candsEmpty) newV
      else {
        val orphans = spark.read.parquet(s"$root/vectors")
          .join(cands, Seq("uid"), "left_semi")
          .join(newV, Seq("uid")) // (uid, uvec stored, v incoming)
          .transform(CacheScope.cache)
        require(orphans.filter(
            not(col("uvec") <=> Similarity.unitVec(col("v")))).isEmpty,
          "AnnIndex.add: an orphaned vectors row (a prior failed add) " +
            "holds DIFFERENT content than the incoming vector for the " +
            "same uid — a regenerated delta under reused ids would " +
            "silently serve the stale vector to the exact re-rank. " +
            "Re-id the regenerated delta, or rebuild the index")
        newV.join(orphans.select(col("uid")), Seq("uid"), "left_anti")
      }
    // write order: bloom first (over-approximation is safe; a missing uid
    // would be a false NEGATIVE on retry), vectors before codes (orphan
    // vectors are inert; orphan codes would vanish from the re-rank)
    bloom.foreach { case (bf, expected, fpp, ut) =>
      val projected = nBase.getOrElse(0L) + nAdded + deltaN
      if (projected > expected) {
        // SATURATION: past the sketch's sizing point the fpp degrades
        // and every future add pays more exact-confirm scans — rebuild
        // the bloom over all written uids (vectors ⊇ codes incl.
        // orphans) at doubled capacity. One uid-column scan, rare by
        // construction (amortized doubling), vs. a quietly degrading
        // guard forever.
        val newExpected = math.max(2L * projected, 2L * expected)
        writeBloom(spark, root,
          buildBloom(spark.read.parquet(s"$root/vectors")
            .select(col("uid")).unionByName(newV.select(col("uid"))),
            newExpected, fpp, ut),
          newExpected, fpp, ut)
      } else {
        bf.mergeInPlace(buildBloom(newV, expected, fpp, ut))
        writeBloom(spark, root, bf, expected, fpp, ut)
      }
    }
    // appended files are uid-range-sorted and delta-coalesced, like the
    // build's base files: nightly deltas carry monotone ingest uids, so
    // each add lands a handful of files with tight disjoint uid ranges —
    // exactly what [[servedUids]]' pushed range predicate prunes on; and
    // bounded file count keeps the footer-listing cost of a long add
    // history flat (32 shuffle-partition splinter files per add would
    // not)
    val nOutFiles = math.max(1L, math.min(32L, deltaN / 1000000L + 1L)).toInt
    orphanFree.select(col("uid"), Similarity.unitVec(col("v")).as("uvec"))
      .repartitionByRange(nOutFiles, col("uid"))
      .sortWithinPartitions(col("uid"))
      .write.mode("append").parquet(s"$root/vectors")
    encodeFrozen(newV, centPairs, centFrame, books, dim / m)
      .repartitionByRange(nOutFiles, col("uid"))
      .sortWithinPartitions(col("uid"))
      .write.mode("append").parquet(s"$root/codes")
    import spark.implicits._
    Seq(nAdded + deltaN).toDF("n_added")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/addstate")
  }

  /** The frozen-geometry encode kernel [[add]] and the oracled
    * `q_ann_index_add` twin share: nearest stored centroid (codebook-
    * sized driver array, position ties = lowest bkt — `centPairs` must
    * be bkt-ordered), residual against that cell's mean, per-subspace
    * code via the exact build-time [[Similarity.assignOn]] kernel.
    * `newV` carries `(uid, v)`; returns `(bkt, uid, code)`.
    */
  private[graft] def encodeFrozen(newV: DataFrame,
                                  centPairs: Array[(Int, Array[Double])],
                                  centFrame: DataFrame,
                                  books: Array[Array[Array[Double]]],
                                  dsub: Int): DataFrame = {
    val bktIds = centPairs.map(_._1)
    val assigned = newV
      .withColumn("__pos",
        Similarity.assignOn(col("v"), centPairs.map(_._2)))
      .withColumn("bkt", element_at(lit(bktIds), col("__pos") + 1))
      .join(broadcast(centFrame), "bkt")
      .withColumn("rv", zip_with(col("v"), col("cvec"), (x, c) => x - c))
    val codeArr = array(books.indices.map { j =>
      Similarity.assignOn(slice(col("rv"), j * dsub + 1, dsub), books(j))
    }: _*)
    assigned.select(col("bkt"), col("uid"), codeArr.as("code"))
  }

  /** Operational stats of a persisted index, WITHOUT scanning its
    * vector/code payloads — one row `(dim, m, kSub, n_centers, n_base,
    * n_added, added_fraction, n_tombstoned, drift_fraction,
    * format_version)` from the params + addstate + tombstone artifacts
    * only (of the CURRENT version — a [[rebuild]] resets all three
    * counters). The observability face of the [[add]] staleness guard:
    * `drift_fraction` = (n_added + n_tombstoned) / n_base is exactly
    * the quantity the guard caps, so alert when it approaches the
    * `maxAddedFraction` you deploy with and schedule the [[rebuild]]
    * before the guard starts refusing adds. `added_fraction` stays for
    * pre-supersede dashboards. Pre-versioning artifacts report nulls
    * for the absent fields.
    */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val root = currentRoot(spark, dir)
    val params = spark.read.parquet(s"$root/params")
    val has = params.schema.fieldNames.toSet
    val addPath = new org.apache.hadoop.fs.Path(s"$root/addstate")
    val fs = addPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nAdded =
      if (fs.exists(addPath))
        spark.read.parquet(s"$root/addstate").head().getAs[Long]("n_added")
      else 0L
    val nTomb = tombstoneCount(spark, root)
    val nullL = lit(null).cast("long")
    params.select(col("dim"), col("m"), col("kSub"), col("n_centers"),
      (if (has("n_base")) col("n_base") else nullL).as("n_base"),
      lit(nAdded).as("n_added"),
      (if (has("n_base"))
        round(lit(nAdded) / col("n_base"), 4)
      else lit(null).cast("double")).as("added_fraction"),
      lit(nTomb).as("n_tombstoned"),
      (if (has("n_base"))
        round(lit(nAdded + nTomb) / col("n_base"), 4)
      else lit(null).cast("double")).as("drift_fraction"),
      (if (has("format_version")) col("format_version")
      else lit(0)).as("format_version"))
  }

  /** POLICY-DRIVEN maintenance — the index-side twin of the rekeyed
    * loop's compaction policy knob ([[graft.api.Graft.corpusShardsRekeyedCompact]]'s
    * `minSupersededFraction` / the streaming loop's per-batch alert):
    * rebuild WHEN geometric drift crosses the threshold, no-op below it.
    * Reads [[stats]]' `drift_fraction` = (n_added + n_tombstoned) /
    * n_base — artifact-only, no vector/code payload scan — and runs
    * [[rebuild]] exactly when `drift_fraction >= maxDriftFraction`,
    * which purges tombstones and resets both budgets so the NEXT
    * maintain is a no-op until drift re-accumulates (idempotent at the
    * policy level). Returns true iff a rebuild ran.
    *
    * Deploy rule: call on the add/supersede cadence with
    * `maxDriftFraction` strictly below the `maxAddedFraction` you pass
    * to [[add]] — maintenance then always fires BEFORE the staleness
    * guard starts refusing deltas (the guard stays the backstop, this
    * is the scheduler). A pre-versioning index (no `n_base`) has no
    * drift measure and refuses loudly rather than silently never
    * rebuilding. The decision read runs outside the writer lock
    * (rebuild takes it): two concurrent maintains both deciding to
    * rebuild means the second fails fast on the `_WRITER` marker —
    * single-writer, like every mutator here.
    */
  def maintain(spark: SparkSession, dir: String,
               maxDriftFraction: Double, nBuckets: Int = 0,
               iters: Int = 2, trainFraction: Double = 1.0,
               pqIters: Int = 1): Boolean = {
    require(maxDriftFraction > 0,
      "AnnIndex.maintain: maxDriftFraction must be > 0 (the threshold " +
        "at which drift triggers a rebuild)")
    val st = stats(spark, dir).head()
    require(!st.isNullAt(st.fieldIndex("drift_fraction")),
      s"AnnIndex.maintain: $dir is a pre-versioning index with no " +
        "n_base — drift is unmeasurable; rebuild explicitly (which " +
        "stamps the version fields) or rebuild the index from its corpus")
    val drift = st.getAs[Double]("drift_fraction")
    if (drift >= maxDriftFraction) {
      System.err.println(s"[annindex] $dir drift_fraction $drift >= " +
        s"$maxDriftFraction — rebuilding (purges " +
        s"${st.getAs[Long]("n_tombstoned")} tombstones, re-learns " +
        s"geometry over ${st.getAs[Long]("n_base") +
          st.getAs[Long]("n_added")} rows)")
      rebuild(spark, dir, nBuckets = nBuckets, iters = iters,
        trainFraction = trainFraction, pqIters = pqIters)
      true
    } else false
  }

  /** Serve queries from a persisted index — no learning, no corpus scan
    * beyond the index artifacts. Same output contract as every ANN
    * operator: `(query_id, neighbor_id, cosine, rank)`, exact cosines.
    * Serves the newest committed version ([[currentRoot]], resolved once
    * per call — a concurrent [[rebuild]] swaps in for the NEXT call).
    * [[supersede]]d uids never rank: candidates come from the codes
    * frame, which excludes the tombstone set before the probe (one
    * anti-join via [[minusTombstones]] — broadcast only while the
    * committed tombstone bytes are provably small, un-hinted above
    * that so AQE picks the strategy; tombstones accumulate until a
    * rebuild resets them, and at the drift bound they are a FRACTION
    * of the index, not a delta. The vectors frame needs no filter
    * because only code-side candidates reach the exact re-rank).
    */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             idCol: String, vecCol: String, k: Int, nProbe: Int = 2,
             overfetch: Int = 3,
             maxBucket: Int = Int.MaxValue,
             allowedUids: Option[DataFrame] = None): DataFrame = {
    val root = currentRoot(spark, dir)
    val params = spark.read.parquet(s"$root/params").head()
    requireVersion(params, "params")
    val m = params.getAs[Int]("m")
    val kSub = params.getAs[Int]("kSub")
    val bookRows = spark.read.parquet(s"$root/books")
      .orderBy(col("j"), col("cj")).collect()
    val flatBooks: Array[Array[Double]] = Array.tabulate(m) { j =>
      bookRows.filter(_.getAs[Int]("j") == j)
        .flatMap(_.getSeq[Double](2)).toArray
    }
    val codes = minusTombstones(spark, root,
      spark.read.parquet(s"$root/codes"))
    // FILTERED retrieval — the metadata-filter every production vector
    // store serves: ONE shared index (geometry learned on the full
    // corpus), many filtered views. The allowlist restricts CANDIDATE
    // MEMBERSHIP (one semi-join on the codes frame, same shape as the
    // tombstone cut — the per-bucket cap and every downstream stage see
    // only allowed rows, so k results come from the allowed set); the
    // query side is never restricted. Oracled as q_ann_index_filtered.
    val filtered = allowedUids match {
      case Some(allow) =>
        // the allowlist contract is ONE column (the uids): silently
        // taking the first column of a wider metadata frame would
        // semi-join on the wrong values and return an empty/wrong
        // result with no error
        require(allow.columns.length == 1,
          s"AnnIndex.search: allowedUids must carry exactly ONE column " +
            s"(the uids to allow); got ${allow.columns.mkString(", ")} — " +
            "select the uid column first")
        codes.join(
          allow.select(col(allow.columns.head).as("uid")).distinct(),
          Seq("uid"), "left_semi")
      case None => codes
    }
    Similarity.ivfPqResServe(
      spark.read.parquet(s"$root/centroids"),
      filtered,
      spark.read.parquet(s"$root/vectors"),
      queries, idCol, vecCol, flatBooks, kSub, k, nProbe, overfetch,
      maxBucket)
  }
}
