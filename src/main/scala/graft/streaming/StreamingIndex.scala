package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ext.Similarity
import graft.io.StateDir

/** Streaming ANN index maintenance: embedding rows land continuously
  * (the 100 TB-corpus shape — an embedding service emits vectors as
  * documents arrive, and the retrieval index must absorb them without a
  * nightly rebuild) and the coarse-cell assignment runs as a Structured
  * Streaming flow.
  *
  * The quantizer-free hyperplane LSH path ([[Similarity.hyperplaneBucket]],
  * the codegen'd `SignBits` over integer-hash planes) is the RIGHT cell
  * assigner for streaming ingest: it needs no learned state — no Lloyd
  * codebook to train, broadcast, or refresh — so the assignment is a
  * stateless per-row projection, identical in batch and stream, and the
  * cell of a vector never changes as the corpus grows. (A learned-cell
  * index would re-assign on every codebook refresh — that is a batch
  * re-index by construction, not a streaming op.)
  *
  * Downstream, the accumulated `(id, cell, vec)` parquet index serves
  * [[Similarity.bucketedNN]] directly — the same guarded within-cell
  * join the batch `annTopKHyperplane` facade path runs — so a query
  * sees every vector the stream has committed, exactly once (file-source
  * checkpointed listing; no watermark because there is no state).
  */
object StreamingIndex {

  /** Parquet stream over `dir` (new files only, checkpoint-tracked).
    * Streaming sources require an explicit schema; pass the embedding
    * table's fixed schema (streaming twin of `Tables.embeddings`).
    */
  def readEmbeddingStream(spark: SparkSession, dir: String,
                          schema: StructType,
                          maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream.format("parquet")
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)

  /** The stateless cell-assignment pass: one codegen'd projection, no
    * shuffle, no state. Identical semantics in batch and stream — the
    * equivalence the spec asserts.
    */
  def assignCells(emb: DataFrame, vecCol: String, dim: Int,
                  nPlanes: Int = 8): DataFrame =
    emb.withColumn("cell",
      Similarity.hyperplaneBucket(col(vecCol), dim, nPlanes))

  /** End-to-end: watch `inDir`, append cell-assigned rows as parquet
    * under `outDir`. Returns the started query; callers own its
    * lifecycle (`processAllAvailable`/`stop` in tests,
    * `awaitTermination` in prod).
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
          checkpoint: String, schema: StructType, vecCol: String,
          dim: Int, nPlanes: Int = 8): StreamingQuery =
    assignCells(readEmbeddingStream(spark, inDir, schema), vecCol, dim,
        nPlanes)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** Query the accumulated index: the same guarded within-cell join the
    * batch hyperplane path runs, over everything the stream committed.
    */
  def topK(spark: SparkSession, indexDir: String, idCol: String,
           vecCol: String, k: Int, maxBucket: Int = 4096): DataFrame =
    Similarity.bucketedNN(spark.read.parquet(indexDir), idCol, vecCol,
      "cell", k = k, maxBucket = maxBucket)

  /** AMBIGUOUS-ARCHIVE guard shared by the supersession feed's apply
    * ([[applySupersessionFeed]]) and compact
    * ([[graft.api.Graft.corpusSupersessionFeedCompact]]) paths (ADVICE
    * r18). Readers ignore uncommitted archive snapshots; that is safe
    * ONLY while the ignored snapshot's content still exists elsewhere.
    * When the NEWEST data-carrying `v=<n>` under `archDir` carries no
    * commit record and is newer than the newest committed one (or none
    * is committed at all), two states look identical:
    *
    *  - in-protocol: a crashed compact's torn write — its deletes never
    *    ran, so every batch id it holds still exists as a raw feed dir
    *    (or inside the newest committed snapshot it carried from);
    *    ignoring it loses nothing and the retry converges;
    *  - out-of-protocol: a complete snapshot whose marker was never
    *    stamped (a pre-r18 archive on a `_SUCCESS`-suppressing
    *    deployment, a config flipped mid-life) and whose folded raw
    *    dirs are GONE — ignoring it silently strands that history: a
    *    fresh/late-joining consumer never retires those uids (stale
    *    vectors serve forever) and a compact folds past them.
    *
    * Decide by COVERAGE: batch ids of the ambiguous snapshot must all
    * exist as raw dirs or in the newest committed snapshot. Torn-crash
    * passes automatically; genuine ambiguity refuses loudly with both
    * resolutions named. Batch IDS only cross the driver — the count is
    * folds-since-epoch, never row volume.
    */
  private[graft] def requireArchiveCoverage(spark: SparkSession,
                                            fs: org.apache.hadoop.fs.FileSystem,
                                            feedRoot: String,
                                            archDir: String,
                                            who: String): Unit = {
    val dataVs = StateDir.scan(fs, archDir, StateDir.committed(fs, _))
      .filter(_._3)
    val newestCommitted = dataVs.filter(_._2).lastOption.map(_._1)
    dataVs.lastOption
      .collect { case (v, false, _) if newestCommitted.forall(_ < v) => v }
      .foreach { v =>
        def batchIds(vd: Long): Set[Long] = spark.read
          .parquet(s"$archDir/v=$vd")
          .select(col("batch_id").cast("long")).distinct()
          .collect().map(_.getLong(0)).toSet
        val rawIdSet = StreamingCorpus.feedBatchDirs(fs, feedRoot)
          .map(_._1).toSet
        val committedIds = newestCommitted.map(batchIds).getOrElse(Set.empty)
        require(batchIds(v).forall(id =>
            rawIdSet.contains(id) || committedIds.contains(id)),
          s"$who: $archDir/v=$v carries no commit marker and holds " +
            "batch ids covered neither by live feed dirs nor by the " +
            "newest committed snapshot — a pre-r18 archive written on " +
            "a deployment that suppresses _SUCCESS, or out-of-band " +
            "damage. Ignoring it would strand that history " +
            "(uncommitted snapshots are never carried or read). If " +
            "the snapshot is known complete, stamp " +
            s"$archDir/v=$v/${StateDir.CommitMarker} by hand; if it is a " +
            "known-crashed compact's torn write, delete the version " +
            "and re-run")
      }
  }

  /** SEGMENTED KEYMAP (r17). The keymap is a LOG, not a snapshot:
    * `keymap/v=<B+1>` holds only batch B's key→uid DELTA (the seed's
    * `v=0` is the build-time full map — just the first, largest
    * segment), and reads resolve latest-wins per key across segments.
    * The pre-r17 layout rewrote the COMPLETE map every batch
    * (carry-forward ∪ delta) — O(total keys) WRITTEN per micro-batch,
    * which at a billion keys is tens of GB of write amplification per
    * five-minute batch for a delta of thousands. Segments make the
    * absorb's keymap write O(delta); [[foldKeymap]] (every
    * `keymapFoldEveryBatches` in the loop/facade) collapses the log
    * into a base snapshot under the SIDECAR `keymapbase/v=<n>` — its
    * own numbering, so fold slots can never collide with batch-owned
    * segment slots, and a torn fold is simply retried into the same
    * sidecar slot with the previous base intact (no in-place overwrite
    * of live data anywhere). The base's commit marker RECORDS the
    * segment version it folded through; reads take
    * base ∪ segments-above-it, so segments a crashed fold failed to
    * delete are ignored, not double-counted. Pre-r17 keymaps (every
    * version a full map, no base sidecar) read correctly through the
    * same latest-wins rule — a newer full map wins every key it
    * carries, and carry-forward means it carries them all.
    *
    * A keymap-family version (segment, base, feed archive snapshot) is
    * committed by its [[graft.io.StateDir.CommitMarker]] or, for versions
    * written before the marker existed, the committer's `_SUCCESS`
    * ([[graft.io.StateDir.committed]]); part-file presence is never a
    * commit record here.
    */
  private def listVersions(fs: org.apache.hadoop.fs.FileSystem,
                           dir: String): Seq[(Long, Boolean, Boolean)] =
    StateDir.scan(fs, dir, StateDir.committed(fs, _))

  /** The folded-through segment version of the newest committed base
    * (read from the base marker's content), with the base dir — None
    * when no base was ever folded.
    */
  private def newestBase(fs: org.apache.hadoop.fs.FileSystem,
                         baseDir: String): Option[(Long, Long, Boolean)] =
    listVersions(fs, baseDir).reverse.collectFirst(Function.unlift {
      case (v, true, hasData) =>
        StateDir.watermark(fs, s"$baseDir/v=$v").map((v, _, hasData))
      case _ => None
    })

  /** The keymap's latest-wins view strictly below segment version
    * `beforeBatch`, as `(key, uid)` — base snapshot (if folded) plus
    * every committed data-carrying segment above it. One window over
    * the union; restrict FIRST (semi-join) when only some keys matter —
    * the absorb does. A TORN segment above the folded-through point and
    * below `beforeBatch` is LOUD, not skipped-over: the only
    * in-protocol torn slot is the CURRENT batch's own (excluded by
    * `beforeBatch`), so anything older is a crashed seed (re-run
    * [[seedIndexKeymap]]) or out-of-band damage — silently reading past
    * it would serve a map with holes.
    */
  private def keymapParts(spark: SparkSession, indexDir: String,
                          beforeBatch: Long): Seq[(Long, String)] = {
    val keymapDir = s"$indexDir/keymap"
    val baseDir = s"$indexDir/keymapbase"
    val fs = StateDir.fs(spark, keymapDir)
    val base = newestBase(fs, baseDir)
    val through = base.map(_._2).getOrElse(-1L)
    val segs = listVersions(fs, keymapDir)
      .filter(v => v._1 > through && v._1 < beforeBatch)
    segs.filter(!_._2).map(_._1).sorted.lastOption.foreach { torn =>
      throw new IllegalStateException(
        s"graft index keymap: $keymapDir/v=$torn exists but carries no " +
          "commit marker — a torn write (crashed seedIndexKeymap when " +
          "v=0, out-of-band damage otherwise). Reading past it would " +
          "serve a key→uid map with holes, so built keys missing from " +
          "the torn version would silently never supersede. Re-run " +
          "seedIndexKeymap (it replaces an uncommitted v=0), or delete " +
          "the torn version if its owning write is known re-driven")
    }
    base.collect { case (v, t, hasData) if hasData =>
      // base rows rank at their folded-through version: below every
      // live segment, above nothing the fold consumed (deleted or
      // ignored via `through`)
      (t, s"$baseDir/v=$v")
    }.toSeq ++
      segs.collect { case (v, _, true) => (v, s"$keymapDir/v=$v") }
  }

  /** Union the keymap parts as `(key, uid, __v)` — `restrictTo` (a
    * one-column `key` frame) semi-joins EACH part before the union, so
    * the latest-wins window downstream shuffles only the restricted
    * rows, never the key universe (the absorb's delta-bounded shape).
    */
  private def keymapUnion(parts: Seq[(Long, String)], spark: SparkSession,
                          restrictTo: Option[DataFrame]): DataFrame =
    parts.map { case (v, dir) =>
      val p = spark.read.parquet(dir).select(col("key"), col("uid"))
        .withColumn("__v", lit(v))
      restrictTo.fold(p)(keys =>
        p.join(broadcast(keys), Seq("key"), "left_semi"))
    }.reduce(_ unionByName _)

  private def latestWins(parts: Seq[(Long, String)], spark: SparkSession,
                         restrictTo: Option[DataFrame] = None)
      : DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("__v").desc)
    keymapUnion(parts, spark, restrictTo)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("key"), col("uid"))
  }

  /** The COMPLETE latest-wins key→uid view of a keymap — one row per
    * live key (the audit/consumer read; the absorb restricts to its
    * delta's keys before the window instead). None when no committed
    * data-carrying keymap state exists.
    */
  private[graft] def readKeymapView(spark: SparkSession, indexDir: String,
                                    beforeBatch: Long = Long.MaxValue)
      : Option[DataFrame] = {
    val parts = keymapParts(spark, indexDir, beforeBatch)
    if (parts.isEmpty) None else Some(latestWins(parts, spark))
  }

  /** FOLD the keymap's segment log into one base snapshot — the
    * retention half of the segmented layout: reads the current view,
    * writes it as `keymapbase/v=<n+1>` (marker content = the segment
    * version folded through, written LAST), then deletes the folded
    * segments and older bases. Crash-safe at every cut: a torn base is
    * retried into the same slot with the previous base intact; segments
    * a crashed deletion left behind are ignored by the folded-through
    * watermark and removed by the next fold. Idempotent — folding with
    * no new segments only re-attempts leftover deletions.
    */
  private[graft] def foldKeymap(spark: SparkSession,
                                indexDir: String): Unit = {
    val keymapDir = s"$indexDir/keymap"
    val baseDir = s"$indexDir/keymapbase"
    val fs = StateDir.fs(spark, keymapDir)
    val base = newestBase(fs, baseDir)
    val through = base.map(_._2).getOrElse(-1L)
    val segs = listVersions(fs, keymapDir).filter(_._1 > through)
    // fold everything but the NEWEST committed segment: its commit
    // marker is the only re-delivery shield for the most recent batch
    // until the stream's checkpoint commits behind it — folding it away
    // would make a crash-between-marker-and-checkpoint re-delivery trip
    // the uid-reuse guard on the batch's OWN folded result (a poison
    // batch, the exact failure mode the marker skip exists to prevent).
    // Older batches are checkpoint-committed once a newer one ran, so
    // their markers are safe to retire with their segments. Torn
    // segments (a mid-write crash — never below a committed one under
    // the single-writer rule) are simply not foldable yet.
    val foldable = segs.filter(_._2).dropRight(1)
    if (foldable.isEmpty) {
      // nothing safely foldable; still clear leftovers a crashed
      // deletion stranded
      StateDir.delete(fs, keymapDir,
        StateDir.versions(fs, keymapDir).filter(_ <= through))
      base.foreach { case (bv, _, _) =>
        StateDir.delete(fs, baseDir,
          StateDir.versions(fs, baseDir).filter(_ < bv))
      }
      return
    }
    val newThrough = foldable.map(_._1).max
    keymapParts(spark, indexDir, newThrough + 1) match {
      case parts if parts.nonEmpty =>
        StateDir.commitFold(fs, baseDir,
            v => StateDir.committed(fs, s"$baseDir/v=$v"), newThrough,
            Seq(keymapDir)) { dir =>
          latestWins(parts, spark).write.mode("overwrite").parquet(dir)
        }
      case _ =>
        // only data-less segments below the newest (a run of empty
        // batches): no base to write, but the dirs themselves must not
        // accumulate forever — committed AND data-less is safe to drop
        // (a re-delivery converges by rewriting an empty segment)
        StateDir.delete(fs, keymapDir,
          foldable.filter(v => v._2 && !v._3).map(_._1))
    }
  }

  /** One micro-batch of the PERSISTED-index loop
    * ([[runPersistedIndexLoop]]): absorb an embedding delta into a
    * [[graft.ext.AnnIndex]] under LATEST-WINS key identity — the
    * one-layer-down streaming twin of
    * [[StreamingCorpus.runCorpusShardsRekeyed]]'s supersession, applied
    * to the retrieval index instead of the shard stream. Each batch
    * carries `(keyCol, uidCol, vecCol)` rows where `uidCol` is the NEW
    * uid of this embedding (the corpus ingest id in the coherent
    * composition — [[graft.api.Graft.KeyedCorpusShardsState]]'s
    * `superseded` scaladoc); a re-delivered key's previous live uid
    * (tracked in the batchId-versioned `indexDir/keymap` state) is
    * SUPERSEDED so its stale vector stops serving immediately, and the
    * new vector enters under the frozen geometry via
    * [[graft.ext.AnnIndex.add]].
    *
    * EXACTLY-ONCE: the keymap version's
    * [[graft.io.StateDir.CommitMarker]] (the loop's OWN commit record,
    * written after the keymap parquet — the committer's `_SUCCESS` is
    * suppressed on some deployments, and the bare directory exists from
    * job SETUP, so neither can be the completed-batch signal) is the
    * batch's commit marker — a
    * re-delivered batch whose marker exists skips entirely. A retry of
    * a PARTIALLY-applied batch converges: supersede is idempotent
    * (tombstone set semantics), the add step skips when every batch uid
    * is already coded (the completed-add retry, detected by the
    * range-pruned membership probe) and otherwise re-enters
    * [[graft.ext.AnnIndex.add]], whose own orphan reconciliation /
    * duplicate guard either completes the torn write or refuses loudly;
    * the torn keymap dir itself is replaced by the retry's
    * overwrite-mode write. The drift-policy rebuild (`maintainDrift`
    * > 0 → [[graft.ext.AnnIndex.maintain]] under
    * `maintainTrainFraction`) runs ONLY after the marker commits: a
    * rebuild physically purges superseded rows, so running it before
    * the marker would strand a retry whose supersede targets no longer
    * exist.
    *
    * KEYMAP ROW BOUND (audited r17, StreamingSpec-pinned): the keymap
    * VIEW ([[readKeymapView]]) holds EXACTLY one row per key ever
    * delivered — a re-delivered key's newer segment row wins by version
    * order, and a superseded uid keeps no history row in the view (its
    * retirement history lives in the index tombstones until the next
    * rebuild purges it). At-rest size is bounded by DISTINCT KEYS plus
    * the segments since the last fold (≤ `keymapFoldEveryBatches`
    * deltas), independent of re-delivery count and of
    * superseded-then-rebuilt uid churn; [[foldKeymap]] is the only
    * compaction the layout needs.
    *
    * Guards and the retirement shape live in [[absorbKeyedCore]] —
    * shared verbatim with the batch facade ([[absorbKeyedDelta]]), so
    * the nightly-job path and the streaming path cannot drift.
    */
  private[graft] def writeIndexBatch(batch: DataFrame, batchId: Long,
                                     indexDir: String, keyCol: String,
                                     uidCol: String, vecCol: String,
                                     maxAddedFraction: Double,
                                     maintainDrift: Double,
                                     maintainTrainFraction: Double = 1.0,
                                     keymapFoldEveryBatches: Int = 16)
      : Unit = {
    val spark = batch.sparkSession
    val keymapDir = s"$indexDir/keymap"
    // keymap SEGMENTS are OFFSET BY ONE (batch B owns v=B+1): v=0 is the
    // build-time seed slot ([[seedIndexKeymap]]) — the initial corpus's
    // key→uid rows, so re-deliveries of BUILT keys supersede too, not
    // only re-deliveries of streamed ones. Each version holds only its
    // batch's delta (the segmented layout — see the keymap scaladoc
    // above [[keymapParts]]); NEVER prune these versions directly:
    // unlike the full-map-per-version layouts, every segment is live
    // data until [[foldKeymap]] collapses it into the base.
    val vNum = batchId + 1
    val vDir = s"$keymapDir/v=$vNum"
    // completed batch re-delivered: skip. Committed = EITHER marker
    // ([[graft.io.StateDir.committed]]) — a pre-r17 batch committed only
    // _SUCCESS, and keying the skip on the own marker alone would re-run
    // that batch's whole absorb on a post-upgrade re-delivery (it converges
    // via the retained maps, but re-executes supersede/add and rewrites
    // the version needlessly — the skip exists to make re-delivery cheap)
    if (StateDir.committed(StateDir.fs(spark, vDir), vDir)) return
    absorbKeyedCore(batch, vNum, indexDir, keyCol, uidCol, vecCol,
      maxAddedFraction, "graft index loop")
    // retention: fold the segment log every Nth batch (amortizes the
    // one O(keys) snapshot across N delta-sized writes); <= 0 disables
    if (keymapFoldEveryBatches > 0 &&
        (batchId + 1) % keymapFoldEveryBatches == 0)
      foldKeymap(spark, indexDir)
    if (maintainDrift > 0)
      graft.ext.AnnIndex.maintain(spark, indexDir, maintainDrift,
        trainFraction = maintainTrainFraction)
  }

  /** The shared absorb body of [[writeIndexBatch]] and
    * [[absorbKeyedDelta]]: supersede re-delivered keys' previous live
    * uids, add the new vectors under the frozen geometry, advance the
    * keymap to `v=vNum` and stamp its commit marker. Callers own the
    * version arithmetic, the completed-skip, pruning, and the policy
    * rebuild.
    *
    * Retirement is VERIFIED-PROVENANCE, not exists-guarded: the keymap's
    * old uids are semi-joined against the current version's codes and
    * anti-joined against its tombstones before
    * [[graft.ext.AnnIndex.supersedeVerified]] — the keymap can
    * legitimately map a key to a uid the index no longer holds (retired
    * out-of-band by [[applySupersessionFeed]] and then physically purged
    * by a rebuild, including this loop's own `maintainDrift` rebuild),
    * and tripping [[graft.ext.AnnIndex.supersede]]'s exists guard there
    * would poison the batch PERMANENTLY (every retry re-fails on the
    * same absent uid). Keymap-driven retirement has verified provenance,
    * so absence means already-purged, not a caller error.
    *
    * Guards (all loud, delta-sized probes — [[requireKeyedDelta]]):
    * keys AND uids must be unique and non-null within the batch (a
    * null uid could never be retired and is invisible to the dup
    * guards; duplicate uids would break the membership probe's
    * all-or-none retry adjudication); a re-delivered key must arrive
    * under a NEW uid — re-using the previous live uid would tombstone
    * the very row the add step then refuses as a duplicate.
    */
  private def absorbKeyedCore(batch: DataFrame, vNum: Long,
                              indexDir: String, keyCol: String,
                              uidCol: String, vecCol: String,
                              maxAddedFraction: Double,
                              who: String): Unit = {
    val spark = batch.sparkSession
    val A = graft.ext.AnnIndex
    val keymapDir = s"$indexDir/keymap"
    val n = requireKeyedDelta(batch, keyCol, uidCol, who)
    // every cache below is batch-scoped: an indefinitely-running loop
    // must not grow the session cache registry by two entries per batch
    graft.ext.CacheScope.scoped {
      val delta = batch.select(col(keyCol).as("key"),
          col(uidCol).as("uid"), col(vecCol).as("vec"))
        .transform(graft.ext.CacheScope.cache)
      if (n > 0) {
        // the re-delivered keys' previous live uids: semi-join each
        // keymap part against the batch's keys BEFORE the latest-wins
        // window, so the resolution shuffles delta-bounded rows, not
        // the key universe (the segments' scan is the read cost; the
        // write below is delta-sized — the segmented layout's point)
        val parts = keymapParts(spark, indexDir, vNum)
        val old =
          if (parts.isEmpty) None
          else Some(latestWins(parts, spark,
              restrictTo = Some(delta.select(col("key"))))
            .transform(graft.ext.CacheScope.cache))
        old.foreach { o =>
          require(o.join(delta.select(col("key"), col("uid")),
              Seq("key", "uid"), "left_semi").isEmpty,
            s"$who: a re-delivered key re-uses its previous " +
              "live uid — a re-embedded key must enter under a NEW uid " +
              "(the corpus ingest-id contract); superseding the old uid " +
              "would tombstone the very row the add step then refuses " +
              "as a duplicate")
          if (!o.isEmpty) {
            // served ∩ not-yet-tombstoned, projected FROM codes (the
            // applySupersessionFeed shape, feeding the pre-verified
            // supersede). servedUids (r18) is range-pruned against the
            // uid-sorted codes layout (span pushdown + semi-join; no
            // bloom — its scaladoc explains why), so this is a
            // delta-sized probe, not the full O(index) uid-column
            // scan it was through r17 — the apply-cadence cost removed.
            val root = A.currentRoot(spark, indexDir)
            val present = A.servedUids(spark, root, o.select(col("uid")))
            val toRetire = (A.readTombstones(spark, root) match {
              case Some(tomb) =>
                present.join(tomb, Seq("uid"), "left_anti")
              case None => present
            }).transform(graft.ext.CacheScope.cache)
            if (toRetire.count() > 0)
              A.supersedeVerified(spark, indexDir, toRetire)
          }
        }
        // add, retry-convergent: all-coded = completed re-delivery
        // (skip); none = fresh delta; a strict subset re-enters add(),
        // whose dup guard adjudicates the torn state loudly
        val known = A.knownUidCount(spark, indexDir,
          delta.select(col("uid")), "uid")
        if (known < n)
          A.add(spark, indexDir,
            delta.select(col("uid").as(uidCol), col("vec").as(vecCol)),
            uidCol, vecCol, maxAddedFraction)
      }
      // keymap SEGMENT: only this batch's key→uid rows — re-delivered
      // keys' old rows stay in older segments/the base and lose by
      // version order at read; the commit marker stamped after the
      // overwrite to v=<vNum> is the batch's commit record. Coalesced
      // by the known delta size: a 2-column delta at default
      // parallelism writes 32 footer-dominated splinter files, and the
      // read side lists/opens every file of every live segment per
      // batch
      delta.select(col("key"), col("uid"))
        .coalesce(math.max(1L, math.min(32L, n / 1000000L + 1L)).toInt)
        .write.mode("overwrite").parquet(s"$keymapDir/v=$vNum")
      StateDir.stamp(StateDir.fs(spark, keymapDir), s"$keymapDir/v=$vNum",
        StateDir.CommitMarker)
    }
  }

  /** The index loop's batch-contract probes, shared by
    * [[writeIndexBatch]] and [[seedIndexKeymap]] — two delta-sized jobs
    * (the corpus loop's kProbe shape), returning the row count so
    * callers never pay a third: keys unique + non-null (two embeddings
    * per key would race the latest-wins keymap), uids unique + non-null
    * (a null uid can never be retired — supersede refuses nulls — and
    * is invisible to the bloom/dup guards; a duplicate uid breaks the
    * membership probe's all-or-none retry adjudication).
    */
  private def requireKeyedDelta(df: DataFrame, keyCol: String,
                                uidCol: String, who: String): Long = {
    val kProbe = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__c"))
      .agg(max(col("__c")).as("__mx"),
        max(when(col(keyCol).isNull, 1).otherwise(0)).as("__nn"))
      .head()
    require(kProbe.isNullAt(1) || kProbe.getInt(1) == 0,
      s"$who: $keyCol carries NULLs — a null key has no identity to " +
        "supersede under; drop or repair those rows first")
    require(kProbe.isNullAt(0) || kProbe.getLong(0) <= 1L,
      s"$who: $keyCol is not unique within the batch — two embeddings " +
        "per key would race the latest-wins keymap; dedup the batch by " +
        "key first")
    val uProbe = df.agg(count(lit(1)).as("__n"),
      count(col(uidCol)).as("__nu"),
      countDistinct(col(uidCol)).as("__nd")).head()
    val n = uProbe.getLong(0)
    require(uProbe.getLong(1) == n,
      s"$who: $uidCol carries NULLs — a null uid can never be retired " +
        "(supersede refuses nulls) and is invisible to the index's " +
        "duplicate guards; assign real uids first")
    require(uProbe.getLong(2) == n,
      s"$who: $uidCol is not unique within the batch — the retry " +
        "convergence probe adjudicates all-or-none by uid count; dedup " +
        "the batch by uid first")
    n
  }

  /** Seed the loop's keymap with the BUILD-TIME corpus's key→uid rows
    * (the `v=0` slot — batch versions start at v=1): without it the
    * loop can only supersede keys it streamed itself, and a re-crawl of
    * a built document would leave the built vector serving forever.
    * Call once, between [[graft.ext.AnnIndex.build]] and
    * [[runPersistedIndexLoop]]; refuses if a COMMITTED keymap version
    * already exists (seeding a live loop would race its batch
    * versioning), while a torn v=0 from a crashed seed (directory
    * without its `_SUCCESS`) is simply replaced. The seed obeys the
    * same key/uid contract as every batch ([[requireKeyedDelta]]) —
    * a key with two uids would make its first re-delivery retire a
    * still-live second document.
    */
  def seedIndexKeymap(spark: SparkSession, indexDir: String,
                      keys: DataFrame, keyCol: String,
                      uidCol: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$indexDir/keymap")
    val fs = StateDir.fs(spark, indexDir)
    // committed = EITHER marker ([[graft.io.StateDir.CommitMarker]] since
    // r17, the committer's _SUCCESS for pre-r17 versions): the refusal
    // must stay conservative — on marker-suppressing deployments only the own
    // marker exists, and keying the refusal on _SUCCESS alone would
    // silently re-seed a live loop there. A folded base counts too: a
    // long-lived loop may hold ALL its state in `keymapbase` with every
    // segment folded away.
    val committed =
      (fs.exists(p) && fs.listStatus(p).exists(st =>
        st.getPath.getName.startsWith("v=") &&
          StateDir.committed(fs, st.getPath.toString))) ||
        newestBase(fs, s"$indexDir/keymapbase").isDefined
    require(!committed,
      s"seedIndexKeymap: $indexDir/keymap already holds a committed " +
        "version — the seed is the PRE-LOOP slot; seeding a live loop " +
        "would race its batch versioning. Start a new indexDir, or " +
        "let the loop carry on")
    requireKeyedDelta(keys.select(col(keyCol), col(uidCol)), keyCol,
      uidCol, "seedIndexKeymap")
    keys.select(col(keyCol).as("key"), col(uidCol).as("uid"))
      .write.mode("overwrite").parquet(s"$indexDir/keymap/v=0")
    // own commit marker LAST: a crash before this line leaves a torn
    // v=0 that the prior-read refuses loudly ([[keymapParts]])
    // and a re-run replaces — never a silently partial key→uid map
    StateDir.stamp(fs, s"$indexDir/keymap/v=0", StateDir.CommitMarker)
  }

  /** The NIGHTLY-JOB shape of the keyed index absorb — apply one keyed
    * embedding delta to a persisted [[graft.ext.AnnIndex]] with
    * latest-wins key identity, WITHOUT the streaming loop's
    * checkpoint/batchId machinery: the exact [[writeIndexBatch]] body
    * ([[absorbKeyedCore]] — same keymap state, same contract probes,
    * same verified-provenance retirement) under self-assigned keymap
    * versions (newest committed + 1; a crashed absorb's torn slot is
    * reused by the retry, which converges exactly like a streaming
    * retry: supersede idempotent, add skips completed uids, keymap
    * overwritten). A DOUBLE apply of a COMPLETED delta refuses loudly
    * on the uid-reuse guard (its keys now map to its own uids) — the
    * honest nightly contract, since without a batch id there is no
    * re-delivery identity to skip on.
    *
    * SINGLE WRITER: refuses while a streaming loop owns the index (the
    * `_OWNER` checkpoint-identity lock — running a batch absorb under a
    * live loop would race its batch versioning), and holds its own
    * advisory `_ABSORB` marker for the call so two concurrent nightly
    * absorbs fail fast instead of racing the keymap version; the inner
    * mutators additionally take the index `_WRITER` lock per call.
    * Exposed as [[graft.api.Graft.annIndexAbsorbKeyedDelta]].
    */
  def absorbKeyedDelta(spark: SparkSession, indexDir: String,
                       delta: DataFrame, keyCol: String, uidCol: String,
                       vecCol: String, maxAddedFraction: Double = 2.0,
                       maintainDrift: Double = 0.0,
                       maintainTrainFraction: Double = 1.0,
                       keymapFoldEveryBatches: Int = 16): Unit = {
    val keymapDir = s"$indexDir/keymap"
    val owner = new org.apache.hadoop.fs.Path(s"$indexDir/_OWNER")
    val fs = StateDir.fs(spark, indexDir)
    require(!fs.exists(owner),
      s"absorbKeyedDelta: $indexDir is owned by a streaming " +
        s"persisted-index loop ($indexDir/_OWNER) — a batch absorb would " +
        "race its keymap versioning. Stop the loop (and delete _OWNER " +
        "if it is dead) before absorbing batch deltas")
    val lock = new org.apache.hadoop.fs.Path(s"$indexDir/_ABSORB")
    if (!StateDir.createExclusive(fs, lock))
      throw new IllegalStateException(
        s"absorbKeyedDelta: another batch absorb holds " +
          s"$indexDir/_ABSORB — keyed absorbs are single-writer " +
          "(two would race the keymap version). If the other absorb " +
          "crashed and is confirmed dead, delete the marker to retry")
    try {
      // max(newest COMMITTED segment, the base's folded-through
      // watermark) + 1: a torn newer slot (crashed prior absorb) is
      // exactly the slot this retry overwrites, and a fresh slot always
      // lands ABOVE the fold watermark — a segment at or below it would
      // be invisible to every read. No committed state at all: v=1 —
      // v=0 stays the seed's slot (a torn v=0 trips the prior-read's
      // loud guard inside the core, naming the re-seed)
      val vNum = StateDir.nextSlot(
        listVersions(fs, keymapDir).filter(_._2).map(_._1) ++
          newestBase(fs, s"$indexDir/keymapbase").map(_._2) :+ 0L)
      absorbKeyedCore(delta, vNum, indexDir, keyCol, uidCol, vecCol,
        maxAddedFraction, "graft index absorb")
      // fold when the segment log reaches the knob (the nightly-job
      // cadence equivalent of the loop's every-Nth-batch rule)
      if (keymapFoldEveryBatches > 0 && {
          val through = newestBase(fs, s"$indexDir/keymapbase")
            .map(_._2).getOrElse(-1L)
          listVersions(fs, keymapDir).count(v =>
            v._2 && v._1 > through) >= keymapFoldEveryBatches
        })
        foldKeymap(spark, indexDir)
      if (maintainDrift > 0)
        graft.ext.AnnIndex.maintain(spark, indexDir, maintainDrift,
          trainFraction = maintainTrainFraction)
    } finally fs.delete(lock, false)
  }

  /** The consumer's applied-through cursor lives beside the index it
    * belongs to (`indexDir/feedcursor/v=<n>`, keymap-style versioned
    * one-row parquet) — per consumer, so many indexes can drain one
    * feed at their own pace. Committed = part files present (the
    * one-row coalesce(1) write either lands its file or the version
    * reads as absent); -1 when no cursor was ever committed (a fresh
    * consumer reads the whole feed — the pre-cursor behavior).
    */
  private[graft] def readAppliedThrough(spark: SparkSession,
                                        indexDir: String): Long = {
    val dir = s"$indexDir/feedcursor"
    val fs = StateDir.fs(spark, dir)
    StateDir.versions(fs, dir).reverse
      .collectFirst(Function.unlift { v =>
        val vd = s"$dir/v=$v"
        // torn cursor version: fall through to the previous
        if (StateDir.hasData(fs, vd))
          Some(spark.read.parquet(vd).head().getAs[Long]("applied_through"))
        else None
      })
      .getOrElse(-1L)
  }

  private def advanceAppliedThrough(spark: SparkSession, indexDir: String,
                                    through: Long): Unit = {
    import spark.implicits._
    val dir = s"$indexDir/feedcursor"
    val fs = StateDir.fs(spark, dir)
    val next = StateDir.nextSlot(StateDir.versions(fs, dir))
    Seq(through).toDF("applied_through").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/v=$next")
    StateDir.prune(fs, dir)
  }

  /** Apply the REKEYED CORPUS LOOP'S published supersession feed to a
    * persisted index — the consumer end of the corpus→index wire
    * ([[StreamingCorpus.runCorpusShardsRekeyed]] publishes every
    * micro-batch's retired ingest ids under
    * `corpusOutDir/superseded/batch_id=B`;
    * [[graft.api.Graft.KeyedCorpusShardsState]]'s `superseded` scaladoc
    * is the batch-side twin). One call retires every corpus-superseded
    * uid the index CURRENTLY SERVES, so stale vectors stop ranking even
    * before the documents' re-embeddings arrive through the index loop.
    *
    * DELTA-SIZED CONSUMPTION: the apply reads only feed batches above
    * the consumer's applied-through cursor ([[readAppliedThrough]] —
    * persisted beside the INDEX, `indexDir/feedcursor`, so each
    * consumer of a shared feed drains at its own pace), advanced only
    * AFTER the retirement lands: a crash between the two re-applies the
    * overlap, which the tombstone set absorbs — cursor for cost,
    * tombstones for correctness. Feed history the operator folded away
    * ([[graft.api.Graft.corpusSupersessionFeedCompact]]) is read from
    * the archive snapshot under the same `batch_id > cursor` cut (the
    * archive keeps `batch_id`, so parquet row-group stats prune the
    * already-applied bulk without row reads). A fresh consumer (no
    * cursor) reads the whole feed — archive plus live dirs — exactly
    * the pre-cursor semantics.
    *
    * The feed may name ids the index never held (documents without
    * embeddings, ids already purged by a rebuild) — those are skipped
    * by a membership semi-join rather than tripping
    * [[graft.ext.AnnIndex.supersede]]'s exists guard: the feed's
    * contract is "retired from the corpus", not "present in this
    * index", so absence here is normal, not an error. IDEMPOTENT end to
    * end: a cursor-covered re-apply reads nothing and returns (0, 0); a
    * lost-cursor or overlapping re-apply converges by supersede's
    * tombstone set semantics. Returns (feed ids seen THIS apply, uids
    * newly eligible and tombstoned). Takes the index writer lock via
    * supersede; do not run concurrently with the index loop's own
    * batches (single-writer rule — schedule it between batches, or let
    * the loop's keymap handle keys it streams itself).
    */
  def applySupersessionFeed(spark: SparkSession, corpusOutDir: String,
                            indexDir: String,
                            idCol: String = "ingest_id"): (Long, Long) = {
    val A = graft.ext.AnnIndex
    val fs = StateDir.fs(spark, s"$corpusOutDir/superseded")
    val applied = readAppliedThrough(spark, indexDir)
    // unapplied data-carrying batch dirs, with their commit status
    // ([[StreamingCorpus.feedBatchDirs]]: the publisher's own marker /
    // _SUCCESS / any newer batch dir exists — part files alone are NOT a
    // commit record, because a publisher crash mid-job-commit exposes a
    // partially-written dir whose visible part files read fine). An
    // UNCOMMITTED dir is still APPLIED — retiring its visible ids early
    // is tombstone-idempotent and strictly better than leaving stale
    // vectors serving — but the cursor never advances THROUGH it, so
    // the next apply re-reads it until the publisher's retry (or its
    // marker) completes it: the ids in a torn dir's missing part files
    // are deferred, never silently skipped (the pre-cursor full re-read
    // was self-healing in exactly this window; the cursor keeps that).
    val batches = StreamingCorpus
      .feedBatchDirs(fs, s"$corpusOutDir/superseded")
      .filter(b => b._1 > applied && b._3)
    val pending: Seq[(Long, String)] = batches.map(b => (b._1, b._2))
    val committedMax: Option[Long] = batches.filter(_._4).map(_._1).maxOption
    // compacted history above the cursor (fresh consumers; late
    // joiners). Committed snapshots only (marker / _SUCCESS): a torn
    // snapshot from a crashed compact reads as absent — safe, because
    // the compact deletes folded dirs strictly AFTER its snapshot
    // commits, so a torn snapshot's content still exists as raw dirs.
    val archDir = s"$corpusOutDir/superseded_archive"
    // a snapshot with no commit record reads as absent below — safe for
    // a crashed compact's torn write (its content still exists as raw
    // dirs), SILENT HISTORY LOSS for a complete-but-unmarked snapshot
    // whose raw dirs are gone (ADVICE r18, medium: a fresh consumer
    // would skip all folded history and serve stale vectors forever).
    // Same coverage arbitration as the compact path, shared helper.
    requireArchiveCoverage(spark, fs, s"$corpusOutDir/superseded",
      archDir, "applySupersessionFeed")
    val archive: Option[DataFrame] = StateDir.versions(fs, archDir).reverse
      .collectFirst(Function.unlift { v =>
        val vd = s"$archDir/v=$v"
        if (StateDir.committed(fs, vd) && StateDir.hasData(fs, vd))
          Some(spark.read.parquet(vd)
            .filter(col("batch_id").cast("long") > applied))
        else None
      })
    graft.ext.CacheScope.scoped {
      val archPendingMax: Option[Long] = archive.flatMap { a =>
        val r = a.agg(max(col("batch_id").cast("long"))).head()
        if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
      if (pending.isEmpty && archPendingMax.isEmpty) return (0L, 0L)
      val root = A.currentRoot(spark, indexDir)
      // a feed pointed at an unbuilt (or typo'd) index must be LOUD — a
      // raw path-not-found on codes/ names neither the problem nor the fix
      require(fs.exists(new org.apache.hadoop.fs.Path(s"$root/params")),
        s"applySupersessionFeed: $indexDir holds no built index (no " +
          "params artifact) — build it (AnnIndex.build) before applying " +
          "the corpus feed, or check the indexDir path")
      val dirIds: Option[DataFrame] =
        if (pending.isEmpty) None
        else Some(spark.read.parquet(pending.map(_._2): _*)
          .select(col(idCol)))
      val archIds: Option[DataFrame] = archive.map(_.select(col(idCol)))
      val feed = (dirIds.toSeq ++ archIds.toSeq).reduce(_ unionByName _)
        .select(col(idCol).as("uid")).distinct()
        .transform(graft.ext.CacheScope.cache)
      val nFeed = feed.count()
      // advance only through COMMITTED batches (ADVICE r17, high): the
      // uncommitted newest was applied above but stays ahead of the
      // cursor until its commit record appears
      val through = (Seq(applied) ++ committedMax.toSeq ++
        archPendingMax.toSeq).max
      val n =
        if (nFeed == 0) 0L
        else {
          // restrict to uids the index actually serves ([[graft.ext.AnnIndex.servedUids]]:
          // the feed ids' span is pushed onto the uid-sorted codes
          // scan, so ids the index never held — the common case — prune
          // every file and pay zero codes IO before the exact
          // semi-join; the supersede below is the pre-verified fast
          // path, so codes is not scanned a second time) and not
          // already tombstoned
          val present = A.servedUids(spark, root, feed)
          val toRetire = (A.readTombstones(spark, root) match {
            case Some(tomb) => present.join(tomb, Seq("uid"), "left_anti")
            case None => present
          }).transform(graft.ext.CacheScope.cache)
          val nr = toRetire.count()
          if (nr > 0) A.supersedeVerified(spark, indexDir, toRetire)
          nr
        }
      // cursor AFTER the retirement: a crash above re-applies the
      // overlap (tombstone-idempotent); advancing first could skip it
      if (through > applied) advanceAppliedThrough(spark, indexDir, through)
      (nFeed, n)
    }
  }

  /** End-to-end STREAMING maintenance of a persisted
    * [[graft.ext.AnnIndex]] — watch `inDir` for embedding deltas and
    * absorb each micro-batch via [[writeIndexBatch]]: supersede
    * re-delivered keys' stale vectors, add the new ones under the
    * frozen geometry, and (optionally) rebuild when measured drift
    * crosses `maintainDrift` — the retrieval tier of the continuous
    * corpus loop, kept coherent without a nightly full re-index. The
    * policy rebuild runs INSIDE the triggering micro-batch (the
    * single-writer rule leaves it nowhere else safe), stalling the
    * stream for the rebuild's duration — `maintainTrainFraction`
    * subsamples its Lloyd training (the 200k-vector rows of SCALING.md
    * "Round 11: trainFraction end-to-end" run 0.1) to bound that stall
    * at scale.
    * Searches serve concurrently throughout ([[graft.ext.AnnIndex.search]]
    * takes no lock; it resolves the newest committed version per call).
    *
    * The index must already exist (built once from the initial corpus —
    * [[graft.ext.AnnIndex.build]]); the loop maintains it. Seed the
    * keymap with the built keys first ([[seedIndexKeymap]]) so
    * re-crawls of BUILT documents supersede too. Single
    * producer per `indexDir`, ENFORCED via the `_OWNER` checkpoint-
    * identity lock ([[StreamingCorpus.acquireProducerLock]]): the
    * keymap's batchId versioning — and add/supersede retry convergence
    * — are single-writer by construction (a manual rebuild between a
    * crashed batch and its retry would purge the supersede targets the
    * retry expects; the ownership rule makes that a deliberate
    * takeover, not an accident).
    */
  def runPersistedIndexLoop(spark: SparkSession, inDir: String,
                            indexDir: String, checkpoint: String,
                            schema: StructType, keyCol: String,
                            uidCol: String, vecCol: String,
                            maxAddedFraction: Double = 2.0,
                            maintainDrift: Double = 0.0,
                            maintainTrainFraction: Double = 1.0,
                            maxFilesPerTrigger: Int = 64,
                            keymapFoldEveryBatches: Int = 16)
      : StreamingQuery = {
    StreamingCorpus.acquireProducerLock(spark, indexDir, checkpoint)
    readEmbeddingStream(spark, inDir, schema, maxFilesPerTrigger)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeIndexBatch(batch, batchId, indexDir, keyCol, uidCol, vecCol,
          maxAddedFraction, maintainDrift, maintainTrainFraction,
          keymapFoldEveryBatches)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }
}
