package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import graft.ext.{Bpe, CacheScope, NbClassifier, Packing, TextAnalysis}
import graft.io.StateDir

/** Streaming corpus-quality gating: documents land continuously (the
  * crawl-ingest shape — a fetcher emits pages as they arrive, and the
  * training corpus must absorb the survivors without a nightly batch
  * re-filter) and BOTH quality gates run as stateless per-row
  * projections, so the flow needs no watermark and no state store:
  *
  *  - the Gopher rule battery via
  *    [[TextAnalysis.withGopherRulesLocal]] (the row-local fold twin of
  *    the batch operator — same predicates, same 6dp-guarded
  *    comparisons, spec-pinned value-identical on the fixture and
  *    sharing `q_gopher_rules`' oracle through `q_gopher_local`);
  *  - the trained-NB quality model via [[NbClassifier.scoreLocal]]
  *    under a serve-time [[NbClassifier.NbModel]] — the
  *    train-batch/serve-stream split: the model is fit OFFLINE on the
  *    curated corpus ([[NbClassifier.train]], vocab-bounded weights
  *    collected once, the ANN-codebook allowance) and rides the stream
  *    as a broadcast map literal.
  *
  * This is the serve-time twin of the batch `corpusBuild` recipe's
  * first two gates; the corpus-relative stages (dedup, temperature
  * mixture, packing) are inherently cross-document and stay batch —
  * the standard lambda-architecture cut for corpus production.
  */
object StreamingCorpus {

  /** Parquet stream over a documents directory (new files only,
    * checkpoint-tracked). Streaming sources require an explicit schema.
    */
  def readDocStream(spark: SparkSession, dir: String, schema: StructType,
                    maxFilesPerTrigger: Int = 64): DataFrame =
    spark.readStream.format("parquet")
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(dir)

  /** The composed stateless gate: Gopher keep → NB positive margin.
    * Every input column rides through; `n_tokens`, `margin`, and `pred`
    * are appended (rule booleans are consumed by the filter — survivors
    * have them all true by construction). Identical semantics on a
    * batch frame (the parity the spec asserts); per micro-batch it is
    * one projection chain — zero shuffle, zero state.
    */
  def qualityGate(docs: DataFrame, textCol: String, idCol: String,
                  model: NbClassifier.NbModel,
                  minTokens: Long = 50,
                  maxTokens: Long = 100000): DataFrame = {
    val keptCols = docs.columns
    val gated = TextAnalysis
      .withGopherRulesLocal(docs, textCol, minTokens, maxTokens)
      .filter(col("keep"))
      .select(keptCols.map(col): _*)
    NbClassifier.scoreLocal(gated, textCol, model)
      .filter(col("pred"))
  }

  /** End-to-end: watch `inDir`, append gated survivors as parquet under
    * `outDir`. Returns the started query; callers own its lifecycle.
    */
  def run(spark: SparkSession, inDir: String, outDir: String,
          checkpoint: String, schema: StructType, textCol: String,
          idCol: String, model: NbClassifier.NbModel,
          minTokens: Long = 50,
          maxTokens: Long = 100000): StreamingQuery =
    qualityGate(readDocStream(spark, inDir, schema), textCol, idCol,
        model, minTokens, maxTokens)
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** One micro-batch of the token-id export, written EXACTLY-ONCE-shaped:
    * the encoded batch lands at `outDir/batch_id=<id>` with overwrite
    * mode — the standard idempotent foreachBatch recipe. The source
    * checkpoint guarantees a retried batch id re-reads the same input
    * files, so a retried WRITE replaces its own directory instead of
    * appending duplicate rows (StreamingSpec replays a batch and pins
    * it). Consumers `spark.read.parquet(outDir)` — partition discovery
    * surfaces `batch_id` as a column (useful provenance; project it away
    * if unwanted).
    */
  private[graft] def writeEncodedBatch(batch: DataFrame, batchId: Long,
                                       outDir: String, textCol: String,
                                       idCol: String,
                                       tok: Bpe.Tokenizer): Unit =
    tok.encodeIds(batch, textCol, idCol)
      .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** End-to-end token-id SERVING: watch `inDir`, gate each micro-batch
    * through the stateless quality gate, and write the gated survivors'
    * dense token-id sequences (encode under the pre-trained `dict`) as
    * parquet under `outDir` — the export a continuously-ingesting
    * training pipeline actually ships.
    *
    * Scale/state shape: the per-doc sequence aggregate is keyed by
    * `idCol` WITHIN the micro-batch (a document's words arrive in one
    * file, so no cross-batch state is needed — the reason this is a
    * `foreachBatch` aggregation, not a stateful operator), the
    * dictionary and vocabulary join broadcast-side, and the
    * vocabulary's driver-side id assignment runs ONCE at query start,
    * not per batch. Sink semantics: each micro-batch overwrites its own
    * `batch_id=<id>` subdirectory ([[writeEncodedBatch]]), so a retried
    * write REPLACES its output — idempotent end to end, no downstream
    * dedup pass needed.
    */
  def runEncodeIds(spark: SparkSession, inDir: String, outDir: String,
                   checkpoint: String, schema: StructType,
                   textCol: String, idCol: String,
                   model: NbClassifier.NbModel, dict: DataFrame,
                   minTokens: Long = 50,
                   maxTokens: Long = 100000): StreamingQuery =
    // vocab derived from THIS dict at query start — paired by construction
    runEncodeIdsTokenizer(spark, inDir, outDir, checkpoint, schema,
      textCol, idCol, model, Bpe.Tokenizer(Nil, dict, Bpe.vocabIds(dict)),
      minTokens, maxTokens)

  /** [[runEncodeIds]] under a paired [[graft.ext.Bpe.Tokenizer]] (built
    * live or [[graft.ext.Bpe.load]]ed) — no per-batch pairing check, no
    * per-query vocabulary sort.
    */
  def runEncodeIdsTokenizer(spark: SparkSession, inDir: String,
                            outDir: String, checkpoint: String,
                            schema: StructType, textCol: String,
                            idCol: String, model: NbClassifier.NbModel,
                            tok: Bpe.Tokenizer, minTokens: Long = 50,
                            maxTokens: Long = 100000): StreamingQuery =
    qualityGate(readDocStream(spark, inDir, schema), textCol, idCol,
        model, minTokens, maxTokens)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeEncodedBatch(batch, batchId, outDir, textCol, idCol, tok)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Latest committed shard-writer state under `dir` (see [[runShards]]):
    * the highest `v=<batchId>` version strictly below `beforeBatch`
    * (Long.MaxValue = just give me the newest, the flush-time call).
    * Returns None before the first batch commits. No marker or data
    * test applies: the newest listed version is read.
    */
  private[graft] def latestShardState(spark: SparkSession, dir: String,
                                      beforeBatch: Long = Long.MaxValue)
      : Option[DataFrame] =
    StateDir.versions(StateDir.fs(spark, dir), dir)
      .filter(_ < beforeBatch).lastOption
      .map(v => spark.read.parquet(s"$dir/v=$v"))

  /** The terminal-sink marker [[closeShards]] writes under the shards
    * directory (underscore-prefixed: parquet partition discovery ignores
    * it, so consumers' reads are unaffected). Every micro-batch shard
    * writer refuses to write past it — see [[requireNotClosed]].
    */
  private[graft] val CloseMarker = "_CLOSED"

  /** A closed shard sink is TERMINAL: [[closeShards]] published the
    * streams' partial tails as final shards, so a later micro-batch
    * appending to the same sink would re-emit those tail tokens inside
    * complete shards while the flush partition remains — duplicated
    * token content nothing downstream can detect. Refuse loudly instead
    * (the error kills the restarted query with this message). To
    * deliberately resume a closed sink, delete BOTH the marker and the
    * `batch_id=` [[FlushBatchId]] flush partition — at which point the
    * tails re-enter through the carried writer state as if never flushed.
    */
  private def requireNotClosed(spark: SparkSession, shardDir: String): Unit = {
    if (StateDir.marked(StateDir.fs(spark, shardDir), shardDir, CloseMarker))
      throw new IllegalStateException(
        s"graft shard sink $shardDir was CLOSED by closeShards — the " +
          "sink is terminal: its partial tails are already published as " +
          "final shards, and writing more batches would duplicate those " +
          "tail tokens inside complete shards. Start a new outDir, or " +
          s"delete $shardDir/$CloseMarker AND the batch_id=$FlushBatchId " +
          "flush partition to explicitly reopen")
  }

  /** One micro-batch of the streaming SHARD writer, exactly-once-shaped
    * end to end: the incremental writer's state is VERSIONED BY BATCH
    * ID — batch B reads the newest state strictly below B, writes its
    * complete shards to `shardDir/batch_id=B` and the advanced state to
    * `stateDir/v=B`, both overwrite-mode — so a RETRIED batch recomputes
    * from the same prior state and replaces the same two outputs
    * (StreamingSpec replays a batch and pins it). Every cache the batch
    * registers is released when it ends ([[CacheScope]]): an
    * indefinitely-running loop must not grow the session cache registry.
    */
  private[graft] def writeShardBatch(batch: DataFrame, batchId: Long,
                                     shardDir: String, stateDir: String,
                                     textCol: String, idCol: String,
                                     streamCol: String, tok: Bpe.Tokenizer,
                                     ctxTokens: Int)
      : Unit = CacheScope.scoped {
    val spark = batch.sparkSession
    requireNotClosed(spark, shardDir)
    val enc = tok.encodeIds(batch, textCol, idCol)
      .join(batch.select(col(idCol), col(streamCol)), Seq(idCol))
    val (shards, newState) = Packing.shardTokensDelta(enc, Seq(streamCol),
      idCol, ctxTokens, latestShardState(spark, stateDir, batchId))
    shards.write.mode("overwrite").parquet(s"$shardDir/batch_id=$batchId")
    newState.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
    // retention: only the newest committed version below the CURRENT
    // batch is ever read again (a retry re-reads it; nothing reads
    // further back) — without pruning, a long-running stream accumulates
    // one streams-bounded state dir per micro-batch forever
    StateDir.prune(StateDir.fs(spark, stateDir), stateDir)
  }

  /** End-to-end STREAMING SHARD PRODUCTION — the terminal form of the
    * serving pipeline: watch `inDir`, gate each micro-batch (stateless
    * Gopher + NB under the frozen model), encode under the frozen
    * tokenizer, and run the incremental shard writer
    * ([[Packing.shardTokensDelta]]) so only COMPLETE `ctxTokens` shards
    * are ever published; partial tails ride the batchId-versioned state
    * under `outDir/state`. Consumers read `outDir/shards`
    * (`batch_id` surfaces as a partition column); at end-of-stream,
    * [[flushShards]] publishes the final partials.
    *
    * Cross-batch determinism note: shard content depends on ARRIVAL
    * order across micro-batches (within a batch, `idCol` orders the
    * stream) — identical to any append-only shard writer. When files
    * arrive in id order, the emitted shards equal the batch
    * [[graft.ext.Packing.shardTokens]] over the union exactly
    * (StreamingSpec pins it; the same contract `q_token_shards_incr`
    * oracles for the batch writer).
    */
  def runShards(spark: SparkSession, inDir: String, outDir: String,
                checkpoint: String, schema: StructType, textCol: String,
                idCol: String, streamCol: String,
                model: NbClassifier.NbModel, tok: Bpe.Tokenizer,
                ctxTokens: Int = 256, minTokens: Long = 50,
                maxTokens: Long = 100000): StreamingQuery =
    qualityGate(readDocStream(spark, inDir, schema), textCol, idCol,
        model, minTokens, maxTokens)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeShardBatch(batch, batchId, s"$outDir/shards",
          s"$outDir/state", textCol, idCol, streamCol, tok, ctxTokens)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Publish the final partial shards of a stopped [[runShards]] job —
    * the writer's close(): reads the newest committed state and emits
    * each stream's tail via [[Packing.shardTokensFlush]]. Returns an
    * empty frame when no state exists or every stream ended
    * shard-aligned — ALWAYS with the shard schema `(streamCol,
    * shard_id, n_tokens, token_ids)` (stream column string-typed in the
    * no-state case, where no source schema exists to read it from), so
    * the documented `unionByName`-with-published-shards consumer pattern
    * contributes zero rows instead of throwing on a zero-column frame.
    */
  def flushShards(spark: SparkSession, outDir: String, streamCol: String,
                  ctxTokens: Int = 256): DataFrame =
    latestShardState(spark, s"$outDir/state") match {
      case Some(st) =>
        Packing.shardTokensFlush(st, Seq(streamCol), ctxTokens)
      case None =>
        import org.apache.spark.sql.types._
        // stream-column type: prefer the PUBLISHED shards' own schema
        // (non-string stream keys union cleanly); string only when the
        // sink is empty too and no schema exists anywhere
        val shardsPath = new org.apache.hadoop.fs.Path(s"$outDir/shards")
        val fs = shardsPath.getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        val streamType: DataType =
          if (fs.exists(shardsPath))
            scala.util.Try(spark.read.parquet(s"$outDir/shards")
              .schema(streamCol).dataType).getOrElse(StringType)
          else StringType
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(
            StructField(streamCol, streamType),
            StructField("shard_id", LongType),
            StructField("n_tokens", LongType),
            StructField("token_ids", ArrayType(IntegerType)))))
    }

  /** The batch_id partition value [[closeShards]] publishes tails under:
    * numerically above any real micro-batch id, so partition discovery
    * keeps inferring a LONG batch_id column and time-ordered readers see
    * the flush last.
    */
  val FlushBatchId: Long = Long.MaxValue

  /** ONE-CALL stream close — stop → flush → publish, so a stopped shard
    * job can never silently strand its streams' partial tails (the
    * failure mode of a forgotten manual [[flushShards]]): stops `query`
    * if still active (awaiting termination), reads the newest committed
    * state, and publishes the final partial shards EXACTLY ONCE under
    * `outDir/shards/batch_id=` [[FlushBatchId]] (overwrite mode — a
    * retried or repeated close REPLACES the same directory, the same
    * idempotence contract as every micro-batch sink here). Returns the
    * published tails re-read from the sink. Works for [[runShards]],
    * [[runCorpusShards]], and [[runCorpusShardsKeyed]] jobs alike (all
    * version their writer state under `outDir/state`).
    *
    * OWNERSHIP: close only a STOPPED job — pass `query` (stopped here
    * for you) or stop it out-of-band first. Closing while a producer in
    * another process is still writing publishes that moment's partial
    * tails, which the live stream later re-publishes inside complete
    * shards — duplicated token content that nothing can detect
    * downstream. This is the standard close() contract of any
    * append-only writer, stated loudly because the `query = None` form
    * cannot verify liveness across processes.
    *
    * The sink is TERMINAL after close — ENFORCED, not advisory: close
    * stamps `shards/` [[CloseMarker]] (after the flush publish, so a
    * crashed close retries cleanly), and every micro-batch writer here
    * refuses to write past it — a restarted stream fails with a named
    * error instead of silently re-emitting the flushed tail tokens
    * inside complete shards. Repeated closes stay idempotent (the
    * marker and the flush partition are both overwrite-shaped).
    */
  def closeShards(spark: SparkSession, outDir: String, streamCol: String,
                  ctxTokens: Int = 256,
                  query: Option[StreamingQuery] = None): DataFrame = {
    query.filter(_.isActive).foreach { q =>
      q.stop()
      q.awaitTermination()
    }
    // repartition(1): tails are streams-bounded (≤ one partial shard per
    // stream), and a zero-PARTITION empty frame would write no
    // schema-carrying part file, breaking the read-back
    flushShards(spark, outDir, streamCol, ctxTokens)
      .repartition(1).write.mode("overwrite")
      .parquet(s"$outDir/shards/batch_id=$FlushBatchId")
    // marker LAST: a crash before this line leaves a re-closeable sink
    // (the flush partition is overwrite-mode), never a half-fenced one
    StateDir.stamp(StateDir.fs(spark, outDir), s"$outDir/shards",
      CloseMarker)
    spark.read.parquet(s"$outDir/shards/batch_id=$FlushBatchId")
  }

  /** One micro-batch of the FULL streaming corpus loop ([[runCorpusShards]]):
    * the batch arrives already quality-gated; here it dedups against the
    * batchId-versioned keeper-digest state ([[graft.ext.Dedup.keeperDelta]]),
    * encodes under the frozen tokenizer, and runs the incremental shard
    * writer. All three outputs are versioned/overwritten by batch id
    * (shards/batch_id=B, keepers/v=B, state/v=B), so a retried batch
    * recomputes from the same prior state and replaces the same outputs.
    * Its caches are batch-scoped, as in [[writeShardBatch]].
    */
  private[graft] def writeCorpusShardBatch(batch: DataFrame, batchId: Long,
                                           outDir: String, textCol: String,
                                           idCol: String, streamCol: String,
                                           tok: Bpe.Tokenizer,
                                           ctxTokens: Int,
                                           keeperFoldEveryBatches: Int = 16)
      : Unit = CacheScope.scoped {
    val spark = batch.sparkSession
    requireNotClosed(spark, s"$outDir/shards")
    val keeperState = readRekeyedKeeperState(spark, outDir, batchId)
    val (kept, deltaKeepers) = graft.ext.Dedup.keeperDelta(
      batch, textCol, idCol, keeperState)
    val enc = tok.encodeIds(kept, textCol, idCol)
      .join(kept.select(col(idCol), col(streamCol)), Seq(idCol))
    // arrival order IS the stream order here, so the id-order guard is
    // off: convergence-with-batch holds when files arrive id-ordered
    // (the spec's setup); out-of-order arrival interleaves differently
    // by design, exactly like any append-only writer
    val (shards, newShardState) = Packing.shardTokensDelta(enc,
      Seq(streamCol), idCol, ctxTokens,
      latestShardState(spark, s"$outDir/state", batchId),
      checkIdOrder = false)
    shards.write.mode("overwrite")
      .parquet(s"$outDir/shards/batch_id=$batchId")
    // digest-keeper SEGMENT (the rekeyed loop's r17 layout, trivial
    // case: digests are append-only sets, so segments are disjoint by
    // the dedup construction and reads are a plain union — no flips,
    // no latest-wins). The full-set rewrite this replaces scaled with
    // the corpus, not the delta.
    val fs = StateDir.fs(spark, outDir)
    deltaKeepers.select(col("content_hash"))
      .write.mode("overwrite").parquet(s"$outDir/keepers/v=$batchId")
    StateDir.stamp(fs, s"$outDir/keepers/v=$batchId",
      StateDir.SegmentMarker)
    newShardState.write.mode("overwrite")
      .parquet(s"$outDir/state/v=$batchId")
    // keepers dir: segments are live until the fold — never pruned
    StateDir.prune(fs, s"$outDir/state")
    if (keeperFoldEveryBatches > 0 &&
        (batchId + 1) % keeperFoldEveryBatches == 0)
      foldDigestKeeperState(spark, outDir, includeNewest = false)
  }

  /** The COMPLETE corpus-production loop on a stream — crawl files in,
    * training shards out: gate each micro-batch (stateless Gopher + NB
    * under the frozen model), DEDUP it against the accumulated
    * keeper-digest state, encode under the frozen tokenizer, and publish
    * only complete `ctxTokens` shards ([[writeCorpusShardBatch]]); the
    * keeper set and the shard writer's partial tails ride
    * batchId-versioned state, so the whole loop is exactly-once under
    * micro-batch retries. [[flushShards]] publishes the final partials.
    * The streaming twin of [[graft.api.Graft.corpusShardsDelta]]
    * (whose two-delta replay is DuckDB-oracled as
    * `q_corpus_shards_incr`); StreamingSpec pins stream ≡ batch on an
    * id-ordered file sequence with a cross-batch duplicate injected.
    */
  def runCorpusShards(spark: SparkSession, inDir: String, outDir: String,
                      checkpoint: String, schema: StructType,
                      textCol: String, idCol: String, streamCol: String,
                      model: NbClassifier.NbModel, tok: Bpe.Tokenizer,
                      ctxTokens: Int = 256, minTokens: Long = 50,
                      maxTokens: Long = 100000): StreamingQuery = {
    val srcCols = schema.fieldNames.toSeq
    qualityGate(readDocStream(spark, inDir, schema), textCol, idCol,
        model, minTokens, maxTokens)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeCorpusShardBatch(batch.select(srcCols.map(col): _*), batchId,
          outDir, textCol, idCol, streamCol, tok, ctxTokens)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** One micro-batch of the KEYED full loop ([[runCorpusShardsKeyed]]):
    * re-id the batch under the batchId-versioned ingest base
    * ([[graft.api.Graft.withIngestIds]] — dense monotone ingest ids over
    * the deterministic salted-hash key order), then run the standard
    * dedup→encode→shard stages keyed by the ingest id. The base rides
    * its own versioned state (`ingest/v=B`, one row), so a RETRIED batch
    * re-reads the same base, assigns the SAME ids, and overwrites the
    * same outputs — the exactly-once contract extends to id assignment.
    * Its caches are batch-scoped, as in [[writeShardBatch]].
    */
  private[graft] def writeKeyedCorpusShardBatch(batch: DataFrame,
                                                batchId: Long,
                                                outDir: String,
                                                textCol: String,
                                                keyCol: String,
                                                streamCol: String,
                                                tok: Bpe.Tokenizer,
                                                ctxTokens: Int,
                                                salt: String)
      : Unit = CacheScope.scoped {
    val spark = batch.sparkSession
    val base = latestShardState(spark, s"$outDir/ingest", batchId)
      .map(_.head().getAs[Long]("next_base")).getOrElse(0L)
    val (reId, nextBase) = graft.api.Graft.withIngestIds(batch, keyCol,
      base = base, salt = salt, idCol = "ingest_id")
    writeCorpusShardBatch(reId, batchId, outDir, textCol, "ingest_id",
      streamCol, tok, ctxTokens)
    import spark.implicits._
    Seq(nextBase).toDF("next_base").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/ingest/v=$batchId")
    StateDir.prune(StateDir.fs(spark, outDir), s"$outDir/ingest")
  }

  /** Single-producer ownership of a keyed shard sink, ENFORCED: the
    * keyed loop's ingest-base versioning (`ingest/v=B`) is correct for
    * exactly ONE producer per outDir — two concurrent producers would
    * read the same base and assign overlapping ingest ids, corrupting
    * the keeper/dedup semantics with no loud failure. The lock is a
    * marker file `<dir>/_OWNER` holding the producer's CHECKPOINT path:
    * the checkpoint IS the job's identity, so a crashed job restarting
    * from its own checkpoint re-acquires silently (the resume story
    * stays intact), while a starter with a DIFFERENT checkpoint fails
    * fast with a named error. Takeover (the old producer is known dead
    * and its checkpoint is gone): delete the `_OWNER` file — stated in
    * the error, deliberate-action-shaped.
    */
  private[graft] def acquireProducerLock(spark: SparkSession, dir: String,
                                         checkpoint: String): Unit = {
    val lock = new org.apache.hadoop.fs.Path(s"$dir/_OWNER")
    val fs = StateDir.fs(spark, dir)
    def requireOwner(): Unit = {
      val existing = StateDir.read(fs, lock)
      if (existing != checkpoint) throw new IllegalStateException(
        s"graft keyed shard sink: $dir is owned by another producer " +
          s"(checkpoint '$existing'); this starter's checkpoint is " +
          s"'$checkpoint'. The keyed loop's ingest-base versioning " +
          "requires exactly one producer per outDir — two would assign " +
          "overlapping ingest ids. If the owning job is dead and being " +
          s"replaced, delete $dir/_OWNER to take over")
    }
    // a lost create race means someone created it first — same identity
    // is fine
    if (fs.exists(lock) || !StateDir.createExclusive(fs, lock, checkpoint))
      requireOwner()
  }

  /** [[runCorpusShards]] for ARBITRARY-keyed documents — the crawl shape
    * where ids are URLs or content hashes with no usable order: each
    * micro-batch is RE-ID'd first (dense monotone ingest ids continuing
    * from the batchId-versioned base, the streaming twin of
    * [[graft.api.Graft.withIngestIds]]'s delta threading), then gated,
    * deduped against the keeper state, encoded under the frozen
    * tokenizer, and published as complete shards. Convergence: the
    * emitted shards equal the batch loop
    * ([[graft.api.Graft.corpusShardsDelta]] over the same re-id'd
    * batches) exactly — StreamingSpec pins it, including a re-crawled
    * duplicate dropped by the keeper state. All four state families
    * (ingest base, keepers, shard tails, checkpoint) version by batch
    * id, so retries replace rather than drift. `keyCol` must be unique
    * within each micro-batch (withIngestIds' loud guard); the SAME key
    * re-arriving in a LATER batch is a re-crawl and simply takes a new
    * ingest id — dedup is content-based, so unchanged content drops
    * against the keeper state while changed content legitimately enters
    * as a new document (no URL-level versioning is implied; for
    * explicit latest-wins key identity use the keyed-keeper loop,
    * [[runCorpusShardsRekeyed]]). Single-producer ownership of `outDir`
    * is ENFORCED ([[acquireProducerLock]]): a second starter with a
    * different checkpoint fails fast; the same job restarting from its
    * own checkpoint re-acquires silently.
    */
  def runCorpusShardsKeyed(spark: SparkSession, inDir: String,
                           outDir: String, checkpoint: String,
                           schema: StructType, textCol: String,
                           keyCol: String, streamCol: String,
                           model: NbClassifier.NbModel, tok: Bpe.Tokenizer,
                           ctxTokens: Int = 256, minTokens: Long = 50,
                           maxTokens: Long = 100000,
                           salt: String = "ingest"): StreamingQuery = {
    val srcCols = schema.fieldNames.toSeq
    // ONE producer per outDir, enforced before any state is touched:
    // the ingest-base versioning is single-writer by construction
    acquireProducerLock(spark, s"$outDir/ingest", checkpoint)
    qualityGate(readDocStream(spark, inDir, schema), textCol, keyCol,
        model, minTokens, maxTokens)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeKeyedCorpusShardBatch(batch.select(srcCols.map(col): _*),
          batchId, outDir, textCol, keyCol, streamCol, tok, ctxTokens,
          salt)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** SEGMENTED KEEPER STATE (r17 — the keymap recipe one layer up).
    * The rekeyed loop's keeper state grows with the CORPUS, and until
    * r17 every micro-batch rewrote the FULL history under
    * `keepers/v=B` — at a billion accepted docs that is the keymap's
    * tens-of-GB-per-batch write amplification all over again. Now each
    * batch persists only:
    *
    *  - `keepers/v=B` — the batch's NEW rows (accepted + dropped; ids
    *    are monotone under the versioned ingest base, so the batch's
    *    rows are exactly `ingest_id > base`), committed by a
    *    [[graft.io.StateDir.SegmentMarker]] written LAST;
    *  - `keeperflips/v=B` — the retired ingest ids (the LatestWins
    *    flip's one in-place mutation, expressed as delta-sized override
    *    events — the same ids the supersession feed publishes);
    *
    * and [[readRekeyedKeeperState]] reconstructs the frame: base ∪
    * segments above the base's watermark, `live := live && ingest_id ∉
    * flips` (a row once superseded never resurrects under LatestWins;
    * the other policies never flip). [[foldRekeyedKeeperState]]
    * collapses the log into a COMPACTED base
    * ([[graft.api.Graft.corpusRekeyedStateCompact]] applied at fold
    * time) under the `keepersbase/v=<n>` sidecar whose marker records
    * the segment version folded through — the in-loop fold (the
    * `stateCompactEveryBatches` cadence) always leaves the NEWEST
    * segment unfolded so a crash-between-writes-and-checkpoint retry
    * re-reads state that excludes its own contribution; the close's
    * fold takes everything (the stream is stopped — no retry window).
    * A PRE-r17 state (full chain per version, no markers) reads as the
    * base at its newest version's watermark, so existing deployments
    * migrate seamlessly: the first segmented batch simply stacks above
    * it and the first fold retires it into the sidecar.
    *
    * A keeper-family version counts as marked by its own marker ONLY
    * (segments by the segment marker, sidecar bases by
    * [[graft.io.StateDir.CommitMarker]]) — no `_SUCCESS` fallback.
    */
  private def keeperVersions(fs: org.apache.hadoop.fs.FileSystem,
                             dir: String, marker: String)
      : Seq[(Long, Boolean, Boolean)] =
    StateDir.scan(fs, dir, StateDir.marked(fs, _, marker))

  /** The newest committed keeper BASE: the `keepersbase` sidecar's
    * newest marked version (marker content = the segment watermark it
    * folded through), else the newest UNMARKED data-carrying
    * `keepers/v=<n>` below `beforeBatch` (a pre-segmentation full
    * chain, its own version as watermark). Returns
    * (dir, watermark, baseSidecarVersion — -1 for legacy).
    */
  private def newestKeeperBase(spark: SparkSession,
                               fs: org.apache.hadoop.fs.FileSystem,
                               outDir: String, beforeBatch: Long)
      : Option[(String, Long, Long)] = {
    val baseDir = s"$outDir/keepersbase"
    val sidecar = keeperVersions(fs, baseDir, StateDir.CommitMarker)
      .reverse.collectFirst(Function.unlift {
        case (v, true, true) =>
          StateDir.watermark(fs, s"$baseDir/v=$v")
            .map(t => (s"$baseDir/v=$v", t, v))
        case _ => None
      })
    sidecar.orElse {
      // a LEGACY full-chain base is an unmarked data dir BELOW every
      // marked segment — an unmarked dir ABOVE a marked one is a torn
      // segment (crash before its marker), which must read as absent,
      // never as a complete-history base
      val vs = keeperVersions(fs, s"$outDir/keepers", StateDir.SegmentMarker)
      val firstMarked = vs.collectFirst { case (v, true, _) => v }
        .getOrElse(Long.MaxValue)
      vs.filter(v => !v._2 && v._3 && v._1 < beforeBatch &&
          v._1 < firstMarked)
        .lastOption.map { case (v, _, _) =>
          (s"$outDir/keepers/v=$v", v, -1L)
        }
    }
  }

  /** Reconstruct the rekeyed keeper frame as of (strictly below)
    * segment version `beforeBatch` — base ∪ marked segments above the
    * watermark, flip overrides applied. None when no state exists.
    */
  private[graft] def readRekeyedKeeperState(spark: SparkSession,
                                            outDir: String,
                                            beforeBatch: Long =
                                              Long.MaxValue)
      : Option[DataFrame] = {
    val fs = StateDir.fs(spark, outDir)
    val base = newestKeeperBase(spark, fs, outDir, beforeBatch)
    val through = base.map(_._2).getOrElse(-1L)
    val segs = keeperVersions(fs, s"$outDir/keepers", StateDir.SegmentMarker)
      .filter(v => v._2 && v._3 && v._1 > through && v._1 < beforeBatch)
    val parts = base.map(_._1).toSeq ++
      segs.map(v => s"$outDir/keepers/v=${v._1}")
    if (parts.isEmpty) None
    else {
      // a pre-r16 legacy base lacks n_tokens — pad per part so the
      // union never schema-clashes with segments (which always carry
      // it). Pad only when the layout carries the column at all: the
      // digest loops' one-column state must not grow a spurious field.
      val dfs = parts.map(p => spark.read.parquet(p))
      val anyTok = dfs.exists(_.columns.contains("n_tokens"))
      val rows = dfs.map { df =>
        if (!anyTok || df.columns.contains("n_tokens")) df
        else df.withColumn("n_tokens", lit(null).cast("long"))
      }.reduce(_ unionByName _)
      // flips apply ONLY at versions whose keeper segment carries the
      // segment marker (ADVICE r17, medium): the loop writes flips
      // BEFORE the segment's marker, so a crash between the two leaves
      // orphan flips whose replacement rows (the torn, marker-less
      // segment) are excluded above — applying them would flip rows
      // live=false with no successors, silently dropping documents from
      // the compacted state. Flips and their segment share the batch
      // version, so marker-at-the-same-version is exactly the
      // flips-and-replacements-committed-together signal; the retry of
      // the torn batch overwrites both.
      val markedVs = keeperVersions(fs, s"$outDir/keepers",
          StateDir.SegmentMarker)
        .filter(v => v._2 && v._1 > through && v._1 < beforeBatch)
        .map(_._1).toSet
      val flips = StateDir.scan(fs, s"$outDir/keeperflips", _ => false)
        .filter(v => v._3 && v._1 > through && v._1 < beforeBatch &&
          markedVs.contains(v._1))
        .map(v => spark.read.parquet(s"$outDir/keeperflips/v=${v._1}")
          .select(col("ingest_id")))
      Some(flips.reduceOption(_ unionByName _) match {
        case Some(f) =>
          // flips are delta-sized per batch and fold-bounded in count:
          // a broadcast left join flags the overridden rows
          rows.join(broadcast(f.distinct()
              .withColumn("__flip", lit(true))),
            Seq("ingest_id"), "left")
            .withColumn("live", col("live") && col("__flip").isNull)
            .drop("__flip")
        case None => rows
      })
    }
  }

  /** FOLD the keeper-state segment log into one COMPACTED base under
    * the `keepersbase` sidecar (marker content = the segment watermark,
    * written LAST; folded segments, their flips, superseded bases, and
    * any subsumed pre-segmentation full chain are deleted strictly
    * after the base commits). `includeNewest = false` is the in-loop
    * cadence — the newest segment survives so a
    * crash-between-writes-and-checkpoint retry reads state that
    * excludes its own contribution; the close passes true (stopped
    * stream, no retry window). Crash-safe like the keymap fold: a torn
    * base is retried into the same slot with the previous base intact.
    * The REKEYED fold — the compactor is
    * [[graft.api.Graft.corpusRekeyedStateCompact]]; the digest loops
    * use [[foldDigestKeeperState]] (same log, set-distinct compactor).
    */
  private[graft] def foldRekeyedKeeperState(spark: SparkSession,
                                            outDir: String,
                                            keyCol: String,
                                            includeNewest: Boolean)
      : Unit = {
    val G = graft.api.Graft
    foldKeeperLog(spark, outDir, includeNewest)(view =>
      G.corpusRekeyedStateCompact(
        G.KeyedCorpusShardsState(view, view), keyCol, "ingest_id").keepers)
  }

  /** [[foldRekeyedKeeperState]] for the UNKEYED digest loops
    * ([[writeCorpusShardBatch]] — keeper state is a content-hash SET):
    * the compactor is a plain distinct (segments are disjoint by the
    * dedup construction; the distinct only guards out-of-protocol
    * replays).
    */
  private[graft] def foldDigestKeeperState(spark: SparkSession,
                                           outDir: String,
                                           includeNewest: Boolean): Unit =
    foldKeeperLog(spark, outDir, includeNewest)(_.distinct())

  private def foldKeeperLog(spark: SparkSession, outDir: String,
                            includeNewest: Boolean)
                           (compactor: DataFrame => DataFrame): Unit = {
    val fs = StateDir.fs(spark, outDir)
    val baseDir = s"$outDir/keepersbase"
    val segDirs = Seq(s"$outDir/keepers", s"$outDir/keeperflips")
    val base = newestKeeperBase(spark, fs, outDir, Long.MaxValue)
    val through = base.map(_._2).getOrElse(-1L)
    val segs = keeperVersions(fs, s"$outDir/keepers", StateDir.SegmentMarker)
      .filter(v => v._2 && v._1 > through)
    val foldable = if (includeNewest) segs else segs.dropRight(1)
    // work exists if there are foldable segments, or a legacy full
    // chain not yet retired into a (compacted) sidecar base
    val legacyOnly = base.exists(_._3 < 0)
    if (foldable.isEmpty && !legacyOnly) {
      // nothing to fold; still clear leftovers a crashed deletion
      // stranded at or below the sidecar watermark (reads already
      // ignore them). Only under a SIDECAR base — when the base IS the
      // legacy full chain, dirs at the watermark are the base itself.
      if (base.exists(_._3 >= 0))
        segDirs.foreach(d => StateDir.delete(fs, d,
          StateDir.versions(fs, d).filter(_ <= through)))
      return
    }
    val newThrough = foldable.map(_._1).maxOption.getOrElse(through)
    readRekeyedKeeperState(spark, outDir, newThrough + 1).foreach { view =>
      StateDir.commitFold(fs, baseDir,
          v => StateDir.marked(fs, s"$baseDir/v=$v", StateDir.CommitMarker),
          newThrough, segDirs) { dir =>
        compactor(view).write.mode("overwrite").parquet(dir)
      }
    }
  }

  /** One micro-batch of the REKEYED full loop
    * ([[runCorpusShardsRekeyed]]): re-id under the versioned ingest base
    * (the keyed loop's exactly-once id assignment), then the keyed
    * keeper core ([[graft.api.Graft.rekeyedCore]]) — key policy, digest
    * dedup, frozen-tokenizer encode, incremental shard writer. The
    * keeper state here is the KEYED frame
    * `(keyCol, content_hash, ingest_id, streamCol, kept, live)`,
    * persisted as delta SEGMENTS (scaladoc above); all state families
    * version by batch id, so a retried batch re-reads the same inputs
    * and replaces the same outputs. Its caches are batch-scoped, as in
    * [[writeShardBatch]].
    */
  private[graft] def writeRekeyedCorpusShardBatch(batch: DataFrame,
                                                  batchId: Long,
                                                  outDir: String,
                                                  textCol: String,
                                                  keyCol: String,
                                                  streamCol: String,
                                                  tok: Bpe.Tokenizer,
                                                  ctxTokens: Int,
                                                  salt: String,
                                                  policy: graft.api.Graft.RekeyPolicy,
                                                  alertSupersededFraction: Double = 0.5,
                                                  stateCompactEveryBatches: Int = 0)
      : Unit = CacheScope.scoped {
    val spark = batch.sparkSession
    requireNotClosed(spark, s"$outDir/shards")
    val G = graft.api.Graft
    val base = latestShardState(spark, s"$outDir/ingest", batchId)
      .map(_.head().getAs[Long]("next_base")).getOrElse(0L)
    val (reId, nextBase) = G.withIngestIds(batch, keyCol,
      base = base, salt = salt, idCol = "ingest_id")
    val keeperState = readRekeyedKeeperState(spark, outDir, batchId)
    val shardState = latestShardState(spark, s"$outDir/state", batchId)
    require(keeperState.isDefined == shardState.isDefined,
      s"rekeyed loop state under $outDir is torn (keepers " +
        s"${keeperState.isDefined}, shards ${shardState.isDefined}) — " +
        "retry the crashed batch via the checkpoint, do not skip ahead")
    val st = keeperState.map(k =>
      G.KeyedCorpusShardsState(k, shardState.get))
    val (shards, newState) = G.rekeyedCore(reId, textCol, "ingest_id",
      keyCol, streamCol, tok, st, policy, ctxTokens,
      checkIdOrder = false) // ids are monotone by the versioned base
    shards.write.mode("overwrite")
      .parquet(s"$outDir/shards/batch_id=$batchId")
    // keeper SEGMENT: only this batch's new rows (ids above the ingest
    // base — monotone by construction) plus the flip overrides; the
    // segment marker written LAST is its commit record. The full-chain
    // rewrite this replaces was the loop's last corpus-sized per-batch
    // write (see the segmented-keeper-state scaladoc above).
    newState.keepers.filter(col("ingest_id") > base)
      .write.mode("overwrite").parquet(s"$outDir/keepers/v=$batchId")
    if (policy == G.RekeyPolicy.LatestWins)
      newState.superseded.foreach(_.select(col("ingest_id"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(s"$outDir/keeperflips/v=$batchId"))
    val fs = StateDir.fs(spark, outDir)
    StateDir.stamp(fs, s"$outDir/keepers/v=$batchId",
      StateDir.SegmentMarker)
    newState.shards.write.mode("overwrite")
      .parquet(s"$outDir/state/v=$batchId")
    // the SUPERSESSION FEED is published per batch (overwrite — a retry
    // recomputes the same events from the same prior state): the
    // downstream-invalidation wire (KeyedCorpusShardsState.superseded
    // scaladoc) would otherwise be unreachable from a streaming
    // deployment — the absorb happens inside foreachBatch where no
    // caller can consume the in-memory by-product. Consumers (the
    // persisted-index loop above all) read outDir/superseded and
    // retire exactly these uids. The feed's OWN commit marker is
    // stamped LAST (r18): part files are not a commit record — a crash
    // mid-job-commit exposes a partial dir, and the consumer advances
    // its applied-through cursor only past committed batches
    // ([[feedBatchDirs]]), so the ids in a torn dir's missing part
    // files are re-read on the next apply instead of skipped forever.
    newState.superseded.foreach { sup =>
      sup.write.mode("overwrite")
        .parquet(s"$outDir/superseded/batch_id=$batchId")
      StateDir.stamp(fs, s"$outDir/superseded/batch_id=$batchId",
        StateDir.CommitMarker)
    }
    import spark.implicits._
    Seq(nextBase).toDF("next_base").coalesce(1)
      .write.mode("overwrite").parquet(s"$outDir/ingest/v=$batchId")
    // NEVER prune the keepers dir: its versions are live SEGMENTS until
    // the fold retires them (the shard-tail and ingest states stay
    // newest-only-read and keep pruning)
    Seq("state", "ingest").foreach(d => StateDir.prune(fs, s"$outDir/$d"))
    // IN-LOOP state retention: fold the keeper-segment log into a
    // COMPACTED base every Nth batch — bounded rows AND delta-sized
    // per-batch writes; the newest segment stays unfolded (retry
    // window). 0 disables (close still folds+compacts).
    if (stateCompactEveryBatches > 0 &&
        (batchId + 1) % stateCompactEveryBatches == 0)
      foldRekeyedKeeperState(spark, outDir, keyCol, includeNewest = false)
    // COMPACTION ALERT (latest-wins only — the one policy that
    // supersedes): log the streams whose superseded-token fraction
    // crossed the threshold, so the operator schedules
    // [[closeShardsRekeyed]] (or the batch compaction) BEFORE stale
    // tokens dominate the sink. Observability only — never fails the
    // batch (Try) and never mutates the sink: the writer stays strictly
    // append-only, compaction stays an explicit call, exactly the
    // log-structured split. One streams-bounded aggregate per batch;
    // <= 0 disables.
    if (policy == G.RekeyPolicy.LatestWins && alertSupersededFraction > 0)
      scala.util.Try {
        val crossed = G.corpusRekeyedSupersededFractions(
            G.KeyedCorpusShardsState(newState.keepers, newState.shards),
            streamCol)
          .filter(col("superseded_fraction") >= alertSupersededFraction)
          .collect()
        crossed.foreach { r =>
          System.err.println(f"[graft-rekeyed] batch $batchId: stream " +
            s"'${r.get(0)}' superseded fraction " +
            s"${r.getAs[Double]("superseded_fraction")} >= " +
            s"$alertSupersededFraction — schedule compaction " +
            "(StreamingCorpus.closeShardsRekeyed, or " +
            "Graft.corpusShardsRekeyedCompact over the archive)")
        }
      }.recover { case e =>
        // the alert must never fail the batch, but a SILENT failure is
        // the one outcome worse than no alert at all (a legacy state's
        // NULL-token guard would otherwise mute the alert for every
        // stream with no trace) — name it and carry on
        System.err.println(s"[graft-rekeyed] batch $batchId: compaction " +
          s"alert skipped — ${e.getMessage}")
      }
    ()
  }

  /** ONE-CALL close for the LATEST-WINS rekeyed loop — stop → flush →
    * COMPACT → publish: the rekeyed twin of [[closeShards]], realizing
    * the supersessions the append-only writer deliberately left on disk.
    * Reads the newest committed keeper/shard state, runs
    * [[graft.api.Graft.corpusShardsRekeyedCompact]] (tail-only per
    * affected stream; `minSupersededFraction` > 0 compacts only streams
    * past that pressure, leaving the rest emitted+flushed verbatim —
    * the explicit append-only/compaction split) over the published
    * micro-batch shards, and publishes the FINAL shard set under
    * `outDir/shards_final` (overwrite — a retried or repeated close
    * REPLACES it, so a threshold-crossing stream compacts exactly once
    * however many times the close is retried). The original sink is
    * then fenced TERMINAL with the [[CloseMarker]], exactly like
    * [[closeShards]]. Consumers of the closed job read
    * `outDir/shards_final` — the complete view, flush included.
    *
    * `docs` is the crawl archive of re-id'd gated documents (at least
    * every live doc at/after each compacted stream's tail cut — the
    * [[graft.api.Graft.corpusShardsRekeyedCompact]] contract; the full
    * archive always qualifies). Same OWNERSHIP rule as [[closeShards]]:
    * close only a stopped job. Mid-run the writer NEVER compacts —
    * rewriting a live stream's emitted shards would need a
    * realized-supersession coordinate protocol in the state; the
    * per-batch threshold alert names when to schedule this call
    * instead.
    */
  def closeShardsRekeyed(spark: SparkSession, outDir: String,
                         docs: DataFrame, textCol: String,
                         streamCol: String, tok: Bpe.Tokenizer,
                         ctxTokens: Int = 256,
                         minSupersededFraction: Double = 0.0,
                         query: Option[StreamingQuery] = None)
      : DataFrame = {
    query.filter(_.isActive).foreach { q =>
      q.stop()
      q.awaitTermination()
    }
    // deliberately NO closed-check here: unlike closeShards this close
    // writes nothing into shards/ (the final set lives beside it), so a
    // REPEATED close recomputes from the same state and replaces
    // shards_final with the identical set — repeat-safe by construction
    val G = graft.api.Graft
    val keepers = readRekeyedKeeperState(spark, outDir)
    val shardsSt = latestShardState(spark, s"$outDir/state")
    require(keepers.isDefined && shardsSt.isDefined,
      s"closeShardsRekeyed: no committed rekeyed state under $outDir — " +
        "nothing was ever absorbed, or the first batch crashed before " +
        "its state commit")
    // STATE retention compaction rides the close (VERDICT r16): fold
    // the keeper-segment log — EVERYTHING, newest segment included (the
    // stream is stopped, so there is no retry window) — into one
    // COMPACTED base ([[foldRekeyedKeeperState]] applies
    // [[graft.api.Graft.corpusRekeyedStateCompact]] at fold time), so
    // the closed state is bounded at accepted versions + keys and a
    // post-close consumer reads one snapshot instead of a log. The key
    // column is the one the fixed loop layout does not account for:
    // the loop writes (ingest_id, keyCol, content_hash, streamCol,
    // kept, live, n_tokens) — every column but the key is name-pinned,
    // so the key is inferred by elimination (a wrong guess, e.g.
    // positional, would window by a unique column and silently compact
    // NOTHING).
    val fixedCols = Set("ingest_id", "content_hash", "kept", "live",
      "n_tokens", streamCol)
    val keyCands = keepers.get.columns.filterNot(fixedCols)
    require(keyCands.length == 1,
      s"closeShardsRekeyed: cannot infer the key column of the keeper " +
        s"state under $outDir (candidates: ${keyCands.mkString(", ")}) — " +
        "the state does not carry the rekeyed loop's layout")
    foldRekeyedKeeperState(spark, outDir, keyCands.head,
      includeNewest = true)
    val stC = G.KeyedCorpusShardsState(
      readRekeyedKeeperState(spark, outDir).get, shardsSt.get)
    // EXCLUDE any batch_id = FlushBatchId partition: if the UNKEYED
    // closeShards already ran on this sink, its published flush rows
    // re-enter here while the compaction ALSO flushes the same tails
    // from the state — every unaffected stream's partial tail would
    // appear twice in shards_final (the exact double-counting the
    // runCorpusShardsRekeyed scaladoc warns the by-hand path about)
    val emitted = spark.read.parquet(s"$outDir/shards")
      .filter(col("batch_id") =!= FlushBatchId)
      .select(col(streamCol), col("shard_id"), col("n_tokens"),
        col("token_ids"))
    val fin = G.corpusShardsRekeyedCompact(docs, textCol, "ingest_id",
      streamCol, tok, stC, emitted, ctxTokens, minSupersededFraction)
    // repartition(1) for the same empty-frame schema reason closeShards
    // documents is NOT needed here: the compacted set is never empty
    // when state exists, and shard rows are token-heavy — keep the
    // parallel write
    fin.write.mode("overwrite").parquet(s"$outDir/shards_final")
    // marker LAST: a crash before this line leaves a re-closeable sink
    StateDir.stamp(StateDir.fs(spark, outDir), s"$outDir/shards",
      CloseMarker)
    spark.read.parquet(s"$outDir/shards_final")
  }

  /** [[runCorpusShardsKeyed]] with EXPLICIT key identity — the streaming
    * twin of [[graft.api.Graft.corpusShardsDeltaRekeyed]]: each
    * micro-batch is re-id'd under the versioned ingest base, gated, put
    * through the keyed keeper policy ([[graft.api.Graft.RekeyPolicy]] —
    * latest-wins supersession, first-wins immutability, or explicit
    * keep-all), deduped by content digest, and published as complete
    * shards. A re-crawled key with UNCHANGED content drops via the
    * digest keeper; with CHANGED content it follows the policy —
    * the day-two production case the plain keyed loop documents away.
    * Under LatestWins, close with [[closeShardsRekeyed]] — the one-call
    * stop → flush → tail-only compact → publish (`shards_final`) — or
    * stop the query and run
    * [[graft.api.Graft.corpusShardsRekeyedCompact]] by hand over the
    * published MICRO-BATCH shards (exclude any `batch_id =`
    * [[FlushBatchId]] partition — compaction flushes the final state's
    * tails itself, so feeding it an already-[[closeShards]]-published
    * flush would double them) + the newest keeper/shard state, to
    * realize the supersessions ([[StreamingSpec]] pins the 3-batch
    * stream ≡ the 3-delta batch loop, including a changed-content
    * re-crawl). `alertSupersededFraction` logs, per batch, the streams
    * whose superseded-token fraction crossed it — the signal to
    * schedule that close; the writer itself stays strictly append-only.
    * `stateCompactEveryBatches` > 0 additionally FOLDS the keeper-state
    * segment log every Nth batch
    * ([[foldRekeyedKeeperState]], whose compactor is
    * [[graft.api.Graft.corpusRekeyedStateCompact]] — dead re-delivery
    * rows dropped, bound = accepted versions + keys), and
    * [[closeShardsRekeyed]] always folds at close, so a long-lived
    * loop's state tracks corpus content, not delivery count — and each
    * batch WRITES only its delta segment either way (the segmented
    * layout's scaladoc above [[writeRekeyedCorpusShardBatch]]).
    * Single-producer ownership enforced as in the keyed loop.
    */
  def runCorpusShardsRekeyed(spark: SparkSession, inDir: String,
                             outDir: String, checkpoint: String,
                             schema: StructType, textCol: String,
                             keyCol: String, streamCol: String,
                             model: NbClassifier.NbModel,
                             tok: Bpe.Tokenizer,
                             policy: graft.api.Graft.RekeyPolicy =
                               graft.api.Graft.RekeyPolicy.LatestWins,
                             ctxTokens: Int = 256, minTokens: Long = 50,
                             maxTokens: Long = 100000,
                             salt: String = "ingest",
                             alertSupersededFraction: Double = 0.5,
                             stateCompactEveryBatches: Int = 0)
      : StreamingQuery = {
    val srcCols = schema.fieldNames.toSeq
    acquireProducerLock(spark, s"$outDir/ingest", checkpoint)
    qualityGate(readDocStream(spark, inDir, schema), textCol, keyCol,
        model, minTokens, maxTokens)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeRekeyedCorpusShardBatch(batch.select(srcCols.map(col): _*),
          batchId, outDir, textCol, keyCol, streamCol, tok, ctxTokens,
          salt, policy, alertSupersededFraction,
          stateCompactEveryBatches)
      }
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** List a supersession feed's `batch_id=<b>` dirs as (batchId, path,
    * hasData, committed) — the one commit rule the feed's publisher
    * ([[writeRekeyedCorpusShardBatch]]), consumer
    * ([[StreamingIndex.applySupersessionFeed]]), and compactor
    * ([[graft.api.Graft.corpusSupersessionFeedCompact]]) all share.
    * Committed = the publisher's own commit marker
    * ([[graft.io.StateDir.CommitMarker]], stamped LAST since r18) or the
    * committer's `_SUCCESS` (pre-r18 publishers, hand-built
    * feeds), OR any newer `batch_id` dir exists: the publisher is
    * serial (one foreachBatch at a time under the `_OWNER` lock), so
    * batch B's publish completed before B+1's dir could be created —
    * the rule that keeps pre-r18 feeds consumable to the end on
    * marker-suppressing deployments. Part-file presence is NOT a commit
    * record (a crash mid-job-commit exposes a partially-written dir
    * whose visible part files read fine — ADVICE r17, high).
    */
  private[graft] def feedBatchDirs(fs: org.apache.hadoop.fs.FileSystem,
                                   feedRoot: String)
      : Seq[(Long, String, Boolean, Boolean)] = {
    val raw = StateDir.entries(fs, feedRoot, "batch_id")
      .filter(_._2.isDirectory).map { case (b, st) => (b, st.getPath.toString) }
    val maxB = raw.lastOption.map(_._1).getOrElse(-1L)
    raw.map { case (b, path) =>
      (b, path, StateDir.hasData(fs, path),
        b < maxB || StateDir.committed(fs, path))
    }
  }

  /** The fully-restartable serving job: boot the NB gate model AND the
    * tokenizer from their persisted parquet artifacts
    * ([[NbClassifier.load]], [[graft.ext.Bpe.load]]) and serve — zero
    * training, zero training-corpus access, at boot. This is the whole
    * point of the two `save` lifecycles: a crashed or redeployed export
    * job resumes from `checkpoint` + two artifact directories.
    */
  def runEncodeIdsFromArtifacts(spark: SparkSession, inDir: String,
                                outDir: String, checkpoint: String,
                                schema: StructType, textCol: String,
                                idCol: String, modelDir: String,
                                tokenizerDir: String, minTokens: Long = 50,
                                maxTokens: Long = 100000): StreamingQuery =
    runEncodeIdsTokenizer(spark, inDir, outDir, checkpoint, schema,
      textCol, idCol, NbClassifier.load(spark, modelDir),
      Bpe.load(spark, tokenizerDir), minTokens, maxTokens)
}
