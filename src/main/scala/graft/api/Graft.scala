package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{AnnIndex, Bpe, CacheScope, Dedup, NbClassifier, Packing, Ranks, Sampling, Similarity, TextAnalysis}
import graft.io.StateDir

/** The public façade: one short, defaulted call per engine capability, so a
  * user does not need to know the `graft.ext.*` operator internals or their
  * tuning knobs to run the common pipelines. Every method delegates to the
  * exact operator the oracled `SparkEntry.queries` surface exercises — the
  * façade adds defaults, not behavior.
  *
  * Quickstart (each compiles and runs as written — pinned by `ApiSpec`):
  *
  * {{{
  * import graft.api.Graft
  *
  * // deduplicate a corpus: exact digests, then MinHash+LSH near-dups
  * val keepers  = Graft.dedupExact(docs, "text", "doc_id")
  * val clusters = Graft.dedupNear(docs, "text", "doc_id", threshold = 0.5)
  *
  * // ANN top-k over an embedding column (learned coarse quantizer)
  * val nn = Graft.annTopK(vectors, "vec_id", "embedding", k = 5)
  *
  * // score text quality / language, split, and chunk for training
  * val scored  = Graft.quality(docs, "text")
  * val tagged  = Graft.languageId(docs, "text")
  * val split   = Graft.trainValTestSplit(docs, "doc_id", salt = "v1")
  * val chunks  = Graft.chunk(docs, "text", "doc_id", chunkSize = 128)
  *
  * // the reference's five-stage energy pipeline, end to end
  * val out = Graft.energyPipeline(spark, csvGlob, tariffs)
  * }}}
  *
  * Long-lived sessions processing many corpora should wrap each corpus
  * pass in [[graft.ext.CacheScope.scoped]] (see [[scopedPass]]) so
  * operator-internal caches drain between corpora.
  */
object Graft {

  // --- deduplication ----------------------------------------------------

  /** Exact dedup: one keeper row per distinct text digest.
    * Output: `content_hash, n_copies, keeper_id` — one shuffle of 32-byte
    * rows at any corpus size.
    */
  def dedupExact(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    Dedup.exactGroups(docs, textCol, idCol)

  /** Near-dedup, the production two-stage shape: MinHash+LSH candidates
    * (banded equi-join, hot-bucket capped) → exact Jaccard verification on
    * the candidate set → connected components. Output: `id, cluster_id`
    * for every doc in a duplicate cluster (keeper = min id); docs absent
    * from the output are unique.
    */
  def dedupNear(docs: DataFrame, textCol: String, idCol: String,
                threshold: Double = 0.5,
                maxBandBucket: Int = 1000): DataFrame = {
    val cands = Dedup.minHashLsh(docs, textCol, idCol,
      maxBandBucket = maxBandBucket)
    val verified = Dedup.verifyCandidatesJaccard(cands, docs, textCol, idCol,
      threshold = threshold)
    Dedup.resolveClusters(verified.select(col("id_a"), col("id_b")))
  }

  // --- similarity search ------------------------------------------------

  /** Mean vectors per learned cell the auto-quantizer aims for — ¼ of the
    * default `maxBucket` hot-cell cap, so natural cell-size skew (the
    * measured k=1024 band in SCALING.md is ~6× mean at the tail) rarely
    * trips the cap's recall-losing truncation.
    */
  private val AutoTargetCell = 1024L
  private val AutoMinK = 16L
  private val AutoMaxK = 4096L

  /** The measured "grow k with the corpus" lever (SCALING.md: assignment is
    * one constant-bytecode expression at any k, 128× centers ≈ 13× wall) as
    * the API default: `nBuckets <= 0` selects
    * `k = clamp(ceil(n / 1024), 16, 4096)` from a corpus count — one extra
    * O(n) count job, marginal next to the Lloyd fit's own scans. Explicit
    * `nBuckets > 0` bypasses the count entirely.
    */
  private def resolveBuckets(vectors: DataFrame, nBuckets: Int): Int =
    if (nBuckets > 0) nBuckets
    else {
      val n = vectors.count()
      math.min(AutoMaxK,
        math.max(AutoMinK, (n + AutoTargetCell - 1) / AutoTargetCell)).toInt
    }

  /** ANN top-k over an embedding column: a deterministic Lloyd coarse
    * quantizer learns the coarse cells, then the guarded within-cell
    * cosine join ranks neighbors. `maxBucket` bounds per-cell candidate
    * fan-in (the hot-bucket guard). `nBuckets` defaults to AUTO (≤ 0):
    * `clamp(ceil(corpusSize/1024), 16, 4096)`, so cells stay small as the
    * corpus grows without caller tuning; pass an explicit positive value
    * to pin k. Output: `query_id, neighbor_id, cosine, rank`.
    */
  def annTopK(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
              nBuckets: Int = 0, maxBucket: Int = 4096): DataFrame = {
    val bucketed = Similarity.kmeansBuckets(vectors, idCol, vecCol,
      k = resolveBuckets(vectors, nBuckets), iters = 2, bucketCol = "__cell")
    Similarity.bucketedNN(bucketed, idCol, vecCol, "__cell", k = k,
      maxBucket = maxBucket)
  }

  /** Learned coarse-quantizer cells as a column — the bucketing step every
    * `annTopK*` path runs internally, exposed for callers composing the
    * bucket-level operators directly. `trainFraction` < 1 learns the
    * centers from a deterministic hash sample of the corpus while still
    * assigning every row (the 100 TB codebook posture — a 0.1 fraction
    * trains ~3× faster at parity recall on clustered data; SCALING.md
    * round 11).
    */
  def vectorCells(vectors: DataFrame, idCol: String, vecCol: String,
                  nBuckets: Int = 0, iters: Int = 2,
                  trainFraction: Double = 1.0,
                  cellCol: String = "cell"): DataFrame =
    Similarity.kmeansBuckets(vectors, idCol, vecCol,
      k = resolveBuckets(vectors, nBuckets), iters = iters,
      bucketCol = cellCol, trainFraction = trainFraction)

  /** [[annTopK]] with multi-probe recall: each query probes its `nProbe`
    * nearest learned cells (centroid-codebook ranking) instead of only its
    * own, recovering neighbors that straddle a cell boundary. Same output
    * schema; cost grows linearly in `nProbe`.
    */
  def annTopKMultiProbe(vectors: DataFrame, idCol: String, vecCol: String,
                        k: Int, nProbe: Int = 2, nBuckets: Int = 0,
                        maxBucket: Int = 4096): DataFrame = {
    val bucketed = Similarity.kmeansBuckets(vectors, idCol, vecCol,
      k = resolveBuckets(vectors, nBuckets), iters = 2, bucketCol = "__cell")
    Similarity.multiProbeNN(bucketed, idCol, vecCol, "__cell", k = k,
      nProbe = nProbe, maxBucket = maxBucket)
  }

  /** [[annTopK]] with SQ8 two-stage scoring: int8 codes ride the candidate
    * join (8× fewer bytes than floats), exact float cosine re-ranks the
    * per-query `k·overfetch` shortlist. Output cosines are exact; same
    * schema. The memory-bound shape for corpus-scale retrieval.
    */
  def annTopKSq8(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
                 overfetch: Int = 3, nBuckets: Int = 0,
                 maxBucket: Int = 4096): DataFrame = {
    val bucketed = Similarity.kmeansBuckets(vectors, idCol, vecCol,
      k = resolveBuckets(vectors, nBuckets), iters = 2, bucketCol = "__cell")
    Similarity.sq8TopK(bucketed, idCol, vecCol, "__cell", k = k,
      overfetch = overfetch, maxBucket = maxBucket)
  }

  /** The full production IVF retrieval pipeline: learned quantizer →
    * multi-probe candidate generation → SQ8 code scoring → exact float
    * re-rank. The shape a 100 TB deployment runs; combines the recall of
    * [[annTopKMultiProbe]] with the candidate-join economy of
    * [[annTopKSq8]]. Same output schema.
    */
  def annTopKIvfSq8(vectors: DataFrame, idCol: String, vecCol: String,
                    k: Int, nProbe: Int = 2, overfetch: Int = 3,
                    nBuckets: Int = 0, maxBucket: Int = 4096): DataFrame = {
    val bucketed = Similarity.kmeansBuckets(vectors, idCol, vecCol,
      k = resolveBuckets(vectors, nBuckets), iters = 2, bucketCol = "__cell")
    Similarity.ivfSq8TopK(bucketed, idCol, vecCol, "__cell", k = k,
      nProbe = nProbe, overfetch = overfetch, maxBucket = maxBucket)
  }

  /** The FAISS-IVFPQ composition: learned quantizer → multi-probe
    * candidate generation → product-quantized SDC scoring (m small codes
    * per candidate through the shuffle) → exact float re-rank. Same
    * output schema. The shape for corpora where even [[annTopKIvfSq8]]'s
    * int8 codes dominate the candidate shuffle.
    *
    * The PQ family defaults to `m = 8` (4-byte codes at kSub=16;
    * requires `dim % m == 0`, so a dim divisible by 4 but not 8 —
    * e.g. 12, 20, 36 — must pass `m = 4` explicitly to keep the old
    * behavior): the round-10 recall monitor diagnosed
    * m=4's 2-byte codes as code-bound, and the round-11 recall sweep
    * measured m=8 at +31–44% recall over m=4 for 2 extra bytes, with
    * m=16 approaching SQ8 recall at 1/8 its code size (SCALING.md
    * "Round 11: codebook training on a sample (trainFraction) + the PQ
    * tuning loop", recall-vs-(m, nProbe) table — the documented tuning
    * loop when the `annRecall`-style monitor alerts).
    */
  def annTopKIvfPq(vectors: DataFrame, idCol: String, vecCol: String,
                   k: Int, dim: Int, nProbe: Int = 2, m: Int = 8,
                   kSub: Int = 16, overfetch: Int = 3, nBuckets: Int = 0,
                   maxBucket: Int = 4096,
                   trainFraction: Double = 1.0): DataFrame = {
    val bucketed = Similarity.kmeansBuckets(vectors, idCol, vecCol,
      k = resolveBuckets(vectors, nBuckets), iters = 2,
      bucketCol = "__cell", trainFraction = trainFraction)
    Similarity.ivfPqTopK(bucketed, idCol, vecCol, "__cell", k = k,
      nProbe = nProbe, dim = dim, m = m, kSub = kSub,
      overfetch = overfetch, maxBucket = maxBucket,
      trainFraction = trainFraction)
  }

  /** [[annTopK]] with product-quantization SDC scoring: `m` per-subspace
    * Lloyd codebooks (`kSub` centers each) compress every vector to
    * `m` small codes — `m·log2(kSub)` bits vs SQ8's byte-per-dimension —
    * and the candidate join is scored by precomputed sub-centroid
    * inner-product table lookups (no per-pair decode at all); exact float
    * cosine re-ranks the per-query `k·overfetch` shortlist. Output cosines
    * are exact; same schema. The shape for corpora where even int8 codes
    * don't fit the candidate shuffle.
    */
  def annTopKPq(vectors: DataFrame, idCol: String, vecCol: String, k: Int,
                dim: Int, m: Int = 8, kSub: Int = 16, overfetch: Int = 3,
                nBuckets: Int = 0, maxBucket: Int = 4096,
                trainFraction: Double = 1.0): DataFrame = {
    val bucketed = Similarity.kmeansBuckets(vectors, idCol, vecCol,
      k = resolveBuckets(vectors, nBuckets), iters = 2,
      bucketCol = "__cell", trainFraction = trainFraction)
    Similarity.pqTopK(bucketed, idCol, vecCol, "__cell", k = k, dim = dim,
      m = m, kSub = kSub, overfetch = overfetch, maxBucket = maxBucket,
      trainFraction = trainFraction)
  }

  /** [[annTopKIvfPq]] with RESIDUAL coding — the configuration FAISS's
    * IVFPQ actually ships: sub-quantizers train on and code the residual
    * `x − c(cell)` (better-conditioned codebooks at the same 2-byte
    * budget), and candidates score asymmetrically against their
    * reconstruction `c(cell) + book(code)` in one codegen'd expression.
    * Same output schema; exact cosines from the stage-C re-rank.
    */
  def annTopKIvfPqRes(vectors: DataFrame, idCol: String, vecCol: String,
                      k: Int, dim: Int, nProbe: Int = 2, m: Int = 8,
                      kSub: Int = 16, overfetch: Int = 3, nBuckets: Int = 0,
                      maxBucket: Int = 4096,
                      trainFraction: Double = 1.0): DataFrame = {
    val bucketed = Similarity.kmeansBuckets(vectors, idCol, vecCol,
      k = resolveBuckets(vectors, nBuckets), iters = 2,
      bucketCol = "__cell", trainFraction = trainFraction)
    Similarity.ivfPqResTopK(bucketed, idCol, vecCol, "__cell", k = k,
      nProbe = nProbe, dim = dim, m = m, kSub = kSub,
      overfetch = overfetch, maxBucket = maxBucket,
      trainFraction = trainFraction)
  }

  /** Retrieval with an EXTERNAL query set — the serve-time contract every
    * `annTopK*` self-search is a special case of: the index (learned
    * cells, residual codebooks, codes) is built from `corpus` alone, and
    * `queries` — any `(idCol, vecCol)` frame, typically vectors not in
    * the corpus — probe it. Residual IVF-PQ path; same output schema,
    * exact cosines from the stage-C re-rank.
    */
  def annSearch(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, dim: Int, nProbe: Int = 2,
                m: Int = 8, kSub: Int = 16, overfetch: Int = 3,
                nBuckets: Int = 0, maxBucket: Int = 4096,
                trainFraction: Double = 1.0): DataFrame = {
    val bucketed = Similarity.kmeansBuckets(corpus, idCol, vecCol,
      k = resolveBuckets(corpus, nBuckets), iters = 2,
      bucketCol = "__cell", trainFraction = trainFraction)
    Similarity.ivfPqResSearch(bucketed, queries, idCol, vecCol, "__cell",
      k = k, nProbe = nProbe, dim = dim, m = m, kSub = kSub,
      overfetch = overfetch, maxBucket = maxBucket,
      trainFraction = trainFraction)
  }

  /** Hard-negative mining over any ANN result frame (the output of
    * [[annSearch]] or any `annTopK*` path): rank-1 = pseudo-positive,
    * ranks 2..k = contrastive-training negatives with their cosine
    * `margin` below the positive. See
    * [[graft.ext.Similarity.hardNegatives]].
    */
  def annHardNegatives(retrieved: DataFrame): DataFrame =
    Similarity.hardNegatives(retrieved)

  /** Build a PERSISTED ANN index from the corpus (plain-parquet
    * artifacts under `dir`: centroids, residual PQ codes, unit vectors,
    * codebooks, params) — the build-once half of the deployment
    * lifecycle. Serve with [[annIndexSearch]]; see [[graft.ext.AnnIndex]].
    *
    * `unitNormalizeCells` (opt-in, r19): learn the coarse cells over
    * UNIT-normalized vectors instead of the raw input. Serving is
    * cosine, so ranking is norm-invariant — but the raw-input Lloyd
    * cells are NOT: on a norm-varying corpus, k-means splits by
    * magnitude and starves the angular structure the probes navigate.
    * The clustered churn probe (SCALING.md round 19) measured
    * recall@5 0.385 raw vs 0.849 unit on the same corpus — and
    * [[graft.ext.AnnIndex.rebuild]] already re-learns over the STORED
    * unit vectors, so a drift rebuild silently "fixes" a raw-built
    * index's geometry; this knob gives the first build the same
    * geometry. Default false: the oracled gates pin the raw-input
    * cells, and near-constant-norm corpora (typical normalized
    * embedding outputs) are unaffected either way.
    */
  def annIndexBuild(corpus: DataFrame, idCol: String, vecCol: String,
                    dir: String, dim: Int, m: Int = 8, kSub: Int = 16,
                    nBuckets: Int = 0,
                    trainFraction: Double = 1.0,
                    unitNormalizeCells: Boolean = false): Unit = {
    val geom =
      if (unitNormalizeCells)
        corpus.withColumn(vecCol, Similarity.unitVec(col(vecCol)))
      else corpus
    val bucketed = Similarity.kmeansBuckets(geom, idCol, vecCol,
      k = resolveBuckets(geom, nBuckets), iters = 2,
      bucketCol = "__cell", trainFraction = trainFraction)
    AnnIndex.build(bucketed, idCol, vecCol, "__cell", dir, dim = dim,
      m = m, kSub = kSub, trainFraction = trainFraction)
  }

  /** Incrementally grow a persisted index — the faiss `add()` contract:
    * encode new vectors under the FROZEN geometry (nearest stored
    * centroid + frozen residual codebooks, the exact build-time kernel)
    * and append them; no retraining, no touch of existing rows, loud
    * failures on duplicate ids (delta-sized probe via the persisted uid
    * bloom), wrong dimensions, and staleness (`maxAddedFraction` bounds
    * cumulative growth over the frozen geometry — the SCALING.md
    * recall-vs-added-fraction curve justifies the default; rebuild past
    * it). Retry of a failed add converges to exactly-once.
    * See [[graft.ext.AnnIndex.add]].
    */
  def annIndexAdd(spark: SparkSession, dir: String, newVectors: DataFrame,
                  idCol: String, vecCol: String,
                  maxAddedFraction: Double = 2.0): Unit =
    AnnIndex.add(spark, dir, newVectors, idCol, vecCol, maxAddedFraction)

  /** REBUILD a persisted index over everything it holds — the one-call
    * answer to [[annIndexAdd]]'s staleness refusal and the
    * `added_fraction` alert in [[graft.ext.AnnIndex.stats]]: re-learn
    * the geometry from the persisted unit vectors (built + added rows,
    * no external corpus access), publish as a new `dir/r=<n>` version
    * that subsequent adds/searches resolve atomically, and reset the
    * staleness counter. See [[graft.ext.AnnIndex.rebuild]].
    */
  def annIndexRebuild(spark: SparkSession, dir: String, nBuckets: Int = 0,
                      trainFraction: Double = 1.0): Unit =
    AnnIndex.rebuild(spark, dir, nBuckets = nBuckets,
      trainFraction = trainFraction)

  /** POLICY-DRIVEN index maintenance — rebuild when measured drift
    * (adds + tombstones over the build size) crosses the threshold,
    * no-op below it; returns true iff a rebuild ran. The index-side
    * twin of the rekeyed loop's compaction policy. See
    * [[graft.ext.AnnIndex.maintain]].
    */
  def annIndexMaintain(spark: SparkSession, dir: String,
                       maxDriftFraction: Double, nBuckets: Int = 0,
                       trainFraction: Double = 1.0): Boolean =
    AnnIndex.maintain(spark, dir, maxDriftFraction, nBuckets = nBuckets,
      trainFraction = trainFraction)

  /** LATEST-WINS identity for a persisted index — retire the uids of
    * re-embedded documents so their STALE vectors stop serving
    * immediately (the [[RekeyPolicy.LatestWins]] rule one layer down:
    * the new embedding enters via [[annIndexAdd]] under its new ingest
    * id, the old uid tombstones here, and the next [[annIndexRebuild]]
    * physically purges it and resets the tombstone budget). Oracled
    * end-to-end as `q_ann_index_rekey`. See
    * [[graft.ext.AnnIndex.supersede]]. To consume the REKEYED CORPUS
    * LOOP's published feed wholesale (skipping ids the index never
    * held), use
    * [[graft.streaming.StreamingIndex.applySupersessionFeed]].
    */
  def annIndexSupersede(spark: SparkSession, dir: String, uids: DataFrame,
                        idCol: String): Unit =
    AnnIndex.supersede(spark, dir, uids, idCol)

  /** The NIGHTLY-JOB shape of the keyed index absorb — one call applies
    * a keyed embedding delta `(keyCol, uidCol, vecCol)` to a persisted
    * index under LATEST-WINS key identity: re-delivered keys' previous
    * live uids retire (verified-provenance — uids a rebuild already
    * purged are skipped, not errors), the new vectors enter under the
    * frozen geometry, and the `keymap` state advances — the EXACT
    * micro-batch body of
    * [[graft.streaming.StreamingIndex.runPersistedIndexLoop]] without
    * the checkpoint/batchId machinery (spec-pinned bit-equal to the
    * streaming loop over the same deltas). Crash retries converge;
    * re-applying a COMPLETED delta refuses loudly. Refuses while a
    * streaming loop owns the index. See
    * [[graft.streaming.StreamingIndex.absorbKeyedDelta]].
    */
  def annIndexAbsorbKeyedDelta(spark: SparkSession, dir: String,
                               delta: DataFrame, keyCol: String,
                               uidCol: String, vecCol: String,
                               maxAddedFraction: Double = 2.0,
                               maintainDrift: Double = 0.0,
                               maintainTrainFraction: Double = 1.0,
                               keymapFoldEveryBatches: Int = 16): Unit =
    graft.streaming.StreamingIndex.absorbKeyedDelta(spark, dir, delta,
      keyCol, uidCol, vecCol, maxAddedFraction, maintainDrift,
      maintainTrainFraction, keymapFoldEveryBatches)

  /** Serve queries from a persisted index with no re-learning — the
    * query-many half. Same output contract as every ANN path; the serve
    * plan is EXACTLY the live [[annSearch]] tail (spec-pinned equal).
    */
  def annIndexSearch(spark: SparkSession, dir: String, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int,
                     nProbe: Int = 2, overfetch: Int = 3,
                     maxBucket: Int = 4096): DataFrame =
    AnnIndex.search(spark, dir, queries, idCol, vecCol, k = k,
      nProbe = nProbe, overfetch = overfetch, maxBucket = maxBucket)

  /** FILTERED retrieval from a persisted index — the metadata filter
    * every production vector store serves (tenant / language / license
    * scoping): one shared index, the allowlist restricting candidate
    * membership only (k results come FROM the allowed set; the probe
    * geometry stays the full corpus's). Oracled as
    * `q_ann_index_filtered`. See [[graft.ext.AnnIndex.search]].
    */
  def annIndexSearchFiltered(spark: SparkSession, dir: String,
                             queries: DataFrame, idCol: String,
                             vecCol: String, k: Int,
                             allowedUids: DataFrame, nProbe: Int = 2,
                             overfetch: Int = 3,
                             maxBucket: Int = 4096): DataFrame =
    AnnIndex.search(spark, dir, queries, idCol, vecCol, k = k,
      nProbe = nProbe, overfetch = overfetch, maxBucket = maxBucket,
      allowedUids = Some(allowedUids))

  /** [[annTopKPq]] with asymmetric (ADC) scoring — FAISS's default mode:
    * the corpus side of the candidate join stays m-code compressed, each
    * query scores with its raw floats against reconstructed sub-centroids
    * (one quantization per pair instead of SDC's two — better shortlists
    * at the same corpus memory). Same output schema.
    */
  def annTopKPqAdc(vectors: DataFrame, idCol: String, vecCol: String,
                   k: Int, dim: Int, m: Int = 8, kSub: Int = 16,
                   overfetch: Int = 3, nBuckets: Int = 0,
                   maxBucket: Int = 4096,
                   trainFraction: Double = 1.0): DataFrame = {
    val bucketed = Similarity.kmeansBuckets(vectors, idCol, vecCol,
      k = resolveBuckets(vectors, nBuckets), iters = 2,
      bucketCol = "__cell", trainFraction = trainFraction)
    Similarity.pqAdcTopK(bucketed, idCol, vecCol, "__cell", k = k, dim = dim,
      m = m, kSub = kSub, overfetch = overfetch, maxBucket = maxBucket,
      trainFraction = trainFraction)
  }

  /** Quantizer-free ANN for day-one ingest, before [[annTopK]]'s Lloyd
    * quantizer has a corpus to learn from: a codegen'd random-hyperplane
    * LSH signature (engine-exact integer-hash planes) assigns the coarse
    * bucket, then the same guarded within-bucket join ranks neighbors.
    * `nPlanes` controls cell count (2^nPlanes); same output schema.
    */
  def annTopKHyperplane(vectors: DataFrame, idCol: String, vecCol: String,
                        k: Int, dim: Int, nPlanes: Int = 8,
                        maxBucket: Int = 4096): DataFrame = {
    val bucketed = vectors.withColumn("__cell",
      Similarity.hyperplaneBucket(col(vecCol), dim, nPlanes))
    Similarity.bucketedNN(bucketed, idCol, vecCol, "__cell", k = k,
      maxBucket = maxBucket)
  }

  /** Embedding near-dup pairs (SemDeDup candidate stage): cosine ≥
    * `threshold` within learned coarse cells. Output: `id_a, id_b, cosine`.
    */
  def semanticPairs(vectors: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nBuckets: Int = 0,
                    maxBucket: Int = 4096): DataFrame = {
    val bucketed = Similarity.kmeansBuckets(vectors, idCol, vecCol,
      k = resolveBuckets(vectors, nBuckets), iters = 2, bucketCol = "__cell")
    Similarity.neighborPairs(bucketed, idCol, vecCol, "__cell",
      threshold = threshold, maxBucket = maxBucket)
  }

  // --- text analysis ----------------------------------------------------

  /** Train a BPE tokenizer over the corpus: `nMerges` merge rules learned
    * on the word-frequency dictionary (one corpus-wide shuffle; each
    * iteration is dictionary-sized). Returns the ordered rules and the
    * final dictionary `(word, freq, syms)` — the corpus-independent
    * tokenizer state [[bpeTokenCounts]] consumes.
    */
  def bpeTrain(docs: DataFrame, textCol: String,
               nMerges: Int): (Seq[Bpe.Merge], DataFrame) =
    Bpe.train(docs, textCol, nMerges)

  /** Batched BPE training — up to `batch` symbol-disjoint merges per
    * iteration (~batch× fewer driver round-trips; the production shape
    * for 32k-merge vocabularies — ~9× sustained merges/sec measured at
    * B=16 over 500k docs, SCALING.md round 11). Iteration-based contract;
    * see [[graft.ext.Bpe.trainBatched]] for the selection rule.
    */
  def bpeTrainBatched(docs: DataFrame, textCol: String, nIters: Int,
                      batch: Int): (Seq[Bpe.Merge], DataFrame) =
    Bpe.trainBatched(docs, textCol, nIters, batch)

  /** Tokenizer-trainer selection for [[bpeTrainWith]] / [[corpusBuild]]:
    * [[BpeTrainer.Sequential]] is exact classic BPE (one driver
    * round-trip per merge — the contract every oracled `q_bpe_*` query
    * pins); [[BpeTrainer.Batched]] applies up to `batch` symbol-disjoint
    * merges per iteration (the production-vocabulary round-trip cut —
    * a documented approximation whose merge ORDER may differ from
    * sequential beyond the first batch, while `Batched(1)` reproduces
    * Sequential exactly, spec-pinned through the full corpus build).
    */
  sealed trait BpeTrainer
  object BpeTrainer {
    case object Sequential extends BpeTrainer
    final case class Batched(batch: Int, candPool: Int = 4)
      extends BpeTrainer
  }

  /** Train a BPE dictionary of ~`nMerges` merges under the selected
    * [[BpeTrainer]]. Batched runs `ceil(nMerges / batch)` iterations of
    * up to `batch` merges, ~batch× fewer driver round-trips at the same
    * target vocabulary depth — and `nMerges` is a TARGET, not a count,
    * in BOTH directions: when `batch` does not divide `nMerges` the
    * vocabulary may exceed `nMerges` by up to `batch − 1` merges, and
    * conflict exclusion (or pool/pair exhaustion) can apply FEWER than
    * `batch` merges per iteration, so it may also come in under
    * `nMerges`. Callers sizing embedding tables must read the actual
    * merge count (`result._1.size`, or `max(token_id) + 1` of the
    * vocabulary), never assume `≥ nMerges`. The dictionary is a valid
    * drop-in for every dict consumer ([[bpeTokenCounts]],
    * [[bpeEncodeIds]], [[corpusBuild]]).
    */
  def bpeTrainWith(docs: DataFrame, textCol: String, nMerges: Int,
                   trainer: BpeTrainer = BpeTrainer.Sequential)
      : (Seq[Bpe.Merge], DataFrame) = trainer match {
    case BpeTrainer.Sequential =>
      Bpe.train(docs, textCol, nMerges)
    case BpeTrainer.Batched(b, pool) =>
      Bpe.trainBatched(docs, textCol,
        nIters = (nMerges + b - 1) / b, batch = b, candPool = pool)
  }

  /** Persist a trained tokenizer (merge rules + dictionary + the
    * frequency-ranked vocabulary + a fingerprinted meta row) as plain
    * parquet — the [[qualityModelSave]] lifecycle for the other half of
    * the serve bundle: train once, and every restarted encode job boots
    * from the artifact via [[tokenizerLoad]] with ZERO training (and
    * zero training-corpus access) at boot.
    * See [[graft.ext.Bpe.save]].
    */
  def tokenizerSave(merges: Seq[Bpe.Merge], dict: DataFrame,
                    dir: String): Unit =
    Bpe.save(merges, dict, dir)

  /** Load a persisted tokenizer; validates format version, row counts,
    * and the dictionary fingerprint, and returns the paired serve bundle
    * ([[graft.ext.Bpe.Tokenizer]]) whose `encodeIds` skips the per-call
    * pairing check. Token-id sequences under the loaded tokenizer are
    * bit-identical to the live one (BpeSpec pins it).
    */
  def tokenizerLoad(spark: SparkSession, dir: String): Bpe.Tokenizer =
    Bpe.load(spark, dir)

  /** Per-document token counts under a trained BPE dictionary (broadcast
    * segmentation join) — the frame [[packContexts]]-style offset packing
    * consumes. `carryCols` ride through (e.g. the packing stream key).
    */
  def bpeTokenCounts(docs: DataFrame, textCol: String, idCol: String,
                     dict: DataFrame,
                     carryCols: Seq[String] = Nil): DataFrame =
    Bpe.docTokenCounts(docs, textCol, idCol, dict, carryCols)

  /** Encode documents to dense token-id SEQUENCES under a trained BPE
    * dictionary — the model-ready export: `(idCol, n_tokens, token_ids)`
    * with ids frequency-ranked over the learned vocabulary
    * ([[graft.ext.Bpe.vocabIds]]); the full ordered stream is oracled
    * (`q_bpe_ids` fingerprints every sequence).
    *
    * Embedding-table contract: ids are dense in `[0, V)` — size tables
    * to `max(vocabIds.token_id) + 1`. Genuinely-OOV symbols (absent even
    * from the char-level fallback alphabet) carry the UNK sentinel
    * `token_id = -1`, which is NOT an index: remap it to a reserved row
    * or mask it before any embedding lookup.
    */
  def bpeEncodeIds(docs: DataFrame, textCol: String, idCol: String,
                   dict: DataFrame): DataFrame =
    Bpe.encodeIds(docs, textCol, idCol, dict)

  /** Materialize the actual TRAINING SHARDS from an encoded corpus —
    * concat-and-chunk: per-stream token-id sequences concatenate in id
    * order and split at HARD `ctxTokens` boundaries (documents genuinely
    * split across shards; every shard except each stream's last is
    * exactly `ctxTokens` ids). `encoded` is [[bpeEncodeIds]] output
    * joined with its stream columns. Oracled hash-exact over every
    * shard's full ordered id stream as `q_token_shards`.
    * See [[graft.ext.Packing.shardTokens]].
    */
  def tokenShards(encoded: DataFrame, streamCols: Seq[String],
                  idCol: String, ctxTokens: Int = 256): DataFrame =
    Packing.shardTokens(encoded, streamCols, idCol, ctxTokens)

  /** INCREMENTAL [[tokenShards]] — the shard WRITER: emit only COMPLETE
    * shards for this delta and carry each stream's partial tail in the
    * returned state frame `(streamCols…, tok_total, tail_ids)`; chained
    * id-ordered deltas plus a final [[tokenShardsFlush]] converge to the
    * one-shot [[tokenShards]] output exactly (oracled hash-exact as
    * `q_token_shards_incr` against the SAME ground truth as
    * `q_token_shards`). Persist the state as parquet between runs.
    * See [[graft.ext.Packing.shardTokensDelta]].
    */
  def tokenShardsDelta(encoded: DataFrame, streamCols: Seq[String],
                       idCol: String, ctxTokens: Int = 256,
                       state: Option[DataFrame] = None)
      : (DataFrame, DataFrame) =
    Packing.shardTokensDelta(encoded, streamCols, idCol, ctxTokens, state)

  /** Emit the final partial shards of a [[tokenShardsDelta]] state — the
    * writer's close(). See [[graft.ext.Packing.shardTokensFlush]].
    */
  def tokenShardsFlush(state: DataFrame, streamCols: Seq[String],
                       ctxTokens: Int = 256): DataFrame =
    Packing.shardTokensFlush(state, streamCols, ctxTokens)

  /** ONE-CALL close for a streaming shard job
    * ([[graft.streaming.StreamingCorpus.runShards]] /
    * `runCorpusShards`): stop the query, flush the writer state, and
    * publish the final partial shards exactly once (idempotent under
    * retried closes). See [[graft.streaming.StreamingCorpus.closeShards]].
    */
  def closeShards(spark: SparkSession, outDir: String, streamCol: String,
                  ctxTokens: Int = 256,
                  query: Option[org.apache.spark.sql.streaming.StreamingQuery]
                    = None): DataFrame =
    graft.streaming.StreamingCorpus.closeShards(spark, outDir, streamCol,
      ctxTokens, query)

  /** Token stats + the composite quality score as a `quality` column. */
  def quality(docs: DataFrame, textCol: String): DataFrame = {
    val st = TextAnalysis.withTokenStats(docs, textCol)
    st.withColumn("quality", TextAnalysis.qualityScore(col("n_tokens"),
      col("token_chars"), col("n_punct"), col("n_stopwords")))
  }

  /** N-gram-marker language ID as a `lang_pred` column (`und` when no
    * marker fires); per-language `score_*` columns stay for inspection.
    */
  def languageId(docs: DataFrame, textCol: String): DataFrame =
    TextAnalysis.withLanguageId(docs, textCol)

  /** Model-based quality filter: train a deterministic multinomial Naive
    * Bayes on weakly-labeled docs (`labelCol` boolean — e.g. a [[quality]]
    * threshold) and score any doc frame with the smoothed log-odds
    * `margin` + `pred`. See [[graft.ext.NbClassifier]].
    */
  def qualityClassifier(train: DataFrame, score: DataFrame,
                        textCol: String, idCol: String,
                        labelCol: String): DataFrame =
    NbClassifier.trainScore(train, score, textCol, idCol, labelCol)

  /** Gopher-style quality rule battery: the five classic web-filter
    * predicates as per-doc booleans plus the combined `keep` flag. See
    * [[graft.ext.TextAnalysis.gopherRules]].
    */
  def gopherRules(docs: DataFrame, textCol: String, idCol: String,
                  minTokens: Long = 50,
                  maxTokens: Long = 100000): DataFrame =
    TextAnalysis.gopherRules(docs, textCol, idCol, minTokens, maxTokens)

  /** Extract a serve-time NB quality model (vocab-bounded weights
    * collected once) — the train-batch half of the streaming split; feed
    * it to [[qualityGate]] or
    * [[graft.streaming.StreamingCorpus.qualityGate]].
    */
  def qualityModel(train: DataFrame, textCol: String, idCol: String,
                   labelCol: String): NbClassifier.NbModel =
    NbClassifier.train(train, textCol, idCol, labelCol)

  /** Persist a [[qualityModel]] as plain parquet (weights + a 1-row
    * meta frame) — the build-once half of the quality-gate lifecycle; a
    * restarted serving job boots from the artifact via
    * [[qualityModelLoad]] instead of retraining.
    * See [[graft.ext.NbClassifier.save]].
    */
  def qualityModelSave(spark: SparkSession, model: NbClassifier.NbModel,
                       dir: String): Unit =
    NbClassifier.save(spark, model, dir)

  /** Load a persisted [[qualityModel]]; margins under the loaded model
    * are bit-identical to the live one (doubles round-trip parquet
    * exactly — spec-pinned). See [[graft.ext.NbClassifier.load]].
    */
  def qualityModelLoad(spark: SparkSession,
                       dir: String): NbClassifier.NbModel =
    NbClassifier.load(spark, dir)

  /** The composed STATELESS quality gate (row-local Gopher battery →
    * NB positive margin under a pre-trained [[qualityModel]]): zero
    * shuffle, zero state, so the same call runs on a batch frame or an
    * unbounded stream. Both local forms are value-identical to their
    * shuffle twins (oracled as `q_gopher_local` / `q_nb_serve`).
    */
  def qualityGate(docs: DataFrame, textCol: String, idCol: String,
                  model: NbClassifier.NbModel, minTokens: Long = 50,
                  maxTokens: Long = 100000): DataFrame =
    graft.streaming.StreamingCorpus.qualityGate(docs, textCol, idCol,
      model, minTokens, maxTokens)

  /** The full corpus-production recipe in ONE plan — the pipeline a
    * pretraining data team actually runs, composed from this facade's
    * own stages with no driver round-trip between them:
    *
    *  1. Gopher rule gate ([[gopherRules]], keep = all five predicates);
    *  2. trained-NB quality gate ([[qualityClassifier]] fit on the
    *     survivors' `trainPct` hash split of quality ≥ 0.5 weak labels,
    *     keep = positive margin);
    *  3. exact-dedup keepers (min id per content digest);
    *  4. temperature-mixture realization (w ∝ n^alpha per `groupCol`,
    *     exact deterministic per-group sample);
    *  5. BPE encode under the trained `dict` ([[bpeTrain]] output) →
    *     fixed-context offset packing.
    *
    * Returns the per-(`groupCol`, pack) summary frame. The identical
    * composition is DuckDB-oracled hash-exact end-to-end as
    * `q_corpus_build` — every gate, the trained model, the realized
    * sample, and the trained segmentation replay in one SQL chain.
    * Gate frames are [[CacheScope]]-cached: a [[scopedPass]] releases
    * them; outside one they stay registered until unpersisted.
    */
  def corpusBuild(docs: DataFrame, textCol: String, idCol: String,
                  groupCol: String, dict: DataFrame,
                  salt: String = "build", minTokens: Long = 10,
                  trainPct: Int = 80, alpha: Double = 0.5,
                  share: Double = 0.5, ctxTokens: Int = 256): DataFrame = {
    val aDocs = docs.join(
      TextAnalysis.gopherRules(docs, textCol, idCol,
          minTokens = minTokens)
        .filter(col("keep")).select(col(idCol)),
      Seq(idCol), "left_semi").transform(CacheScope.cache)
    val labeled = TextAnalysis.withTokenStats(aDocs, textCol)
      .withColumn("label_weak",
        round(TextAnalysis.qualityScore(col("n_tokens"),
          col("token_chars"), col("n_punct"), col("n_stopwords")) +
          lit(1e-9), 4) >= 0.5)
      .select(col(idCol), col(textCol), col("label_weak"))
    val nbTrain = labeled
      .filter(Sampling.hashBucket(col(idCol), "graft") < trainPct)
    val bDocs = aDocs.join(
      NbClassifier.trainScore(nbTrain, labeled, textCol, idCol,
          "label_weak")
        .filter(col("pred")).select(col(idCol)),
      Seq(idCol), "left_semi").transform(CacheScope.cache)
    val cDocs = bDocs.join(
      Dedup.exactGroups(bDocs, textCol, idCol)
        .select(col("keeper_id").as(idCol)),
      Seq(idCol), "left_semi").transform(CacheScope.cache)
    val dDocs = Sampling.temperatureSampleWith(cDocs,
      Sampling.temperatureTargets(cDocs, groupCol, alpha = alpha,
        share = share),
      groupCol, idCol, salt = salt)
    val perDoc = Bpe.docTokenCounts(dDocs, textCol, idCol, dict,
      Seq(groupCol))
    Packing.packSummary(
      Packing.packByOffset(perDoc, Seq(groupCol), idCol, "n_tokens",
        ctxTokens = ctxTokens),
      Seq(groupCol), idCol, "n_tokens")
  }

  /** [[corpusBuild]] that TRAINS its own tokenizer first — the
    * first-run shape of a production corpus build, with the trainer
    * selectable: `BpeTrainer.Batched(16)` cuts the dictionary-training
    * driver round-trips ~16× (the dominant first-run cost at corpus
    * scale — 162 s of the round-11 100× first run was sequential BPE;
    * SCALING.md round 12 for the measured cut), while
    * `BpeTrainer.Sequential` keeps exact classic BPE. `Batched(1)` ≡
    * `Sequential` through the entire composition (ApiSpec-pinned).
    */
  def corpusBuildTrained(docs: DataFrame, textCol: String, idCol: String,
                         groupCol: String, nMerges: Int,
                         trainer: BpeTrainer = BpeTrainer.Sequential,
                         salt: String = "build", minTokens: Long = 10,
                         trainPct: Int = 80, alpha: Double = 0.5,
                         share: Double = 0.5,
                         ctxTokens: Int = 256): DataFrame =
    corpusBuild(docs, textCol, idCol, groupCol,
      bpeTrainWith(docs, textCol, nMerges, trainer)._2,
      salt, minTokens, trainPct, alpha, share, ctxTokens)

  /** RE-ID an arbitrary-keyed crawl delta for the incremental loop — the
    * helper the loop's id-order error messages promise: real crawls key
    * documents by URL or content hash, not by a monotone long, while
    * [[corpusBuildDelta]] / [[corpusShardsDelta]] REQUIRE every delta's
    * ids to sort above all previously-kept ids (the incremental≡batch
    * contract). This assigns dense monotone INGEST ids
    * `base + 1 … base + n` over a deterministic order of the delta —
    * `(md5-hash(salt:key), key)`, a pure function of the key, so the
    * assignment is stable under repartitioning, retries, and engine
    * swaps (the same portable-hash order every sampler here uses, and
    * the order a SQL oracle replays as
    * `row_number() OVER (ORDER BY hashkey, key)`) — while the caller's
    * natural key rides along untouched.
    *
    * Returns `(reIdDelta, nextBase)`: thread `nextBase` into the NEXT
    * delta's `base` so ids stay globally monotone across deltas. The
    * base advances by the delta's FULL size (not its kept subset):
    * continuing from the max ASSIGNED id keeps re-used ids impossible
    * even for documents the gates later drop — a base taken from the
    * state's max KEPT id could collide with a dropped doc's id and
    * corrupt the dedup keeper semi-join. First delta: `base = 0`.
    *
    * `keyCol` must be unique and non-null within the delta, ALWAYS
    * enforced (one delta-sized probe job): a duplicate key would make
    * the rank order — and therefore every downstream keeper/pack
    * decision — nondeterministic, and a null key would silently vanish
    * through the id join-back while still consuming an id; neither
    * failure is recoverable downstream, so there is deliberately no
    * opt-out. Scale shape: the rank is the bucketed
    * [[graft.ext.Ranks.distributedRankWithCount]] pass over the KEY
    * PROJECTION only — no single-partition window, no payload bytes in
    * the shuffle — and the count the next base needs falls out of its
    * offset job for free.
    */
  def withIngestIds(delta: DataFrame, keyCol: String, base: Long = 0L,
                    salt: String = "ingest",
                    idCol: String = "ingest_id"): (DataFrame, Long) = {
    require(base >= 0, s"base=$base must be non-negative")
    require(!delta.columns.contains(idCol),
      s"delta already has a $idCol column — pass a different idCol")
    // both key guards in ONE delta-sized job: per-key counts, then max
    // count + any-null in a scalar agg (an empty delta yields nulls)
    val probe = delta.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__c"))
      .agg(max(col("__c")).as("__mx"),
        max(when(col(keyCol).isNull, 1).otherwise(0)).as("__nn"))
      .head()
    require(probe.isNullAt(1) || probe.getInt(1) == 0,
      s"withIngestIds: $keyCol carries NULLs — a null natural key has " +
        "no deterministic ingest position; drop or repair those rows " +
        "first")
    require(probe.isNullAt(0) || probe.getLong(0) <= 1L,
      s"withIngestIds: $keyCol is not unique within the delta — " +
        "duplicate keys would make the ingest order nondeterministic; " +
        "dedup the delta by key first")
    val ordCol = "__ingest_ord"
    require(!delta.columns.contains(ordCol),
      s"delta already has a $ordCol column — rename it first")
    // rank the KEY PROJECTION, not the full delta: the rank pass caches
    // its input and shuffles it by value bucket, and at corpus scale the
    // delta's payload columns (document text) must not ride either —
    // ids join back over the unique key (one delta-sized equi-join)
    val keys = delta.select(col(keyCol))
      .withColumn(ordCol, Sampling.hashKey(col(keyCol), salt))
    val (ranked, n) = Ranks.distributedRankWithCount(
      keys, ordCol, Seq(keyCol), rankCol = idCol)
    val ids = ranked.select(col(keyCol),
      (col(idCol) + lit(base)).as(idCol))
    (delta.join(ids, Seq(keyCol)), base + n)
  }

  /** Corpus-production state threaded between [[corpusBuildDelta]] calls:
    * `keepers` — one `content_hash` row per document already kept (the
    * incremental-dedup contract: a delta doc whose digest is present is a
    * duplicate of history and drops); `offsets` — per-`groupCol` running
    * token totals (`tok_total`) plus the max kept id (`max_id`), so delta
    * packs continue each stream monotonically AND the id-ordering
    * precondition is checkable. Both are bounded by kept-corpus content,
    * not delta count, and both are plain DataFrames — persist them
    * between runs with [[corpusStateSave]]/[[corpusStateLoad]] (or any
    * parquet layout). At extreme scale the keeper frame is the loop's
    * one history-sized input (the delta anti-joins it on digest): lay it
    * out bucketed/sorted by `content_hash` so the nightly anti-join
    * shuffles only the delta side.
    */
  final case class CorpusState(keepers: DataFrame, offsets: DataFrame)

  /** INCREMENTAL corpus build — the delta shape a production pipeline
    * actually runs (re-gating 100 TB nightly to absorb one day's crawl
    * is the thing to avoid): gate ONLY the delta under FROZEN artifacts,
    * dedup it against history, encode under the FROZEN dictionary, and
    * extend packs monotonically from the stored offsets.
    *
    * Stage-by-stage vs [[corpusBuild]]:
    *
    *  1. quality gates: the same Gopher battery + NB margin, via the
    *     STATELESS row-local twins ([[qualityGate]]) under a pre-trained
    *     [[qualityModel]] — corpus-independent, so gating a delta equals
    *     gating the same docs inside any batch (value parity oracled as
    *     `q_gopher_local` / `q_nb_serve`);
    *  2. exact dedup: delta docs whose digest exists in `state.keepers`
    *     drop (duplicates of history); within the delta, min-id per new
    *     digest wins — identical to the batch keeper rule WHEN delta ids
    *     sort above all historical ids (time-ordered ingest, the normal
    *     crawl case);
    *  3. NO temperature mixture: mixture shares are corpus-relative
    *     (w ∝ n^alpha over the WHOLE corpus) and drift as the corpus
    *     grows — realizing them per delta would bake stale shares into
    *     the output, so mixture stays a batch pass over the packed
    *     corpus (the same lambda-architecture cut as the streaming
    *     gate's scaladoc);
    *  4. BPE encode under the frozen `dict` + offset packing continuing
    *     at `state.offsets`, so `(groupCol, pack_id)` keeps its global
    *     meaning across deltas. A boundary pack legitimately spans two
    *     deltas — summing the per-delta summaries merges it exactly.
    *
    * EQUIVALENCE CONTRACT (oracled hash-exact as `q_corpus_build_incr`):
    * when every delta's ids sort above all previous deltas' and the
    * artifacts are frozen, chaining deltas is IDENTICAL to one
    * frozen-artifact batch pass over the union. Deliberate divergences
    * from [[corpusBuild]]: the NB model is the frozen artifact (not
    * refit per run) and the mixture stage is deferred (point 3).
    *
    * Returns the delta's packed per-doc frame
    * `(…delta columns…, n_tokens, tok_offset, pack_id)` and the updated
    * state; summarize a union of deltas with
    * [[graft.ext.Packing.packSummary]]. Scale shape: every stage is a
    * delta-sized scan — the only history-sized inputs are the keeper
    * digest equi-join (anti) and the groupCol-sized offset join.
    */
  def corpusBuildDelta(delta: DataFrame, textCol: String, idCol: String,
                       groupCol: String, model: NbClassifier.NbModel,
                       dict: DataFrame, state: Option[CorpusState] = None,
                       minTokens: Long = 10, maxTokens: Long = 100000,
                       ctxTokens: Int = 256,
                       checkIdOrder: Boolean = true): (DataFrame, CorpusState) = {
    // the equivalence contract's precondition is ENFORCED, not hoped: a
    // delta carrying an id at or below history's max kept id would
    // silently produce different keepers/pack order than the batch
    // replay — fail loudly instead (two delta/state-bounded probe jobs;
    // disable via checkIdOrder for out-of-order production ingest where
    // pack-order divergence from batch is accepted)
    if (checkIdOrder) state.foreach { st =>
      val hiRow = st.offsets.agg(max(col("max_id"))).head()
      if (!hiRow.isNullAt(0)) {
        val hi = hiRow.get(0)
        require(delta.filter(col(idCol) <= lit(hi)).isEmpty,
          s"corpusBuildDelta: delta contains ids <= the state's max kept " +
            s"id ($hi) — deltas must arrive id-ordered for the " +
            "incremental≡batch contract. Re-id the delta " +
            "(Graft.withIngestIds), or pass checkIdOrder = false to " +
            "accept pack-order divergence")
      }
    }
    val (kept, keepers) = gateDedupDelta(delta, textCol, idCol, model,
      state.map(_.keepers), minTokens, maxTokens)
    val perDoc = Bpe.docTokenCounts(kept, textCol, idCol, dict,
      Seq(groupCol))
    val packed0 = Packing.packByOffset(perDoc, Seq(groupCol), idCol,
      "n_tokens", ctxTokens = ctxTokens)
    val packed = state match {
      case Some(st) =>
        // null-safe group join: a null groupCol is a real stream and must
        // find its running offset, not silently restart at zero
        val base = st.offsets
          .select(col(groupCol).as("__g"), col("tok_total").as("__base"))
        packed0.join(base, packed0(groupCol) <=> base("__g"), "left")
          .withColumn("tok_offset",
            col("tok_offset") + coalesce(col("__base"), lit(0L)))
          .withColumn("pack_id", expr(s"tok_offset div $ctxTokens"))
          .drop("__g", "__base")
      case None => packed0
    }
    val deltaTotals = perDoc.groupBy(col(groupCol))
      .agg(sum(col("n_tokens")).as("tok_total"),
        max(col(idCol)).as("max_id"))
    val newKeepers = state match {
      case Some(st) =>
        st.keepers.unionByName(keepers.select(col("content_hash")))
      case None => keepers.select(col("content_hash"))
    }
    val newOffsets = state match {
      case Some(st) => st.offsets.unionByName(deltaTotals)
        .groupBy(col(groupCol))
        .agg(sum(col("tok_total")).as("tok_total"),
          max(col("max_id")).as("max_id"))
      case None => deltaTotals
    }
    (packed, CorpusState(newKeepers, newOffsets))
  }

  /** Temperature mixture OVER AN INCREMENTALLY-BUILT CORPUS — the batch
    * half of the lambda cut [[corpusBuildDelta]] deliberately defers
    * (its step-3 rationale: mixture shares are corpus-relative —
    * w ∝ n^alpha over the WHOLE corpus — and drift as the corpus grows,
    * so realizing them per delta would bake stale shares into the
    * output). Input: the union of the per-delta packed frames (or any
    * frame carrying one row per KEPT doc with `groupCol`, `idCol`,
    * `n_tokens`); the state frames are not needed — the packed rows
    * already carry everything the mixture reads. The sample realizes
    * over the merged corpus and the packs are RE-LAID from offset zero:
    * pack geometry is mixture-relative (dropping docs shifts every
    * later offset), so the unmixed incremental pack ids are deliberately
    * discarded here.
    *
    * EQUIVALENCE (oracled hash-exact as `q_mixture_incr`): over the
    * union of id-ordered frozen-artifact deltas this equals the
    * one-shot batch mixture+pack tail of [[corpusBuild]] over the same
    * kept corpus — the gate that proves the lambda cut's recompute path,
    * not just its rationale. Returns the per-(`groupCol`, pack) summary
    * frame ([[corpusBuild]]'s output contract).
    */
  def mixtureOverCorpus(packed: DataFrame, groupCol: String, idCol: String,
                        salt: String = "build", alpha: Double = 0.5,
                        share: Double = 0.5,
                        ctxTokens: Int = 256): DataFrame = {
    val mixed = mixedOverCorpus(packed, groupCol, idCol, salt, alpha,
      share)
    Packing.packSummary(
      Packing.packByOffset(mixed, Seq(groupCol), idCol, "n_tokens",
        ctxTokens = ctxTokens),
      Seq(groupCol), idCol, "n_tokens")
  }

  /** The mixture REALIZATION both deferred-recompute terminals share
    * ([[mixtureOverCorpus]] → pack summaries, [[mixtureOverCorpusShards]]
    * → training shards): project the kept rows, derive the temperature
    * targets, take the hash-ranked sample — ONE definition, so the two
    * paths cannot silently diverge on the sampling rule.
    */
  private def mixedOverCorpus(packed: DataFrame, groupCol: String,
                              idCol: String, salt: String, alpha: Double,
                              share: Double): DataFrame = {
    val kept = packed.select(col(groupCol), col(idCol), col("n_tokens"))
    Sampling.temperatureSampleWith(kept,
      Sampling.temperatureTargets(kept, groupCol, alpha = alpha,
        share = share),
      groupCol, idCol, salt = salt)
  }

  /** [[mixtureOverCorpus]] for the TOKEN-SHARD loop — the same deferred
    * lambda-cut recompute, terminating in actual training shards instead
    * of pack summaries: realize the temperature mixture over the
    * incrementally-kept corpus (`packed` = the union of the per-delta
    * kept frames, one row per kept doc with `groupCol`, `idCol`,
    * `n_tokens` — [[corpusBuildDelta]]'s outputs provide it), re-encode
    * the SAMPLED docs under the frozen tokenizer, and shard-split from
    * offset zero. The incremental emissions' shard ids are deliberately
    * discarded — shard geometry is mixture-relative (dropping docs
    * shifts every later offset), exactly [[mixtureOverCorpus]]'s rule.
    *
    * `docs` must contain at least every SAMPLED doc's text (the crawl
    * archive / re-id'd delta union). EQUIVALENCE (oracled hash-exact as
    * `q_mixture_shards`): over id-ordered frozen-artifact deltas this
    * equals the one-shot batch chain gate → dedup → temperature mixture
    * → encode → [[graft.ext.Packing.shardTokens]]. Scale shape: the
    * mixture is rank-per-group over doc-count rows, the encode is
    * sample-sized, and the shard split is the one stream-key shuffle.
    */
  def mixtureOverCorpusShards(packed: DataFrame, docs: DataFrame,
                              textCol: String, idCol: String,
                              groupCol: String, tok: Bpe.Tokenizer,
                              salt: String = "build", alpha: Double = 0.5,
                              share: Double = 0.5,
                              ctxTokens: Int = 256): DataFrame = {
    val mixed = mixedOverCorpus(packed, groupCol, idCol, salt, alpha,
      share)
    val sampledDocs = docs.join(mixed.select(col(idCol)), Seq(idCol),
      "left_semi")
    val enc = tok.encodeIds(sampledDocs, textCol, idCol)
      .join(sampledDocs.select(col(idCol), col(groupCol)), Seq(idCol))
    Packing.shardTokens(enc, Seq(groupCol), idCol, ctxTokens)
  }

  /** The gate+dedup prefix shared by [[corpusBuildDelta]] and
    * [[corpusShardsDelta]]: stateless quality gates under the frozen
    * model, anti-join against the historical keeper digests, min-id
    * keeper within the delta. Returns the kept docs (all delta columns)
    * and this delta's keeper frame `(content_hash, idCol)`.
    */
  private def gateDedupDelta(delta: DataFrame, textCol: String,
                             idCol: String, model: NbClassifier.NbModel,
                             keepers: Option[DataFrame], minTokens: Long,
                             maxTokens: Long): (DataFrame, DataFrame) =
    Dedup.keeperDelta(
      qualityGate(delta, textCol, idCol, model, minTokens, maxTokens)
        .select(delta.columns.map(col): _*),
      textCol, idCol, keepers)

  /** Incremental state for [[corpusShardsDelta]]: the keeper digests
    * (as in [[CorpusState]]) plus the shard writer's
    * `(groupCol, tok_total, tail_ids, max_id)` frame. Persist both with
    * [[corpusShardsStateSave]]/[[corpusShardsStateLoad]].
    */
  final case class CorpusShardsState(keepers: DataFrame, shards: DataFrame)

  /** Artifact format version for the persisted corpus states (the
    * NB/tokenizer/AnnIndex convention). */
  private val CorpusStateFormatVersion = 1

  /** Committed version directories under `dir`, newest first — a version
    * counts only if its `meta/` (the COMMIT MARKER, written last) is
    * readable and matches `kind` + format_version.
    */
  private def committedVersions(spark: SparkSession, dir: String,
                                kind: String): Seq[Long] = {
    StateDir.versions(StateDir.fs(spark, dir), dir).reverse.filter { v =>
      try {
        val m = spark.read.parquet(s"$dir/v=$v/meta").head()
        m.getAs[Int]("format_version") == CorpusStateFormatVersion &&
          m.getAs[String]("kind") == kind
      } catch { case scala.util.control.NonFatal(_) => false }
    }
  }

  /** Deterministic catalog name for a bucketed keeper table at `path`:
    * derived from the path alone, so any session (including a fresh one
    * that never saw the save) re-registers the identical name and the
    * bucket spec survives process restarts.
    */
  private def stateTableName(path: String): String =
    "graft_state_" + java.security.MessageDigest.getInstance("MD5")
      .digest(path.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)

  /** The bucketed keeper frame at `path` THROUGH the catalog (bucketing
    * metadata lives in the table definition, not the parquet files):
    * re-registers the external bucketed table if this session has not
    * seen it — `CLUSTERED BY (content_hash) SORTED BY (content_hash)`,
    * the layout [[corpusStateSave]] wrote — so the scan's output
    * partitioning satisfies the keeper anti-join's distribution
    * requirement and ONLY the delta side shuffles.
    */
  /** An identifier safe to splice between backticks: backticks double
    * per Spark's quoting rule. Parquet-derived column names and
    * user-supplied key columns are attacker-shaped inputs to the CREATE
    * TABLE below — escape, don't trust.
    */
  private def sqlIdent(name: String): String =
    name.replace("`", "``")

  /** A string safe to splice between single quotes in Spark SQL. */
  private def sqlStr(s: String): String =
    s.replace("\\", "\\\\").replace("'", "\\'")

  private def bucketedKeepers(spark: SparkSession, path: String,
                              buckets: Int,
                              keyCol: String = "content_hash"): DataFrame = {
    val table = stateTableName(path)
    if (!spark.catalog.tableExists(table)) {
      val schema = spark.read.parquet(path).schema
      val cols = schema.map(f => s"`${sqlIdent(f.name)}` ${f.dataType.sql}")
        .mkString(", ")
      val bk = sqlIdent(keyCol)
      spark.sql(
        s"""CREATE TABLE `$table` ($cols) USING parquet
           |CLUSTERED BY (`$bk`) SORTED BY (`$bk`)
           |INTO $buckets BUCKETS
           |LOCATION '${sqlStr(path)}'""".stripMargin)
    }
    spark.table(table)
  }

  private def saveStateParts(spark: SparkSession, dir: String, kind: String,
                             parts: Seq[(String, DataFrame)],
                             bucketBy: Int = 0,
                             bucketCols: Map[String, String] =
                               Map("keepers" -> "content_hash")): Unit = {
    import spark.implicits._
    val next = StateDir.nextSlot(committedVersions(spark, dir, kind))
    val vDir = s"$dir/v=$next"
    parts.foreach { case (name, df) =>
      if (bucketBy > 0 && bucketCols.contains(name)) {
        // bucketed + sorted by the part's anti-join key: at scale the
        // keeper frame (and the rekeyed loop's key index) is a
        // history-sized join input — this layout is what lets the
        // nightly delta-vs-history anti-join shuffle ONLY the delta
        // (scaladoc of CorpusState, now enforceable). External table at
        // the version path; the catalog entry is re-derivable from the
        // part's own schema by any later session (see bucketedKeepers).
        val bc = bucketCols(name)
        val table = stateTableName(s"$vDir/$name")
        spark.sql(s"DROP TABLE IF EXISTS `$table`")
        df.write.format("parquet")
          .bucketBy(bucketBy, bc).sortBy(bc)
          .option("path", s"$vDir/$name")
          .mode("overwrite").saveAsTable(table)
      } else df.write.mode("overwrite").parquet(s"$vDir/$name")
    }
    // meta LAST = the commit marker: a crash mid-save leaves an
    // uncommitted v-dir that load skips and the next save overwrites
    Seq((CorpusStateFormatVersion, kind, bucketBy))
      .toDF("format_version", "kind", "keepers_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$vDir/meta")
    // retention: the loop only ever reads the newest committed version;
    // keep StateDir.Retained for operator forensics, exactly like the
    // streaming states. Pruned versions also drop their catalog entries
    // (external tables — the DROP leaves files to the fs delete).
    val pruned = committedVersions(spark, dir, kind).drop(StateDir.Retained)
    pruned.foreach(v => Seq("keepers", "keeperkeys").foreach(part =>
      spark.sql(
        s"DROP TABLE IF EXISTS `${stateTableName(s"$dir/v=$v/$part")}`")))
    StateDir.delete(StateDir.fs(spark, dir), dir, pruned)
  }

  private def loadStateParts(spark: SparkSession, dir: String, kind: String,
                             parts: Seq[String]): Seq[DataFrame] = {
    val v = committedVersions(spark, dir, kind).headOption.getOrElse {
      throw new IllegalArgumentException(
        s"no committed $kind state under $dir — either nothing was ever " +
          "saved there, the only save crashed before its meta commit " +
          "marker, or the directory holds a different state kind")
    }
    val meta = spark.read.parquet(s"$dir/v=$v/meta").head()
    val buckets =
      if (meta.schema.fieldNames.contains("keepers_buckets"))
        meta.getAs[Int]("keepers_buckets")
      else 0 // pre-r15 state: plain layout
    parts.map { name =>
      if (name == "keepers" && buckets > 0)
        bucketedKeepers(spark, s"$dir/v=$v/$name", buckets)
      else spark.read.parquet(s"$dir/v=$v/$name")
    }
  }

  /** Persist a [[CorpusState]] under `dir` as a NEW COMMITTED VERSION
    * (`dir/v=<n>/{keepers,offsets,meta}`; meta written last is the
    * commit marker, the streaming writer's convention): the natural
    * load → delta → save-to-the-same-dir loop works — the new version
    * never overwrites the files the loaded state still reads — and a
    * crash mid-save leaves an uncommitted v-dir that [[corpusStateLoad]]
    * skips, never a torn state. Keeps the 3 newest committed versions.
    *
    * `bucketBy > 0` lays the keeper frame out as a BUCKETED, SORTED
    * external table on `content_hash` (recorded in meta; the load
    * restores the bucket spec in any session): the keeper frame is the
    * nightly loop's one history-sized input, and the bucketed layout
    * satisfies the delta-vs-history anti-join's distribution requirement
    * from the scan — only the DELTA side shuffles (PhysicalSpec pins the
    * plan). Size buckets so each holds ~128 MB of digests at your
    * history scale; 0 (default) keeps the plain layout.
    */
  def corpusStateSave(state: CorpusState, dir: String,
                      bucketBy: Int = 0): Unit =
    saveStateParts(state.keepers.sparkSession, dir, "corpus",
      Seq("keepers" -> state.keepers, "offsets" -> state.offsets),
      bucketBy)

  /** Load the newest COMMITTED [[CorpusState]] version; fails loudly
    * when none exists (or the dir holds a different state kind).
    * Chaining a delta off the loaded state is identical to chaining off
    * the live one (ApiSpec pins it).
    */
  def corpusStateLoad(spark: SparkSession, dir: String): CorpusState = {
    val Seq(k, o) = loadStateParts(spark, dir, "corpus",
      Seq("keepers", "offsets"))
    CorpusState(k, o)
  }

  /** Persist a [[CorpusShardsState]] as a new committed version
    * (`dir/v=<n>/{keepers,shards,meta}`) — same crash-safe contract and
    * `bucketBy` keeper layout as [[corpusStateSave]].
    */
  def corpusShardsStateSave(state: CorpusShardsState, dir: String,
                            bucketBy: Int = 0): Unit =
    saveStateParts(state.keepers.sparkSession, dir, "corpus_shards",
      Seq("keepers" -> state.keepers, "shards" -> state.shards),
      bucketBy)

  /** Load the newest committed [[CorpusShardsState]]; loud when none. */
  def corpusShardsStateLoad(spark: SparkSession,
                            dir: String): CorpusShardsState = {
    val Seq(k, s) = loadStateParts(spark, dir, "corpus_shards",
      Seq("keepers", "shards"))
    CorpusShardsState(k, s)
  }

  /** Persist a [[KeyedCorpusShardsState]] as a new committed version
    * (`dir/v=<n>/{keepers,keeperkeys?,shards,meta}`) — same crash-safe
    * contract and `bucketBy` keeper layout (on `content_hash`) as
    * [[corpusStateSave]]. Passing `keyCol` with `bucketBy > 0`
    * ADDITIONALLY writes the distinct seen-key projection as a
    * `keeperkeys` table bucketed/sorted on the natural key: the
    * content_hash bucketing serves the digest anti-join, but
    * [[RekeyPolicy.FirstWins]]' seen-key cut joins on `keyCol` — without
    * its own layout a digest-bucketed history still pays a full shuffle
    * there. The load restores both layouts; PhysicalSpec pins the
    * FirstWins cut to ONE Exchange (the delta's) off a loaded state.
    */
  def corpusRekeyedStateSave(state: KeyedCorpusShardsState, dir: String,
                             bucketBy: Int = 0,
                             keyCol: String = ""): Unit = {
    val parts = Seq("keepers" -> state.keepers,
      "shards" -> state.shards) ++
      (if (bucketBy > 0 && keyCol.nonEmpty)
        Seq("keeperkeys" -> state.keepers.select(col(keyCol)).distinct())
      else Nil)
    saveStateParts(state.keepers.sparkSession, dir, "corpus_rekeyed",
      parts, bucketBy,
      Map("keepers" -> "content_hash", "keeperkeys" -> keyCol))
  }

  /** Load the newest committed [[KeyedCorpusShardsState]]; loud when
    * none exists or the dir holds a different state kind. A state saved
    * with the key-bucketed layout comes back with `keyIndex` populated
    * (the seen-key table through the catalog, bucket spec restored), so
    * the next FirstWins delta's key cut shuffles only the delta.
    */
  def corpusRekeyedStateLoad(spark: SparkSession,
                             dir: String): KeyedCorpusShardsState = {
    val Seq(k, s) = loadStateParts(spark, dir, "corpus_rekeyed",
      Seq("keepers", "shards"))
    val v = committedVersions(spark, dir, "corpus_rekeyed").head
    val kkPath = s"$dir/v=$v/keeperkeys"
    val fs = StateDir.fs(spark, kkPath)
    val keyIndex =
      if (!fs.exists(new org.apache.hadoop.fs.Path(kkPath))) None
      else {
        val meta = spark.read.parquet(s"$dir/v=$v/meta").head()
        val buckets =
          if (meta.schema.fieldNames.contains("keepers_buckets"))
            meta.getAs[Int]("keepers_buckets")
          else 0
        // the part is its own key-name record: one column, the natural key
        val kc = spark.read.parquet(kkPath).schema.fieldNames.head
        Some(
          if (buckets > 0) bucketedKeepers(spark, kkPath, buckets, kc)
          else spark.read.parquet(kkPath))
      }
    KeyedCorpusShardsState(k, s, keyIndex)
  }

  /** The COMPLETE incremental production loop in one call — crawl delta
    * in, training shards out: the [[corpusBuildDelta]] gate+dedup prefix
    * (stateless frozen-model gates, dedup against history) feeds
    * [[Bpe.Tokenizer.encodeIds]] under the frozen tokenizer and the
    * incremental shard writer ([[tokenShardsDelta]] — complete-shard
    * emission, carried tails, per-stream id-order enforcement). Returns
    * this delta's COMPLETE shards and the advanced state;
    * [[tokenShardsFlush]] on `state.shards` is the close().
    *
    * EQUIVALENCE (oracled hash-exact as `q_corpus_shards_incr`): for
    * id-ordered deltas under frozen artifacts, chained emissions plus
    * the final flush equal ONE batch pass — gate → dedup → encode →
    * [[tokenShards]] — over the union. Mixture is deferred to batch
    * exactly as in [[corpusBuildDelta]] (point 3 there).
    */
  def corpusShardsDelta(delta: DataFrame, textCol: String, idCol: String,
                        groupCol: String, model: NbClassifier.NbModel,
                        tok: Bpe.Tokenizer,
                        state: Option[CorpusShardsState] = None,
                        minTokens: Long = 10, maxTokens: Long = 100000,
                        ctxTokens: Int = 256,
                        checkIdOrder: Boolean = true)
      : (DataFrame, CorpusShardsState) = {
    // the dedup half of the incremental≡batch contract needs GLOBAL id
    // ordering, not just shardTokensDelta's per-stream check: a delta doc
    // re-delivering a historical keeper's digest under a SMALLER id
    // (possibly in a brand-new stream) would pass the per-stream probe
    // yet diverge from the one-shot batch replay, whose global min-id
    // keeper rule picks the other copy — the same max-kept-id require as
    // [[corpusBuildDelta]] (one delta-sized probe over the raw delta)
    if (checkIdOrder) state.foreach { st =>
      val hiRow = st.shards.agg(max(col("max_id"))).head()
      if (!hiRow.isNullAt(0)) {
        val hi = hiRow.get(0)
        require(delta.filter(col(idCol) <= lit(hi)).isEmpty,
          s"corpusShardsDelta: delta contains ids <= the state's max kept " +
            s"id ($hi) — deltas must arrive globally id-ordered for the " +
            "incremental≡batch contract (the dedup keeper rule is global " +
            "min-id). Re-id the delta (withIngestIds), or pass " +
            "checkIdOrder = false to accept divergence from batch")
      }
    }
    val (kept, deltaKeepers) = gateDedupDelta(delta, textCol, idCol,
      model, state.map(_.keepers), minTokens, maxTokens)
    val enc = tok.encodeIds(kept, textCol, idCol)
      .join(kept.select(col(idCol), col(groupCol)), Seq(idCol))
    val (shards, newShardState) = Packing.shardTokensDelta(enc,
      Seq(groupCol), idCol, ctxTokens, state.map(_.shards), checkIdOrder)
    val newKeepers = state match {
      case Some(st) =>
        st.keepers.unionByName(deltaKeepers.select(col("content_hash")))
      case None => deltaKeepers.select(col("content_hash"))
    }
    (shards, CorpusShardsState(newKeepers, newShardState))
  }

  /** Key-identity policy for RE-CRAWLED natural keys in the keyed
    * incremental loop ([[corpusShardsDeltaRekeyed]] /
    * [[graft.streaming.StreamingCorpus.runCorpusShardsRekeyed]]).
    * Content-identical re-crawls drop via the digest keeper under every
    * policy; the policy decides what a key re-delivering CHANGED content
    * means — the day-two production case (news pages, wikis) the plain
    * keyed loop leaves implicit.
    */
  sealed trait RekeyPolicy
  object RekeyPolicy {
    /** Content-only identity — the plain keyed loop's behavior made
      * explicit: a re-crawled key with changed content enters as a new
      * document and BOTH versions stay live (train on the full edit
      * history). */
    case object KeepAll extends RekeyPolicy
    /** Key-level immutability: a re-delivered key drops whatever its
      * content — the corpus keeps the version it first ingested and
      * re-crawls never churn the training data. */
    case object FirstWins extends RekeyPolicy
    /** Re-crawls supersede: accepted changed content enters at its NEW
      * ingest position and the key's previous live version is marked
      * superseded in the state (`kept = true, live = false`). Superseded
      * tokens already published in complete shards stay on disk until
      * [[corpusShardsRekeyedCompact]] re-chunks the affected streams —
      * the append-only writer / periodic-compaction split every
      * log-structured store makes. The superseded DIGEST stays in the
      * dedup history: content the corpus once accepted is never
      * re-admitted under a different key (and the batch replay's
      * global min-id keeper rule says the same). */
    case object LatestWins extends RekeyPolicy
  }

  /** State threaded between [[corpusShardsDeltaRekeyed]] calls:
    * `keepers` — one row per GATED document version ever seen:
    * `(keyCol, content_hash, idCol, groupCol, kept, live)`, where
    * `kept` = its tokens entered the shard stream (content-dropped
    * versions are recorded kept = false — [[RekeyPolicy.FirstWins]]
    * needs the full seen-key set) and `live` = not superseded;
    * `shards` — the incremental shard writer's per-stream tails
    * ([[CorpusShardsState]]'s contract). Persist with
    * [[corpusShardsStateSave]]-style parquet (the keepers frame is a
    * plain DataFrame; bucket it by `content_hash` at scale exactly like
    * the unkeyed state). `keyIndex` — populated by
    * [[corpusRekeyedStateLoad]] when the save wrote the key-bucketed
    * seen-key projection — serves [[RekeyPolicy.FirstWins]]' key cut
    * without shuffling history; None (the in-loop default) falls back
    * to a distinct over `keepers`.
    *
    * `superseded` — the ABSORB'S BY-PRODUCT, not part of the threaded
    * state: the rows THIS delta retired under
    * [[RekeyPolicy.LatestWins]], one per supersession event —
    * `(keyCol, idCol, groupCol, superseded_by)` where `idCol` is the
    * retired version's ingest id and `superseded_by` the accepted new
    * version's. Delta-sized by construction (the supersede flip's own
    * broadcast shape, so reading it costs one delta-sized join, not a
    * history diff). This is the DOWNSTREAM-INVALIDATION feed: exactly
    * the uid set a retrieval index must retire
    * ([[annIndexSupersede]]) when the corpus moves — oracled as
    * `q_rekey_supersessions`, coherence spec-pinned in ExtSpec (feeding
    * it to the persisted index reproduces a fresh live index).
    * Populated by every absorb (empty under FirstWins/KeepAll — nothing
    * supersedes); None only on states not produced by an absorb (loads,
    * hand-built). Not persisted by [[corpusRekeyedStateSave]] — consume
    * it on the absorb cadence.
    */
  final case class KeyedCorpusShardsState(keepers: DataFrame,
                                          shards: DataFrame,
                                          keyIndex: Option[DataFrame] =
                                            None,
                                          superseded: Option[DataFrame] =
                                            None)

  /** The KEYED incremental production loop — [[corpusShardsDelta]] with
    * document identity per NATURAL KEY (URL/content-hash), under an
    * explicit [[RekeyPolicy]]. `delta` must already carry monotone ids
    * ([[withIngestIds]] — the reid contract) plus the natural key; the
    * loop gates it (frozen model), applies the key policy, dedups by
    * content against the digest history, encodes under the frozen
    * tokenizer, and emits complete shards.
    *
    * EQUIVALENCE (oracled hash-exact as `q_corpus_shards_rekey`, three
    * deltas with a changed-content re-crawl): chained deltas +
    * [[corpusShardsRekeyedCompact]] equal ONE batch pass over the LIVE
    * document set — gated docs → global min-ingest-id keeper per digest
    * → (LatestWins) drop versions superseded by a later accepted version
    * of the same key → shard split in ingest order. Under FirstWins the
    * live set is "each key's first gated version"; under KeepAll it is
    * every accepted version (no compaction ever needed — the plain
    * contract).
    *
    * Scale shape: identical to [[corpusShardsDelta]] (the digest
    * anti-join is the one history-sized input) plus one delta-sized
    * broadcast against the keeper keys for the supersede flip
    * (LatestWins) or the key cut (FirstWins).
    */
  def corpusShardsDeltaRekeyed(delta: DataFrame, textCol: String,
                               idCol: String, keyCol: String,
                               groupCol: String,
                               model: NbClassifier.NbModel,
                               tok: Bpe.Tokenizer,
                               state: Option[KeyedCorpusShardsState] = None,
                               policy: RekeyPolicy = RekeyPolicy.LatestWins,
                               minTokens: Long = 10,
                               maxTokens: Long = 100000,
                               ctxTokens: Int = 256,
                               checkIdOrder: Boolean = true)
      : (DataFrame, KeyedCorpusShardsState) = {
    if (checkIdOrder) state.foreach { st =>
      val hiRow = st.shards.agg(max(col("max_id"))).head()
      if (!hiRow.isNullAt(0)) {
        val hi = hiRow.get(0)
        require(delta.filter(col(idCol) <= lit(hi)).isEmpty,
          s"corpusShardsDeltaRekeyed: delta contains ids <= the state's " +
            s"max kept id ($hi) — deltas must arrive globally id-ordered " +
            "(thread withIngestIds' base across deltas), or pass " +
            "checkIdOrder = false to accept divergence from batch")
      }
    }
    // the key contract is ENFORCED, not hoped (withIngestIds' guard does
    // not survive callers that assemble re-id'd deltas by hand): a
    // duplicate key within the delta fans every keeper of that key out
    // through the supersession broadcast (duplicated keeper history) and
    // intra-delta supersession never happens — silent divergence from
    // the batch replay's lv rule. One delta-sized probe job, the exact
    // withIngestIds shape; a null key has no identity to version under.
    val kProbe = delta.groupBy(col(keyCol))
      .agg(count(lit(1)).as("__c"))
      .agg(max(col("__c")).as("__mx"),
        max(when(col(keyCol).isNull, 1).otherwise(0)).as("__nn"))
      .head()
    require(kProbe.isNullAt(1) || kProbe.getInt(1) == 0,
      s"corpusShardsDeltaRekeyed: $keyCol carries NULLs — a null natural " +
        "key has no identity to apply a RekeyPolicy to; drop or repair " +
        "those rows first")
    require(kProbe.isNullAt(0) || kProbe.getLong(0) <= 1L,
      s"corpusShardsDeltaRekeyed: $keyCol is not unique within the delta " +
        "— duplicate keys would duplicate keeper history through the " +
        "supersession join and skip intra-delta supersession; dedup the " +
        "delta by key first (withIngestIds enforces this upstream)")
    val gated = graft.streaming.StreamingCorpus.qualityGate(delta, textCol,
      idCol, model, minTokens, maxTokens)
      .select(delta.columns.map(col): _*)
    rekeyedCore(gated, textCol, idCol, keyCol, groupCol, tok, state,
      policy, ctxTokens, checkIdOrder)
  }

  /** The policy + dedup + encode + shard-writer core shared by
    * [[corpusShardsDeltaRekeyed]] and the streaming twin (whose
    * micro-batches arrive already gated). Input must be gated and
    * key-unique (the reid guard upstream enforces the latter).
    */
  private[graft] def rekeyedCore(gated: DataFrame, textCol: String,
                                 idCol: String, keyCol: String,
                                 groupCol: String, tok: Bpe.Tokenizer,
                                 state: Option[KeyedCorpusShardsState],
                                 policy: RekeyPolicy, ctxTokens: Int,
                                 checkIdOrder: Boolean)
      : (DataFrame, KeyedCorpusShardsState) = {
    // FirstWins: the key cut comes BEFORE content dedup — a re-delivered
    // key drops whatever its content (one delta-sized anti-join against
    // the seen-key set, which includes content-dropped versions)
    val keyCut = (policy, state) match {
      case (RekeyPolicy.FirstWins, Some(st)) =>
        // a loaded key-bucketed state serves the seen-key set from its
        // own layout (scan satisfies the join distribution — only the
        // delta shuffles); otherwise distinct over the keeper history
        val seenKeys = st.keyIndex.getOrElse(
          st.keepers.select(col(keyCol)).distinct())
        gated.join(seenKeys, Seq(keyCol), "left_anti")
      case _ => gated
    }
    // content dedup against the FULL digest history (live + superseded:
    // the batch replay's keeper rule is global min-id per digest, which
    // never re-admits a digest once kept) + min-id within the delta
    val (kept, _) = Dedup.keeperDelta(keyCut, textCol, idCol,
      state.map(_.keepers.select(col("content_hash"))))
    // cached: the encode feeds BOTH the shard writer and the keeper
    // rows' n_tokens (delta-bounded — the state's eager checkpoint
    // would otherwise pay a second full encode of every delta)
    val enc = tok.encodeIds(kept, textCol, idCol)
      .join(kept.select(col(idCol), col(groupCol)), Seq(idCol))
      .transform(CacheScope.cache)
    // accepted rows carry their encoded token count (appended LAST so
    // positional readers of the r15 layout keep working): the per-doc
    // offsets [[corpusShardsRekeyedCompact]]'s tail-only re-chunk needs
    // come straight from the state, no prefix re-encode. Blank-text docs
    // never reach the encoder — they hold 0 tokens by contract.
    val acceptedRows = kept.select(col(keyCol),
      Dedup.digest(col(textCol)).as("content_hash"), col(idCol),
      col(groupCol), lit(true).as("kept"), lit(true).as("live"))
      .join(enc.select(col(idCol), col("n_tokens")), Seq(idCol), "left")
      .withColumn("n_tokens", coalesce(col("n_tokens"), lit(0L)))
    val droppedRows = keyCut
      .join(kept.select(col(idCol)), Seq(idCol), "left_anti")
      .select(col(keyCol), Dedup.digest(col(textCol)).as("content_hash"),
        col(idCol), col(groupCol), lit(false).as("kept"),
        lit(false).as("live"), lit(null).cast("long").as("n_tokens"))
    val history0 = (policy, state) match {
      case (RekeyPolicy.LatestWins, Some(st)) =>
        // an ACCEPTED new version supersedes its key's live predecessor
        // (delta-sized broadcast; content-dropped re-deliveries do NOT
        // supersede — the old version remains the corpus's best copy)
        val newKeys = acceptedRows.select(col(keyCol).as("__nk"))
        st.keepers.join(broadcast(newKeys),
            col(keyCol) <=> col("__nk"), "left")
          .withColumn("live", col("live") && col("__nk").isNull)
          .drop("__nk")
      case (_, Some(st)) => st.keepers
      case (_, None) => acceptedRows.limit(0)
    }
    // the supersession EVENTS this absorb produced — the flip above as
    // a delta-sized feed (retired id + the accepted id that retired it),
    // for downstream invalidation (the retrieval index's supersede set).
    // Same broadcast shape as the flip, eagerly checkpointed so the
    // feed holds no live reference to the PRIOR state's keepers (a lazy
    // feed would chain every absorbed state's checkpoint blocks
    // reachable forever). Policies that never supersede — and the
    // stateless first delta — get a lineage-free empty frame: provably
    // empty must cost zero jobs.
    val supersededNow = (policy, state) match {
      case (RekeyPolicy.LatestWins, Some(st)) =>
        st.keepers.filter(col("kept") && col("live"))
          .join(broadcast(acceptedRows.select(col(keyCol),
            col(idCol).as("superseded_by"))), Seq(keyCol))
          .select(col(keyCol), col(idCol), col(groupCol),
            col("superseded_by"))
          .localCheckpoint(true)
      case _ =>
        val s = gated.sparkSession
        s.createDataFrame(
          s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          acceptedRows.select(col(keyCol), col(idCol), col(groupCol),
            col(idCol).as("superseded_by")).schema)
    }
    // a pre-r16 state has no n_tokens column: pad with nulls (the
    // compaction's tail-only path detects them and falls back to the
    // full re-chunk for those streams — never a wrong offset)
    val history =
      if (history0.columns.contains("n_tokens")) history0
      else history0.withColumn("n_tokens", lit(null).cast("long"))
    // fresh output attributes per union child: the FirstWins key cut
    // reuses the state's plan inside acceptedRows' lineage, and a union
    // whose children share attribute ids trips Catalyst's union
    // constraint rewrite (key-not-found on the join-derived n_tokens);
    // re-aliasing severs the shared ids without touching values
    def fresh(df: DataFrame): DataFrame =
      df.select(df.columns.map(c => col(c).as(c)): _*)
    val newKeepers = fresh(history).unionByName(fresh(acceptedRows))
      .unionByName(fresh(droppedRows))
    val (shards, newShardState) = Packing.shardTokensDelta(enc,
      Seq(groupCol), idCol, ctxTokens, state.map(_.shards), checkIdOrder)
    // localCheckpoint, NOT cache (the resolveClusters precedent): the
    // state threads across deltas, so its LINEAGE embeds every previous
    // delta's whole gate/dedup plan — chained in-memory (the spec/query
    // shape; production round-trips parquet state) the analyzed plan
    // grows exponentially with delta count and kills the driver during
    // planning. Both frames are bounded: keepers by gated corpus rows,
    // shard state by streams. Lifecycle: the checkpointed blocks release
    // via ContextCleaner once the state object is unreachable (standard
    // localCheckpoint semantics — they must never be unpersisted while
    // referenced, the truncated lineage cannot recompute them).
    (shards, KeyedCorpusShardsState(newKeepers.localCheckpoint(true),
      newShardState.localCheckpoint(true),
      superseded = Some(supersededNow)))
  }

  /** Per-stream supersession pressure of a keyed keeper state — the
    * observability face of the compaction policy: one row per
    * `groupCol` stream with `live_tokens`, `superseded_tokens`, and
    * `superseded_fraction` (superseded over all kept tokens, 6dp).
    * This is the exact quantity [[corpusShardsRekeyedCompact]]'s
    * `minSupersededFraction` thresholds and the streaming loop's
    * per-batch alert logs. Requires an r16 state (per-version
    * `n_tokens`); fails loudly on a pre-r16 keeper frame rather than
    * reporting fractions from partial data. One state-bounded
    * aggregate.
    */
  def corpusRekeyedSupersededFractions(state: KeyedCorpusShardsState,
                                       groupCol: String): DataFrame = {
    require(state.keepers.columns.contains("n_tokens"),
      "corpusRekeyedSupersededFractions: the keeper state has no " +
        "n_tokens column (saved by a pre-r16 loop) — absorb one delta " +
        "with this version (which records token counts) or compact " +
        "unconditionally")
    // kept rows with NULL n_tokens are legacy history padded by the
    // absorb — counting them as 0 would report near-zero fractions for
    // streams that are mostly stale (and the threshold compaction /
    // streaming alert would silently never fire). The guard rides the
    // SAME aggregate (zero extra scans on the per-micro-batch alert
    // path): a stream whose kept rows carry NULL counts fails AT READ
    // of its `superseded_fraction` with a named error — per stream, so
    // a caller filtered to clean streams still serves. (Reading only
    // the token-count columns bypasses the guard; the fraction is the
    // documented consumer surface.)
    state.keepers.filter(col("kept"))
      .groupBy(col(groupCol))
      .agg(
        sum(when(col("live"), col("n_tokens")).otherwise(lit(0L)))
          .as("live_tokens"),
        sum(when(!col("live"), col("n_tokens")).otherwise(lit(0L)))
          .as("superseded_tokens"),
        sum(when(col("n_tokens").isNull, lit(1L)).otherwise(lit(0L)))
          .as("__null_kept"))
      .withColumn("superseded_fraction",
        when(col("__null_kept") > 0, raise_error(lit(
          "corpusRekeyedSupersededFractions: kept rows carry NULL " +
            "n_tokens (history absorbed by a pre-token-count loop) — " +
            "their tokens would silently count as 0 and under-report " +
            "supersession pressure; compact unconditionally, or rebuild " +
            "the state from a replay that records token counts")))
          .otherwise(round(col("superseded_tokens").cast("double") /
            greatest(col("live_tokens") + col("superseded_tokens"),
              lit(1L)).cast("double"), 6)))
      .drop("__null_kept")
  }

  /** RETENTION COMPACTION for the keyed keeper state: [[rekeyedCore]]
    * appends one row per DELIVERED version forever — at crawl scale a
    * nightly re-crawled page adds one dead (kept = false) row per night,
    * so the state grows with deliveries ever made, not with corpus
    * content. This drops exactly the rows no future consumer reads:
    *
    *  - the digest anti-join consumes DISTINCT `content_hash` — every
    *    digest lives on a kept row (a dropped version's digest always
    *    duplicates an already-kept one, inductively), so kept rows carry
    *    the full digest history;
    *  - [[RekeyPolicy.FirstWins]]' key cut consumes DISTINCT `keyCol` —
    *    one representative row per key suffices; keys whose every
    *    delivery was content-dropped keep their min-id dead row;
    *  - [[RekeyPolicy.LatestWins]]' supersede flip and
    *    [[corpusShardsRekeyedCompact]]'s cuts/offsets consume kept rows
    *    (live and superseded) — all retained, `n_tokens` intact.
    *
    * Retained = every kept row + the min-id row of each key with no
    * kept row; the bound is (accepted versions + keys), independent of
    * re-delivery count. EQUIVALENCE (ApiSpec, all three policies):
    * absorbing the same deltas over compacted vs full state emits
    * hash-identical shards and reaches the same live/digest/key sets;
    * the row-count bound is measured at 500k docs in SCALING.md "Round
    * 16: keeper-state retention at 500k docs". One windowed pass over
    * the state, keyed by `keyCol` — run it on the loop's save cadence,
    * exactly like the shard compaction.
    */
  def corpusRekeyedStateCompact(state: KeyedCorpusShardsState,
                                keyCol: String,
                                idCol: String): KeyedCorpusShardsState = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol))
      .orderBy(col("kept").desc, col(idCol))
    val keepers = state.keepers
      .withColumn("__r", row_number().over(w))
      .filter(col("kept") || col("__r") === 1)
      .drop("__r")
    KeyedCorpusShardsState(keepers, state.shards)
  }

  /** RETENTION for the rekeyed loop's SUPERSESSION FEED: the loop
    * publishes one `corpusOutDir/superseded/batch_id=B` directory per
    * micro-batch forever, so a long-lived stream accumulates one dir per
    * batch even though almost every id is long consumed — unbounded
    * listing cost for every late-joining consumer. This folds the
    * published batches at or below `uptoBatchId` into ONE archive
    * snapshot (`corpusOutDir/superseded_archive/v=<n>`, `batch_id`
    * PRESERVED as a column — consumers' applied-through cursors keep
    * working across the fold, and parquet row-group stats prune the
    * already-applied bulk) and deletes the folded dirs. Append-or-refuse
    * discipline, crash-safe end to end: the snapshot version commits
    * (part files) BEFORE any dir is deleted, a re-run after a crash
    * re-folds the surviving dirs (the anti-join on `batch_id` dedups
    * rows already archived), and torn/empty batch dirs are left alone
    * (the publisher may still be retrying them). Run it on the
    * consumers' apply cadence — AFTER every consumer's cursor passed
    * `uptoBatchId` if you want their applies to stay archive-free; a
    * slower consumer still reads folded history through the archive.
    * Returns the number of batch dirs folded.
    */
  def corpusSupersessionFeedCompact(spark: SparkSession,
                                    corpusOutDir: String,
                                    uptoBatchId: Long = Long.MaxValue)
      : Long = {
    import spark.implicits._
    val feedRoot = s"$corpusOutDir/superseded"
    val fs = StateDir.fs(spark, feedRoot)
    // COMMITTED data-carrying dirs only ([[graft.streaming.StreamingCorpus.feedBatchDirs]]
    // — publisher marker / _SUCCESS / a newer dir exists): folding an
    // uncommitted dir would archive a PARTIAL batch and then delete it —
    // the ids in its missing part files lost permanently. Uncommitted
    // dirs are left alone (the publisher may still be retrying them).
    val candidates: Seq[(Long, String)] =
      graft.streaming.StreamingCorpus.feedBatchDirs(fs, feedRoot)
        .filter(b => b._1 <= uptoBatchId && b._3 && b._4)
        .map(b => (b._1, b._2))
    if (candidates.isEmpty) return 0L
    // basePath keeps batch_id as a column through the explicit-dir read
    val rows = spark.read.option("basePath", feedRoot)
      .parquet(candidates.map(_._2): _*)
      .withColumn("batch_id", col("batch_id").cast("long"))
    val archDir = s"$corpusOutDir/superseded_archive"
    val afs = StateDir.fs(spark, archDir)
    // a snapshot is committed by its OWN marker (stamped LAST since r18)
    // or _SUCCESS (pre-r18 archives) — part-file presence reads a TORN
    // multi-file snapshot as committed, and carrying from a partial
    // snapshot permanently drops the history rows that landed in its
    // missing part files (ADVICE r17, medium)
    val allVersions = StateDir.versions(afs, archDir)
    val committed = allVersions.filter { v =>
      val vd = s"$archDir/v=$v"
      StateDir.committed(afs, vd) && StateDir.hasData(afs, vd)
    }
    // an UNMARKED data-carrying version NEWER than every committed one
    // (or with no committed one anywhere) is ambiguous: the in-protocol
    // case is a crashed compact (its deletes never ran, so its content
    // still exists as raw dirs or inside the committed snapshot it
    // carried from — verifiable), but a marker-suppressing deployment's
    // complete snapshot looks identical and its raw dirs are GONE.
    // Proceeding blind would carry from the OLDER committed version and
    // strand the newer snapshot's uniquely-folded history (ADVICE r18,
    // low: the pre-r19 guard only fired when NO committed version
    // existed). Coverage arbitration shared with the apply path:
    // torn-crash converges automatically; genuine ambiguity refuses
    // loudly with both resolutions named.
    graft.streaming.StreamingIndex.requireArchiveCoverage(spark, fs,
      feedRoot, archDir, "corpusSupersessionFeedCompact")
    // the re-fold dedup: a crash between snapshot and deletes leaves the
    // folded dirs on disk AND in the archive — exclude their batch ids
    // from the carried side so the retry converges instead of duplicating
    val candIds = candidates.map(_._1).toDF("batch_id")
    val carried = committed.lastOption.map(v =>
      spark.read.parquet(s"$archDir/v=$v")
        .withColumn("batch_id", col("batch_id").cast("long"))
        .join(broadcast(candIds), Seq("batch_id"), "left_anti"))
    val merged = carried.map(_.unionByName(rows)).getOrElse(rows)
    // newest version + 1 (committed or torn): a torn slot is never
    // overwritten — readers ignore it, and writing ABOVE it means a
    // retry can never destroy rows a concurrent reader might still
    // salvage by hand-stamping; StateDir.prune retires it with age
    val next = StateDir.nextSlot(allVersions)
    merged.write.mode("overwrite").parquet(s"$archDir/v=$next")
    // the snapshot's OWN commit marker, written LAST, BEFORE any delete:
    // the deletes below are the point of no return, so the snapshot must
    // be provably complete first
    StateDir.stamp(afs, s"$archDir/v=$next", StateDir.CommitMarker)
    // deletes strictly AFTER the snapshot committed; then retention on
    // the archive versions themselves (only the newest is ever read)
    candidates.foreach { case (_, dir) =>
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
    StateDir.prune(afs, archDir)
    candidates.size.toLong
  }

  /** Register `indexDir` as a CONSUMER of `corpusOutDir`'s supersession
    * feed: one marker file under `corpusOutDir/feedconsumers/` (named by
    * the path's md5, content = the path) that
    * [[corpusSupersessionFeedCompactRegistered]] reads to fold only
    * history EVERY registered consumer has applied — the operator stops
    * guessing `uptoBatchId` (VERDICT r17 #4). Idempotent; re-registering
    * the same indexDir rewrites the same file. Consumers keep their
    * applied-through cursors beside their own index
    * (`indexDir/feedcursor` —
    * [[graft.streaming.StreamingIndex.applySupersessionFeed]]); the
    * registry only records WHO to wait for.
    */
  def corpusFeedRegisterConsumer(spark: SparkSession, corpusOutDir: String,
                                 indexDir: String): Unit = {
    val fs = StateDir.fs(spark, corpusOutDir)
    val reg = new org.apache.hadoop.fs.Path(
      s"$corpusOutDir/feedconsumers/" + org.apache.commons.codec.digest
        .DigestUtils.md5Hex(indexDir))
    fs.mkdirs(reg.getParent)
    val out = fs.create(reg, true)
    try out.write(indexDir.getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Remove `indexDir` from the feed's consumer registry (a retired
    * index must not hold retention back forever). No-op if absent.
    */
  def corpusFeedUnregisterConsumer(spark: SparkSession,
                                   corpusOutDir: String,
                                   indexDir: String): Unit = {
    val fs = StateDir.fs(spark, corpusOutDir)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$corpusOutDir/feedconsumers/" + org.apache.commons.codec.digest
        .DigestUtils.md5Hex(indexDir)), false)
    ()
  }

  /** The registered consumer index dirs of a feed (registry order is
    * hash-arbitrary; sorted for determinism). */
  private def feedConsumers(spark: SparkSession,
                            corpusOutDir: String): Seq[String] = {
    val dir = s"$corpusOutDir/feedconsumers"
    val fs = StateDir.fs(spark, dir)
    val p = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(st => StateDir.read(fs, st.getPath).trim)
      .sorted
  }

  /** Registered consumers whose applied-through cursor lags the newest
    * published feed batch by MORE than `warnLagBatches` — `(consumer
    * index dir, applied-through batch id (-1 = never applied), batches
    * behind)`. The staleness detector behind
    * [[corpusSupersessionFeedCompactRegistered]]'s warning (VERDICT r18
    * #5): a dead consumer that never unregistered pins `min(cursor)`
    * forever, and without a named laggard the operator sees only
    * silent unbounded raw-dir growth. Batch IDS only — registry-sized
    * driver work, no row reads.
    */
  private[graft] def feedLaggards(spark: SparkSession,
                                  corpusOutDir: String,
                                  warnLagBatches: Long)
      : Seq[(String, Long, Long)] = {
    val fs = StateDir.fs(spark, corpusOutDir)
    val maxPublished = graft.streaming.StreamingCorpus
      .feedBatchDirs(fs, s"$corpusOutDir/superseded")
      .filter(_._3).map(_._1).maxOption.getOrElse(-1L)
    if (maxPublished < 0) Nil
    else feedConsumers(spark, corpusOutDir).flatMap { dir =>
      val cur = graft.streaming.StreamingIndex
        .readAppliedThrough(spark, dir)
      val behind = maxPublished - math.max(cur, -1L)
      if (behind > warnLagBatches) Some((dir, cur, behind)) else None
    }
  }

  /** CONSUMER-AWARE feed retention: fold exactly the history EVERY
    * registered consumer's applied-through cursor has passed —
    * `uptoBatchId = min(cursor)` over the registry
    * ([[corpusFeedRegisterConsumer]]) — so compaction never moves
    * history a registered consumer hasn't applied out of the raw dirs
    * (their applies stay archive-free; correctness holds either way,
    * the archive path is spec-pinned — this is about keeping the HOT
    * path hot). A registered consumer with NO cursor yet (fresh index,
    * first apply pending) holds everything: returns 0. Refuses loudly
    * on an EMPTY registry — silently folding everything is exactly the
    * operator-guessed behavior this call exists to replace; use the
    * explicit-`uptoBatchId` [[corpusSupersessionFeedCompact]] to force.
    * Returns the number of batch dirs folded.
    *
    * STALENESS: a registered consumer that died without
    * [[corpusFeedUnregisterConsumer]] pins retention forever —
    * correctness holds, but the raw feed dirs grow without bound while
    * nothing names the laggard. Every consumer more than
    * `warnLagBatches` behind the newest published batch gets a named
    * stderr warning (dir + batches behind) with the takeover path
    * spelled out: confirm the consumer is dead, then
    * `corpusFeedUnregisterConsumer(corpusOutDir, thatDir)` releases
    * retention (or force one fold past it with the explicit-`uptoBatchId`
    * compact). The fold itself STILL refuses to pass the min cursor —
    * the warning names the problem, the human decides the takeover.
    */
  def corpusSupersessionFeedCompactRegistered(spark: SparkSession,
                                              corpusOutDir: String,
                                              warnLagBatches: Long = 10L)
      : Long = {
    val consumers = feedConsumers(spark, corpusOutDir)
    require(consumers.nonEmpty,
      s"corpusSupersessionFeedCompactRegistered: $corpusOutDir has no " +
        "registered consumers (feedconsumers/ is empty) — register each " +
        "consuming index with corpusFeedRegisterConsumer, or force a " +
        "fold with corpusSupersessionFeedCompact(uptoBatchId)")
    feedLaggards(spark, corpusOutDir, warnLagBatches)
      .foreach { case (dir, cur, behind) =>
        System.err.println(
          s"[graft] corpusSupersessionFeedCompactRegistered: registered " +
            s"consumer $dir has applied through batch $cur — $behind " +
            "batches behind the newest published feed batch. Retention " +
            "is pinned at the min registered cursor, so raw feed dirs " +
            "grow unboundedly while it lags; if the consumer is dead, " +
            "take over with corpusFeedUnregisterConsumer(" +
            s"$corpusOutDir, $dir), or force a fold with " +
            "corpusSupersessionFeedCompact(uptoBatchId)")
      }
    val minCursor = consumers.map(dir =>
      graft.streaming.StreamingIndex.readAppliedThrough(spark, dir)).min
    if (minCursor < 0) 0L
    else corpusSupersessionFeedCompact(spark, corpusOutDir,
      uptoBatchId = minCursor)
  }

  /** COMPACTION for the [[RekeyPolicy.LatestWins]] loop: re-chunk the
    * streams that contain superseded tokens so the final shard set
    * equals the batch replay over the LIVE documents — the batch half of
    * the append-only-writer/compaction split ([[RekeyPolicy.LatestWins]]
    * scaladoc). Streams with no superseded docs keep their emitted
    * shards and flushed tails VERBATIM (zero recompute).
    *
    * TAIL-ONLY within an affected stream: packing is ingest-id-ordered,
    * so every shard strictly BEFORE the stream's first superseded doc's
    * token offset is bit-identical in the compacted layout and is reused
    * from `emittedShards` verbatim — only the tail from that shard
    * boundary re-encodes. The per-doc offsets come from the keeper
    * state's `n_tokens` column (recorded per accepted version since
    * r16), so the prefix is never re-read, never re-encoded: compaction
    * cost is proportional to the TAIL, not the stream (a late-stream
    * supersession in a year-long stream re-chunks days, not the year).
    * Both levers compose at 100 TB — stream granularity bounds the
    * affected set, the tail cut bounds the work within it. A state saved
    * by a pre-r16 loop (null `n_tokens`) falls back to the full
    * re-chunk of affected streams, never a wrong offset.
    *
    * `docs` must contain every live document AT OR AFTER each affected
    * stream's tail cut (prefix docs are not read — the weaker contract
    * the tail-only spec proves by withholding them), plus every live doc
    * of any stream the fallback path re-chunks; the re-id'd delta union
    * / raw crawl archive always qualifies. `emittedShards` is the union
    * of the per-delta emissions (the streaming sink's published shards).
    * Returns the final full shard set
    * `(groupCol, shard_id, n_tokens, token_ids)`.
    */
  def corpusShardsRekeyedCompact(docs: DataFrame, textCol: String,
                                 idCol: String, groupCol: String,
                                 tok: Bpe.Tokenizer,
                                 state: KeyedCorpusShardsState,
                                 emittedShards: DataFrame,
                                 ctxTokens: Int = 256,
                                 minSupersededFraction: Double = 0.0)
      : DataFrame = {
    val keepers = state.keepers
    val affectedAll = keepers
      .filter(col("kept") && !col("live"))
      .select(col(groupCol).as("__ag")).distinct()
    // the compaction POLICY knob: > 0 compacts only streams whose
    // superseded-token fraction crossed the threshold (the log-store
    // split — streams below it stay append-only, their stale tokens
    // retained until a later pass; [[corpusRekeyedSupersededFractions]]
    // is the same arithmetic, exposed); 0 compacts every affected
    // stream (the full batch-replay equality the oracle gates)
    val affected = (if (minSupersededFraction <= 0) affectedAll
      else {
        val fr = corpusRekeyedSupersededFractions(state, groupCol)
          .filter(col("superseded_fraction") >= minSupersededFraction)
          .select(col(groupCol).as("__fg"))
        affectedAll.join(fr, col("__ag") <=> col("__fg"), "left_semi")
      }).transform(CacheScope.cache) // several consumers below
    def unaffectedOnly(df: DataFrame): DataFrame =
      df.join(broadcast(affected), df(groupCol) <=> col("__ag"),
        "left_anti")
    val untouched = unaffectedOnly(emittedShards)
      .unionByName(unaffectedOnly(
        Packing.shardTokensFlush(state.shards, Seq(groupCol), ctxTokens)))
    // tail-only needs every affected live version's token count; a
    // pre-r16 state (no column / null rows) re-chunks affected streams
    // from offset zero instead — one streams-bounded probe
    val tailable = keepers.columns.contains("n_tokens") &&
      keepers.filter(col("kept") && col("live") && col("n_tokens").isNull)
        .join(broadcast(affected), col(groupCol) <=> col("__ag"),
          "left_semi").isEmpty
    if (!tailable) {
      val liveIds = keepers.filter(col("kept") && col("live"))
        .select(col(idCol))
      val liveDocs = docs
        .join(broadcast(affected), docs(groupCol) <=> col("__ag"),
          "left_semi")
        .join(liveIds, Seq(idCol), "left_semi")
      val enc = tok.encodeIds(liveDocs, textCol, idCol)
        .join(liveDocs.select(col(idCol), col(groupCol)), Seq(idCol))
      return untouched.unionByName(
        Packing.shardTokens(enc, Seq(groupCol), idCol, ctxTokens))
    }
    // per-stream cut: the first superseded doc's ingest id; before it
    // the live layout and the emitted layout agree token for token
    val cuts = keepers.filter(col("kept") && !col("live"))
      .groupBy(col(groupCol)).agg(min(col(idCol)).as("__cut"))
      .select(col(groupCol).as("__cg"), col("__cut"))
    // live versions of affected streams with their COMPACTED-layout
    // offsets (cumulative n_tokens in ingest order — state-only, no
    // text); streams are the window key, the packByOffset shape
    val liveK = keepers.filter(col("kept") && col("live"))
      .join(broadcast(affected), col(groupCol) <=> col("__ag"),
        "left_semi")
      .join(broadcast(cuts), col(groupCol) <=> col("__cg"), "left")
      .drop("__cg")
      .transform(df => Packing.packByOffset(df, Seq(groupCol), idCol,
        "n_tokens", ctxTokens))
    // first affected shard per stream: floor(prefix tokens / ctx), where
    // prefix = live tokens strictly before the cut — equal on both
    // layouts by the cut's definition
    val bounds = liveK.filter(col(idCol) < col("__cut"))
      .groupBy(col(groupCol))
      .agg(sum(col("n_tokens")).as("__pt"))
      .select(col(groupCol).as("__bg"),
        expr(s"__pt div $ctxTokens").as("__b"))
    // reuse every emitted complete shard strictly below the boundary —
    // the prefix region is complete-shard-covered by construction (the
    // stream's uncompacted total is at least the prefix, so shard
    // __b - 1 was published, never stranded in a tail)
    val affEmitted = emittedShards.join(broadcast(affected),
      emittedShards(groupCol) <=> col("__ag"), "left_semi")
    val reused = affEmitted.join(broadcast(bounds),
      affEmitted(groupCol) <=> col("__bg") &&
        affEmitted("shard_id") < col("__b"), "left_semi")
    // tail docs: live versions whose token span reaches the boundary
    // (a stream with no pre-cut live tokens gets __b = 0 via the
    // coalesce — re-chunks whole, the old behavior, zero waste)
    val tailInfo = liveK
      .join(broadcast(bounds), col(groupCol) <=> col("__bg"), "left")
      .withColumn("__b", coalesce(col("__b"), lit(0L)))
      .filter(col("tok_offset") + col("n_tokens") > col("__b") * ctxTokens)
      .select(col(idCol), col(groupCol).as("__tg"),
        col("tok_offset").as("__off"), (col("__b") * ctxTokens).as("__lo"))
    val tailDocs = docs.join(tailInfo.select(col(idCol)), Seq(idCol),
      "left_semi")
    // re-encode ONLY the tail docs; their global positions come from the
    // state offsets, tokens before the reused boundary drop (the
    // straddler's head lives inside a reused shard)
    val tailToks = tok.encodeIds(tailDocs, textCol, idCol)
      .join(tailInfo, Seq(idCol))
      .select(col("__tg").as(groupCol), col("__off"), col("__lo"),
        posexplode(col("token_ids")).as(Seq("__p", "token_id")))
      .withColumn("__pos", col("__off") + col("__p"))
      .filter(col("__pos") >= col("__lo"))
    val recomputed = tailToks
      .withColumn("shard_id", expr(s"__pos div $ctxTokens"))
      .groupBy(col(groupCol), col("shard_id"))
      .agg(count(lit(1)).as("n_tokens"),
        transform(
          array_sort(collect_list(struct(col("__pos"), col("token_id")))),
          x => x.getField("token_id")).as("token_ids"))
    untouched.unionByName(reused).unionByName(recomputed)
  }

  // --- sampling & packing ----------------------------------------------

  /** Deterministic, partition-stable train/val/test split (md5 buckets —
    * no RNG, stable under repartitioning) as a `split` column.
    */
  def trainValTestSplit(df: DataFrame, idCol: String, salt: String,
                        trainPct: Int = 80, valPct: Int = 10): DataFrame =
    Sampling.withSplit(df, idCol, salt, trainPct, valPct)

  /** Temperature-derived mixture sample (w_i ∝ n_i^alpha, the
    * multilingual-pretraining flattening recipe): keeps exactly
    * `min(floor(w_i · floor(share·N)), n_i)` rows per group under a
    * deterministic hash order. See
    * [[graft.ext.Sampling.temperatureSample]] /
    * [[graft.ext.Sampling.temperatureTargets]].
    */
  def temperatureSample(df: DataFrame, groupCol: String, idCol: String,
                        salt: String, alpha: Double = 0.5,
                        share: Double = 1.0): DataFrame =
    Sampling.temperatureSample(df, groupCol, idCol, salt, alpha, share)

  /** Strided token chunks for context-window training. Output: one row per
    * chunk with `chunk_id, chunk_start, n_chunk_tokens, chunk_text`.
    * `stride <= 0` (the default) means non-overlapping chunks.
    */
  def chunk(docs: DataFrame, textCol: String, idCol: String,
            chunkSize: Int, stride: Int = 0): DataFrame =
    Packing.chunkTokens(docs, textCol, idCol, chunkSize,
      if (stride <= 0) chunkSize else stride)

  // --- multimodal -------------------------------------------------------

  /** Batch-decode a media frame (`doc_id, payload binary, format`) to typed
    * metadata — real header-only image decode (PNG/JPEG/GIF/BMP/TIFF via
    * the JDK), deterministic fallback for non-image bytes. Build the media
    * frame from files with [[mediaFromFiles]] or any `(id, bytes, tag)`
    * projection.
    */
  def decodeMedia(spark: SparkSession, media: DataFrame): DataFrame =
    graft.ext.Multimodal.decodeBatches(spark, media).toDF()

  /** `binaryFile` ingest → the media shape: stable xxhash64 doc ids,
    * format from the file extension. The entry point for real media bytes.
    */
  def mediaFromFiles(spark: SparkSession, path: String,
                     glob: String = "*"): DataFrame =
    graft.ext.Multimodal.asMediaFromFiles(
      graft.io.Sources.binaryFiles(spark, path, glob))

  /** REAL raster resize: aspect-preserving `Graphics2D` resample of each
    * image payload into `maxW×maxH`, PNG bytes out, output dimensions
    * re-decoded from the produced bytes; non-raster payloads take the
    * deterministic geometry-only fallback (`raster = false`).
    */
  def resizeMedia(spark: SparkSession, media: DataFrame, maxW: Long,
                  maxH: Long): DataFrame =
    graft.ext.Multimodal.resizeMedia(spark, media, maxW, maxH).toDF()

  /** REAL frame extraction: every k-th frame of each multi-image payload
    * (animated GIF, multi-page TIFF) decoded, with per-frame dimensions
    * and an FNV raster digest; 1→N row shape.
    */
  def extractFrames(spark: SparkSession, media: DataFrame,
                    everyK: Long = 1L): DataFrame =
    graft.ext.Multimodal.frameExtract(spark, media, everyK).toDF()

  // --- the reference pipeline ------------------------------------------

  /** The reference's five-stage energy pipeline (ingest → preprocess →
    * features → forecast → anomalies); materializes every stage under
    * `outDir` when set. Returns the stage frames by name.
    */
  def energyPipeline(spark: SparkSession, csvPath: String,
                     tariffs: DataFrame,
                     outDir: Option[String] = None): Map[String, DataFrame] =
    graft.pipeline.EnergyPipeline.run(spark, csvPath, tariffs, outDir)

  // --- session hygiene --------------------------------------------------

  /** Run one corpus pass with operator-internal caches scoped to it —
    * the multi-corpus session pattern (results must be materialized
    * inside `body`).
    */
  def scopedPass[T](body: => T): T = CacheScope.scoped(body)
}
