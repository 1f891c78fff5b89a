package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Bpe, Dedup, NbClassifier, Sampling, Similarity, TextAnalysis => TA}
import graft.io.Tables
import Parity._

/** Round-4 corpus-curation operators: span-level corpus dedup (the CCNet
  * line-dedup shape), unigram-LM perplexity-proxy scoring, a number-class
  * scrub (the PII-redaction primitive, digit-class stand-in since the
  * synthetic corpus carries no PII shapes), and the classic
  * shipping-priority 3-way join (TPC-H Q3 shape) on the TPC-H-ish tables.
  */
object CorpusQueries {

  /** Merge count for the BPE queries — mirrored by [[bpeCtes]]'s unroll
    * depth in the oracle. 8 is deep enough that learned merges compound
    * (rank-8 merges a rank-≤7 product on both test corpora). */
  private val BpeMerges = 8

  /** Batched-BPE shape for `q_bpe_batch`: 3 iterations × up to 4 merges
    * from a 16-candidate pool — small enough for [[bpeBatchCtes]] to
    * unroll, deep enough that the conflict rule actually excludes pairs
    * on both test corpora. */
  private val BpeBatchIters = 3
  private val BpeBatch = 4

  /** The PRODUCTION batch knob (`BpeTrainer.Batched(16)`, the README
    * first-run recommendation) for `q_corpus_build_b16`: 2 iterations ×
    * up to 16 merges from a 64-candidate pool. On both test corpora the
    * pool genuinely conflicts at this width — iteration 1 keeps only
    * 4-5 of 64 candidates (measured via the oracle's own exclusion
    * rule), so the gate exercises the conflict path AND the documented
    * under-`nMerges` undershoot, not just a wider no-op batch. */
  private val BpeB16Iters = 2
  private val BpeB16 = 16

  /** One BPE training per (session, sfDir): `q_bpe_vocab` reports the
    * merge rules and `q_bpe_encode` tokenizes the corpus under the same
    * rules — retraining per query would double the iteration jobs for no
    * semantic difference (same memo contract as MlQueries). Weak session
    * keys so a stopped session isn't pinned. */
  private val bpeMemo = new SessionMemo[(Seq[Bpe.Merge], DataFrame)]

  private def bpeTrained(s: SparkSession, dir: String)
      : (Seq[Bpe.Merge], DataFrame) =
    bpeMemo(s, dir) {
      val (merges, dict) = Bpe.train(Tables.documents(s, dir), "text",
        BpeMerges)
      // MATERIALIZE the memoized dictionary through the save/load
      // artifact round-trip (values identical by the load-time
      // fingerprint check): train() returns the dict as a merge-replay
      // PLAN over the corpus whose caches each query's scope releases,
      // so every corpus-family query would re-execute the whole chain —
      // the memo only saved the driver round-trips, not the jobs. A
      // parquet-backed dict makes each reuse one tiny scan.
      val artPath = java.nio.file.Files
        .createTempDirectory("graft-bpe-memo")
      // session-LIFETIME scratch (every corpus-family reuse re-reads
      // it), so it cannot be finally-deleted like q_index_wire's tree —
      // reclaim at JVM exit instead of stranding one dir per run
      sys.addShutdownHook {
        val walk = java.nio.file.Files.walk(artPath)
        try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
          .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
        finally walk.close()
      }
      val art = artPath.toString
      Bpe.save(merges, dict, art)
      val tok = Bpe.load(s, art)
      (tok.merges, tok.dict)
    }

  /** One frozen NB quality model per (session, sfDir) — q_nb_serve,
    * q_corpus_build_incr, and q_corpus_shards_incr all train the
    * IDENTICAL model (full-corpus weak labels, 80% hash split);
    * retraining it per query would triple the training jobs for no
    * semantic difference. The model is a plain driver object (weight
    * map + scalars), so no cache scope can release it. Same weak-key
    * contract as [[bpeMemo]].
    */
  private val nbMemo = new SessionMemo[NbClassifier.NbModel]

  private def nbModel(s: SparkSession, dir: String): NbClassifier.NbModel =
    nbMemo(s, dir) {
      val labeled = TA.withTokenStats(Tables.documents(s, dir), "text")
        .withColumn("label_weak",
          ground(TA.qualityScore(col("n_tokens"), col("token_chars"),
            col("n_punct"), col("n_stopwords")), 4) >= 0.5)
        .select(col("doc_id"), col("text"), col("label_weak"))
      NbClassifier.train(
        labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
        "text", "doc_id", "label_weak")
    }

  /** The `q_corpus_build_reid` corpus: documents re-keyed by a
    * NON-monotonic unique string (the reversed decimal doc_id — "10" →
    * "01" sorts before "2"'s "2", so neither lexicographic nor hash
    * order tracks arrival order), the numeric id DROPPED — the shape a
    * URL/content-hash-keyed crawl actually has.
    */
  private def ukeyed(d: DataFrame): DataFrame =
    d.withColumn("ukey",
        concat(lit("u-"), reverse(col("doc_id").cast("string"))))
      .drop("doc_id")

  /** The reid variant's frozen NB model: identical recipe to [[nbModel]]
    * but the 80% train split hashes the NATURAL KEY (the only id the
    * re-id path has before ingest ids exist) — mirrored in the oracle by
    * bucketing `ukey`.
    */
  private def nbModelReid(s: SparkSession, dir: String)
      : NbClassifier.NbModel =
    nbMemo(s, dir + "#reid") {
      val keyed = ukeyed(Tables.documents(s, dir))
      val labeled = TA.withTokenStats(keyed, "text")
        .withColumn("label_weak",
          ground(TA.qualityScore(col("n_tokens"), col("token_chars"),
            col("n_punct"), col("n_stopwords")), 4) >= 0.5)
        .select(col("ukey"), col("text"), col("label_weak"))
      NbClassifier.train(
        labeled.filter(Sampling.hashBucket(col("ukey"), "graft") < 80),
        "text", "ukey", "label_weak")
    }

  /** The `q_corpus_shards_rekey` crawl shape: three deltas where delta 3
    * RE-DELIVERS a deterministic subset of earlier keys with CHANGED
    * content (the day-two production case — news pages, wikis). Mirrored
    * 1:1 by the oracle's `ud` CTE.
    */
  private val RekeyMod = 37
  private val RekeySuffix = " revision two update"

  private def rekeyDeltas(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val docs = Tables.documents(s, dir)
    val d1 = ukeyed(docs.filter(col("doc_id") < 200))
    val d2 = ukeyed(docs.filter(col("doc_id") >= 200 &&
      col("doc_id") < 400))
    val recrawl = ukeyed(docs
      .filter(col("doc_id") < 400 && col("doc_id") % RekeyMod === 3)
      .withColumn("text", concat(col("text"), lit(RekeySuffix))))
    val d3 = ukeyed(docs.filter(col("doc_id") >= 400))
      .unionByName(recrawl)
    (d1, d2, d3)
  }

  /** The re-id'd 3-delta union [[rekeyDeltas]] + threaded
    * [[graft.api.Graft.withIngestIds]] produce — shared by the rekey
    * query and its frozen NB model (which must train over the same
    * population the oracle's `lab` CTE sees: one row per re-id'd doc,
    * split by the NATURAL-key bucket). Memoized per (session, sfDir)
    * with the re-id'd frames localCheckpointed (corpus-bounded): the
    * model fixture and every query execution would otherwise re-pay
    * withIngestIds' probe + rank jobs — id assignment is deterministic,
    * so checkpointing changes no value (same memo contract as
    * [[bpeMemo]]; checkpoint blocks release via GC when the session
    * memo drops).
    */
  private val rekeyMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String,
        (DataFrame, DataFrame, DataFrame)]]())

  private def rekeyReidDeltas(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val perSession = rekeyMemo.synchronized {
      var m = rekeyMemo.get(s)
      if (m == null) {
        m = scala.collection.mutable.Map.empty
        rekeyMemo.put(s, m)
      }
      m
    }
    perSession.synchronized(perSession.getOrElseUpdate(dir, {
      val (d1, d2, d3) = rekeyDeltas(s, dir)
      val G = graft.api.Graft
      val (r1, b1) = G.withIngestIds(d1, "ukey")
      val (r2, b2) = G.withIngestIds(d2, "ukey", base = b1)
      val (r3, _) = G.withIngestIds(d3, "ukey", base = b2)
      (r1.localCheckpoint(true), r2.localCheckpoint(true),
        r3.localCheckpoint(true))
    }))
  }

  /** The rekey fixture's frozen NB model: trained over the re-id'd
    * 3-delta union (recrawled keys contribute BOTH versions as separate
    * rows — unique ingest ids), 80% split bucketing the natural key, so
    * both versions of a key land on the same side (the oracle's
    * `trc`/`pri` bucket rule).
    */
  private def nbModelRekey(s: SparkSession, dir: String)
      : NbClassifier.NbModel =
    nbMemo(s, dir + "#rekey") {
      val (r1, r2, r3) = rekeyReidDeltas(s, dir)
      val union = r1.unionByName(r2).unionByName(r3)
      val labeled = TA.withTokenStats(union, "text")
        .withColumn("label_weak",
          ground(TA.qualityScore(col("n_tokens"), col("token_chars"),
            col("n_punct"), col("n_stopwords")), 4) >= 0.5)
        .select(col("ingest_id"), col("ukey"), col("text"),
          col("label_weak"))
      NbClassifier.train(
        labeled.filter(Sampling.hashBucket(col("ukey"), "graft") < 80),
        "text", "ingest_id", "label_weak")
    }

  /** The rekey fixture ABSORBED: the three chained
    * [[graft.api.Graft.corpusShardsDeltaRekeyed]] passes under
    * LatestWins, memoized per (session, sfDir) exactly like
    * [[rekeyReidDeltas]] — `q_corpus_shards_rekey` (shards + compaction)
    * and `q_rekey_supersessions` (the per-delta supersession feed) are
    * two faces of the SAME absorb chain, so the chain runs once per
    * session. The states' keeper/shard frames are already
    * localCheckpointed by the absorb (bounded lineage); the lazy
    * `superseded` feeds recompute only their own delta-sized plans.
    */
  private val rekeyChainMemo = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[String,
        (Seq[DataFrame], Seq[graft.api.Graft.KeyedCorpusShardsState])]]())

  private def rekeyAbsorbed(s: SparkSession, dir: String)
      : (Seq[DataFrame], Seq[graft.api.Graft.KeyedCorpusShardsState]) = {
    val perSession = rekeyChainMemo.synchronized {
      var m = rekeyChainMemo.get(s)
      if (m == null) {
        m = scala.collection.mutable.Map.empty
        rekeyChainMemo.put(s, m)
      }
      m
    }
    perSession.synchronized(perSession.getOrElseUpdate(dir, {
      val (r1, r2, r3) = rekeyReidDeltas(s, dir)
      val model = nbModelRekey(s, dir)
      val (merges, dict) = bpeTrained(s, dir)
      val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
      val G = graft.api.Graft
      val P = G.RekeyPolicy.LatestWins
      val (s1, st1) = G.corpusShardsDeltaRekeyed(r1, "text", "ingest_id",
        "ukey", "lang", model, tok, state = None, policy = P,
        minTokens = 10)
      val (s2, st2) = G.corpusShardsDeltaRekeyed(r2, "text", "ingest_id",
        "ukey", "lang", model, tok, state = Some(st1), policy = P,
        minTokens = 10)
      val (s3, st3) = G.corpusShardsDeltaRekeyed(r3, "text", "ingest_id",
        "ukey", "lang", model, tok, state = Some(st2), policy = P,
        minTokens = 10)
      (Seq(s1, s2, s3), Seq(st1, st2, st3))
    }))
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Learned BPE merge table: the distributed trainer's argmax sequence
    // (count desc, pair asc tie-break). The frame itself is driver-built
    // from the nMerges collected argmax rows — bounded by construction,
    // like the Ranks driver cuts — but each row is the result of a
    // dictionary-wide distributed pair-count job.
    "q_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      bpeTrained(s, dir)._1
        .map(m => (m.rank, m.leftSym, m.rightSym, m.merged, m.pairCount))
        .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
        .orderBy(col("rank"))
    }),

    // Corpus tokenized under the learned merges: per (lang, source)
    // doc/word/token counts and mean tokens-per-word. The dictionary
    // carries the segmentation, so the corpus pass is one broadcast join
    // plus one aggregate — the production BPE-encode shape.
    "q_bpe_encode" -> ((s, dir) => {
      val dict = bpeTrained(s, dir)._2
      Bpe.encodeStats(Tables.documents(s, dir), "text", "doc_id", dict,
          Seq("lang", "source"))
        .orderBy(col("lang"), col("source"))
    }),

    // The tokenizer-to-packing handoff, end to end in one plan: per-doc
    // token counts under the LEARNED segmentation (broadcast dict join)
    // feed the same offset-packing window q_seq_pack uses — corpus prep
    // as a training pipeline would actually run it (train tokenizer →
    // tokenize → pack fixed context windows).
    "q_bpe_pack" -> ((s, dir) => {
      val dict = bpeTrained(s, dir)._2
      val perDoc = Bpe.docTokenCounts(Tables.documents(s, dir), "text",
        "doc_id", dict, Seq("lang"))
      val packed = graft.ext.Packing.packByOffset(perDoc, Seq("lang"),
        "doc_id", "n_tokens", ctxTokens = 256)
      graft.ext.Packing.packSummary(packed, Seq("lang"), "doc_id",
          "n_tokens")
        .orderBy(col("lang"), col("pack_id"))
    }),

    // Batched BPE training (the production-vocabulary driver-round-trip
    // cut): 3 iterations of up to 4 symbol-disjoint merges from a ranked
    // 16-candidate pool — the whole loop, pool ranking, conflict
    // exclusion, and batch application replayed non-recursively by the
    // oracle. Ranks are global (iteration, selection) order.
    "q_bpe_batch" -> ((s, dir) => {
      import s.implicits._
      Bpe.trainBatched(Tables.documents(s, dir), "text",
          nIters = BpeBatchIters, batch = BpeBatch)._1
        .map(m => (m.rank, m.leftSym, m.rightSym, m.merged, m.pairCount))
        .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
        .orderBy(col("rank"))
    }),

    // Dense token-id export — the sequence a training pipeline actually
    // feeds the model: per-doc ordered token_ids under the learned
    // segmentation and the frequency-ranked vocabulary id table. The
    // md5 fingerprint of the comma-joined sequence puts the ENTIRE
    // ordered id stream inside the hash gate.
    "q_bpe_ids" -> ((s, dir) => {
      val enc = Bpe.encodeIds(Tables.documents(s, dir), "text", "doc_id",
        bpeTrained(s, dir)._2)
      enc.select(col("doc_id"), col("n_tokens"),
          md5(array_join(transform(col("token_ids"),
            i => i.cast("string")), ",")).as("ids_md5"))
        .orderBy(col("doc_id"))
    }),

    // The full LLM corpus-build recipe in ONE plan — the round-10
    // operator family composed end-to-end: Gopher rule gate → trained-NB
    // quality gate (fit on the survivors' 80% hash split) → exact-dedup
    // keepers → temperature-mixture realization (alpha 0.5, share 0.5
    // per lang) → BPE encode under the memoized corpus-trained
    // dictionary → fixed-context packing. No driver round-trip BETWEEN
    // stages: the NB model and the temperature normalizer are in-plan
    // scalar attaches; the only collects are the upstream tokenizer
    // training's bounded argmaxes (memoized once per session) and NB's
    // fail-fast empty-train probe. The oracle replays every gate,
    // the trained model, the realized sample, AND the trained
    // segmentation in one SQL chain.
    "q_corpus_build" -> ((s, dir) =>
      // the composition lives on the facade ([[graft.api.Graft.corpusBuild]],
      // gate frames CacheScope-cached there); the query pins its knobs and
      // the memoized corpus-trained dictionary
      graft.api.Graft.corpusBuild(Tables.documents(s, dir), "text",
          "doc_id", "lang", bpeTrained(s, dir)._2, salt = "build",
          minTokens = 10, trainPct = 80, alpha = 0.5, share = 0.5,
          ctxTokens = 256)
        .orderBy(col("lang"), col("pack_id"))),

    // The same one-plan corpus recipe under the BATCHED tokenizer
    // trainer (round-12 wire-up of the trainer knob): 3 iterations × up
    // to 4 symbol-disjoint merges from a 16-candidate pool train the
    // dictionary the composition encodes with. The oracle chains the
    // batched trainer's non-recursive CTE replay (pool rank → conflict
    // exclusion → batch apply, the q_bpe_batch mirror) into the SAME
    // gate/dedup/mixture/packing chain as q_corpus_build — a hash match
    // certifies the batched trainer as a drop-in through the whole
    // pipeline, not just at the merge table.
    "q_corpus_build_batched" -> ((s, dir) =>
      graft.api.Graft.corpusBuildTrained(Tables.documents(s, dir), "text",
          "doc_id", "lang", nMerges = BpeBatchIters * BpeBatch,
          trainer = graft.api.Graft.BpeTrainer.Batched(BpeBatch),
          salt = "build", minTokens = 10, trainPct = 80, alpha = 0.5,
          share = 0.5, ctxTokens = 256)
        .orderBy(col("lang"), col("pack_id"))),

    // The corpus build under the PRODUCTION batch knob — Batched(16),
    // exactly what README/scaladoc recommend for first runs (the r12 gate
    // pinned only Batched(4)×3): 2 iterations × up to 16 symbol-disjoint
    // merges from a 64-candidate pool, chained through the identical
    // gate/dedup/mixture/packing composition. At this width the conflict
    // rule bites hard (4-5 survivors of 64 in iteration 1 on both test
    // corpora), so the hash match certifies the recommended knob through
    // the conflict-exclusion AND merge-undershoot paths end-to-end.
    "q_corpus_build_b16" -> ((s, dir) =>
      graft.api.Graft.corpusBuildTrained(Tables.documents(s, dir), "text",
          "doc_id", "lang", nMerges = BpeB16Iters * BpeB16,
          trainer = graft.api.Graft.BpeTrainer.Batched(BpeB16),
          salt = "build", minTokens = 10, trainPct = 80, alpha = 0.5,
          share = 0.5, ctxTokens = 256)
        .orderBy(col("lang"), col("pack_id"))),

    // The actual TRAINING SHARDS — concat-and-chunk materialized: per-lang
    // token streams (docs in doc_id order under the learned segmentation)
    // split at HARD 256-token boundaries, documents genuinely splitting
    // across shards. Every shard's full ordered id stream is inside the
    // hash gate via the md5 fingerprint (the q_bpe_ids convention); every
    // shard is exactly 256 tokens except each stream's final one.
    "q_token_shards" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val enc = Bpe.encodeIds(docs, "text", "doc_id",
        bpeTrained(s, dir)._2)
      val withLang = enc.join(docs.select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      graft.ext.Packing.shardTokens(withLang, Seq("lang"), "doc_id",
          ctxTokens = 256)
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          md5(array_join(transform(col("token_ids"),
            i => i.cast("string")), ",")).as("ids_md5"))
        .orderBy(col("lang"), col("shard_id"))
    }),

    // The INCREMENTAL shard writer converging on the batch shards: the
    // corpus arrives as two id-ordered deltas; each emits only COMPLETE
    // 256-token shards and carries its partial tail in the threaded
    // state; the final flush emits the remaining partials. The union
    // must hash-match q_token_shards' one-shot ground truth — same
    // shard ids, same ordered id streams (one oracle, two entry points).
    "q_token_shards_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val dict = bpeTrained(s, dir)._2
      def enc(d: DataFrame): DataFrame =
        Bpe.encodeIds(d, "text", "doc_id", dict)
          .join(d.select(col("doc_id"), col("lang")), Seq("doc_id"))
      val P = graft.ext.Packing
      val (s1, st1) = P.shardTokensDelta(
        enc(docs.filter(col("doc_id") < 250)), Seq("lang"), "doc_id",
        ctxTokens = 256, state = None)
      val (s2, st2) = P.shardTokensDelta(
        enc(docs.filter(col("doc_id") >= 250)), Seq("lang"), "doc_id",
        ctxTokens = 256, state = Some(st1))
      s1.unionByName(s2)
        .unionByName(P.shardTokensFlush(st2, Seq("lang"), ctxTokens = 256))
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          md5(array_join(transform(col("token_ids"),
            i => i.cast("string")), ",")).as("ids_md5"))
        .orderBy(col("lang"), col("shard_id"))
    }),

    // The COMPLETE incremental production loop — crawl deltas in,
    // training shards out: gate (frozen NB + Gopher) → dedup against the
    // keeper state → encode under the frozen tokenizer → incremental
    // shard writer, two id-ordered deltas + flush. Must hash-match the
    // oracle's one-shot batch replay (gate chain + shard split over the
    // kept docs) — the end-to-end contract a nightly crawl-absorb
    // pipeline ships on.
    "q_corpus_shards_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = nbModel(s, dir)
      val (merges, dict) = bpeTrained(s, dir)
      val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
      val G = graft.api.Graft
      val (s1, st1) = G.corpusShardsDelta(docs.filter(col("doc_id") < 250),
        "text", "doc_id", "lang", model, tok, state = None,
        minTokens = 10)
      val (s2, st2) = G.corpusShardsDelta(
        docs.filter(col("doc_id") >= 250), "text", "doc_id", "lang",
        model, tok, state = Some(st1), minTokens = 10)
      s1.unionByName(s2)
        .unionByName(G.tokenShardsFlush(st2.shards, Seq("lang"), 256))
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          md5(array_join(transform(col("token_ids"),
            i => i.cast("string")), ",")).as("ids_md5"))
        .orderBy(col("lang"), col("shard_id"))
    }),

    // INCREMENTAL corpus build — the delta recipe run as production
    // would: the corpus arrives in two id-ordered deltas (doc_id < 250,
    // then >= 250), each gated under the FROZEN artifacts (the q_nb_serve
    // NB model + the memoized corpus-trained dictionary), deduped against
    // the accumulated keeper-digest state, and packed continuing the
    // per-lang token offsets. The union of the two per-delta pack frames
    // re-summarizes (the boundary pack legitimately spans deltas) and
    // must HASH-MATCH the oracle's one-shot frozen-artifact batch replay
    // over the full corpus — the incremental path's equivalence contract.
    "q_corpus_build_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = nbModel(s, dir)
      val dict = bpeTrained(s, dir)._2
      val (p1, st1) = graft.api.Graft.corpusBuildDelta(
        docs.filter(col("doc_id") < 250), "text", "doc_id", "lang",
        model, dict, state = None, minTokens = 10)
      val (p2, _) = graft.api.Graft.corpusBuildDelta(
        docs.filter(col("doc_id") >= 250), "text", "doc_id", "lang",
        model, dict, state = Some(st1), minTokens = 10)
      graft.ext.Packing.packSummary(
          p1.select(col("lang"), col("doc_id"), col("n_tokens"),
            col("pack_id"))
            .unionByName(p2.select(col("lang"), col("doc_id"),
              col("n_tokens"), col("pack_id"))),
          Seq("lang"), "doc_id", "n_tokens")
        .orderBy(col("lang"), col("pack_id"))
    }),

    // The LAMBDA-CUT RECOMPUTE gate: mixture is deliberately deferred to
    // batch in the incremental recipe (corpusBuildDelta step 3 — shares
    // are corpus-relative and drift as the corpus grows) — this query
    // proves the deferred path actually converges: two chained
    // frozen-artifact deltas, then Graft.mixtureOverCorpus over the
    // merged per-doc pack frames, must hash-match the oracle's ONE-SHOT
    // frozen-model batch chain WITH the temperature realization. I.e.
    // incremental state + batch mixture ≡ batch corpus + batch mixture.
    "q_mixture_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = nbModel(s, dir)
      val dict = bpeTrained(s, dir)._2
      val G = graft.api.Graft
      val (p1, st1) = G.corpusBuildDelta(docs.filter(col("doc_id") < 250),
        "text", "doc_id", "lang", model, dict, state = None,
        minTokens = 10)
      val (p2, _) = G.corpusBuildDelta(docs.filter(col("doc_id") >= 250),
        "text", "doc_id", "lang", model, dict, state = Some(st1),
        minTokens = 10)
      G.mixtureOverCorpus(
          p1.select(col("lang"), col("doc_id"), col("n_tokens"))
            .unionByName(p2.select(col("lang"), col("doc_id"),
              col("n_tokens"))),
          "lang", "doc_id")
        .orderBy(col("lang"), col("pack_id"))
    }),

    // The lambda-cut recompute TERMINATING IN SHARDS: the token-shard
    // loop's mixture twin — two chained frozen-artifact deltas, then
    // Graft.mixtureOverCorpusShards (temperature realization over the
    // incrementally-kept corpus, frozen-tokenizer re-encode of the
    // SAMPLED docs, shard split from offset zero) must hash-match the
    // one-shot batch chain gate → dedup → mixture → encode → shard
    // split. A user who wants temperature-mixed SHARDS from incremental
    // state now has a gated path, not just the pack-summary one.
    "q_mixture_shards" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = nbModel(s, dir)
      val (merges, dict) = bpeTrained(s, dir)
      val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
      val G = graft.api.Graft
      val (p1, st1) = G.corpusBuildDelta(docs.filter(col("doc_id") < 250),
        "text", "doc_id", "lang", model, dict, state = None,
        minTokens = 10)
      val (p2, _) = G.corpusBuildDelta(docs.filter(col("doc_id") >= 250),
        "text", "doc_id", "lang", model, dict, state = Some(st1),
        minTokens = 10)
      G.mixtureOverCorpusShards(
          p1.select(col("lang"), col("doc_id"), col("n_tokens"))
            .unionByName(p2.select(col("lang"), col("doc_id"),
              col("n_tokens"))),
          docs, "text", "doc_id", "lang", tok)
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          md5(array_join(transform(col("token_ids"),
            i => i.cast("string")), ",")).as("ids_md5"))
        .orderBy(col("lang"), col("shard_id"))
    }),

    // The incremental build absorbing an ARBITRARY-KEYED crawl — the
    // day-one production case the id-order guards point at: documents
    // arrive keyed by a NON-monotonic unique string (ukey, the reversed
    // decimal doc_id; the numeric id is dropped), each delta is RE-ID'd
    // by Graft.withIngestIds (dense monotone ingest ids over the
    // deterministic (md5-hash, key) order, base threaded across deltas),
    // and the two chained frozen-artifact corpusBuildDelta passes over
    // the re-id'd deltas must HASH-MATCH the oracle's one-shot batch
    // replay over the re-id'd union — proving the re-id helper restores
    // the incremental≡batch contract for keys with no usable order.
    "q_corpus_build_reid" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = nbModelReid(s, dir)
      val dict = bpeTrained(s, dir)._2
      val G = graft.api.Graft
      val (d1, b1) = G.withIngestIds(
        ukeyed(docs.filter(col("doc_id") < 250)), "ukey")
      val (d2, _) = G.withIngestIds(
        ukeyed(docs.filter(col("doc_id") >= 250)), "ukey", base = b1)
      val (p1, st1) = G.corpusBuildDelta(d1, "text", "ingest_id", "lang",
        model, dict, state = None, minTokens = 10)
      val (p2, _) = G.corpusBuildDelta(d2, "text", "ingest_id", "lang",
        model, dict, state = Some(st1), minTokens = 10)
      graft.ext.Packing.packSummary(
          p1.select(col("lang"), col("ingest_id"), col("n_tokens"),
            col("pack_id"))
            .unionByName(p2.select(col("lang"), col("ingest_id"),
              col("n_tokens"), col("pack_id"))),
          Seq("lang"), "ingest_id", "n_tokens")
        .orderBy(col("lang"), col("pack_id"))
    }),

    // The FULL incremental loop absorbing the same arbitrary-keyed crawl
    // — q_corpus_build_reid's re-id'd deltas driven through
    // corpusShardsDelta (gate → dedup-vs-state → frozen-tokenizer encode
    // → incremental shard writer) + flush, hash-matching the one-shot
    // batch replay's shard split over the re-id'd union: the day-one
    // production pipeline (URL-keyed crawl in, training shards out),
    // end-to-end inside the hash gate.
    "q_corpus_shards_reid" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val model = nbModelReid(s, dir)
      val (merges, dict) = bpeTrained(s, dir)
      val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
      val G = graft.api.Graft
      val (d1, b1) = G.withIngestIds(
        ukeyed(docs.filter(col("doc_id") < 250)), "ukey")
      val (d2, _) = G.withIngestIds(
        ukeyed(docs.filter(col("doc_id") >= 250)), "ukey", base = b1)
      val (s1, st1) = G.corpusShardsDelta(d1, "text", "ingest_id", "lang",
        model, tok, state = None, minTokens = 10)
      val (s2, st2) = G.corpusShardsDelta(d2, "text", "ingest_id", "lang",
        model, tok, state = Some(st1), minTokens = 10)
      s1.unionByName(s2)
        .unionByName(G.tokenShardsFlush(st2.shards, Seq("lang"), 256))
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          md5(array_join(transform(col("token_ids"),
            i => i.cast("string")), ",")).as("ids_md5"))
        .orderBy(col("lang"), col("shard_id"))
    }),

    // DOCUMENT-IDENTITY VERSIONING under latest-wins — the keyed keeper
    // loop absorbing a crawl where delta 3 RE-DELIVERS existing keys
    // with CHANGED content: three re-id'd deltas through
    // corpusShardsDeltaRekeyed(LatestWins) — gate, key policy, digest
    // dedup, frozen-tokenizer encode, incremental shard writer — then
    // corpusShardsRekeyedCompact re-chunks the streams holding
    // superseded tokens. The result must HASH-MATCH the oracle's
    // one-shot batch replay over the LIVE set: gated docs → global
    // min-ingest-id keeper per digest → drop versions superseded by a
    // later accepted version of the same key (lv) → shard split in
    // ingest order. Unchanged-content re-crawls never reach the policy
    // (digest keeper drops them); changed content supersedes — the
    // day-two production semantics, end-to-end inside the hash gate.
    "q_corpus_shards_rekey" -> ((s, dir) => {
      val (r1, r2, r3) = rekeyReidDeltas(s, dir)
      val (merges, dict) = bpeTrained(s, dir)
      val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
      val G = graft.api.Graft
      val (Seq(s1, s2, s3), Seq(_, _, st3)) = rekeyAbsorbed(s, dir)
      G.corpusShardsRekeyedCompact(
          r1.unionByName(r2).unionByName(r3), "text", "ingest_id",
          "lang", tok, st3,
          s1.unionByName(s2).unionByName(s3))
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          md5(array_join(transform(col("token_ids"),
            i => i.cast("string")), ",")).as("ids_md5"))
        .orderBy(col("lang"), col("shard_id"))
    }),

    // The DOWNSTREAM-INVALIDATION feed of the latest-wins loop: the
    // per-delta supersession EVENTS (retired ingest id + the accepted id
    // that retired it) that every derived artifact — above all the
    // retrieval index (Graft.annIndexSupersede) — must replay to stay
    // coherent with the corpus. Emitted as a delta-sized by-product of
    // each absorb (KeyedCorpusShardsState.superseded, the supersede
    // flip's own broadcast shape); the oracle replays the rule globally:
    // an accepted version is superseded by the NEXT accepted version of
    // its key. ExtSpec pins the coherence end-to-end (feeding this feed
    // to the persisted ANN index reproduces a fresh live index).
    "q_rekey_supersessions" -> ((s, dir) => {
      val (_, states) = rekeyAbsorbed(s, dir)
      states.map(_.superseded.get).reduce(_ unionByName _)
        .select(col("ukey"), col("lang"),
          col("ingest_id").as("superseded_id"), col("superseded_by"))
        .orderBy(col("superseded_id"))
    }),

    // THE CORPUS→INDEX WIRE, driver-gated end to end (VERDICT r17 #3):
    // the rekeyed absorb chain's supersession feed is PUBLISHED exactly
    // as the streaming loop publishes it (batch_id dirs + the r18
    // publisher commit marker), drained through the consumer's
    // applied-through cursor into a PERSISTED AnnIndex built over every
    // re-id'd ingest id (deterministic synthetic vectors — the wire
    // moves IDS, not geometry; the serve math has its own q_ann_index_*
    // gates), with the consumed history folded mid-stream
    // (corpusSupersessionFeedCompact) so the final apply composes
    // archive + live dirs under one cursor cut. Output = the SERVED
    // live set (codes minus tombstones — the exact candidate cut
    // AnnIndex.search applies before any probe), which must hash-match
    // the oracle's corpus-side liveness arithmetic: every re-id'd id
    // except the superseded ones. StreamingSpec pins the torn-write/
    // cursor edges of this wire; this row puts the composed happy path
    // under the DuckDB gate at both scale factors.
    "q_index_wire" -> ((s, dir) => {
      val G = graft.api.Graft
      val SI = graft.streaming.StreamingIndex
      val A = graft.ext.AnnIndex
      val (r1, r2, r3) = rekeyReidDeltas(s, dir)
      val (_, states) = rekeyAbsorbed(s, dir)
      val all = r1.unionByName(r2).unionByName(r3)
        .select(col("ingest_id"), col("ukey"), col("lang"))
      val work = java.nio.file.Files
        .createTempDirectory("graft-indexwire").toString
      val fs = new org.apache.hadoop.fs.Path(work)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // the index+feed tree is RUN-SCOPED scratch: materialize the
      // result (eager localCheckpoint — the live set is gate-sized)
      // and delete the tree in the finally, so Verify×2 + Bench cycles
      // stop stranding a full index per run (VERDICT r18 #3)
      try {
        // synthetic vectors, closed-form in the ingest id: the index
        // must HOLD every id and RETIRE the fed ones; which neighbors
        // rank is not this gate's question
        val emb = all.select(col("ingest_id"),
          array((0 until 8).map(j =>
            (pmod(xxhash64(col("ingest_id") * 31 + lit(j)), lit(997)) + 1)
              .cast("double") / 997.0): _*).as("vec"))
        val bucketed = Similarity.kmeansBuckets(emb, "ingest_id", "vec",
          k = 8, iters = 1, bucketCol = "kb")
        A.build(bucketed, "ingest_id", "vec", "kb", s"$work/idx", dim = 8,
          m = 2, kSub = 4)
        def publish(i: Int): Unit = states(i).superseded.foreach { sup =>
          sup.write.mode("overwrite")
            .parquet(s"$work/corpus/superseded/batch_id=$i")
          graft.io.StateDir.stamp(fs, s"$work/corpus/superseded/batch_id=$i",
            graft.io.StateDir.CommitMarker)
        }
        publish(0); publish(1)
        SI.applySupersessionFeed(s, s"$work/corpus", s"$work/idx")
        G.corpusSupersessionFeedCompact(s, s"$work/corpus")
        publish(2)
        SI.applySupersessionFeed(s, s"$work/corpus", s"$work/idx")
        val root = A.currentRoot(s, s"$work/idx")
        val codes = s.read.parquet(s"$root/codes").select(col("uid"))
        // the exact serve-path cut: minusTombstones' size-checked
        // broadcast (a forced hint here would re-introduce the
        // O(index) hazard this gate's subject just removed)
        val live = A.minusTombstones(s, root, codes)
          .select(col("uid").as("ingest_id"))
        live.join(all, Seq("ingest_id"))
          .select(col("ingest_id"), col("ukey"), col("lang"))
          .orderBy(col("ingest_id"))
          .localCheckpoint()
      } finally {
        fs.delete(new org.apache.hadoop.fs.Path(work), true)
        ()
      }
    }),

    // Span-level corpus dedup: every doc loses spans whose corpus document
    // frequency exceeds 1 — boilerplate is removed from ALL copies, the
    // complement of whole-doc dedup (which keeps one copy intact)
    "q_span_dedup" -> ((s, dir) =>
      Dedup.spanDedup(Tables.documents(s, dir), "text", "doc_id",
          spanTokens = 10, maxDocFreq = 1)
        .orderBy(col("doc_id"))),

    // Perplexity-proxy quality score: avg negative log-likelihood of each
    // doc under the corpus's own unigram LM
    "q_unigram_nll" -> ((s, dir) =>
      TA.unigramNll(Tables.documents(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          ground(col("avg_nll"), 6).as("avg_nll"))
        .orderBy(col("doc_id"))),

    // Model-based quality filter: heuristic weak labels (quality >= 0.5)
    // train a multinomial NB on the 80% hash split; every doc is scored.
    // The model is integer counts + Laplace smoothing — fully
    // deterministic, so training AND scoring sit inside the hash-exact
    // oracle gate (an LBFGS fit would force the weaker rows-only check)
    "q_quality_nb" -> ((s, dir) => {
      val labeled = TA.withTokenStats(Tables.documents(s, dir), "text")
        .withColumn("label_weak",
          ground(TA.qualityScore(col("n_tokens"), col("token_chars"),
            col("n_punct"), col("n_stopwords")), 4) >= 0.5)
        .select(col("doc_id"), col("text"), col("label_weak"))
      val train = labeled
        .filter(Sampling.hashBucket(col("doc_id"), "graft") < 80)
      NbClassifier.trainScore(train, labeled, "text", "doc_id",
          "label_weak")
        .join(labeled.select(col("doc_id"), col("label_weak")),
          Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"), col("label_weak"),
          col("margin"), col("pred"))
        .orderBy(col("doc_id"))
    }),

    // Serve-time NB scoring — the streaming gate's scorer run over the
    // batch table: the model is EXTRACTED once (NbClassifier.train,
    // vocab-bounded weight collect — the codebook allowance) and applied
    // ROW-LOCALLY with zero shuffle; margins must reproduce the
    // distributed scorer's to the 6dp guard-round, certified against the
    // same oracle CTE chain
    "q_nb_serve" -> ((s, dir) =>
      // model from the session memo (trained once, shared with the two
      // incremental-loop queries — identical weights by construction)
      NbClassifier.scoreLocal(
          Tables.documents(s, dir).select(col("doc_id"), col("text")),
          "text", nbModel(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("margin"), col("pred"))
        .orderBy(col("doc_id"))),

    // Tokenizer-coverage metric: per-doc OOV rate against the top-K corpus
    // vocabulary (K=16 of 31 distinct tokens in the synthetic corpus, so
    // the tail is actually exercised). Vocab selection is deterministic
    // (frequency desc, token asc) and broadcasts; tf is the same (doc,
    // token) pre-agg the NLL/vocab/tf-idf queries share — at 100 TB the
    // top-K list is bounded by construction, never the corpus
    "q_oov_rate" -> ((s, dir) => {
      val tf = TA.termFreq(Tables.documents(s, dir), "text", "doc_id")
      val vocab = tf.groupBy(col("t")).agg(sum(col("c")).as("ctf"))
        .orderBy(col("ctf").desc, col("t")).limit(16)
        .select(col("t"), lit(1).as("in_vocab"))
      tf.join(broadcast(vocab), Seq("t"), "left")
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tokens"),
          coalesce(sum(when(col("in_vocab").isNull, col("c"))), lit(0L))
            .as("n_oov"))
        .withColumn("oov_rate",
          ground(col("n_oov").cast("double") /
            col("n_tokens").cast("double"), 6))
        .orderBy(col("doc_id"))
    }),

    // Number-class scrub over the events props payload: redacted-pattern
    // cardinality + redaction counts per event type. The digit-class rule
    // is the stand-in for PII patterns (emails/phones) — same plan shape,
    // narrow regexp projection into a small agg.
    "q_pii_scrub" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), col("props"))
        .withColumn("n_nums", regexp_count(col("props"), lit("[0-9]+")))
        .withColumn("scrubbed",
          regexp_replace(col("props"), "[0-9]+", "<NUM>"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("n_nums")).as("n_numbers"),
          countDistinct(col("scrubbed")).as("n_patterns"))
        .orderBy(col("event_type"))),

    // Per-group winsorization: clip values to the exact p05/p95 of their
    // own event type, report clipped vs raw means + clip counts. The
    // percentile bounds are a tiny per-group frame joined back broadcast —
    // the classic two-pass outlier-capping shape (no window over the full
    // fact table). Bounds are guard-rounded BEFORE clipping so both
    // engines clip against bit-identical thresholds.
    "q_winsorize" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      val bounds = ev.groupBy(col("event_type"))
        .agg(ground(expr("percentile(value, 0.05)"), 4).as("lo"),
          ground(expr("percentile(value, 0.95)"), 4).as("hi"))
      ev.join(broadcast(bounds), "event_type")
        .withColumn("clipped", least(greatest(col("value"), col("lo")),
          col("hi")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum((col("value") < col("lo")).cast("long")).as("n_lo_clipped"),
          sum((col("value") > col("hi")).cast("long")).as("n_hi_clipped"),
          ground(dsum(col("value")) / count(lit(1)), 4).as("raw_mean"),
          ground(dsum(col("clipped")) / count(lit(1)), 4).as("wins_mean"))
        .orderBy(col("event_type"))
    }),

    // Robust outlier rate per event type: |x − median| > 3·MAD (median
    // absolute deviation), the heavy-tail-safe complement of the z-score
    // anomaly queries. Two chained two-pass aggregations — median join-back,
    // then MAD join-back — each bounds frame is per-group tiny and
    // broadcasts; the fact table is scanned, never windowed. Median and MAD
    // are guard-rounded before the comparison so both engines flag against
    // bit-identical thresholds.
    "q_mad_outliers" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
      val med = ev.groupBy(col("event_type"))
        .agg(ground(expr("percentile(value, 0.5)"), 4).as("med"))
      val withDev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = withDev.groupBy(col("event_type"))
        .agg(ground(expr("percentile(adev, 0.5)"), 4).as("mad"))
      withDev.join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          first(col("med")).as("med"), first(col("mad")).as("mad"),
          sum((col("adev") > col("mad") * 3).cast("long")).as("n_outliers"))
        .withColumn("outlier_rate",
          ground(col("n_outliers").cast("double") /
            col("n").cast("double"), 6))
        .orderBy(col("event_type"))
    }),

    // Shipping-priority top unshipped orders (TPC-H Q3 shape): two fact
    // filters meet in an equi-join on the order key; the filtered customer
    // dim is left to AQE (small here, shuffled at real scale — forcing a
    // broadcast of a 1/5-of-customers filter would be wrong at 100 TB).
    // Revenue is decimal-summed, so the top-10 order is exact.
    "q_top_unshipped" -> ((s, dir) => {
      val cutoff = lit("1998-01-01").cast("timestamp")
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < cutoff)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
      val li = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > cutoff)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
  )

  /** Unrolled BPE training loop for the DuckDB oracle: one CTE trio per
    * merge — pair counts `p{i}`, argmax `b{i}`, merged dictionary `d{i}` —
    * over the same two-space symbol-string representation the Spark
    * trainer uses, so `replace` has identical greedy left-to-right merge
    * semantics in both engines. CTEs are MATERIALIZED: each `d{i}`
    * references `d{i-1}` four times (pair scan + three argmax scalar
    * subqueries), so inlining would expand the chain 4^n-fold.
    */
  private def bpeCtes(n: Int): String = {
    val head =
      """WITH w AS MATERIALIZED (
        |  SELECT unnest(string_split_regex(trim(text), ' +')) AS word
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
        |),
        |d0 AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
        |    ' ' || array_to_string(string_split(word, ''), '  ') || ' '
        |      AS syms
        |  FROM w GROUP BY 1
        |)""".stripMargin
    val steps = (1 to n).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT arr[i] AS a, arr[i+1] AS b,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(syms), '  ') AS arr, freq
         |        FROM d${i - 1}),
         |       unnest(generate_series(1, len(arr)-1)) AS t(i)
         |  GROUP BY 1, 2
         |),
         |b$i AS MATERIALIZED (
         |  SELECT $i AS rank, a, b, a || b AS ab, cnt FROM p$i
         |  ORDER BY cnt DESC, a, b LIMIT 1
         |),
         |d$i AS MATERIALIZED (
         |  SELECT word, freq,
         |    replace(syms,
         |      ' ' || (SELECT a FROM b$i) || '  ' || (SELECT b FROM b$i)
         |        || ' ',
         |      ' ' || (SELECT ab FROM b$i) || ' ') AS syms
         |  FROM d${i - 1}
         |)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** Unrolled BATCHED-BPE loop for the oracle — one CTE quartet per
    * iteration: pair counts `p{i}`, the ranked candidate pool `c{i}`
    * (top `poolSize` by count desc, pair asc), conflict-free survivors
    * `s{i}` (a candidate survives iff NO higher-ranked pool member
    * shares a symbol with its inputs OR its merged output —
    * [[graft.ext.Bpe.trainBatched]]'s non-recursive rule), the batch
    * `b{i}` (first `batch` survivors), and the merged
    * dictionary `d{i}` applying the batch as `batch` nested replaces —
    * absent slots no-op through a never-matching chr(1) pattern, which
    * also makes exhaustion (empty pools) replay exactly.
    */
  private def bpeBatchCtes(nIters: Int, batch: Int): String = {
    val poolSize = 4 * batch
    val head =
      """WITH w AS MATERIALIZED (
        |  SELECT unnest(string_split_regex(trim(text), ' +')) AS word
        |  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
        |),
        |d0 AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq,
        |    ' ' || array_to_string(string_split(word, ''), '  ') || ' '
        |      AS syms
        |  FROM w GROUP BY 1
        |)""".stripMargin
    val steps = (1 to nIters).map { i =>
      val replaces = (1 to batch).foldLeft("syms") { (inner, j) =>
        s"""replace($inner,
           |      coalesce((SELECT ' ' || a || '  ' || b || ' '
           |                FROM b$i WHERE sel_rank = $j), chr(1)),
           |      coalesce((SELECT ' ' || ab || ' '
           |                FROM b$i WHERE sel_rank = $j), ''))""".stripMargin
      }
      s"""p$i AS MATERIALIZED (
         |  SELECT arr[i] AS a, arr[i+1] AS b,
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(syms), '  ') AS arr, freq
         |        FROM d${i - 1}),
         |       unnest(generate_series(1, len(arr)-1)) AS t(i)
         |  GROUP BY 1, 2
         |),
         |c$i AS MATERIALIZED (
         |  SELECT a, b, a || b AS ab, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, a, b) AS r
         |  FROM p$i ORDER BY cnt DESC, a, b LIMIT $poolSize
         |),
         |b$i AS MATERIALIZED (
         |  SELECT a, b, ab, cnt, sel_rank FROM (
         |    SELECT a, b, ab, cnt,
         |      row_number() OVER (ORDER BY r) AS sel_rank
         |    FROM c$i c
         |    WHERE NOT EXISTS (SELECT 1 FROM c$i h WHERE h.r < c.r
         |      AND (h.a IN (c.a, c.b) OR h.b IN (c.a, c.b)
         |        OR h.ab IN (c.a, c.b)))
         |  ) WHERE sel_rank <= $batch
         |),
         |d$i AS MATERIALIZED (
         |  SELECT word, freq,
         |    $replaces AS syms
         |  FROM d${i - 1}
         |)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  /** Oracle for `q_corpus_build`: every stage's PROVEN oracle fragment
    * chained in one WITH — the Gopher battery (q_gopher_rules), the
    * trained NB scorer (q_quality_nb, refit on the Gopher survivors'
    * 80% split), the min-id exact-dedup keeper (q_corpus_pack), the
    * temperature realization with null-safe group joins
    * (q_temperature_mix), and the unrolled BPE training + segmentation
    * join + offset packing (q_bpe_pack). A hash match certifies the
    * whole composed pipeline, gate by gate.
    */
  private def corpusBuildOracle: String =
    corpusBuildOracleWith(bpeCtes(BpeMerges), s"d$BpeMerges")

  /** [[corpusBuildOracle]] with the tokenizer-training chain pluggable:
    * `bpeChain` is any `WITH w …, d0 …, … <dictCte>` unrolled trainer
    * ([[bpeCtes]] for sequential, [[bpeBatchCtes]] for the batched
    * trainer) and `dictCte` names its final dictionary — the rest of
    * the composition (gates, dedup, mixture, segmentation join,
    * packing) is tokenizer-independent by construction.
    */
  private def corpusBuildOracleWith(bpeChain: String,
                                    dictCte: String): String =
    corpusOracleChain(nbOnGopherSurvivors = true, mixture = true,
      bpeChain, dictCte)

  /** Oracle for `q_corpus_build_incr` — the FROZEN-ARTIFACT batch replay
    * over the full corpus that the two-delta incremental run must
    * hash-match: the same Gopher battery, the NB model trained on the
    * FULL corpus's 80% hash split (the `q_nb_serve` frozen model, not
    * `corpusBuild`'s survivors-refit), NO temperature mixture (deferred
    * to batch in the delta recipe), then dedup keepers → frozen-dict
    * segmentation → offset packing. One SQL chain = one-shot on the
    * union; the Spark side runs it as two chained deltas.
    */
  private def corpusBuildIncrOracle: String =
    corpusOracleChain(nbOnGopherSurvivors = false, mixture = false,
      bpeCtes(BpeMerges), s"d$BpeMerges")

  /** The shared corpus-composition oracle chain with its two semantic
    * seams templated: `nbOnGopherSurvivors` picks the NB training/scoring
    * population (gopher survivors — [[corpusBuildOracleWith]]'s refit
    * recipe — vs the full corpus, the frozen-model recipe, where the
    * kept set then intersects the gopher gate explicitly), and `mixture`
    * toggles the temperature-realization CTEs between dedup and
    * encoding.
    */
  private def corpusOracleChain(nbOnGopherSurvivors: Boolean,
                                mixture: Boolean, bpeChain: String,
                                dictCte: String,
                                tailOverride: Option[String] = None,
                                reidKeys: Boolean = false,
                                rekeyLatest: Boolean = false)
      : String = {
    val keyed = reidKeys || rekeyLatest
    val stopSql = TA.Stopwords.map(w => s"'$w'").mkString(", ")
    val labFrom =
      if (nbOnGopherSurvivors)
        "FROM t0 JOIN gst USING (doc_id) JOIN ga USING (doc_id)"
      else "FROM t0 JOIN gst USING (doc_id)"
    // full-corpus model scores every doc, so the kept set must intersect
    // the gopher gate here; the survivors-refit recipe scores only
    // gopher survivors (lab is already gated) and needs no extra join
    val gbJoin = if (nbOnGopherSurvivors) "" else " JOIN ga USING (doc_id)"
    val keptCte = if (mixture) "ddocs" else "gc"
    // reidKeys = the q_corpus_build_reid shape: documents re-keyed by the
    // non-monotonic ukey string, doc_id REPLACED by the ingest id
    // Graft.withIngestIds assigns — per-delta dense ranks over the
    // deterministic (md5-hash, key) order, delta 2 continuing at delta
    // 1's full size — and the NB train split bucketing ukey (the only id
    // that exists before re-id). Everything downstream of t0 is
    // identical: one SQL chain = the one-shot batch replay over the
    // re-id'd union that the two chained Spark deltas must hash-match.
    val docsHead =
      if (rekeyLatest)
        // the q_corpus_shards_rekey crawl: three deltas, the third
        // RE-DELIVERING every doc_id % RekeyMod == 3 key below 400 with
        // mutated text — per-delta hash-order ranks continue each prior
        // delta's FULL size, exactly Graft.withIngestIds' threading
        s"""WITH ud AS MATERIALIZED (
           |  SELECT 'u-' || reverse(CAST(doc_id AS VARCHAR)) AS ukey,
           |    lang, text,
           |    CASE WHEN doc_id < 200 THEN 1 WHEN doc_id < 400 THEN 2
           |      ELSE 3 END AS dno
           |  FROM documents
           |  UNION ALL
           |  SELECT 'u-' || reverse(CAST(doc_id AS VARCHAR)) AS ukey,
           |    lang, text || '$RekeySuffix' AS text, 3 AS dno
           |  FROM documents WHERE doc_id < 400 AND doc_id % $RekeyMod = 3
           |), rd AS MATERIALIZED (
           |  SELECT (CASE WHEN dno = 1 THEN 0
           |      WHEN dno = 2 THEN (SELECT count(*) FROM ud WHERE dno = 1)
           |      ELSE (SELECT count(*) FROM ud WHERE dno <= 2) END)
           |    + row_number() OVER (PARTITION BY dno
           |        ORDER BY ${sqlHashKey("ingest", "ukey")}, ukey)
           |    AS doc_id,
           |    ukey, lang, text
           |  FROM ud
           |), t0 AS MATERIALIZED (
           |  SELECT doc_id, ukey, lang, text,""".stripMargin
      else if (!reidKeys)
        """WITH t0 AS MATERIALIZED (
          |  SELECT doc_id, lang, text,""".stripMargin
      else
        s"""WITH ud AS MATERIALIZED (
           |  SELECT 'u-' || reverse(CAST(doc_id AS VARCHAR)) AS ukey,
           |    lang, text, doc_id < 250 AS d1
           |  FROM documents
           |), rd AS MATERIALIZED (
           |  SELECT (CASE WHEN d1 THEN 0
           |      ELSE (SELECT count(*) FROM ud WHERE d1) END)
           |    + row_number() OVER (PARTITION BY d1
           |        ORDER BY ${sqlHashKey("ingest", "ukey")}, ukey)
           |    AS doc_id,
           |    ukey, lang, text
           |  FROM ud
           |), t0 AS MATERIALIZED (
           |  SELECT doc_id, ukey, lang, text,""".stripMargin
    val docsFrom = if (keyed) "rd" else "documents"
    val labKey = if (keyed) ", t0.ukey" else ""
    val trcBucket =
      if (keyed) sqlBucket("graft", "lab.ukey")
      else sqlBucket("graft", "f.doc_id")
    val priBucket =
      if (keyed) sqlBucket("graft", "ukey")
      else sqlBucket("graft", "doc_id")
    docsHead + "\n" +
    s"""|    regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS toks,
       |    regexp_split_to_array(trim(lower(text)), '[\\s\\x0b]+') AS ltoks
       |  FROM $docsFrom
       |), gst AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(list_sum(list_transform(toks, t -> length(t))) AS BIGINT)
       |      AS token_chars,
       |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)
       |      AS n_punct,
       |    CAST(len(list_filter(toks, t -> t IN ($stopSql))) AS BIGINT)
       |      AS n_stopwords,
       |    CAST(len(list_distinct(ltoks)) AS BIGINT) AS n_distinct
       |  FROM t0
       |), gbg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(len(ltoks) - 1),
       |      i -> ltoks[i+1] || ' ' || ltoks[i+2])) AS b
       |  FROM t0 WHERE len(ltoks) >= 2
       |), gtop AS (
       |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n FROM (
       |    SELECT doc_id, b, count(*) AS c FROM gbg GROUP BY 1, 2
       |  ) GROUP BY 1
       |), gm AS (
       |  SELECT gst.doc_id, n_tokens,
       |    round(token_chars / greatest(n_tokens, 1) + 1e-9, 6)
       |      AS mean_word_len,
       |    round(n_punct / greatest(n_tokens, 1) + 1e-9, 6) AS punct_ratio,
       |    n_stopwords,
       |    round(n_distinct / greatest(n_tokens, 1) + 1e-9, 6)
       |      AS distinct_ratio,
       |    round(coalesce(top_bigram_n, 0) / greatest(n_tokens - 1, 1)
       |      + 1e-9, 6) AS top_bigram_frac
       |  FROM gst LEFT JOIN gtop USING (doc_id)
       |), ga AS MATERIALIZED (
       |  SELECT doc_id FROM gm
       |  WHERE (n_tokens BETWEEN 10 AND 100000)
       |    AND (mean_word_len BETWEEN 3 AND 10)
       |    AND (n_stopwords >= 2)
       |    AND (punct_ratio <= 0.1)
       |    AND (round(top_bigram_frac + 1e-9, 6) <= 0.2
       |      AND round(distinct_ratio + 1e-9, 6) >= 0.5)
       |), lab AS MATERIALIZED (
       |  SELECT t0.doc_id$labKey, ltoks,
       |    (round(least(gst.n_tokens / 100.0, 1.0) * 0.3
       |      + (1.0 - least(CAST(gst.n_punct AS DOUBLE)
       |          / greatest(gst.n_tokens, 1), 1.0)) * 0.4
       |      + least(CAST(gst.n_stopwords AS DOUBLE) * 5.0
       |          / greatest(gst.n_tokens, 1), 1.0) * 0.3
       |      + 1e-9, 4) >= 0.5) AS label_weak
       |  $labFrom
       |), tfc AS MATERIALIZED (
       |  SELECT doc_id, tok, count(*) AS c
       |  FROM (SELECT doc_id, unnest(ltoks) AS tok FROM lab)
       |  GROUP BY 1, 2
       |), trc AS (
       |  SELECT f.doc_id, tok, c, label_weak
       |  FROM tfc f JOIN lab USING (doc_id)
       |  WHERE $trcBucket < 80
       |), ct AS MATERIALIZED (
       |  SELECT tok,
       |    CAST(sum(CASE WHEN label_weak THEN c ELSE 0 END) AS BIGINT)
       |      AS c_pos,
       |    CAST(sum(CASE WHEN NOT label_weak THEN c ELSE 0 END) AS BIGINT)
       |      AS c_neg
       |  FROM trc GROUP BY 1
       |), nstats AS (
       |  SELECT CAST(coalesce(sum(c_pos), 0) AS BIGINT) AS tot_pos,
       |    CAST(coalesce(sum(c_neg), 0) AS BIGINT) AS tot_neg,
       |    CAST(count(*) AS BIGINT) AS v
       |  FROM ct
       |), pri AS (
       |  SELECT
       |    CAST(sum(CASE WHEN label_weak THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_pos,
       |    CAST(sum(CASE WHEN NOT label_weak THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_neg
       |  FROM lab WHERE $priBucket < 80
       |), sc AS (
       |  SELECT f.doc_id,
       |    sum(c * (ln((coalesce(c_pos, 0) + 1) / (tot_pos + v))
       |           - ln((coalesce(c_neg, 0) + 1) / (tot_neg + v)))) AS sval
       |  FROM tfc f LEFT JOIN ct USING (tok) CROSS JOIN nstats
       |  GROUP BY 1
       |), gb AS MATERIALIZED (
       |  SELECT sc.doc_id FROM sc$gbJoin CROSS JOIN pri
       |  WHERE round(sval + ln((n_pos + 1.0) / (n_neg + 1.0)) + 1e-9, 6) > 0
       |), gc AS MATERIALIZED (
       |  SELECT min(doc_id) AS doc_id
       |  FROM t0 JOIN gb USING (doc_id)
       |  GROUP BY md5(text)
       |)""".stripMargin +
    (if (!rekeyLatest) "" else
      // LATEST-WINS liveness: an accepted (gc) version is live unless a
      // LATER accepted version of the same natural key exists — the
      // supersede rule corpusShardsDeltaRekeyed applies incrementally
      """,
        |lv AS MATERIALIZED (
        |  SELECT gc.doc_id
        |  FROM gc JOIN t0 USING (doc_id)
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM gc g2 JOIN t0 t2 ON g2.doc_id = t2.doc_id
        |    WHERE t2.ukey = t0.ukey AND g2.doc_id > gc.doc_id)
        |)""".stripMargin) +
    (if (!mixture) "" else
      s""",
         |cdocs AS MATERIALIZED (
         |  SELECT t0.doc_id, t0.lang, t0.text FROM t0 JOIN gc USING (doc_id)
         |), tc AS (
         |  SELECT lang, count(*) AS n_docs FROM cdocs GROUP BY 1
         |), tt0 AS (
         |  SELECT lang, n_docs,
         |    ${sqlGround("pow(n_docs, 0.5) / sum(pow(n_docs, 0.5)) OVER ()", 6)}
         |      AS w_temp,
         |    floor(0.5 * sum(n_docs) OVER () + 1e-9) AS budget
         |  FROM tc
         |), tt AS (
         |  SELECT lang,
         |    least(CAST(floor(w_temp * budget + 1e-9) AS BIGINT), n_docs)
         |      AS n_target
         |  FROM tt0
         |), tr AS (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${sqlHashKey("build", "doc_id")}, doc_id) AS samp_rank
         |  FROM cdocs
         |), ddocs AS MATERIALIZED (
         |  SELECT tr.doc_id
         |  FROM tr JOIN tt ON tr.lang IS NOT DISTINCT FROM tt.lang
         |  WHERE samp_rank <= n_target
         |)""".stripMargin) +
    ",\n" +
    // concatenated AFTER stripMargin: the trainer chain has continuation
    // lines starting with `||`, which a second stripMargin would mangle.
    // Empty = the tail needs no tokenizer (q_rekey_supersessions reads
    // keeper events, not tokens) — skip the splice entirely
    (if (bpeChain.isEmpty) ""
     else bpeChain.stripPrefix("WITH ") + ",\n") +
    tailOverride.getOrElse(
      s"""ws AS MATERIALIZED (
         |  SELECT t0.lang, t0.doc_id,
         |    unnest(string_split_regex(trim(t0.text), ' +')) AS word
         |  FROM t0 JOIN $keptCte USING (doc_id)
         |  WHERE text IS NOT NULL AND length(trim(text)) > 0
         |), pd AS MATERIALIZED (
         |  SELECT ws.lang, ws.doc_id,
         |    CAST(sum(len(string_split(trim($dictCte.syms), '  ')))
         |      AS BIGINT) AS n_tokens
         |  FROM ws JOIN $dictCte ON ws.word = $dictCte.word
         |  GROUP BY 1, 2
         |), po AS (
         |  SELECT lang, doc_id, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS tok_offset
         |  FROM pd
         |)
         |SELECT lang, CAST(tok_offset // 256 AS BIGINT) AS pack_id,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM po GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin)
  }

  /** Shared CTE chain for `q_quality_nb` and `q_nb_serve`: weak labels,
    * the 80%-split trained NB model, and the per-doc score `s` — one SQL
    * ground truth for the distributed scorer AND the serve-time local
    * scorer. */
  private lazy val nbOracleCtes: String = {
    val stopSql = TA.Stopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH t AS (
         |  SELECT doc_id, text,
         |    regexp_split_to_array(trim(text), '[\\s\\x0b]+') AS toks,
         |    regexp_split_to_array(trim(lower(text)), '[\\s\\x0b]+') AS ltoks
         |  FROM documents
         |), st AS (
         |  SELECT doc_id, ltoks,
         |    len(toks) AS n_tokens,
         |    CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)
         |      AS n_punct,
         |    CAST(len(list_filter(toks, x -> x IN ($stopSql))) AS BIGINT)
         |      AS n_stopwords
         |  FROM t
         |), lab AS (
         |  SELECT doc_id, ltoks,
         |    (round(least(n_tokens / 100.0, 1.0) * 0.3
         |      + (1.0 - least(CAST(n_punct AS DOUBLE)
         |          / greatest(n_tokens, 1), 1.0)) * 0.4
         |      + least(CAST(n_stopwords AS DOUBLE) * 5.0
         |          / greatest(n_tokens, 1), 1.0) * 0.3
         |      + 1e-9, 4) >= 0.5) AS label_weak
         |  FROM st
         |), tfc AS (
         |  SELECT doc_id, tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest(ltoks) AS tok FROM lab)
         |  GROUP BY 1, 2
         |), trc AS (
         |  SELECT f.doc_id, tok, c, label_weak
         |  FROM tfc f JOIN lab USING (doc_id)
         |  WHERE ${sqlBucket("graft", "f.doc_id")} < 80
         |), ct AS (
         |  SELECT tok,
         |    CAST(sum(CASE WHEN label_weak THEN c ELSE 0 END) AS BIGINT)
         |      AS c_pos,
         |    CAST(sum(CASE WHEN NOT label_weak THEN c ELSE 0 END) AS BIGINT)
         |      AS c_neg
         |  FROM trc GROUP BY 1
         |), stats AS (
         |  SELECT CAST(sum(c_pos) AS BIGINT) AS tot_pos,
         |    CAST(sum(c_neg) AS BIGINT) AS tot_neg,
         |    CAST(count(*) AS BIGINT) AS v
         |  FROM ct
         |), pri AS (
         |  SELECT
         |    CAST(sum(CASE WHEN label_weak THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_pos,
         |    CAST(sum(CASE WHEN NOT label_weak THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_neg
         |  FROM lab WHERE ${sqlBucket("graft", "doc_id")} < 80
         |), sc AS (
         |  SELECT f.doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    sum(c * (ln((coalesce(c_pos, 0) + 1) / (tot_pos + v))
         |           - ln((coalesce(c_neg, 0) + 1) / (tot_neg + v)))) AS s
         |  FROM tfc f LEFT JOIN ct USING (tok) CROSS JOIN stats
         |  GROUP BY 1
         |)""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    "q_corpus_build" -> corpusBuildOracle,

    "q_corpus_build_batched" -> corpusBuildOracleWith(
      bpeBatchCtes(BpeBatchIters, BpeBatch), s"d$BpeBatchIters"),

    "q_corpus_build_b16" -> corpusBuildOracleWith(
      bpeBatchCtes(BpeB16Iters, BpeB16), s"d$BpeB16Iters"),

    "q_corpus_build_incr" -> corpusBuildIncrOracle,

    // the deferred-mixture recompute: the frozen-model batch chain WITH
    // the temperature CTEs — what the two-delta + mixtureOverCorpus
    // composition must hash-match
    "q_mixture_incr" -> corpusOracleChain(
      nbOnGopherSurvivors = false, mixture = true, bpeCtes(BpeMerges),
      s"d$BpeMerges"),

    // the shard-loop mixture twin: the frozen-model batch chain WITH
    // the temperature CTEs, terminating in the shard split restricted
    // to the SAMPLED docs (ddocs) — what the two-delta +
    // mixtureOverCorpusShards composition must hash-match
    "q_mixture_shards" -> corpusOracleChain(
      nbOnGopherSurvivors = false, mixture = true, bpeCtes(BpeMerges),
      s"d$BpeMerges", Some(shardsOracleTail(restrict = Some("ddocs")))),

    // the frozen-artifact batch replay over the RE-ID'd union (ud → rd
    // CTEs mirror Graft.withIngestIds' per-delta hash-order ranks) that
    // the two chained re-id'd deltas must hash-match — the arbitrary-key
    // absorption contract
    "q_corpus_build_reid" -> corpusOracleChain(
      nbOnGopherSurvivors = false, mixture = false, bpeCtes(BpeMerges),
      s"d$BpeMerges", reidKeys = true),

    // shards: the q_bpe_ids chain (wd/sy/vid) extended with per-doc
    // sequence positions, per-lang stream offsets, and the hard 256-token
    // split — the full ordered stream of every shard fingerprinted
    "q_token_shards" -> tokenShardsOracle,

    // the incremental writer must converge to the SAME shards — one
    // oracle string, two entry points (batch one-shot vs two chained
    // deltas + flush)
    "q_token_shards_incr" -> tokenShardsOracle,

    // the full incremental loop: the frozen-artifact gate chain (the
    // q_corpus_build_incr prefix, kept set = gc) feeding the shard
    // split restricted to kept docs
    "q_corpus_shards_incr" -> corpusOracleChain(
      nbOnGopherSurvivors = false, mixture = false, bpeCtes(BpeMerges),
      s"d$BpeMerges", Some(shardsOracleTail(restrict = Some("gc")))),

    // the reid contract through the SHARD loop: the frozen gate chain
    // over the re-id'd union (ud→rd, ukey NB split) feeding the shard
    // split restricted to kept docs — one SQL string, matched by two
    // chained re-id'd corpusShardsDelta passes + flush
    "q_corpus_shards_reid" -> corpusOracleChain(
      nbOnGopherSurvivors = false, mixture = false, bpeCtes(BpeMerges),
      s"d$BpeMerges",
      Some(shardsOracleTail(restrict = Some("gc"), docsSrc = "rd")),
      reidKeys = true),

    // the LATEST-WINS keyed keeper contract: the frozen gate chain over
    // the re-id'd 3-delta union (delta 3 re-delivers changed content),
    // accepted = global min-id per digest (gc), live = not superseded by
    // a later accepted version of the same key (lv), shard split over
    // the live set — matched by three chained corpusShardsDeltaRekeyed
    // passes + corpusShardsRekeyedCompact
    "q_corpus_shards_rekey" -> corpusOracleChain(
      nbOnGopherSurvivors = false, mixture = false, bpeCtes(BpeMerges),
      s"d$BpeMerges",
      Some(shardsOracleTail(restrict = Some("lv"), docsSrc = "rd")),
      rekeyLatest = true),

    // the corpus→index wire's served live set: every re-id'd ingest id
    // EXCEPT the superseded ones (the q_rekey_supersessions rule — an
    // accepted version with a later accepted version of its key). The
    // Spark side drains the published feed into a persisted index
    // through the cursor path; the index's codes-minus-tombstones must
    // land exactly here.
    "q_index_wire" -> corpusOracleChain(
      nbOnGopherSurvivors = false, mixture = false, bpeChain = "",
      dictCte = "",
      Some(
        """sup AS (
          |  SELECT gc.doc_id AS superseded_id,
          |    (SELECT min(g2.doc_id)
          |     FROM gc g2 JOIN t0 t2 ON g2.doc_id = t2.doc_id
          |     WHERE t2.ukey = t0.ukey AND g2.doc_id > gc.doc_id)
          |      AS superseded_by
          |  FROM gc JOIN t0 USING (doc_id)
          |)
          |SELECT CAST(t0.doc_id AS BIGINT) AS ingest_id, t0.ukey, t0.lang
          |FROM t0
          |WHERE t0.doc_id NOT IN (
          |  SELECT superseded_id FROM sup WHERE superseded_by IS NOT NULL)
          |ORDER BY ingest_id""".stripMargin),
      rekeyLatest = true),

    // supersession events = accepted versions (gc) with a LATER accepted
    // version of the same key; superseded_by = the earliest such. No
    // tokenizer CTEs — the feed reads keeper events, not tokens.
    "q_rekey_supersessions" -> corpusOracleChain(
      nbOnGopherSurvivors = false, mixture = false, bpeChain = "",
      dictCte = "",
      Some(
        """sup AS (
          |  SELECT t0.ukey, t0.lang, gc.doc_id AS superseded_id,
          |    (SELECT min(g2.doc_id)
          |     FROM gc g2 JOIN t0 t2 ON g2.doc_id = t2.doc_id
          |     WHERE t2.ukey = t0.ukey AND g2.doc_id > gc.doc_id)
          |      AS superseded_by
          |  FROM gc JOIN t0 USING (doc_id)
          |)
          |SELECT ukey, lang, superseded_id, superseded_by
          |FROM sup WHERE superseded_by IS NOT NULL
          |ORDER BY superseded_id""".stripMargin),
      rekeyLatest = true),
  ) ++ tailOracles

  /** One-shot shard ground truth shared by `q_token_shards` (batch) and
    * `q_token_shards_incr` (two chained [[graft.ext.Packing.shardTokensDelta]]
    * passes + flush): the emission schedule differs, the shards must not.
    */
  private lazy val tokenShardsOracle: String =
    bpeCtes(BpeMerges) + ",\n" + shardsOracleTail(restrict = None)

  /** The shard-split CTE tail over a trained `d<n>` dictionary chain:
    * per-doc sequence positions, per-lang stream offsets, the hard
    * 256-token split, and the per-shard id-stream fingerprint.
    * `restrict` names a (doc_id) CTE limiting which documents enter the
    * stream — None = the whole corpus (`q_token_shards`), Some("gc") =
    * the corpus-composition keepers (`q_corpus_shards_incr`).
    */
  private def shardsOracleTail(restrict: Option[String],
                               docsSrc: String = "documents"): String = {
    val wdJoin = restrict.map(r => s" JOIN $r USING (doc_id)").getOrElse("")
    (s"""sv AS MATERIALIZED (
         |  SELECT sym, CAST(sum(freq) AS BIGINT) AS sym_freq
         |  FROM (SELECT unnest(string_split(trim(syms), '  ')) AS sym,
         |               freq
         |        FROM d$BpeMerges)
         |  GROUP BY 1
         |), vid AS MATERIALIZED (
         |  SELECT sym,
         |    CAST(row_number() OVER (ORDER BY sym_freq DESC, sym) - 1
         |      AS INT) AS token_id
         |  FROM sv
         |), wd AS MATERIALIZED (
         |  SELECT doc_id, CAST(i AS BIGINT) AS wp, arr[i] AS word
         |  FROM (SELECT doc_id,
         |          string_split_regex(trim(text), ' +') AS arr
         |        FROM $docsSrc$wdJoin
         |        WHERE text IS NOT NULL AND length(trim(text)) > 0),
         |       unnest(generate_series(1, len(arr))) AS t(i)
         |), sy AS MATERIALIZED (
         |  SELECT doc_id, wp, CAST(i AS BIGINT) AS sp, sarr[i] AS sym
         |  FROM (SELECT wd.doc_id, wd.wp,
         |          coalesce(
         |            string_split(trim(d$BpeMerges.syms), '  '),
         |            string_split(word, '')) AS sarr
         |        FROM wd LEFT JOIN d$BpeMerges USING (word)),
         |       unnest(generate_series(1, len(sarr))) AS t(i)
         |), tok AS MATERIALIZED (
         |  SELECT d.lang, sy.doc_id,
         |    CAST(row_number() OVER (PARTITION BY sy.doc_id
         |      ORDER BY wp, sp) - 1 AS BIGINT) AS seqpos,
         |    CAST(coalesce(token_id, -1) AS INT) AS token_id
         |  FROM sy LEFT JOIN vid USING (sym)
         |       JOIN $docsSrc d USING (doc_id)
         |), nd AS (
         |  SELECT lang, doc_id, CAST(count(*) AS BIGINT) AS n
         |  FROM tok GROUP BY 1, 2
         |), off AS (
         |  SELECT doc_id,
         |    coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS tok_offset
         |  FROM nd
         |)
         |SELECT tok.lang,
         |  CAST((tok_offset + seqpos) // 256 AS BIGINT) AS shard_id,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  md5(string_agg(CAST(token_id AS VARCHAR), ','
         |    ORDER BY tok_offset + seqpos)) AS ids_md5
         |FROM tok JOIN off USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""").stripMargin
  }

  /** The rest of the oracle map, split around the shared
    * [[tokenShardsOracle]] definition and re-joined into [[oracles]]. */
  private lazy val tailOracles: Map[String, String] = Map(

    "q_bpe_ids" -> (bpeCtes(BpeMerges) + ",\n" +
      s"""sv AS MATERIALIZED (
         |  SELECT sym, CAST(sum(freq) AS BIGINT) AS sym_freq
         |  FROM (SELECT unnest(string_split(trim(syms), '  ')) AS sym,
         |               freq
         |        FROM d$BpeMerges)
         |  GROUP BY 1
         |), vid AS MATERIALIZED (
         |  SELECT sym,
         |    CAST(row_number() OVER (ORDER BY sym_freq DESC, sym) - 1
         |      AS INT) AS token_id
         |  FROM sv
         |), wd AS MATERIALIZED (
         |  SELECT doc_id, CAST(i AS BIGINT) AS wp, arr[i] AS word
         |  FROM (SELECT doc_id,
         |          string_split_regex(trim(text), ' +') AS arr
         |        FROM documents
         |        WHERE text IS NOT NULL AND length(trim(text)) > 0),
         |       unnest(generate_series(1, len(arr))) AS t(i)
         |), sy AS MATERIALIZED (
         |  SELECT doc_id, wp, CAST(i AS BIGINT) AS sp, sarr[i] AS sym
         |  FROM (SELECT wd.doc_id, wd.wp,
         |          coalesce(
         |            string_split(trim(d$BpeMerges.syms), '  '),
         |            string_split(word, '')) AS sarr
         |        FROM wd LEFT JOIN d$BpeMerges USING (word)),
         |       unnest(generate_series(1, len(sarr))) AS t(i)
         |)
         |SELECT sy.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  md5(string_agg(CAST(coalesce(token_id, -1) AS VARCHAR), ','
         |    ORDER BY wp, sp)) AS ids_md5
         |FROM sy LEFT JOIN vid USING (sym)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin),

    "q_bpe_batch" -> (bpeBatchCtes(BpeBatchIters, BpeBatch) + "\n" +
      s"""SELECT CAST(row_number() OVER (ORDER BY it, sel_rank) AS INT)
         |    AS rank,
         |  a AS left_sym, b AS right_sym, ab AS merged, cnt AS pair_count
         |FROM (${(1 to BpeBatchIters)
          .map(i => s"SELECT $i AS it, * FROM b$i")
          .mkString(" UNION ALL ")})
         |ORDER BY rank""".stripMargin),

    "q_bpe_vocab" -> (bpeCtes(BpeMerges) + "\n" +
      s"""SELECT CAST(rank AS INT) AS rank, a AS left_sym, b AS right_sym,
         |  ab AS merged, cnt AS pair_count
         |FROM (${(1 to BpeMerges).map(i => s"SELECT * FROM b$i")
          .mkString(" UNION ALL ")})
         |ORDER BY rank""".stripMargin),

    "q_bpe_pack" -> (bpeCtes(BpeMerges) + ",\n" +
      s"""ws AS MATERIALIZED (
         |  SELECT lang, doc_id,
         |    unnest(string_split_regex(trim(text), ' +')) AS word
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(trim(text)) > 0
         |),
         |pd AS MATERIALIZED (
         |  SELECT ws.lang, ws.doc_id,
         |    CAST(sum(len(string_split(trim(d$BpeMerges.syms), '  ')))
         |      AS BIGINT) AS n_tokens
         |  FROM ws JOIN d$BpeMerges ON ws.word = d$BpeMerges.word
         |  GROUP BY 1, 2
         |),
         |o AS (
         |  SELECT lang, doc_id, n_tokens,
         |    coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS tok_offset
         |  FROM pd
         |)
         |SELECT lang, CAST(tok_offset // 256 AS BIGINT) AS pack_id,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM o GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin),

    "q_bpe_encode" -> (bpeCtes(BpeMerges) + ",\n" +
      s"""ws AS MATERIALIZED (
         |  SELECT lang, source, doc_id,
         |    unnest(string_split_regex(trim(text), ' +')) AS word
         |  FROM documents
         |  WHERE text IS NOT NULL AND length(trim(text)) > 0
         |),
         |enc AS MATERIALIZED (
         |  SELECT ws.lang, ws.source, ws.doc_id,
         |    CAST(len(string_split(trim(d$BpeMerges.syms), '  '))
         |      AS BIGINT) AS n_toks
         |  FROM ws JOIN d$BpeMerges ON ws.word = d$BpeMerges.word
         |)
         |SELECT lang, source,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_toks) AS BIGINT) AS bpe_tokens,
         |  round(CAST(sum(n_toks) AS DOUBLE) / count(*) + 1e-9, 4)
         |    AS avg_tokens_per_word
         |FROM enc GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_span_dedup" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(text), '[\s\x0b]+') AS t
        |  FROM documents WHERE text IS NOT NULL
        |), spans AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    array_to_string(list_slice(t, i*10 + 1, i*10 + 10), ' ') AS span
        |  FROM base, unnest(range(CAST(ceil(len(t) / 10.0) AS BIGINT))) AS u(i)
        |), hot AS (
        |  SELECT span
        |  FROM (SELECT span, count(DISTINCT doc_id) AS span_df
        |        FROM spans GROUP BY 1)
        |  WHERE span_df > 1
        |), marked AS (
        |  SELECT s.doc_id, s.pos, s.span, h.span IS NOT NULL AS is_hot
        |  FROM spans s LEFT JOIN hot h USING (span)
        |)
        |SELECT doc_id,
        |  count(*) AS n_spans,
        |  CAST(sum(is_hot::int) AS BIGINT) AS n_dup_spans,
        |  md5(coalesce(
        |    string_agg(CASE WHEN NOT is_hot THEN span END, ' ' ORDER BY pos),
        |    '')) AS clean_fp
        |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_quality_nb" -> (nbOracleCtes + "\n" +
      s"""SELECT sc.doc_id, sc.n_tokens, lab.label_weak,
         |  round(s + ln((n_pos + 1.0) / (n_neg + 1.0)) + 1e-9, 6) AS margin,
         |  (round(s + ln((n_pos + 1.0) / (n_neg + 1.0)) + 1e-9, 6) > 0)
         |    AS pred
         |FROM sc JOIN lab USING (doc_id) CROSS JOIN pri
         |ORDER BY doc_id""".stripMargin),

    // serve-time scorer: same trained model, margins identical — the
    // label column is simply not part of the serving contract
    "q_nb_serve" -> (nbOracleCtes + "\n" +
      s"""SELECT sc.doc_id, sc.n_tokens,
         |  round(s + ln((n_pos + 1.0) / (n_neg + 1.0)) + 1e-9, 6) AS margin,
         |  (round(s + ln((n_pos + 1.0) / (n_neg + 1.0)) + 1e-9, 6) > 0)
         |    AS pred
         |FROM sc CROSS JOIN pri
         |ORDER BY doc_id""".stripMargin),


    "q_unigram_nll" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '[\s\x0b]+')) AS t
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2
        |), vocab AS (
        |  SELECT t, CAST(sum(c) AS BIGINT) AS ctf FROM tf GROUP BY 1
        |), tot AS (SELECT CAST(sum(ctf) AS BIGINT) AS total FROM vocab)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  round(sum(c * (ln(total) - ln(ctf))) / sum(c) + 1e-9, 6) AS avg_nll
        |FROM tf JOIN vocab USING (t) CROSS JOIN tot
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_oov_rate" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '[\s\x0b]+')) AS t
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2
        |), vocab AS (
        |  SELECT t FROM (SELECT t, sum(c) AS ctf FROM tf GROUP BY 1)
        |  ORDER BY ctf DESC, t LIMIT 16
        |)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(sum(c) FILTER (WHERE v.t IS NULL), 0) AS BIGINT)
        |    AS n_oov,
        |  round(coalesce(sum(c) FILTER (WHERE v.t IS NULL), 0) * 1.0
        |    / sum(c) + 1e-9, 6) AS oov_rate
        |FROM tf LEFT JOIN vocab v ON tf.t = v.t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_pii_scrub" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT)
        |    AS n_numbers,
        |  count(DISTINCT regexp_replace(props, '[0-9]+', '<NUM>', 'g'))
        |    AS n_patterns
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_winsorize" ->
      s"""WITH bounds AS (
         |  SELECT event_type,
         |    ${sqlGround("quantile_cont(value, 0.05)", 4)} AS lo,
         |    ${sqlGround("quantile_cont(value, 0.95)", 4)} AS hi
         |  FROM events GROUP BY event_type
         |)
         |SELECT e.event_type, count(*) AS n,
         |  CAST(sum((e.value < b.lo)::int) AS BIGINT) AS n_lo_clipped,
         |  CAST(sum((e.value > b.hi)::int) AS BIGINT) AS n_hi_clipped,
         |  ${sqlGround(s"${sqlDsum("e.value")} / count(*)", 4)} AS raw_mean,
         |  ${sqlGround(
               s"${sqlDsum("least(greatest(e.value, b.lo), b.hi)")} / count(*)",
               4)} AS wins_mean
         |FROM events e JOIN bounds b USING (event_type)
         |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,

    "q_mad_outliers" ->
      s"""WITH med AS (
         |  SELECT event_type,
         |    ${sqlGround("quantile_cont(value, 0.5)", 4)} AS med
         |  FROM events GROUP BY event_type
         |), dev AS (
         |  SELECT e.event_type, e.value, m.med,
         |    abs(e.value - m.med) AS adev
         |  FROM events e JOIN med m USING (event_type)
         |), mad AS (
         |  SELECT event_type,
         |    ${sqlGround("quantile_cont(adev, 0.5)", 4)} AS mad
         |  FROM dev GROUP BY event_type
         |)
         |SELECT d.event_type, count(*) AS n,
         |  any_value(d.med) AS med, any_value(a.mad) AS mad,
         |  CAST(sum((d.adev > a.mad * 3)::int) AS BIGINT) AS n_outliers,
         |  ${sqlGround("sum((d.adev > a.mad * 3)::int) * 1.0 / count(*)", 6)}
         |    AS outlier_rate
         |FROM dev d JOIN mad a USING (event_type)
         |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,

    "q_top_unshipped" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         |  ${sqlDsum("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |  AND l_shipdate > TIMESTAMP '1998-01-01'
         |GROUP BY l_orderkey, o_orderdate, o_orderpriority
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
  )
}
