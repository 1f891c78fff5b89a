package graft

import org.apache.spark.sql.functions._

import graft.api.Graft

/** Doc-tests for the public façade: every quickstart snippet in
  * [[graft.api.Graft]]'s scaladoc compiles and runs here, against the real
  * fixtures, with the façade's DEFAULTS — if a default stops working at
  * fixture scale, the quickstart is broken and this spec says so.
  */
class ApiSpec extends SparkSpec {

  private lazy val docs = graft.io.Tables.documents(spark, TestSpark.sf0001)
  private lazy val vectors =
    graft.io.Tables.embeddings(spark, TestSpark.sf0001)

  test("quickstart: dedup (exact + near) runs with defaults") {
    val keepers = Graft.dedupExact(docs, "text", "doc_id")
    assert(keepers.columns.toSet ==
      Set("content_hash", "n_copies", "keeper_id"))
    assert(keepers.count() > 0 && keepers.count() <= docs.count())
    val clusters = Graft.dedupNear(docs, "text", "doc_id", threshold = 0.5)
    assert(clusters.columns.toSet == Set("id", "cluster_id"))
    // every clustered id maps to a keeper at or below it (min-id keeper)
    assert(clusters.filter(col("cluster_id") > col("id")).count() == 0)
  }

  test("quickstart: ANN top-k and semantic pairs over embeddings") {
    val nn = Graft.annTopK(vectors, "vec_id", "embedding", k = 5,
      nBuckets = 8)
    assert(nn.columns.toSeq ==
      Seq("query_id", "neighbor_id", "cosine", "rank"))
    val byQuery = nn.groupBy("query_id").count().collect()
    assert(byQuery.nonEmpty && byQuery.forall(_.getLong(1) <= 5))
    val pairs = Graft.semanticPairs(vectors, "vec_id", "embedding",
      threshold = 0.3, nBuckets = 8)
    assert(pairs.columns.toSeq == Seq("id_a", "id_b", "cosine"))
    assert(pairs.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("quickstart: every ANN facade path shares the output contract") {
    // same schema, per-query k bound, rank 1..n contiguous — for the
    // multi-probe, sq8, and full ivf+sq8 paths the facade now exposes
    // (r7/r8 item: annTopK alone hard-coded bucketedNN)
    val paths: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "multiprobe" -> Graft.annTopKMultiProbe(vectors, "vec_id", "embedding",
        k = 5, nProbe = 2, nBuckets = 8),
      "sq8" -> Graft.annTopKSq8(vectors, "vec_id", "embedding",
        k = 5, nBuckets = 8),
      "ivf_sq8" -> Graft.annTopKIvfSq8(vectors, "vec_id", "embedding",
        k = 5, nProbe = 2, nBuckets = 8),
      "hyperplane" -> Graft.annTopKHyperplane(vectors, "vec_id", "embedding",
        k = 5, dim = 64, nPlanes = 4),
      "pq" -> Graft.annTopKPq(vectors, "vec_id", "embedding",
        k = 5, dim = 64, nBuckets = 8),
      "ivf_pq" -> Graft.annTopKIvfPq(vectors, "vec_id", "embedding",
        k = 5, dim = 64, nProbe = 2, nBuckets = 8),
      "pq_adc" -> Graft.annTopKPqAdc(vectors, "vec_id", "embedding",
        k = 5, dim = 64, nBuckets = 8),
      "ivf_pq_res" -> Graft.annTopKIvfPqRes(vectors, "vec_id", "embedding",
        k = 5, dim = 64, nProbe = 2, nBuckets = 8))
    for ((name, nn) <- paths) {
      assert(nn.columns.toSeq ==
        Seq("query_id", "neighbor_id", "cosine", "rank"), s"$name schema")
      val byQuery = nn.groupBy("query_id")
        .agg(count(lit(1)).as("n"), max(col("rank")).as("mx")).collect()
      assert(byQuery.nonEmpty, s"$name returned no rows")
      byQuery.foreach { r =>
        assert(r.getLong(1) <= 5 && r.getLong(2) == r.getLong(1),
          s"$name rank contract broken for ${r.get(0)}: $r")
      }
      // multi-probe paths must not duplicate a (query, neighbor) pair
      assert(nn.groupBy("query_id", "neighbor_id").count()
        .filter(col("count") > 1).count() == 0, s"$name duplicated pairs")
    }
  }

  test("auto-k default: nBuckets<=0 derives k from the corpus count") {
    // the facade default (nBuckets = 0) must run end-to-end and honor the
    // output contract — at fixture scale (≤1024 vectors) auto-k resolves
    // to the floor of 16 cells
    val nn = Graft.annTopK(vectors, "vec_id", "embedding", k = 5)
    assert(nn.columns.toSeq ==
      Seq("query_id", "neighbor_id", "cosine", "rank"))
    val byQuery = nn.groupBy("query_id").count().collect()
    assert(byQuery.nonEmpty && byQuery.forall(_.getLong(1) <= 5))
    // the documented clamp: ceil(n/1024) bounded to [16, 4096] — spot the
    // formula at three decades so the SCALING.md lever stays honest
    def autoK(n: Long): Long =
      math.min(4096L, math.max(16L, (n + 1023L) / 1024L))
    assert(autoK(2000L) == 16L)       // 1× fixture decade
    assert(autoK(200000L) == 196L)    // the SCALING.md 200k-vector corpus
    assert(autoK(20000000L) == 4096L) // clamped at the measured k ceiling
  }

  test("multimodal facade: files → decode → resize → frames") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-api-media").toString
    Files.write(Paths.get(dir, "a.png"),
      graft.ext.Multimodal.Synthetic.png(40, 20, seed = 1L))
    Files.write(Paths.get(dir, "b.gif"),
      graft.ext.Multimodal.Synthetic.gif(10, 10, 3, seed = 2L))
    val media = Graft.mediaFromFiles(spark, dir)
    val meta = Graft.decodeMedia(spark, media)
      .orderBy("format").collect()
    assert(meta.map(_.getAs[String]("format")).toSeq ==
      Seq("img/gif", "img/png"))
    assert(meta.map(r => (r.getAs[Long]("width"), r.getAs[Long]("n_frames")))
      .toSeq == Seq((10L, 3L), (40L, 1L)))
    val resized = Graft.resizeMedia(spark, media, 16, 16)
    assert(resized.filter(col("raster")).count() == 2)
    assert(resized.filter(col("resized_w") > 16 || col("resized_h") > 16)
      .count() == 0)
    val frames = Graft.extractFrames(spark, media)
    assert(frames.count() == 4) // 3 GIF frames + 1 PNG frame
    assert(frames.filter(!col("raster")).count() == 0)
  }

  test("quickstart: quality, language ID, split, chunking") {
    val scored = Graft.quality(docs, "text")
    assert(scored.columns.contains("quality"))
    assert(scored.filter(col("quality").isNull).count() == 0)
    val tagged = Graft.languageId(docs, "text")
    assert(tagged.columns.contains("lang_pred"))
    assert(tagged.filter(col("lang_pred").isNull).count() == 0)
    val split = Graft.trainValTestSplit(docs, "doc_id", salt = "v1")
    val kinds = split.select("split").distinct().collect()
      .map(_.getString(0)).toSet
    assert(kinds.subsetOf(Set("train", "val", "test")) && kinds("train"))
    val labeled = Graft.quality(docs, "text")
      .withColumn("lbl", col("quality") >= 0.5)
    val scoredNb = Graft.qualityClassifier(labeled, labeled, "text",
      "doc_id", "lbl")
    assert(scoredNb.columns.toSeq ==
      Seq("doc_id", "n_tokens", "margin", "pred"))
    assert(scoredNb.count() == docs.count())
    val rules = Graft.gopherRules(docs, "text", "doc_id", minTokens = 10)
    assert(rules.columns.takeRight(6).toSeq ==
      Seq("r_len", "r_word_len", "r_stop", "r_punct", "r_rep", "keep"))
    assert(rules.count() == docs.count())
    val chunks = Graft.chunk(docs, "text", "doc_id", chunkSize = 128)
    assert(chunks.columns.toSet ==
      Set("doc_id", "chunk_id", "chunk_start", "n_chunk_tokens",
        "chunk_text"))
    assert(chunks.filter(col("n_chunk_tokens") > 128).count() == 0)
  }

  test("quickstart: temperature mixture sample and hard-negative mining") {
    // temperature sample with defaults: full budget, sqrt flattening —
    // every group keeps at most its own size, and the total is bounded
    // by the corpus
    val kept = Graft.temperatureSample(docs, "lang", "doc_id", salt = "v1")
    assert(kept.count() > 0 && kept.count() <= docs.count())
    val perLang = kept.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val sizes = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perLang.forall { case (l, n) => n <= sizes(l) })
    // hard negatives compose on any ANN result frame
    val nn = Graft.annTopK(vectors, "vec_id", "embedding", k = 4)
    val neg = Graft.annHardNegatives(nn)
    assert(neg.columns.toSeq == Seq("query_id", "pos_id", "neg_id",
      "neg_rank", "cosine", "margin"))
    assert(neg.filter(col("neg_rank") < 1 || col("margin") < 0)
      .count() == 0)
  }

  test("quickstart: persisted ANN index build + search with defaults") {
    val corpus = vectors.filter(col("vec_id") % 2 === 0)
    val queries = vectors.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-api-index").toString
    Graft.annIndexBuild(corpus, "vec_id", "embedding", dir, dim = 64,
      nBuckets = 8)
    val served = Graft.annIndexSearch(spark, dir, queries, "vec_id",
      "embedding", k = 5)
    assert(served.columns.toSeq ==
      Seq("query_id", "neighbor_id", "cosine", "rank"))
    assert(served.count() > 0)
    assert(served.filter(col("neighbor_id") % 2 === 1).count() == 0)
    val live = Graft.annSearch(corpus, queries, "vec_id", "embedding",
      k = 5, dim = 64, nBuckets = 8)
    assert(served.exceptAll(live).count() == 0 &&
      live.exceptAll(served).count() == 0,
      "facade persisted-index results diverged from live annSearch")
  }

  test("quickstart: BPE train + token counts with defaults") {
    val (merges, dict) = Graft.bpeTrain(docs, "text", nMerges = 4)
    assert(merges.size == 4 &&
      merges.map(_.rank) == Seq(1, 2, 3, 4))
    assert(dict.columns.toSet == Set("word", "freq", "syms"))
    val counts = Graft.bpeTokenCounts(docs, "text", "doc_id", dict,
      carryCols = Seq("lang"))
    assert(counts.columns.toSeq == Seq("lang", "doc_id", "n_tokens"))
    // every doc has at least one token and no more than its char count
    assert(counts.filter(col("n_tokens") < 1).count() == 0)
    assert(counts.count() == docs.count())
    // batched trainer (README snippet): iteration-based contract, global
    // ranks; batch=1 would reproduce bpeTrain exactly (BpeSpec pins it)
    val (rulesB, dictB) = Graft.bpeTrainBatched(docs, "text", nIters = 2,
      batch = 4)
    assert(rulesB.nonEmpty && rulesB.size <= 8 &&
      rulesB.map(_.rank) == (1 to rulesB.size))
    assert(dictB.columns.toSet == Set("word", "freq", "syms"))
  }

  test("quickstart: the one-plan corpus-build recipe (corpusBuild)") {
    // gates compose: output is the per-(group, pack) summary and the
    // surviving doc count can only shrink through the gate chain
    val (_, dict) = Graft.bpeTrain(docs, "text", nMerges = 4)
    val packs = Graft.corpusBuild(docs, "text", "doc_id", "lang", dict,
      minTokens = 10)
    assert(packs.columns.toSeq == Seq("lang", "pack_id", "n_docs",
      "pack_tokens", "first_doc", "last_doc"))
    val survivors = packs.agg(sum(col("n_docs"))).head.getLong(0)
    assert(survivors > 0 && survivors <= docs.count(),
      s"gate chain produced $survivors of ${docs.count()} docs")
    // every pack respects the per-group offset discipline: pack_ids are
    // contiguous from 0 within each group
    val bad = packs.groupBy("lang")
      .agg(min(col("pack_id")).as("mn"), max(col("pack_id")).as("mx"),
        count(lit(1)).as("n"))
      .filter(col("mn") =!= 0 || col("mx") =!= col("n") - 1).count()
    assert(bad == 0, "pack_id not contiguous per group")
  }

  test("corpusBuildTrained: Batched(1) ≡ Sequential through the FULL " +
    "composition, and Batched(B) yields a valid drop-in dictionary") {
    // the trainer knob (VERDICT r11 item 2): the batched dictionary must
    // flow through gate chain -> mixture -> encode -> packing unchanged
    // when B=1 (pool rule degenerates to the sequential argmax), and a
    // genuinely batched dictionary must still produce a well-formed pack
    // summary (order may differ from sequential past the first batch —
    // the documented approximation)
    val seq = Graft.corpusBuildTrained(docs, "text", "doc_id", "lang",
      nMerges = 4, trainer = Graft.BpeTrainer.Sequential, minTokens = 10)
    val b1 = Graft.corpusBuildTrained(docs, "text", "doc_id", "lang",
      nMerges = 4, trainer = Graft.BpeTrainer.Batched(1), minTokens = 10)
    assert(b1.exceptAll(seq).count() == 0 && seq.exceptAll(b1).count() == 0,
      "Batched(1) corpus build diverged from Sequential")
    val b2 = Graft.corpusBuildTrained(docs, "text", "doc_id", "lang",
      nMerges = 4, trainer = Graft.BpeTrainer.Batched(2), minTokens = 10)
    assert(b2.columns.toSeq == seq.columns.toSeq)
    assert(b2.agg(sum(col("n_docs"))).head.getLong(0) ==
      seq.agg(sum(col("n_docs"))).head.getLong(0),
      "the gate chain is tokenizer-independent — survivor counts must " +
        "match across trainers")
  }

  test("corpusBuildDelta: chained deltas == one frozen-artifact batch " +
    "pass, and a cross-delta duplicate drops against the keeper state") {
    import graft.ext.{NbClassifier, Sampling, TextAnalysis => TA}
    val labeled = TA.withTokenStats(docs, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("doc_id"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
      "text", "doc_id", "label_weak")
    val (_, dict) = Graft.bpeTrain(docs, "text", nMerges = 4)
    def summarize(p: org.apache.spark.sql.DataFrame) =
      graft.ext.Packing.packSummary(
        p.select(col("lang"), col("doc_id"), col("n_tokens"),
          col("pack_id")),
        Seq("lang"), "doc_id", "n_tokens")
    // one frozen-artifact batch pass over everything…
    val (pAll, _) = Graft.corpusBuildDelta(docs, "text", "doc_id", "lang",
      model, dict, state = None, minTokens = 10)
    // …must equal the same corpus arriving as two id-ordered deltas
    val (p1, st1) = Graft.corpusBuildDelta(docs.filter(col("doc_id") < 250),
      "text", "doc_id", "lang", model, dict, state = None, minTokens = 10)
    val (p2, st2) = Graft.corpusBuildDelta(
      docs.filter(col("doc_id") >= 250), "text", "doc_id", "lang", model,
      dict, state = Some(st1), minTokens = 10)
    val one = summarize(pAll)
    val two = summarize(p1.unionByName(p2))
    assert(one.exceptAll(two).count() == 0 &&
      two.exceptAll(one).count() == 0,
      "two chained deltas diverged from the one-shot frozen batch pass")
    // a later delta re-delivering an ALREADY-KEPT text (new id, same
    // content — the re-crawl case) must drop against the keeper state,
    // not re-enter the corpus
    val keptId = p1.select(col("doc_id")).orderBy(col("doc_id"))
      .head().getLong(0)
    val recrawl = docs.filter(col("doc_id") === keptId)
      .withColumn("doc_id", lit(999999L))
    val (p3, st3) = Graft.corpusBuildDelta(recrawl, "text", "doc_id",
      "lang", model, dict, state = Some(st2), minTokens = 10)
    assert(p3.count() == 0,
      "re-crawled duplicate of a kept doc re-entered the corpus")
    // the duplicate also must not advance the state
    assert(st3.offsets.exceptAll(st2.offsets).count() == 0 &&
      st2.offsets.exceptAll(st3.offsets).count() == 0,
      "a fully-duplicate delta moved the token offsets")
    // the equivalence precondition is enforced: an out-of-order delta
    // (id at/below history's max kept id) fails loudly instead of
    // silently diverging from the batch contract
    val outOfOrder = docs.filter(col("doc_id") === keptId)
    val e = intercept[IllegalArgumentException] {
      Graft.corpusBuildDelta(outOfOrder, "text", "doc_id", "lang", model,
        dict, state = Some(st2), minTokens = 10)
    }
    assert(e.getMessage.contains("id-ordered"),
      s"wrong failure mode: ${e.getMessage}")
    // …and the opt-out accepts it (pack-order divergence acknowledged);
    // it still dedups against state, so this duplicate yields no rows
    val (p4, _) = Graft.corpusBuildDelta(outOfOrder, "text", "doc_id",
      "lang", model, dict, state = Some(st2), minTokens = 10,
      checkIdOrder = false)
    assert(p4.count() == 0)
  }

  test("mixtureOverCorpus: the deferred batch mixture over chained " +
    "deltas equals the mixture over the one-shot corpus") {
    import graft.ext.{NbClassifier, Sampling, TextAnalysis => TA}
    val labeled = TA.withTokenStats(docs, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("doc_id"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
      "text", "doc_id", "label_weak")
    val (_, dict) = Graft.bpeTrain(docs, "text", nMerges = 4)
    def perDoc(p: org.apache.spark.sql.DataFrame) =
      p.select(col("lang"), col("doc_id"), col("n_tokens"))
    val (pAll, _) = Graft.corpusBuildDelta(docs, "text", "doc_id", "lang",
      model, dict, state = None, minTokens = 10)
    val (p1, st1) = Graft.corpusBuildDelta(docs.filter(col("doc_id") < 250),
      "text", "doc_id", "lang", model, dict, state = None, minTokens = 10)
    val (p2, _) = Graft.corpusBuildDelta(
      docs.filter(col("doc_id") >= 250), "text", "doc_id", "lang", model,
      dict, state = Some(st1), minTokens = 10)
    val one = Graft.mixtureOverCorpus(perDoc(pAll), "lang", "doc_id")
    val two = Graft.mixtureOverCorpus(perDoc(p1.unionByName(p2)),
      "lang", "doc_id")
    assert(one.exceptAll(two).count() == 0 &&
      two.exceptAll(one).count() == 0,
      "mixture over the merged incremental corpus diverged from the " +
        "one-shot corpus mixture")
    // the mixture is a genuine subset realization: ~share of the corpus,
    // never more, re-packed from offset zero per group
    val keptDocs = two.agg(sum(col("n_docs"))).head().getLong(0)
    assert(keptDocs > 0 && keptDocs <= pAll.count(),
      s"mixture kept $keptDocs of ${pAll.count()} docs")
    assert(two.filter(col("pack_id") === 0).count() > 0,
      "re-laid packs must restart at pack 0")
  }

  test("withIngestIds: deterministic dense monotone ids over arbitrary " +
    "keys, stable under repartitioning, loud on duplicate keys") {
    import spark.implicits._
    val delta = Seq("url://b", "url://a", "url://zz", "url://m", "url://0")
      .map(k => (k, s"payload $k")).toDF("url", "text")
    val (r1, next1) = Graft.withIngestIds(delta, "url", base = 100L)
    assert(next1 == 105L, "nextBase must advance by the full delta size")
    val ids = r1.select(col("ingest_id")).collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (101L to 105L),
      s"ids must be dense in (base, base+n]: ${ids.toSeq}")
    // a pure function of the key: same assignment after repartitioning
    val m1 = r1.select(col("url"), col("ingest_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (r2, _) = Graft.withIngestIds(delta.repartition(7), "url",
      base = 100L)
    val m2 = r2.select(col("url"), col("ingest_id")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m1 == m2, "ingest ids must be partitioning-invariant")
    // duplicate natural keys fail loudly (nondeterministic order)
    val e = intercept[IllegalArgumentException] {
      Graft.withIngestIds(delta.unionAll(delta.limit(1)), "url")
    }
    assert(e.getMessage.contains("not unique"),
      s"wrong failure mode: ${e.getMessage}")
    // null keys fail loudly (no deterministic ingest position)
    val eNull = intercept[IllegalArgumentException] {
      Graft.withIngestIds(delta.unionByName(
        Seq((null.asInstanceOf[String], "t")).toDF("url", "text")), "url")
    }
    assert(eNull.getMessage.contains("NULL"),
      s"wrong failure mode: ${eNull.getMessage}")
    // an EMPTY delta threads the base through unchanged
    val (rEmpty, nextE) = Graft.withIngestIds(
      delta.filter(lit(false)), "url", base = 42L)
    assert(rEmpty.count() == 0 && nextE == 42L,
      "empty delta must assign nothing and keep the base")
  }

  test("withIngestIds: re-id'd arbitrary-keyed deltas chain through " +
    "corpusBuildDelta and equal the one-shot batch over the re-id'd " +
    "union — the q_corpus_build_reid contract in-Spark") {
    import graft.ext.{NbClassifier, Sampling, TextAnalysis => TA}
    // the natural key: reversed decimal doc_id — unique, and sorts in
    // NEITHER arrival nor hash order (the arbitrary-key crawl shape)
    def keyed(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("ukey",
          concat(lit("u-"), reverse(col("doc_id").cast("string"))))
        .drop("doc_id")
    val all = keyed(docs)
    val labeled = TA.withTokenStats(all, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("ukey"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("ukey"), "graft") < 80),
      "text", "ukey", "label_weak")
    val (_, dict) = Graft.bpeTrain(docs, "text", nMerges = 4)
    val (d1, b1) = Graft.withIngestIds(
      keyed(docs.filter(col("doc_id") < 250)), "ukey")
    val (d2, _) = Graft.withIngestIds(
      keyed(docs.filter(col("doc_id") >= 250)), "ukey", base = b1)
    val (p1, st1) = Graft.corpusBuildDelta(d1, "text", "ingest_id",
      "lang", model, dict, state = None, minTokens = 10)
    val (p2, _) = Graft.corpusBuildDelta(d2, "text", "ingest_id", "lang",
      model, dict, state = Some(st1), minTokens = 10)
    // the one-shot frozen batch over the re-id'd union
    val (pAll, _) = Graft.corpusBuildDelta(d1.unionByName(d2), "text",
      "ingest_id", "lang", model, dict, state = None, minTokens = 10)
    def summarize(p: org.apache.spark.sql.DataFrame) =
      graft.ext.Packing.packSummary(
        p.select(col("lang"), col("ingest_id"), col("n_tokens"),
          col("pack_id")),
        Seq("lang"), "ingest_id", "n_tokens")
    val one = summarize(pAll)
    val two = summarize(p1.unionByName(p2))
    assert(one.exceptAll(two).count() == 0 &&
      two.exceptAll(one).count() == 0,
      "re-id'd chained deltas diverged from the one-shot batch")
    assert(two.count() > 0, "the reid composition produced no packs")
  }

  test("KeyedCorpusShardsState.superseded: the per-delta supersession " +
    "feed equals the batch replay's supersede pairs — empty for the " +
    "stateless first delta and for FirstWins/KeepAll") {
    import graft.ext.{Bpe, Dedup, NbClassifier, Sampling,
      TextAnalysis => TA}
    val G = Graft
    def uk(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("ukey",
        concat(lit("u-"), reverse(col("doc_id").cast("string"))))
        .drop("doc_id")
    val d1 = uk(docs.filter(col("doc_id") < 200))
    val d2 = uk(docs.filter(col("doc_id") >= 200)).unionByName(
      uk(docs.filter(col("doc_id") < 200 && col("doc_id") % 29 === 5)
        .withColumn("text", concat(col("text"), lit(" fresh revision")))))
    val (r1, b1) = G.withIngestIds(d1, "ukey")
    val (r2, _) = G.withIngestIds(d2, "ukey", base = b1)
    val union = r1.unionByName(r2)
    val labeled = TA.withTokenStats(union, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("ingest_id"), col("ukey"), col("text"),
        col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("ukey"), "graft") < 80),
      "text", "ingest_id", "label_weak")
    val (merges, dict) = G.bpeTrain(docs, "text", nMerges = 4)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    def absorb(p: G.RekeyPolicy)
        : (G.KeyedCorpusShardsState, G.KeyedCorpusShardsState) = {
      val (_, st1) = G.corpusShardsDeltaRekeyed(r1, "text", "ingest_id",
        "ukey", "lang", model, tok, state = None, policy = p,
        minTokens = 10)
      val (_, st2) = G.corpusShardsDeltaRekeyed(r2, "text", "ingest_id",
        "ukey", "lang", model, tok, state = Some(st1), policy = p,
        minTokens = 10)
      (st1, st2)
    }
    val (st1, st2) = absorb(G.RekeyPolicy.LatestWins)
    assert(st1.superseded.nonEmpty && st2.superseded.nonEmpty,
      "every absorb must populate the feed")
    assert(st1.superseded.get.isEmpty,
      "the stateless first delta cannot supersede anything")
    val feed = st2.superseded.get
    assert(feed.columns.toSeq ==
      Seq("ukey", "ingest_id", "lang", "superseded_by"),
      s"feed schema drifted: ${feed.columns.toSeq}")
    // batch replay of the rule: among ACCEPTED versions (gate + global
    // min-id digest keeper), every version with a later accepted version
    // of the same key is superseded BY the earliest such
    val gated = graft.streaming.StreamingCorpus.qualityGate(union, "text",
        "ingest_id", model, minTokens = 10)
      .select(union.columns.map(col): _*)
    val acc = gated.join(Dedup.exactGroups(gated, "text", "ingest_id")
      .select(col("keeper_id").as("ingest_id")), Seq("ingest_id"),
      "left_semi")
    val exp = acc.as("a").join(acc.as("b"),
        col("a.ukey") === col("b.ukey") &&
          col("a.ingest_id") < col("b.ingest_id"))
      .groupBy(col("a.ukey").as("ukey"),
        col("a.ingest_id").as("ingest_id"), col("a.lang").as("lang"))
      .agg(min(col("b.ingest_id")).as("superseded_by"))
    assert(feed.count() > 0, "the fixture must supersede something")
    assert(feed.exceptAll(exp).count() == 0 &&
      exp.exceptAll(feed).count() == 0,
      "the supersession feed diverged from the batch replay's pairs")
    // policies that never supersede emit empty feeds — the consumer can
    // wire the invalidation unconditionally
    for (p <- Seq(G.RekeyPolicy.FirstWins, G.RekeyPolicy.KeepAll)) {
      val (s1, s2) = absorb(p)
      assert(s1.superseded.get.isEmpty && s2.superseded.get.isEmpty,
        s"$p must never supersede")
    }
  }

  test("corpusShardsDeltaRekeyed: latest-wins supersedes a re-crawled " +
    "key's old version, first-wins drops the re-crawl, keep-all keeps " +
    "both — each equal to its batch replay") {
    import graft.ext.{Bpe, Dedup, NbClassifier, Packing, Sampling,
      TextAnalysis => TA}
    val G = Graft
    // three deltas; delta 3 re-delivers every doc_id % 29 == 5 key
    // below 300 with CHANGED content plus fresh keys
    def uk(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("ukey",
        concat(lit("u-"), reverse(col("doc_id").cast("string"))))
        .drop("doc_id")
    val d1 = uk(docs.filter(col("doc_id") < 150))
    val d2 = uk(docs.filter(col("doc_id") >= 150 && col("doc_id") < 300))
    val d3 = uk(docs.filter(col("doc_id") >= 300)).unionByName(
      uk(docs.filter(col("doc_id") < 300 && col("doc_id") % 29 === 5)
        .withColumn("text", concat(col("text"), lit(" fresh revision")))))
    val (r1, b1) = G.withIngestIds(d1, "ukey")
    val (r2, b2) = G.withIngestIds(d2, "ukey", base = b1)
    val (r3, _) = G.withIngestIds(d3, "ukey", base = b2)
    val union = r1.unionByName(r2).unionByName(r3)
    val labeled = TA.withTokenStats(union, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("ingest_id"), col("ukey"), col("text"),
        col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("ukey"), "graft") < 80),
      "text", "ingest_id", "label_weak")
    val (merges, dict) = G.bpeTrain(docs, "text", nMerges = 4)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    def runPolicy(p: G.RekeyPolicy)
        : (org.apache.spark.sql.DataFrame, G.KeyedCorpusShardsState) = {
      val (s1, st1) = G.corpusShardsDeltaRekeyed(r1, "text", "ingest_id",
        "ukey", "lang", model, tok, state = None, policy = p,
        minTokens = 10)
      val (s2, st2) = G.corpusShardsDeltaRekeyed(r2, "text", "ingest_id",
        "ukey", "lang", model, tok, state = Some(st1), policy = p,
        minTokens = 10)
      val (s3, st3) = G.corpusShardsDeltaRekeyed(r3, "text", "ingest_id",
        "ukey", "lang", model, tok, state = Some(st2), policy = p,
        minTokens = 10)
      (s1.unionByName(s2).unionByName(s3), st3)
    }
    val gated = graft.streaming.StreamingCorpus.qualityGate(union, "text",
        "ingest_id", model, minTokens = 10)
      .select(union.columns.map(col): _*)
    def acceptedOf(base: org.apache.spark.sql.DataFrame) =
      base.join(Dedup.exactGroups(base, "text", "ingest_id")
        .select(col("keeper_id").as("ingest_id")), Seq("ingest_id"),
        "left_semi")
    def shardsOver(live: org.apache.spark.sql.DataFrame) = {
      val enc = tok.encodeIds(live, "text", "ingest_id")
        .join(live.select(col("ingest_id"), col("lang")), Seq("ingest_id"))
      Packing.shardTokens(enc, Seq("lang"), "ingest_id", 256)
    }
    // LATEST-WINS: emitted + compaction == batch over the LIVE set
    // (accepted minus versions superseded by a later accepted same-key)
    val (emittedL, stL) = runPolicy(G.RekeyPolicy.LatestWins)
    val gotL = fp(G.corpusShardsRekeyedCompact(union, "text", "ingest_id",
      "lang", tok, stL, emittedL))
    val acc = acceptedOf(gated)
    val supIds = acc.as("a").join(acc.as("b"),
        col("a.ukey") === col("b.ukey") &&
          col("a.ingest_id") < col("b.ingest_id"), "left_semi")
      .select(col("ingest_id"))
    val liveL = acc.join(supIds, Seq("ingest_id"), "left_anti")
    assert(fp(shardsOver(liveL)).exceptAll(gotL).count() == 0 &&
      gotL.exceptAll(fp(shardsOver(liveL))).count() == 0,
      "latest-wins incremental + compaction diverged from the batch " +
        "replay over live docs")
    // the supersession genuinely happened and the state records it
    val supCount = stL.keepers
      .filter(col("kept") && !col("live")).count()
    assert(supCount > 0 && supCount == supIds.count(),
      s"state superseded rows $supCount != replay ${supIds.count()}")
    // a superseded key holds exactly one LIVE version — the latest
    val multiLive = stL.keepers.filter(col("kept") && col("live"))
      .groupBy(col("ukey")).count().filter(col("count") > 1)
    assert(multiLive.isEmpty, "a key holds two live versions")
    // FIRST-WINS: the re-crawl drops whatever its content — batch
    // replay keeps each key's FIRST gated version, then digest-dedups
    val (emittedF, stF) = runPolicy(G.RekeyPolicy.FirstWins)
    val gotF = fp(emittedF.unionByName(
      Graft.tokenShardsFlush(stF.shards, Seq("lang"), 256)))
    val firstPerKey = gated.join(
      gated.groupBy(col("ukey")).agg(min(col("ingest_id")).as("ingest_id")),
      Seq("ukey", "ingest_id"), "left_semi")
    val liveF = acceptedOf(firstPerKey)
    assert(fp(shardsOver(liveF)).exceptAll(gotF).count() == 0 &&
      gotF.exceptAll(fp(shardsOver(liveF))).count() == 0,
      "first-wins incremental diverged from the first-version batch replay")
    assert(stF.keepers.filter(!col("live") && col("kept")).isEmpty,
      "first-wins must never supersede")
    // the keyed state persists through the same versioned lifecycle:
    // chaining compaction off the LOADED state equals the live one
    val dirR = java.nio.file.Files
      .createTempDirectory("graft-rekeystate").toString
    G.corpusRekeyedStateSave(stL, dirR)
    val stLoaded = G.corpusRekeyedStateLoad(spark, dirR)
    val gotLoaded = fp(G.corpusShardsRekeyedCompact(union, "text",
      "ingest_id", "lang", tok, stLoaded, emittedL))
    assert(gotLoaded.exceptAll(gotL).count() == 0 &&
      gotL.exceptAll(gotLoaded).count() == 0,
      "compaction off the loaded keyed state diverged from the live one")
    // KEEP-ALL: explicitly today's behavior — equal to the UNKEYED loop
    // over the same deltas (both versions of the re-crawled key train)
    val (emittedK, stK) = runPolicy(G.RekeyPolicy.KeepAll)
    val gotK = fp(emittedK.unionByName(
      Graft.tokenShardsFlush(stK.shards, Seq("lang"), 256)))
    val (u1, ut1) = G.corpusShardsDelta(r1, "text", "ingest_id", "lang",
      model, tok, state = None, minTokens = 10)
    val (u2, ut2) = G.corpusShardsDelta(r2, "text", "ingest_id", "lang",
      model, tok, state = Some(ut1), minTokens = 10)
    val (u3, ut3) = G.corpusShardsDelta(r3, "text", "ingest_id", "lang",
      model, tok, state = Some(ut2), minTokens = 10)
    val gotU = fp(u1.unionByName(u2).unionByName(u3).unionByName(
      Graft.tokenShardsFlush(ut3.shards, Seq("lang"), 256)))
    assert(gotK.exceptAll(gotU).count() == 0 &&
      gotU.exceptAll(gotK).count() == 0,
      "keep-all diverged from the unkeyed loop")
  }

  test("corpusRekeyedStateCompact: absorbing deltas over the compacted " +
    "state is identical to the full state for all three policies, and " +
    "the state stops growing with re-deliveries") {
    import graft.ext.{Bpe, NbClassifier, Sampling, TextAnalysis => TA}
    val G = Graft
    def uk(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("ukey",
        concat(lit("u-"), reverse(col("doc_id").cast("string"))))
        .drop("doc_id")
    // delta 2 re-delivers UNCHANGED content (the nightly-recrawl shape
    // that grows the state with dead rows); delta 3 re-delivers CHANGED
    // content (supersession must work over the compacted state)
    val d1 = uk(docs.filter(col("doc_id") < 200))
    val d2 = uk(docs.filter(col("doc_id") >= 200 && col("doc_id") < 350))
      .unionByName(uk(docs.filter(col("doc_id") < 200 &&
        col("doc_id") % 23 === 7)))
    val d3 = uk(docs.filter(col("doc_id") >= 350)).unionByName(
      uk(docs.filter(col("doc_id") < 350 && col("doc_id") % 31 === 4)
        .withColumn("text", concat(col("text"), lit(" changed anew")))))
    val (r1, b1) = G.withIngestIds(d1, "ukey")
    val (r2, b2) = G.withIngestIds(d2, "ukey", base = b1)
    val (r3, _) = G.withIngestIds(d3, "ukey", base = b2)
    val union = r1.unionByName(r2).unionByName(r3)
    val labeled = TA.withTokenStats(union, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("ingest_id"), col("ukey"), col("text"),
        col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("ukey"), "graft") < 80),
      "text", "ingest_id", "label_weak")
    val (merges, dict) = G.bpeTrain(docs, "text", nMerges = 4)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    def same(a: org.apache.spark.sql.DataFrame,
             b: org.apache.spark.sql.DataFrame): Boolean =
      a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0
    for (p <- Seq(G.RekeyPolicy.LatestWins, G.RekeyPolicy.FirstWins,
        G.RekeyPolicy.KeepAll)) {
      def step(d: org.apache.spark.sql.DataFrame,
               st: Option[G.KeyedCorpusShardsState]) =
        G.corpusShardsDeltaRekeyed(d, "text", "ingest_id", "ukey",
          "lang", model, tok, state = st, policy = p, minTokens = 10)
      def compact(st: G.KeyedCorpusShardsState) =
        G.corpusRekeyedStateCompact(st, "ukey", "ingest_id")
      // full chain vs compact-after-every-delta chain
      val (s1f, f1) = step(r1, None)
      val (s2f, f2) = step(r2, Some(f1))
      val (s3f, f3) = step(r3, Some(f2))
      val (s1c, c0) = step(r1, None)
      val (s2c, c1) = step(r2, Some(compact(c0)))
      val (s3c, c2) = step(r3, Some(compact(c1)))
      assert(same(fp(s2c), fp(s2f)) && same(fp(s3c), fp(s3f)) &&
        same(fp(s1c), fp(s1f)),
        s"$p: delta absorbed over compacted state emitted different shards")
      // every projection a future consumer reads is preserved
      val cf = compact(f3)
      def proj(st: G.KeyedCorpusShardsState) = (
        st.keepers.filter(col("kept") && col("live"))
          .select(col("ukey"), col("ingest_id"), col("n_tokens")),
        st.keepers.select(col("content_hash")).distinct(),
        st.keepers.select(col("ukey")).distinct())
      val (lA, dA, kA) = proj(cf)
      val (lB, dB, kB) = proj(f3)
      assert(same(lA, lB) && same(dA, dB) && same(kA, kB),
        s"$p: compaction lost a live row, digest, or key")
      // under LatestWins the shard compaction over the compacted state
      // equals the full-state one (cuts/offsets survive)
      if (p == G.RekeyPolicy.LatestWins) {
        val em = s1f.unionByName(s2f).unionByName(s3f)
        assert(same(
          fp(G.corpusShardsRekeyedCompact(union, "text", "ingest_id",
            "lang", tok, cf, em)),
          fp(G.corpusShardsRekeyedCompact(union, "text", "ingest_id",
            "lang", tok, f3, em))),
          "shard compaction diverged over the compacted state")
        // the unchanged-content re-deliveries really were dropped rows,
        // and compaction removed them: strictly smaller state
        assert(cf.keepers.count() < f3.keepers.count(),
          "compaction removed nothing — the fixture grew no dead rows")
      }
      assert(compact(cf).keepers.count() == cf.keepers.count(),
        s"$p: compaction is not idempotent")
      // the retention bound: every kept row plus one row per key with no
      // kept row, however many versions were re-delivered
      val keptRows = f3.keepers.filter(col("kept")).count()
      val deadKeys = f3.keepers.groupBy(col("ukey"))
        .agg(max(col("kept").cast("int")).as("k"))
        .filter(col("k") === 0).count()
      assert(cf.keepers.count() == keptRows + deadKeys,
        s"$p: compacted state is not (kept rows + keys with none kept)")
    }
  }

  test("corpusShardsRekeyedCompact is TAIL-ONLY: shards before a " +
    "stream's first supersession are reused verbatim (the prefix docs " +
    "are never re-read), and the pre-r16 state falls back to the full " +
    "re-chunk") {
    import graft.ext.{Bpe, NbClassifier, Sampling, TextAnalysis => TA}
    val G = Graft
    def uk(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("ukey",
        concat(lit("u-"), reverse(col("doc_id").cast("string"))))
        .drop("doc_id")
    // delta 3 re-delivers LATE keys only (delta-2 residents): their new
    // ingest ids sort above every delta-1 doc, so each affected stream
    // has a deep live prefix — the tail cut genuinely bites
    val d1 = uk(docs.filter(col("doc_id") < 250))
    val d2 = uk(docs.filter(col("doc_id") >= 250 && col("doc_id") < 400))
    val d3 = uk(docs.filter(col("doc_id") >= 400)).unionByName(
      uk(docs.filter(col("doc_id") >= 350 && col("doc_id") < 400 &&
          col("doc_id") % 17 === 3)
        .withColumn("text", concat(col("text"), lit(" tail revision")))))
    val (r1, b1) = G.withIngestIds(d1, "ukey")
    val (r2, b2) = G.withIngestIds(d2, "ukey", base = b1)
    val (r3, _) = G.withIngestIds(d3, "ukey", base = b2)
    val union = r1.unionByName(r2).unionByName(r3)
    val labeled = TA.withTokenStats(union, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("ingest_id"), col("ukey"), col("text"),
        col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("ukey"), "graft") < 80),
      "text", "ingest_id", "label_weak")
    val (merges, dict) = G.bpeTrain(docs, "text", nMerges = 4)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
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
    val emitted = s1.unionByName(s2).unionByName(s3)
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.select(col("lang"), col("shard_id"), col("n_tokens"),
        col("token_ids").cast("string").as("ids"))
    val full = fp(G.corpusShardsRekeyedCompact(union, "text", "ingest_id",
      "lang", tok, st3, emitted)).transform(graft.ext.CacheScope.cache)
    // the fixture must actually exercise the reuse: pick an affected
    // stream, confirm its first live doc sits ENTIRELY inside the
    // reused region (prefix tokens div ctx shards cover it)
    val sup = st3.keepers.filter(col("kept") && !col("live"))
    assert(sup.count() > 0, "fixture produced no supersession")
    val affLang = sup.select(col("lang")).distinct()
      .orderBy(col("lang")).head().getString(0)
    val cut = sup.filter(col("lang") === affLang)
      .agg(min(col("ingest_id"))).head().getLong(0)
    val liveAff = st3.keepers.filter(col("kept") && col("live") &&
      col("lang") === affLang)
    val firstLive = liveAff.orderBy(col("ingest_id")).head()
    val firstId = firstLive.getAs[Long]("ingest_id")
    val firstN = firstLive.getAs[Long]("n_tokens")
    val prefixToks = liveAff.filter(col("ingest_id") < cut)
      .agg(sum(col("n_tokens"))).head().getLong(0)
    assert(firstId < cut && (prefixToks / 256) * 256 >= firstN,
      s"fixture too shallow: prefix $prefixToks tokens, first doc " +
        s"$firstN — the first live doc must sit inside reused shards")
    // TAIL-ONLY PROOF, behavioral: withhold that first live doc's TEXT
    // from the docs input — the tail-only compaction never reads the
    // prefix, so the result is still exactly the full replay
    val docsMissingPrefix = union.filter(col("ingest_id") =!= firstId)
    val tailOnly = fp(G.corpusShardsRekeyedCompact(docsMissingPrefix,
      "text", "ingest_id", "lang", tok, st3, emitted))
    assert(tailOnly.exceptAll(full).count() == 0 &&
      full.exceptAll(tailOnly).count() == 0,
      "tail-only compaction read the prefix (or diverged)")
    // NEGATIVE CONTROL — the same withheld input through the fallback
    // (pre-r16 state shape: no n_tokens) re-chunks from offset zero and
    // MUST diverge, proving the reuse above is real, not vacuous
    val legacySt = G.KeyedCorpusShardsState(
      st3.keepers.drop("n_tokens"), st3.shards)
    val fallbackMissing = fp(G.corpusShardsRekeyedCompact(
      docsMissingPrefix, "text", "ingest_id", "lang", tok, legacySt,
      emitted))
    assert(fallbackMissing.exceptAll(full).count() > 0 ||
      full.exceptAll(fallbackMissing).count() > 0,
      "negative control failed: the from-zero path did not miss the " +
        "withheld prefix doc — the fixture is not proving reuse")
    // and the fallback with FULL docs stays correct (the pre-r16
    // contract is preserved, just slower)
    val fallbackFull = fp(G.corpusShardsRekeyedCompact(union, "text",
      "ingest_id", "lang", tok, legacySt, emitted))
    assert(fallbackFull.exceptAll(full).count() == 0 &&
      full.exceptAll(fallbackFull).count() == 0,
      "the pre-r16 fallback path diverged from the tail-only result")
  }

  test("corpus state save/load: versioned parquet round-trip; chaining " +
    "off the loaded state equals chaining off the live one") {
    import graft.ext.{Bpe, NbClassifier, Sampling, TextAnalysis => TA}
    val labeled = TA.withTokenStats(docs, "text")
      .withColumn("label_weak",
        round(TA.qualityScore(col("n_tokens"), col("token_chars"),
          col("n_punct"), col("n_stopwords")) + lit(1e-9), 4) >= 0.5)
      .select(col("doc_id"), col("text"), col("label_weak"))
    val model = NbClassifier.train(
      labeled.filter(Sampling.hashBucket(col("doc_id"), "graft") < 80),
      "text", "doc_id", "label_weak")
    val (merges, dict) = Graft.bpeTrain(docs, "text", nMerges = 4)
    val tok = Bpe.Tokenizer(merges, dict, Bpe.vocabIds(dict))
    val d1 = docs.filter(col("doc_id") < 250)
    val d2 = docs.filter(col("doc_id") >= 250)
    // CorpusState round-trip
    val (_, st1) = Graft.corpusBuildDelta(d1, "text", "doc_id", "lang",
      model, dict, state = None, minTokens = 10)
    val dirC = java.nio.file.Files
      .createTempDirectory("graft-cstate").toString
    Graft.corpusStateSave(st1, dirC)
    val st1L = Graft.corpusStateLoad(spark, dirC)
    val (p2live, st2live) = Graft.corpusBuildDelta(d2, "text", "doc_id",
      "lang", model, dict, state = Some(st1), minTokens = 10)
    val (p2load, st2load) = Graft.corpusBuildDelta(d2, "text", "doc_id",
      "lang", model, dict, state = Some(st1L), minTokens = 10)
    def norm(p: org.apache.spark.sql.DataFrame) =
      p.select(col("lang"), col("doc_id"), col("n_tokens"), col("pack_id"))
    assert(norm(p2live).exceptAll(norm(p2load)).count() == 0 &&
      norm(p2load).exceptAll(norm(p2live)).count() == 0,
      "delta chained off the LOADED state diverged from the live state")
    // the natural nightly loop: load → delta → save BACK TO THE SAME
    // DIR — versioned saves never overwrite what the loaded state still
    // reads, and load returns the newest committed version
    Graft.corpusStateSave(st2load, dirC)
    val st2Re = Graft.corpusStateLoad(spark, dirC)
    assert(st2Re.offsets.exceptAll(st2live.offsets).count() == 0 &&
      st2live.offsets.exceptAll(st2Re.offsets).count() == 0,
      "same-dir save/load loop lost or tore the advanced state")
    // a torn save (no meta commit marker) is skipped, not mis-loaded:
    // fabricate an uncommitted newer version dir with keepers only
    st2Re.keepers.write.parquet(s"$dirC/v=99/keepers")
    assert(Graft.corpusStateLoad(spark, dirC).offsets
      .exceptAll(st2live.offsets).count() == 0,
      "an uncommitted (torn) version must be skipped by load")
    // CorpusShardsState round-trip through the full loop + flush
    val (_, sh1) = Graft.corpusShardsDelta(d1, "text", "doc_id", "lang",
      model, tok, state = None, minTokens = 10)
    val dirS = java.nio.file.Files
      .createTempDirectory("graft-sstate").toString
    Graft.corpusShardsStateSave(sh1, dirS)
    val sh1L = Graft.corpusShardsStateLoad(spark, dirS)
    def run2(st: Graft.CorpusShardsState) = {
      val (s2, st2) = Graft.corpusShardsDelta(d2, "text", "doc_id",
        "lang", model, tok, state = Some(st), minTokens = 10)
      s2.unionByName(Graft.tokenShardsFlush(st2.shards, Seq("lang"), 256))
        .select(col("lang"), col("shard_id"), col("n_tokens"),
          col("token_ids").cast("string").as("ids"))
    }
    val live = run2(sh1)
    val loaded = run2(sh1L)
    assert(live.exceptAll(loaded).count() == 0 &&
      loaded.exceptAll(live).count() == 0,
      "shard delta chained off the LOADED state diverged")
    // kind/version validation is loud: loading a corpus state as a
    // shards state (and vice versa) finds no committed version of that
    // kind and fails instead of mis-reading
    val eKind = intercept[IllegalArgumentException] {
      Graft.corpusShardsStateLoad(spark, dirC)
    }
    assert(eKind.getMessage.contains("no committed"),
      s"wrong failure mode: ${eKind.getMessage}")
    // BUCKETED keeper layout (r15): bucketBy > 0 lays the keeper frame
    // out CLUSTERED/SORTED by content_hash — values round-trip
    // identically and chaining is unchanged (the plan win is pinned in
    // PhysicalSpec)
    val dirB = java.nio.file.Files
      .createTempDirectory("graft-bstate").toString
    Graft.corpusStateSave(st1, dirB, bucketBy = 4)
    val st1B = Graft.corpusStateLoad(spark, dirB)
    assert(st1B.keepers.exceptAll(st1.keepers).count() == 0 &&
      st1.keepers.exceptAll(st1B.keepers).count() == 0,
      "bucketed keeper save lost or duplicated digests")
    val (p2buck, _) = Graft.corpusBuildDelta(d2, "text", "doc_id",
      "lang", model, dict, state = Some(st1B), minTokens = 10)
    assert(norm(p2live).exceptAll(norm(p2buck)).count() == 0 &&
      norm(p2buck).exceptAll(norm(p2live)).count() == 0,
      "delta chained off the BUCKETED state diverged from the live state")
    // a fresh session never saw the save's catalog entry — simulate by
    // dropping every graft state table; load must re-register from meta
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_state_"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `$t`"))
    val st1B2 = Graft.corpusStateLoad(spark, dirB)
    assert(st1B2.keepers.exceptAll(st1.keepers).count() == 0 &&
      st1.keepers.exceptAll(st1B2.keepers).count() == 0,
      "bucketed keeper load must re-register the table in a fresh catalog")
  }

  test("quickstart: train-batch/serve-stream quality gate") {
    val labeledDocs = Graft.quality(docs, "text")
      .withColumn("lbl", col("quality") >= 0.5)
      .select(col("doc_id"), col("text"), col("lbl"))
    val model = Graft.qualityModel(labeledDocs, "text", "doc_id", "lbl")
    val kept = Graft.qualityGate(docs, "text", "doc_id", model,
      minTokens = 10)
    val n = kept.count()
    assert(n > 0 && n < docs.count(),
      s"stateless gate kept $n of ${docs.count()}")
    // payload columns ride through; margin/pred are appended
    assert(docs.columns.toSet.subsetOf(kept.columns.toSet))
    assert(kept.columns.contains("margin") && kept.columns.contains("pred"))
  }

  test("quickstart: sampled-training quantizer cells (vectorCells)") {
    val cells = Graft.vectorCells(vectors, "vec_id", "embedding",
      trainFraction = 0.1)
    assert(cells.columns.contains("cell"))
    // sampled TRAINING, full ASSIGNMENT: every vector gets a cell
    assert(cells.filter(col("cell").isNull).count() == 0)
    assert(cells.count() == vectors.count())
  }

  test("quickstart: scoped corpus pass drains operator caches") {
    spark.catalog.clearCache()
    val n = Graft.scopedPass {
      Graft.dedupNear(docs, "text", "doc_id").count()
    }
    assert(n >= 0)
    assert(org.apache.spark.sql.graft.CacheProbe.numCachedEntries(spark) == 0)
  }

  test("annIndexAbsorbKeyedDelta: three batch absorbs reach the " +
    "streaming loop's three-batch state bit-for-bit; completed re-apply " +
    "refuses; loop-owned index refuses") {
    import java.nio.file.Files
    val A = graft.ext.AnnIndex
    val SI = graft.streaming.StreamingIndex
    val emb = vectors
    val vd = col("embedding").cast("array<double>")
    def keyedRows(df: org.apache.spark.sql.DataFrame) =
      df.select(concat(lit("k-"), col("vec_id")).as("key"),
        col("vec_id"), vd.as("embedding"))
    val built = emb.filter(col("vec_id") % 2 === 0)
    val off = 9000000L
    // the StreamingSpec capstone's delta sequence: fresh keys, re-embeds
    // of built keys under shifted uids, more fresh keys
    val d1 = keyedRows(emb.filter(col("vec_id") % 4 === 1))
    val d2 = emb.filter(col("vec_id") % 8 === 0)
      .select(concat(lit("k-"), col("vec_id")).as("key"),
        (col("vec_id") + off).as("vec_id"), reverse(vd).as("embedding"))
    val d3 = keyedRows(emb.filter(col("vec_id") % 4 === 3))
    def freshIndex(tag: String): String = {
      val dir = Files.createTempDirectory(s"graft-absorb-$tag")
        .toString + "/idx"
      A.build(graft.ext.Similarity.kmeansBuckets(built, "vec_id",
          "embedding", k = 8, iters = 2, bucketCol = "kb"),
        "vec_id", "embedding", "kb", dir, dim = 64)
      SI.seedIndexKeymap(spark, dir, keyedRows(built), "key", "vec_id")
      dir
    }
    // streaming reference: three micro-batches through the loop body
    val dirS = freshIndex("stream")
    Seq(d1, d2, d3).zipWithIndex.foreach { case (d, i) =>
      SI.writeIndexBatch(d, i.toLong, dirS, "key", "vec_id", "embedding",
        2.0, 0.0)
    }
    // batch facade: the same three deltas as nightly absorbs
    val dirB = freshIndex("batch")
    Seq(d1, d2, d3).foreach { d =>
      Graft.annIndexAbsorbKeyedDelta(spark, dirB, d, "key", "vec_id",
        "embedding")
    }
    // bit-for-bit: codes, vectors, tombstones, and the keymap agree
    def snap(dir: String, what: String) = {
      val root = A.currentRoot(spark, dir)
      spark.read.parquet(s"$root/$what")
    }
    Seq("codes", "vectors", "tombstones").foreach { what =>
      val s = snap(dirS, what); val b = snap(dirB, what)
      assert(s.exceptAll(b).isEmpty && b.exceptAll(s).isEmpty,
        s"$what diverged between the streaming loop and the batch facade")
    }
    val kmS = SI.readKeymapView(spark, dirS).get
    val kmB = SI.readKeymapView(spark, dirB).get
    assert(kmS.exceptAll(kmB).isEmpty && kmB.exceptAll(kmS).isEmpty,
      "keymap diverged between the streaming loop and the batch facade")
    // and both serve identically
    val panel = emb.limit(25)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val sS = A.search(spark, dirS, panel, "vec_id", "embedding", k = 5,
      nProbe = 2, maxBucket = 4096)
    val sB = A.search(spark, dirB, panel, "vec_id", "embedding", k = 5,
      nProbe = 2, maxBucket = 4096)
    assert(sS.exceptAll(sB).isEmpty && sB.exceptAll(sS).isEmpty,
      "served results diverged between loop and facade")
    // a COMPLETED delta re-applied refuses loudly (no batch identity to
    // skip on — the keys now map to their own uids)
    val eDup = intercept[IllegalArgumentException] {
      Graft.annIndexAbsorbKeyedDelta(spark, dirB, d2, "key", "vec_id",
        "embedding")
    }
    assert(eDup.getMessage.contains("NEW uid"),
      s"wrong double-apply failure: ${eDup.getMessage}")
    // a loop-owned index refuses the batch facade (single producer)
    val fs = new org.apache.hadoop.fs.Path(dirB)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(s"$dirB/_OWNER"), true).close()
    try {
      val eOwn = intercept[IllegalArgumentException] {
        Graft.annIndexAbsorbKeyedDelta(spark, dirB, d3, "key", "vec_id",
          "embedding")
      }
      // the INTERPOLATED path, not the literal "$indexDir/_OWNER" (the
      // r17 ADVICE message bug)
      assert(eOwn.getMessage.contains(s"$dirB/_OWNER"),
        s"owner-lock error must name the real path: ${eOwn.getMessage}")
    } finally fs.delete(new org.apache.hadoop.fs.Path(s"$dirB/_OWNER"),
      false)
    // the facade's OWN fold trigger: a third index absorbed nightly
    // with keymapFoldEveryBatches = 2 folds once the segment log
    // reaches the knob, and the folded view equals the unfolded dirS
    // view (the fold changes layout, never content)
    val dirF = freshIndex("fold")
    Seq(d1, d2, d3).foreach { d =>
      Graft.annIndexAbsorbKeyedDelta(spark, dirF, d, "key", "vec_id",
        "embedding", keymapFoldEveryBatches = 2)
    }
    val fsF = new org.apache.hadoop.fs.Path(dirF)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // each fold supersedes the previous base, so only the NEWEST base
    // version survives — assert some committed base exists
    val basePath = new org.apache.hadoop.fs.Path(s"$dirF/keymapbase")
    assert(fsF.exists(basePath) && fsF.listStatus(basePath).exists(st =>
      st.getPath.getName.startsWith("v=") &&
        fsF.exists(new org.apache.hadoop.fs.Path(st.getPath,
          graft.io.StateDir.CommitMarker))),
      "the facade's segment-count fold never committed a base")
    val kmF = SI.readKeymapView(spark, dirF).get
    assert(kmF.exceptAll(kmS).isEmpty && kmS.exceptAll(kmF).isEmpty,
      "the facade's fold changed the keymap view")
  }

  test("quickstart: the energy pipeline entry is the five-stage contract") {
    // the full run (with ML training) is exercised end-to-end by
    // EnergyPipelineSpec; here the façade signature is pinned so the
    // README snippet cannot drift from the entry point
    val entry: (org.apache.spark.sql.SparkSession, String,
      org.apache.spark.sql.DataFrame,
      Option[String]) => Map[String, org.apache.spark.sql.DataFrame] =
      Graft.energyPipeline
    assert(entry != null)
  }
}
