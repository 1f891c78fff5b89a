package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding merge training — the "proper
  * trained-merges tokenizer" that [[TextAnalysis.bpeTokens]]'s scaladoc
  * leaves open. Learns the classic BPE vocabulary (Sennrich et al. 2016:
  * iterate "count adjacent symbol pairs over the word-frequency
  * dictionary, merge the most frequent pair") as a sequence of Spark
  * jobs, then tokenizes the corpus by joining the learned segmentation
  * back onto it.
  *
  * Scale shape (the reason production BPE trainers are feasible at all):
  * the training loop never touches the corpus after the first pass —
  *
  *  1. ONE corpus-wide shuffle builds the word-frequency dictionary,
  *     whose size is the DISTINCT vocabulary (Zipf-bounded: tens of
  *     millions of rows at 100 TB, not trillions);
  *  2. each merge iteration is a dictionary-sized pair-count aggregate
  *     plus a 1-row `limit(1).collect()` for the argmax (bounded driver
  *     traffic, same contract as the one-hot label guard) plus one
  *     narrow `replace` projection — no corpus I/O;
  *  3. encoding rejoins the final dictionary to the corpus as a
  *     BROADCAST join (the dictionary is the small side by construction).
  *
  * Symbol sequences are carried as strings — `" a  b  c "`: two-space
  * separator between symbols, single-space sentinels at both ends — so a
  * merge step is ONE literal `replace`. On that representation
  * left-to-right non-overlapping replacement of `" a  b "` with
  * `" ab "` is exactly BPE's greedy left-to-right merge: the trailing
  * sentinel a match consumes is re-supplied by the two-space separator
  * it leaves behind, so back-to-back pairs (`a b a b` → `ab ab`) all
  * merge, while overlapping triples (`a a a` with pair `(a,a)` →
  * `aa a`) correctly don't. The same identity runs in the DuckDB oracle,
  * which unrolls the loop as one MATERIALIZED CTE block per merge.
  *
  * Determinism: pair counts are exact integers; argmax ties break on
  * (count desc, left asc, right asc). Hash-exact across engines and
  * partitionings.
  */
object Bpe {

  /** One learned merge rule, in application order. */
  final case class Merge(rank: Int, leftSym: String, rightSym: String,
                         merged: String, pairCount: Long)

  /** Two-space separator; see the representation contract above. */
  private val Sep = "  "

  /** Word-frequency dictionary over whitespace-pre-tokenized text:
    * `(word, freq, syms)` with `syms` the char-level symbol string
    * (`"cat"` → `" c  a  t "`). The one corpus-wide shuffle of training.
    */
  def wordDict(docs: DataFrame, textCol: String): DataFrame =
    docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(explode(split(trim(col(textCol)), " +")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))
      // each char c → " c "; concatenation fuses boundaries into the
      // two-space separator and leaves single-space sentinels at the ends
      .withColumn("syms", regexp_replace(col("word"), "(.)", " $1 "))

  /** Learn `nMerges` merge rules. Returns the rules (driver-side, bounded
    * at `nMerges` rows) and the final dictionary `(word, freq, syms)`
    * with all merges applied — the corpus-independent tokenizer state.
    *
    * Stops early if no pair remains (fully merged dictionary). Each
    * iteration caches its dictionary via [[CacheScope.cache]] (released
    * by the enclosing scope, if any) and unpersists the previous one once
    * the pair-count action has materialized from it.
    */
  def train(docs: DataFrame, textCol: String,
            nMerges: Int): (Seq[Merge], DataFrame) = {
    var dict = CacheScope.cache(wordDict(docs, textCol))
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= nMerges && !exhausted) {
      val arr = split(trim(col("syms")), Sep)
      val best = dict
        .select(col("freq"), arr.as("arr"))
        .filter(size(col("arr")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("arr")) - 1),
          i => struct(element_at(col("arr"), i).as("a"),
            element_at(col("arr"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += Merge(rank, a, b, a + b, cnt)
        val next = CacheScope.cache(dict.withColumn("syms",
          replace(col("syms"), lit(s" $a$Sep$b "), lit(s" ${a + b} "))))
        // the collect above materialized `dict`'s cache; `next` fills on
        // the NEXT iteration's collect (or the caller's first action)
        dict.unpersist()
        dict = next
        rank += 1
      }
    }
    (merges.result(), dict)
  }

  /** Batched merge training — the production-vocabulary shape: `train`
    * pays one job + one 1-row collect PER MERGE (32k sequential driver
    * round-trips at a 32k-merge production vocabulary), this variant
    * applies up to `batch` NON-CONFLICTING merges per iteration, cutting
    * driver round-trips ~batch×. Contract differences from [[train]],
    * both deliberate so the DuckDB oracle can replay it non-recursively:
    *
    *  - iteration-based: runs exactly `nIters` iterations (early-stops
    *    only when no pair remains), yielding UP TO `nIters · batch`
    *    merges — a fixed unroll depth the oracle mirrors 1:1;
    *  - selection rule: rank this iteration's pair counts by
    *    (count desc, left asc, right asc); a candidate within the top
    *    `candPool · batch` pool is selected iff it shares NO symbol with
    *    ANY higher-ranked pool candidate's INPUTS *or its merged output*
    *    (selected or not — stricter than greedy, but expressible as one
    *    window + anti-join instead of a recursive scan); the first
    *    `batch` survivors merge, applied in rank order. The
    *    merged-output exclusion is what makes sequential application
    *    equal simultaneous: without it, a pair consuming a symbol an
    *    earlier merge in the SAME batch just produced (e.g. `(s, the)`
    *    after `(th, e) → the`, when `the` already existed from prior
    *    iterations) would merge occurrences its recorded count never
    *    saw.
    *
    * Batch-BPE is a documented approximation of sequential BPE: a merge
    * created THIS iteration (e.g. `(x, ab)` after `(a,b)`) cannot win
    * until the next iteration, so rule order may differ from `train`'s
    * beyond the first batch. Determinism is unchanged — counts are exact
    * integers, ties break lexically, and the whole loop replays in SQL.
    */
  def trainBatched(docs: DataFrame, textCol: String, nIters: Int,
                   batch: Int, candPool: Int = 4): (Seq[Merge], DataFrame) = {
    require(nIters > 0 && batch > 0 && candPool > 0,
      s"nIters=$nIters, batch=$batch, candPool=$candPool must be positive")
    var dict = CacheScope.cache(wordDict(docs, textCol))
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var iter = 0
    var exhausted = false
    while (iter < nIters && !exhausted) {
      val arr = split(trim(col("syms")), Sep)
      val pool = dict
        .select(col("freq"), arr.as("arr"))
        .filter(size(col("arr")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("arr")) - 1),
          i => struct(element_at(col("arr"), i).as("a"),
            element_at(col("arr"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(candPool * batch).collect()
      if (pool.isEmpty) exhausted = true
      else {
        // a pool candidate survives iff it conflicts with NO higher-ranked
        // pool candidate — inputs AND merged output — the same
        // non-recursive rule the oracle runs
        val selected = Seq.newBuilder[(String, String, Long)]
        var nSel = 0
        for (idx <- pool.indices if nSel < batch) {
          val (a, b) = (pool(idx).getString(0), pool(idx).getString(1))
          val clash = (0 until idx).exists { j =>
            val (ha, hb) = (pool(j).getString(0), pool(j).getString(1))
            val hm = ha + hb
            ha == a || ha == b || hb == a || hb == b || hm == a || hm == b
          }
          if (!clash) {
            selected += ((a, b, pool(idx).getLong(2)))
            nSel += 1
          }
        }
        val sel = selected.result()
        sel.foreach { case (a, b, cnt) =>
          merges += Merge(rank, a, b, a + b, cnt)
          rank += 1
        }
        val next = CacheScope.cache(sel.foldLeft(dict) {
          case (d, (a, b, _)) => d.withColumn("syms",
            replace(col("syms"), lit(s" $a$Sep$b "), lit(s" ${a + b} ")))
        })
        dict.unpersist()
        dict = next
        iter += 1
      }
    }
    (merges.result(), dict)
  }

  /** Per-document BPE token counts under a trained dictionary — the
    * handoff from tokenizer training to sequence packing: each doc's
    * words join the dictionary's segmentation broadcast-side and the
    * per-word token counts sum per (`carryCols`, `idCol`) row. The
    * frame [[Packing.packByOffset]] consumes directly.
    */
  def docTokenCounts(docs: DataFrame, textCol: String, idCol: String,
                     dict: DataFrame, carryCols: Seq[String]): DataFrame = {
    val nToks = dict.select(col("word"),
      size(split(trim(col("syms")), Sep)).cast("long").as("n_toks"))
    docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select((carryCols.map(col) :+ col(idCol) :+
        explode(split(trim(col(textCol)), " +")).as("word")): _*)
      .join(broadcast(nToks), Seq("word"))
      .groupBy((carryCols.map(col) :+ col(idCol)): _*)
      .agg(sum(col("n_toks")).as("n_tokens"))
  }

  /** Dense token-id table for a trained dictionary: one row per distinct
    * SYMBOL of the final segmentation, `token_id` ∈ [0, V) assigned by
    * (corpus symbol frequency desc, symbol asc) — the stable id layout an
    * embedding table is sized against (frequent symbols get small ids).
    *
    * The id assignment is a global dense rank over the VOCABULARY — a
    * bounded artifact by the same construction as the merge table and the
    * ANN codebooks (tens of thousands of rows at a production 32k-merge
    * vocabulary, never corpus-sized) — so it sorts on the driver rather
    * than through a single-partition window (the surface invariant) and
    * returns a small frame that BROADCASTS into [[encodeIds]]' join.
    */
  def vocabIds(dict: DataFrame): DataFrame = {
    val spark = dict.sparkSession
    import spark.implicits._
    val rows = dict
      .select(explode(split(trim(col("syms")), Sep)).as("sym"), col("freq"))
      .groupBy(col("sym")).agg(sum(col("freq")).as("sym_freq"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      // freq ties break in UTF-8 BYTE order, not Java String (UTF-16
      // code-unit) order: Spark's UTF8String and DuckDB's default
      // collation both compare UTF-8 bytes, and the two orders DIVERGE
      // for supplementary-plane symbols (an emoji surrogate pair sorts
      // below U+E000..U+FFFF in UTF-16 but above them in UTF-8) — a
      // driver-side String sort would hand such symbols different
      // token_ids than the q_bpe_ids oracle replays
      .sortWith { case ((s1, f1), (s2, f2)) =>
        if (f1 != f2) f1 > f2 else utf8Less(s1, s2)
      }
    rows.zipWithIndex
      .map { case ((s, f), i) => (s, i, f) }.toSeq
      .toDF("sym", "token_id", "sym_freq")
  }

  /** UTF-8 byte-order string comparison (== code-point order) — the
    * collation Spark and DuckDB sort strings by. See [[vocabIds]].
    */
  private[graft] def utf8Less(x: String, y: String): Boolean = {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    a.length < b.length
  }

  /** A trained tokenizer in SERVE form — the bundle a restarted export
    * job needs with zero training at boot: the merge rules (provenance +
    * embedding-table sizing), the final dictionary (the segmentation),
    * and the frequency-ranked vocabulary (the id layout). `dict` and
    * `vocab` are guaranteed-paired by construction (built by [[train]]/
    * [[trainBatched]] + [[vocabIds]], or loaded from one [[save]]d
    * artifact), so [[Tokenizer.encodeIds]] skips [[encodeIdsWith]]'s
    * coverage check.
    */
  final case class Tokenizer(merges: Seq[Merge], dict: DataFrame,
                             vocab: DataFrame) {
    /** [[Bpe.encodeIdsWith]] under this tokenizer's paired dict/vocab. */
    def encodeIds(docs: DataFrame, textCol: String,
                  idCol: String): DataFrame =
      encodeIdsUnchecked(docs, textCol, idCol, dict, vocab)
  }

  /** Artifact layout version written by [[save]] and required by
    * [[load]]. Bump on any layout change and branch in `load`.
    */
  val ArtifactFormatVersion: Int = 1

  /** Order-independent integrity fingerprint of a dictionary: xor of
    * xxhash64 over every (word, syms, freq) row. Freq is included because
    * the id layout ([[vocabIds]]) ranks on symbol frequency — two dicts
    * with equal segmentations but different counts yield different
    * vocabularies. One dictionary-sized aggregate, no sort, no collect.
    */
  def dictFingerprint(dict: DataFrame): Long =
    dict.agg(coalesce(expr("bit_xor(xxhash64(word, syms, freq))"), lit(0L)))
      .head().getLong(0)

  /** Persist a trained tokenizer as plain parquet under `dir` — the
    * [[NbClassifier.save]] lifecycle for the OTHER half of the serve
    * bundle: train once on the curated corpus, and every restarted
    * encode job (batch or [[graft.streaming.StreamingCorpus]]) boots
    * from the artifact instead of re-deriving the dictionary from the
    * training corpus. Layout:
    *
    * {{{
    * dir/dict    (word, freq, syms)                      vocab-bounded
    * dir/vocab   (sym, token_id, sym_freq)               ≤ |alphabet|+merges
    * dir/merges  (rank, left_sym, right_sym, merged, pair_count)
    * dir/meta    (format_version, n_merges, n_words, n_vocab, dict_fp) 1 row
    * }}}
    *
    * The vocabulary's driver-side id assignment runs ONCE here; loads
    * read the persisted layout, so a restarted serving job never
    * re-sorts. `dict_fp` ([[dictFingerprint]]) ties the three frames to
    * one training run — [[load]] recomputes it and fails loudly on a
    * mixed or partially-rewritten artifact.
    */
  def save(merges: Seq[Merge], dict: DataFrame, dir: String): Unit = {
    val spark = dict.sparkSession
    import spark.implicits._
    val vocab = vocabIds(dict)
    dict.select(col("word"), col("freq"), col("syms"))
      .write.mode("overwrite").parquet(s"$dir/dict")
    vocab.coalesce(1).write.mode("overwrite").parquet(s"$dir/vocab")
    merges.map(m => (m.rank, m.leftSym, m.rightSym, m.merged, m.pairCount))
      .toDF("rank", "left_sym", "right_sym", "merged", "pair_count")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/merges")
    // fingerprint the frame as WRITTEN (re-read it), so load's recompute
    // compares parquet-to-parquet, immune to any in-flight plan nondeterminism
    val fp = dictFingerprint(spark.read.parquet(s"$dir/dict"))
    Seq((ArtifactFormatVersion, merges.size.toLong,
        spark.read.parquet(s"$dir/dict").count(), vocab.count(), fp))
      .toDF("format_version", "n_merges", "n_words", "n_vocab", "dict_fp")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Load a persisted tokenizer; see [[save]]. The dictionary and
    * vocabulary stay DISTRIBUTED frames (at a production vocabulary the
    * dict is tens of millions of rows — it broadcasts into encode joins
    * but never collects); only the merge table (nMerges-bounded) lands
    * on the driver. Validates format version, per-frame row counts, and
    * the dictionary fingerprint before returning.
    */
  def load(spark: org.apache.spark.sql.SparkSession,
           dir: String): Tokenizer = {
    val metaDf = spark.read.parquet(s"$dir/meta")
    require(metaDf.columns.contains("format_version"),
      s"Bpe.load: $dir/meta has no format_version column — artifact " +
        "predates the versioned layout or is not a tokenizer")
    val meta = metaDf.head()
    val ver = meta.getAs[Int]("format_version")
    require(ver == ArtifactFormatVersion,
      s"Bpe.load: $dir/meta declares format_version=$ver but this build " +
        s"reads version $ArtifactFormatVersion — migrate the artifact or " +
        "upgrade the library")
    val dict = spark.read.parquet(s"$dir/dict")
      .select(col("word"), col("freq"), col("syms"))
    val vocab = spark.read.parquet(s"$dir/vocab")
      .select(col("sym"), col("token_id"), col("sym_freq"))
    val merges = spark.read.parquet(s"$dir/merges")
      .select(col("rank"), col("left_sym"), col("right_sym"),
        col("merged"), col("pair_count"))
      .orderBy(col("rank")).collect()
      .map(r => Merge(r.getAs[Int]("rank"), r.getAs[String]("left_sym"),
        r.getAs[String]("right_sym"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_count"))).toSeq
    def check(what: String, got: Long, want: Long): Unit =
      require(got == want,
        s"Bpe.load: $dir/$what has $got rows but meta recorded $want — " +
          "artifact is incomplete or mixed across writes")
    check("merges", merges.size.toLong, meta.getAs[Long]("n_merges"))
    check("dict", dict.count(), meta.getAs[Long]("n_words"))
    check("vocab", vocab.count(), meta.getAs[Long]("n_vocab"))
    val fp = dictFingerprint(dict)
    require(fp == meta.getAs[Long]("dict_fp"),
      s"Bpe.load: $dir/dict fingerprint $fp does not match meta's " +
        s"${meta.getAs[Long]("dict_fp")} — the dictionary was rewritten " +
        "after the meta row, or the artifact mixes two training runs")
    Tokenizer(merges, dict, vocab)
  }

  /** Encode documents to dense token-id SEQUENCES under a trained
    * dictionary — the export a training pipeline feeds the model: one row
    * per doc with `n_tokens` and the ordered `token_ids` array.
    *
    * OOV contract (serve-time docs contain words the training corpus
    * never saw): an unknown WORD falls back to character-level
    * segmentation (the BPE base alphabet — how real tokenizers degrade),
    * and any character still absent from the learned vocabulary maps to
    * the UNK sentinel `token_id = -1`. Nothing is silently dropped.
    *
    * Scale shape: words join the dictionary's segmentation BROADCAST-side
    * (the [[docTokenCounts]] shape), symbols join the [[vocabIds]] table
    * broadcast-side, and the per-doc sequence reassembles with ONE
    * groupBy — order restored by sorting the collected (word_pos,
    * sym_pos, id) structs row-locally, so no window and no
    * cross-document state; the only shuffle is the per-doc aggregate.
    * Docs whose text is null/blank are dropped (no tokens to emit).
    */
  def encodeIds(docs: DataFrame, textCol: String, idCol: String,
                dict: DataFrame): DataFrame =
    // vocab derived from THIS dict — paired by construction, no check
    encodeIdsUnchecked(docs, textCol, idCol, dict, vocabIds(dict))

  /** Fail loudly when `vocab` does not cover every symbol of `dict`'s
    * segmentation — the cheap invariant that catches a vocab paired with
    * the WRONG dictionary (which would silently mis-id or UNK every
    * token at serve time). One dictionary-sized anti-join, ≤5 rows to
    * the driver; coverage is necessary but not sufficient (a superset
    * vocab with shifted ids passes — the [[save]]/[[load]] artifact's
    * fingerprint is the airtight pairing; this guard is for raw-frame
    * callers).
    */
  private[graft] def requireVocabCovers(dict: DataFrame,
                                        vocab: DataFrame): Unit = {
    val missing = dict
      .select(explode(split(trim(col("syms")), Sep)).as("sym")).distinct()
      .join(vocab.select(col("sym")), Seq("sym"), "left_anti")
      .limit(5).collect().map(_.getString(0))
    require(missing.isEmpty,
      "Bpe.encodeIdsWith: vocab does not cover the dictionary — " +
        s"symbols like [${missing.mkString(", ")}] segment documents but " +
        "have no token_id. The vocab was derived from a DIFFERENT " +
        "dictionary; re-derive it with Bpe.vocabIds(dict) or load both " +
        "from one Bpe.save artifact")
  }

  /** [[encodeIds]] under a CALLER-SUPPLIED [[vocabIds]] table — the
    * serve-time form: the vocabulary's driver-side sort happens once per
    * trained dictionary, not once per invocation, so a streaming twin
    * re-encoding every micro-batch ([[graft.streaming.StreamingCorpus]])
    * pays only the broadcast joins per batch. Validates dict/vocab
    * pairing ([[requireVocabCovers]]) on every call; per-batch loops
    * should validate once and use a [[Tokenizer]] (or load one) instead.
    */
  def encodeIdsWith(docs: DataFrame, textCol: String, idCol: String,
                    dict: DataFrame, vocab: DataFrame): DataFrame = {
    requireVocabCovers(dict, vocab)
    encodeIdsUnchecked(docs, textCol, idCol, dict, vocab)
  }

  /** The encode plan itself — callers guarantee dict/vocab pairing. */
  private[graft] def encodeIdsUnchecked(docs: DataFrame, textCol: String,
                                        idCol: String, dict: DataFrame,
                                        vocab: DataFrame): DataFrame = {
    val words = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select(col(idCol),
        posexplode(split(trim(col(textCol)), " +")).as(Seq("__wp", "word")))
    val syms = words
      .join(broadcast(dict.select(col("word"), col("syms"))), Seq("word"),
        "left")
      // OOV word → char-level symbol string (wordDict's base encoding)
      .withColumn("__syms", coalesce(col("syms"),
        regexp_replace(col("word"), "(.)", " $1 ")))
      .select(col(idCol), col("__wp"),
        posexplode(split(trim(col("__syms")), Sep)).as(Seq("__sp", "sym")))
    syms
      .join(broadcast(vocab.select(col("sym"), col("token_id"))),
        Seq("sym"), "left")
      .withColumn("token_id", coalesce(col("token_id"), lit(-1)))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        transform(
          array_sort(collect_list(struct(col("__wp"), col("__sp"),
            col("token_id")))),
          x => x.getField("token_id")).as("token_ids"))
  }

  /** Tokenized-corpus statistics under a trained dictionary: per
    * (`groupCols`) doc/word/token counts and mean tokens-per-word. The
    * corpus-side pass of BPE encoding — words join the dictionary's
    * segmentation broadcast-side, so the only corpus-wide work is the
    * final aggregate.
    */
  def encodeStats(docs: DataFrame, textCol: String, idCol: String,
                  dict: DataFrame, groupCols: Seq[String]): DataFrame = {
    val nToks = dict.select(col("word"),
      size(split(trim(col("syms")), Sep)).cast("long").as("n_toks"))
    val words = docs
      .filter(col(textCol).isNotNull && length(trim(col(textCol))) > 0)
      .select((groupCols.map(col) :+ col(idCol) :+
        explode(split(trim(col(textCol)), " +")).as("word")): _*)
    words
      .join(broadcast(nToks), Seq("word"))
      .groupBy(groupCols.map(col): _*)
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_words"),
        sum(col("n_toks")).as("bpe_tokens"))
      .withColumn("avg_tokens_per_word",
        round(col("bpe_tokens").cast("double") /
          col("n_words").cast("double") + lit(1e-9), 4))
  }
}
