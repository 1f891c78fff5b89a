package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Layout, Scd2, Sketches, TextAnalysis => TA}
import graft.io.Tables
import Parity._

/** Late round-4 scale operators: Z-order layout clustering, SCD2 interval
  * compaction, and count-min frequency sketching — each an operator class a
  * 100 TB warehouse/training pipeline leans on (multi-dim data skipping,
  * CDC versioning, fixed-memory heavy hitters).
  */
object ScaleQueries {

  /** Z-order dims for the layout query: user bucket (6 bits) × day-of-month
    * (6 bits) → 12-bit Z-value; the top 6 bits = the "file" assignment a
    * clustered writer would use (≤ 8×8-cell envelope per file).
    */
  private val ZBits = 6

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Z-order layout audit: interleave (user bucket, time band) into a
    // Z-value, split the curve into 16 "files", and report each file's
    // per-dimension min/max envelope. The BOUNDED envelopes on BOTH
    // dimensions are the data-skipping story: a predicate on either dim
    // prunes most files via parquet footer stats, which a single-key range
    // sort cannot give the second dimension.
    "q_zorder" -> ((s, dir) => {
      val d = Tables.events(s, dir).select(
        pmod(col("user_id"), lit(64L)).as("ub"),
        (dayofmonth(col("ts")) - 1).cast("long").as("dayb"))
      d.withColumn("zv", Layout.zValue(col("ub"), col("dayb"), ZBits))
        .withColumn("file_bucket", shiftright(col("zv"), 6))
        .groupBy(col("file_bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("ub")).as("min_ub"), max(col("ub")).as("max_ub"),
          min(col("dayb")).as("min_day"), max(col("dayb")).as("max_day"))
        .withColumn("envelope_area",
          (col("max_ub") - col("min_ub") + 1) *
            (col("max_day") - col("min_day") + 1))
        .orderBy(col("file_bucket"))
    }),

    // SCD2 compaction of the event stream: each user's event_type
    // observations collapse to versioned validity intervals (valid_to null
    // = current). One shuffle on the key; run-length compaction before
    // version numbering.
    "q_scd2" -> ((s, dir) =>
      Scd2.intervals(
        Tables.events(s, dir)
          .select(col("user_id"), col("ts"), col("event_type")),
        "user_id", "ts", "event_type")
        .orderBy(col("user_id"), col("version"))),

    // Count-min heavy hitters: sketch the per-user event counts into a
    // 4×64 grid, estimate every user back out of it, report the top 20
    // estimates with their exact counts and the (always ≥ 0) collision
    // overestimate. The sketch is 256 rows no matter the input size.
    "q_countmin" -> ((s, dir) => {
      // cache: the exact per-key pre-agg feeds both the sketch build and
      // the estimate probe
      val exact = Tables.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
        .transform(graft.ext.CacheScope.cache)
      val sketch = Sketches.countMinSketch(exact, "user_id", "n_exact")
      Sketches.countMinEstimates(sketch, exact, "user_id")
        .withColumn("overest", col("est") - col("n_exact"))
        .orderBy(col("est").desc, col("user_id"))
        .limit(20)
    }),

    // BM25 retrieval against a fixed 3-term query (one rare term, two
    // common): the inverted-index probe shape — only matching postings are
    // scored, corpus stats ride in as a broadcast 1-row frame.
    "q_bm25" -> ((s, dir) =>
      TA.bm25(Tables.documents(s, dir), "text", "doc_id",
          Seq("dup", "join", "scan"))
        .select(col("doc_id"), col("n_matched"),
          ground(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)),

    // PPJoin-style prefix-filtered exact-Jaccard near-dup pairs at a HIGH
    // threshold: candidates come only from rare-shingle prefix collisions
    // (zero false negatives by the prefix theorem — the oracle checks that
    // end-to-end by computing exact all-pairs Jaccard with no prefix).
    "q_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(Tables.documents(s, dir), "text", "doc_id",
          threshold = 0.5)
        .select(col("id_a"), col("id_b"),
          ground(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("id_a"), col("id_b"))),

    // Bigram-LM perplexity proxy: the sharper word-salad detector than
    // q_unigram_nll (plausible unigrams, rare bigrams).
    "q_bigram_nll" -> ((s, dir) =>
      TA.bigramNll(Tables.documents(s, dir), "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"),
          ground(col("avg_nll"), 6).as("avg_nll"))
        .orderBy(col("doc_id"))),
  )

  val oracles: Map[String, String] = Map(

    "q_zorder" ->
      s"""WITH d AS (
         |  SELECT user_id % 64 AS ub,
         |    CAST(date_part('day', ts) - 1 AS BIGINT) AS dayb
         |  FROM events
         |), z AS (
         |  SELECT ub, dayb,
         |    ${Layout.zValueSql("ub", "dayb", ZBits)} AS zv
         |  FROM d
         |)
         |SELECT zv >> 6 AS file_bucket, count(*) AS n,
         |  min(ub) AS min_ub, max(ub) AS max_ub,
         |  min(dayb) AS min_day, max(dayb) AS max_day,
         |  (max(ub) - min(ub) + 1) * (max(dayb) - min(dayb) + 1)
         |    AS envelope_area
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_scd2" ->
      """WITH ev AS (
        |  SELECT user_id, ts, min(event_type) AS event_type
        |  FROM events GROUP BY 1, 2
        |), chg AS (
        |  SELECT user_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |  FROM ev
        |), scd AS (
        |  SELECT user_id, ts AS valid_from, event_type
        |  FROM chg WHERE prev IS NULL OR prev <> event_type
        |)
        |SELECT user_id,
        |  CAST(row_number() OVER w AS INT) AS version,
        |  valid_from,
        |  lead(valid_from) OVER w AS valid_to,
        |  event_type
        |FROM scd
        |WINDOW w AS (PARTITION BY user_id ORDER BY valid_from)
        |ORDER BY user_id, version""".stripMargin,

    "q_countmin" ->
      """WITH exact AS (
        |  SELECT user_id, count(*) AS n_exact FROM events GROUP BY 1
        |), keyrows AS (
        |  SELECT user_id, n_exact, u.r,
        |    ('0x' || substr(md5('cm' || CAST(u.r AS VARCHAR) || ':'
        |        || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 64 AS b
        |  FROM exact CROSS JOIN unnest([0, 1, 2, 3]) AS u(r)
        |), cells AS (
        |  SELECT r, b, CAST(sum(n_exact) AS BIGINT) AS cell
        |  FROM keyrows GROUP BY 1, 2
        |)
        |SELECT k.user_id, k.n_exact, min(c.cell) AS est,
        |  min(c.cell) - k.n_exact AS overest
        |FROM keyrows k JOIN cells c USING (r, b)
        |GROUP BY 1, 2
        |ORDER BY est DESC, user_id LIMIT 20""".stripMargin,

    "q_bm25" ->
      """WITH tok AS (
        |  SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(lower(text)), '[\s\x0b]+')) AS t
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, t, count(*) AS c FROM tok GROUP BY 1, 2
        |), len AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS len FROM tf GROUP BY 1
        |), stats AS (
        |  SELECT count(*) AS n_docs, avg(len) AS avg_len FROM len
        |), m AS (
        |  SELECT * FROM tf WHERE t IN ('dup', 'join', 'scan')
        |), dfreq AS (
        |  SELECT t, count(*) AS dft FROM m GROUP BY 1
        |)
        |SELECT m.doc_id, count(*) AS n_matched,
        |  round(sum(ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
        |      * (c * (1.2 + 1)) / (c + 1.2 * (1 - 0.75 + 0.75 * len / avg_len)))
        |    + 1e-9, 6) AS score
        |FROM m JOIN dfreq USING (t) JOIN len USING (doc_id) CROSS JOIN stats
        |GROUP BY m.doc_id
        |ORDER BY score DESC, doc_id LIMIT 15""".stripMargin,

    // The oracle deliberately computes exact Jaccard over ALL shingle-
    // sharing pairs (no prefix simulation): equality proves the prefix
    // filter dropped nothing — the zero-false-negative guarantee itself.
    "q_prefix_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(len(regexp_split_to_array(trim(text), '[\s\x0b]+')) - 2),
        |    i -> array_to_string(
        |      regexp_split_to_array(trim(text), '[\s\x0b]+')[i+1:i+3], ' ')))
        |    AS g
        |  FROM documents WHERE text IS NOT NULL
        |), shx AS (
        |  SELECT doc_id, unnest(g) AS s FROM sh
        |), sizes AS (
        |  SELECT doc_id, count(*) AS n_g FROM shx GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
        |  FROM shx a JOIN shx b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT id_a, id_b,
        |  round(CAST(n_inter AS DOUBLE) / (sa.n_g + sb.n_g - n_inter)
        |    + 1e-9, 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE CAST(n_inter AS DOUBLE) / (sa.n_g + sb.n_g - n_inter) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q_bigram_nll" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(trim(lower(text)), '[\s\x0b]+') AS t
        |  FROM documents
        |), bgs AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(t)),
        |      i -> t[i] || ' ' || t[i + 1])) AS bg
        |  FROM base WHERE len(t) >= 2
        |), dbg AS (
        |  SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY 1, 2
        |), cbg0 AS (
        |  SELECT bg, CAST(sum(c) AS BIGINT) AS cbg FROM dbg GROUP BY 1
        |), cbg AS (
        |  SELECT bg, cbg, split_part(bg, ' ', 1) AS head FROM cbg0
        |), chead AS (
        |  SELECT head, CAST(sum(cbg) AS BIGINT) AS chead FROM cbg GROUP BY 1
        |)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |  round(sum(c * (ln(chead) - ln(cbg))) / sum(c) + 1e-9, 6) AS avg_nll
        |FROM dbg JOIN cbg USING (bg) JOIN chead USING (head)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )
}
