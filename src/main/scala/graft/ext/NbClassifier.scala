package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classifier — the model-based corpus
  * quality filter (the FineWeb-Edu recipe shape: cheap weak labels train a
  * model that generalizes past the heuristic), built so TRAINING is
  * deterministic and engine-replayable: the learned model is nothing but
  * integer count frames (per-class token counts, class doc counts) plus
  * Laplace smoothing — no RNG, no iterative float optimization, no
  * partition-order sensitivity. The same corpus yields the same model on
  * any engine, so a SQL oracle can replay training AND scoring — the house
  * determinism contract extended to a trained model, where an LBFGS
  * logistic regression would force the weaker rows-only gate.
  *
  * Scale shape: training is the shared (doc, token) pre-agg
  * ([[TextAnalysis.termFreq]]) plus a vocab-bounded per-class count
  * aggregate; the model (vocab-sized) broadcasts to scoring, which is a
  * narrow per-(doc, token) multiply and a per-doc aggregate. Corpus
  * scalars ride a 1-row cross join, never a driver loop.
  */
object NbClassifier {

  private def g6(c: Column): Column = round(c + lit(1e-9), 6)

  /** A trained NB model in serve-time form: per-token log-odds weights
    * (vocab-bounded — the same driver-collect allowance as the ANN
    * codebooks), the Laplace-floor weight for unseen tokens, and the
    * smoothed class prior. `margin(doc) = Σ_occurrences w(t) + prior`,
    * identical arithmetic to [[trainScore]]'s in-plan form (weights are
    * COMPUTED in Spark SQL with the same expressions, then collected),
    * so [[scoreLocal]] reproduces the distributed scorer to the 6dp
    * guard-round.
    */
  final case class NbModel(weights: Map[String, Double], floorW: Double,
                           prior: Double)

  /** Extract a serve-time [[NbModel]] from a weakly-labeled training
    * frame — the build half of the train-batch/serve-stream split
    * ([[graft.streaming.StreamingCorpus]] consumes the model on an
    * unbounded stream where the shuffling [[trainScore]] cannot run).
    *
    * `maxVocab` bounds the SERVED weight map (the literal every stream
    * task carries): the top `maxVocab` tokens by training frequency
    * (count desc, token asc — deterministic) keep their exact weights;
    * tail tokens score through the Laplace floor, exactly like unseen
    * ones. The smoothing totals (tot/v, priors) are always computed
    * over the FULL vocabulary, so a capped model is the same model with
    * a coarser tail — and a cap above the corpus vocabulary (the
    * default at fixture scale) reproduces [[trainScore]] bit-for-bit.
    */
  def train(train: DataFrame, textCol: String, idCol: String,
            labelCol: String, maxVocab: Int = 1 << 20): NbModel = {
    require(maxVocab > 0, s"maxVocab=$maxVocab must be positive")
    require(!train.isEmpty,
      "NbClassifier.train: training frame is empty")
    val tfTrain = TextAnalysis
      .termFreq(train.select(col(idCol), col(textCol)), textCol, idCol,
        cached = false)
      .join(train.select(col(idCol), col(labelCol).cast("boolean")
        .as("__lbl")), Seq(idCol))
    // three driver reads (weights, their stats broadcast, the scalar
    // head) consume this frame — cache it or the corpus tokenization
    // replays per read (CacheScope contract: released by the enclosing
    // scope, registered until unpersisted outside one)
    val classTok = CacheScope.cache(tfTrain.groupBy(col("t"))
      .agg(sum(when(col("__lbl"), col("c")).otherwise(lit(0L))).as("c_pos"),
        sum(when(!col("__lbl"), col("c")).otherwise(lit(0L))).as("c_neg")))
    val stats = classTok
      .agg(coalesce(sum(col("c_pos")), lit(0L)).as("tot_pos"),
        coalesce(sum(col("c_neg")), lit(0L)).as("tot_neg"),
        count(lit(1)).as("v"))
      .crossJoin(train.agg(
        sum(when(col(labelCol).cast("boolean"), lit(1L)).otherwise(lit(0L)))
          .as("n_pos"),
        sum(when(!col(labelCol).cast("boolean"), lit(1L)).otherwise(lit(0L)))
          .as("n_neg")))
    def lw(cnt: Column, tot: Column): Column =
      log((coalesce(cnt, lit(0L)) + lit(1L)).cast("double") /
        (tot + greatest(col("v"), lit(1L))).cast("double"))
    // weights in SPARK SQL with trainScore's exact lw() arithmetic —
    // bit-identical doubles reach the driver map
    val w = classTok.crossJoin(broadcast(stats))
      .select(col("t"),
        (lw(col("c_pos"), col("tot_pos")) -
          lw(col("c_neg"), col("tot_neg"))).as("w"),
        (col("c_pos") + col("c_neg")).as("__f"))
      .orderBy(col("__f").desc, col("t"))
      .limit(maxVocab)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val scal = stats.select(
        (lw(lit(null), col("tot_pos")) - lw(lit(null), col("tot_neg")))
          .as("floor_w"),
        log((col("n_pos") + lit(1L)).cast("double") /
          (col("n_neg") + lit(1L)).cast("double")).as("prior"))
      .head()
    NbModel(w, scal.getDouble(0), scal.getDouble(1))
  }

  /** Persist a trained [[NbModel]] as plain parquet under `dir` — the
    * [[graft.ext.AnnIndex]] lifecycle for the quality gate: the model is
    * fit ONCE on the curated batch corpus and a restarted serving job
    * (batch or [[graft.streaming.StreamingCorpus]]) boots from the
    * artifact instead of retraining. Layout:
    *
    * {{{
    * dir/weights  (t STRING, w DOUBLE)            ≤ maxVocab rows
    * dir/meta     (format_version INT, floor_w DOUBLE, prior DOUBLE,
    *               n_weights BIGINT)              1 row
    * }}}
    *
    * `format_version` (currently [[FormatVersion]]) names the layout so
    * a future schema evolution migrates on a recorded fact instead of
    * guessing; [[load]] fails loudly on versions it does not know.
    * Doubles round-trip parquet bit-exactly, so a loaded model scores
    * margins BIT-IDENTICAL to the live one (NbModelSpec pins it).
    */
  def save(spark: org.apache.spark.sql.SparkSession, model: NbModel,
           dir: String): Unit = {
    import spark.implicits._
    model.weights.toSeq.toDF("t", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/weights")
    Seq((FormatVersion, model.floorW, model.prior,
        model.weights.size.toLong))
      .toDF("format_version", "floor_w", "prior", "n_weights")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Artifact layout version written by [[save]] and required by
    * [[load]]. Bump on any layout change and branch in `load`.
    */
  val FormatVersion: Int = 1

  /** Load a persisted [[NbModel]]; see [[save]]. The weight map is
    * vocab-bounded by construction (the same driver-collect allowance as
    * the ANN codebooks), and the meta row-count cross-check turns a
    * partially-written artifact into a readable error instead of a
    * silently coarser model.
    */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): NbModel = {
    val metaDf = spark.read.parquet(s"$dir/meta")
    // version gate BEFORE touching any other field: an artifact written
    // by a different layout must fail with the version message, not a
    // missing-column cast error halfway through
    require(metaDf.columns.contains("format_version"),
      s"NbClassifier.load: $dir/meta has no format_version column — " +
        "artifact predates the versioned layout or is not an NB model")
    val meta = metaDf.head()
    val ver = meta.getAs[Int]("format_version")
    require(ver == FormatVersion,
      s"NbClassifier.load: $dir/meta declares format_version=$ver but " +
        s"this build reads version $FormatVersion — migrate the artifact " +
        "or upgrade the library")
    // columns by NAME, never position: a rewritten artifact with the
    // same columns in a different order must load identically
    val w = spark.read.parquet(s"$dir/weights").select(col("t"), col("w"))
      .collect().map(r => r.getAs[String]("t") -> r.getAs[Double]("w")).toMap
    require(w.size.toLong == meta.getAs[Long]("n_weights"),
      s"NbClassifier.load: $dir/weights has ${w.size} rows but meta " +
        s"recorded ${meta.getAs[Long]("n_weights")} — artifact is " +
        "incomplete or mixed across writes")
    NbModel(w, meta.getAs[Double]("floor_w"), meta.getAs[Double]("prior"))
  }

  /** Score docs ROW-LOCALLY under a trained [[NbModel]] — zero shuffle,
    * zero state, so it runs on an unbounded stream: ONE codegen'd
    * expression ([[graft.functions.NbMargin]]) folds per-occurrence
    * O(1)-hash weight lookups over the token array (the interpreted
    * `aggregate(element_at(mapLit, …))` HOF stack it replaces paid a
    * boxed lambda per element and a linear map-literal scan per lookup).
    * Output matches [[trainScore]]'s `(idCol…, n_tokens, margin, pred)`
    * columns (margin guard-rounded to 6dp; FP summation order differs
    * from the distributed scorer by design — the guard-round is the
    * equality contract, pinned by spec AND the shared oracle).
    * Null-text docs are dropped, matching the distributed scorer
    * (explode drops their rows); a BLANK text tokenizes to one
    * empty-string token in both scorers and is scored, not dropped.
    */
  def scoreLocal(df: DataFrame, textCol: String,
                 model: NbModel): DataFrame = {
    val toks = TextAnalysis.tokens(lower(col(textCol)))
    df.filter(col(textCol).isNotNull)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("margin", graft.functions.NbFunctions.graft_nb_margin(
        toks, model.weights, model.floorW, model.prior))
      .withColumn("pred", col("margin") > 0)
  }

  /** Train on `train` (must carry boolean `labelCol`), score `score`:
    * returns `(idCol, n_tokens, margin, pred)` where `margin` is the
    * smoothed log-odds `ln P(pos|doc) − ln P(neg|doc)` (guard-rounded to
    * 6dp) and `pred = margin > 0`. Tokens unseen in training score through
    * the Laplace floor `1/(tot_c + V)`; priors are add-one smoothed so an
    * empty class stays finite.
    */
  def trainScore(train: DataFrame, score: DataFrame, textCol: String,
                 idCol: String, labelCol: String): DataFrame = {
    // fail fast on the clearly-wrong call: an empty training frame would
    // otherwise flow NULL class totals into every scored margin
    require(!train.isEmpty,
      "NbClassifier.trainScore: training frame is empty")
    val tfTrain = TextAnalysis
      .termFreq(train.select(col(idCol), col(textCol)), textCol, idCol,
        cached = false)
      .join(train.select(col(idCol), col(labelCol).cast("boolean")
        .as("__lbl")), Seq(idCol))
    // the model: per-token per-class counts (vocab-sized, broadcastable)
    val classTok = tfTrain.groupBy(col("t"))
      .agg(sum(when(col("__lbl"), col("c")).otherwise(lit(0L))).as("c_pos"),
        sum(when(!col("__lbl"), col("c")).otherwise(lit(0L))).as("c_neg"))
    // corpus scalars in ONE 1-row frame: class token totals, vocab size,
    // class doc counts (for the prior) — cross-joined, never collected
    // a non-empty but token-less training frame (all-blank texts) yields
    // an empty classTok: coalesce the totals to 0 and floor v at 1 in
    // lw() below, so every doc scores at the prior margin instead of NaN
    val stats = classTok
      .agg(coalesce(sum(col("c_pos")), lit(0L)).as("tot_pos"),
        coalesce(sum(col("c_neg")), lit(0L)).as("tot_neg"),
        count(lit(1)).as("v"))
      .crossJoin(train.agg(
        // same boolean cast as the token counts above — a 0/1 integer
        // weak label must behave identically in both halves of training
        sum(when(col(labelCol).cast("boolean"), lit(1L)).otherwise(lit(0L)))
          .as("n_pos"),
        sum(when(!col(labelCol).cast("boolean"), lit(1L)).otherwise(lit(0L)))
          .as("n_neg")))
    val tfScore = TextAnalysis
      .termFreq(score.select(col(idCol), col(textCol)), textCol, idCol,
        cached = false)
    def lw(cnt: Column, tot: Column): Column =
      log((coalesce(cnt, lit(0L)) + lit(1L)).cast("double") /
        (tot + greatest(col("v"), lit(1L))).cast("double"))
    tfScore
      .join(broadcast(classTok), Seq("t"), "left")
      .crossJoin(broadcast(stats))
      .withColumn("__lw", col("c").cast("double") *
        (lw(col("c_pos"), col("tot_pos")) - lw(col("c_neg"), col("tot_neg"))))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("__lw")).as("__s"),
        // scalars are constant over the group; min() carries them through
        min(col("n_pos")).as("__np"), min(col("n_neg")).as("__nn"))
      .withColumn("margin", g6(col("__s") +
        log((col("__np") + lit(1L)).cast("double") /
          (col("__nn") + lit(1L)).cast("double"))))
      .select(col(idCol), col("n_tokens"), col("margin"),
        (col("margin") > 0).as("pred"))
  }
}
