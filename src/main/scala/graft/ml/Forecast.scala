package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.regression.{LinearRegression, RandomForestRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.feat.Windows

/** Forecasting pipeline (SURVEY.md §2.9 M1-M8, M10-M11) re-expressed in
  * Scala MLlib: feature computation per split, time-aware grid validation
  * (chronological inner split, NOT CrossValidator — the reference replaced
  * CV to avoid temporal leakage, `forecasting_model.py:260-320`), best-model
  * selection by validation RMSE, refit on full train, test metrics.
  */
object Forecast {

  /** P12: the reference's tariff feature block
    * (`forecasting_model.py:135-143`) — one-hots from the tariff column
    * when present, lit defaults (normal=1) when absent, so the feature
    * schema is uniform either way.
    *
    * The reference's OTHER defaults at `:145-153` are deliberately NOT
    * mirrored: `avg_hourly_energy = daily/24` is a same-day function of
    * the label (temporal leak — the same class of leak this port already
    * removed from the daily aggregates), and `total_readings = lit(48)` is
    * a constant with no information; [[Windows.withDefaults]] is the
    * generic mechanism if a deployment wants them anyway.
    */
  def withTariffFeatures(df: DataFrame,
                         tariffCol: String = "tariff"): DataFrame =
    if (df.columns.contains(tariffCol))
      df.withColumn("tariff_high", when(col(tariffCol) === "High", 1).otherwise(0))
        .withColumn("tariff_low", when(col(tariffCol) === "Low", 1).otherwise(0))
        .withColumn("tariff_normal", when(col(tariffCol) === "Normal", 1).otherwise(0))
    else
      Windows.withDefaults(df, Seq(
        "tariff_high" -> lit(0), "tariff_low" -> lit(0),
        "tariff_normal" -> lit(1)))

  /** Feature set of `forecasting_model.py:68-156`: lags, trailing rolling
    * stats (current row excluded — leakage guard), calendar + cyclical,
    * tariff one-hots (defaulted when the dim is absent, P12).
    */
  def computeFeatures(daily: DataFrame, idCol: String = "user_id",
                      dateCol: String = "date",
                      target: String = "daily_value"): DataFrame = {
    val lagged = Windows.addLags(daily, idCol, dateCol, target,
      lags = Seq(1, 2, 3, 7, 14))
    val rolled = Windows.addRolling(lagged, idCol, dateCol, target)
    rolled
      .withColumn("month", month(col(dateCol)))
      .withColumn("day", dayofmonth(col(dateCol)))
      .withColumn("day_of_week", dayofweek(col(dateCol)))
      .withColumn("is_weekend",
        Windows.Weekend.byDayOfWeek(col("day_of_week")))
      .transform(Windows.addCyclical(_))
      .transform(withTariffFeatures(_))
      .na.drop()
  }

  /** Feature columns: numeric, not id/date/target — the reference's
    * duck-typed discovery (`forecasting_model.py:50-66`).
    */
  def featureCols(df: DataFrame, exclude: Seq[String]): Array[String] =
    df.schema.fields.collect {
      case f if !exclude.contains(f.name) &&
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] => f.name
    }

  case class FitResult(model: PipelineModel, rmse: Double, mae: Double,
                       r2: Double, bestParams: String)

  private def evaluator(metric: String, target: String) =
    new RegressionEvaluator().setLabelCol(target)
      .setPredictionCol("prediction").setMetricName(metric)

  /** Run grid-point fits concurrently (SparkSession is thread-safe; each
    * fit is its own job, and small-SF fits leave most task slots idle, so
    * overlapping them hides per-fit scheduling latency). Results return in
    * grid order — selection is bit-identical to the sequential loop.
    */
  private def parGrid[A, B](grid: Seq[A], parallelism: Int = 4)(fit: A => B)
      : Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, grid.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(grid.map(g => Future(fit(g)))), Duration.Inf)
    finally pool.shutdown()
  }

  /** One cached transform, three metrics — three separate evaluate() calls
    * on an uncached frame would re-run the transform + upstream lineage
    * per metric.
    */
  private def evalAll(model: PipelineModel, test: DataFrame, target: String,
                      params: String): FitResult = {
    val pred = model.transform(test).cache()
    val r = FitResult(model,
      evaluator("rmse", target).evaluate(pred),
      evaluator("mae", target).evaluate(pred),
      evaluator("r2", target).evaluate(pred), params)
    pred.unpersist()
    r
  }

  /** M3+M4: LR over a manual grid, selected on a chronological validation
    * split, refit on full train.
    */
  def trainLinearRegression(train: DataFrame, test: DataFrame,
                            features: Array[String], target: String,
                            valCutoff: String, dateCol: String = "date",
                            grid: Seq[(Double, Double)] =
                              for {r <- Seq(0.01, 0.1, 1.0); e <- Seq(0.0, 0.5, 1.0)}
                                yield (r, e)): FitResult = {
    val assembler = new VectorAssembler().setInputCols(features)
      .setOutputCol("features").setHandleInvalid("skip")
    val scaler = new StandardScaler().setInputCol("features")
      .setOutputCol("scaled_features")
    // assembler+scaler depend only on innerTrain, not on the grid point —
    // fit them ONCE and grid over the bare LR on the pre-transformed
    // frames. Identical selection to refitting the whole pipeline per
    // config (the reference's shape), at a third of the fit work.
    val innerTrain = train.filter(col(dateCol) < lit(valCutoff))
    val innerVal = train.filter(col(dateCol) >= lit(valCutoff))
    val prep = new Pipeline().setStages(Array(assembler, scaler)).fit(innerTrain)
    val prepTrain = prep.transform(innerTrain).cache()
    val prepVal = prep.transform(innerVal).cache()
    val best = parGrid(grid) { case (reg, en) =>
      val lr = new LinearRegression().setFeaturesCol("scaled_features")
        .setLabelCol(target).setMaxIter(100)
        .setRegParam(reg).setElasticNetParam(en)
      val m = lr.fit(prepTrain)
      val vr = evaluator("rmse", target).evaluate(m.transform(prepVal))
      (reg, en, vr)
    }.minBy(_._3)
    prepTrain.unpersist(); prepVal.unpersist()
    val lr = new LinearRegression().setFeaturesCol("scaled_features")
      .setLabelCol(target).setMaxIter(100)
      .setRegParam(best._1).setElasticNetParam(best._2)
    val model = new Pipeline().setStages(Array(assembler, scaler, lr)).fit(train)
    evalAll(model, test, target, s"regParam=${best._1},elasticNet=${best._2}")
  }

  /** Partition-sizing for tree-ensemble fits: tree training is iterative
    * (one distributed stats pass per node group per depth level), so its
    * cost is jobs × per-task overhead — 32 partitions of a few hundred
    * rows each turns a seconds-long fit into minutes of scheduling
    * (measured 103 s → seconds for the RF grid at sf0.1). But the floor
    * matters as much as the ceiling: the grid fits CONCURRENTLY (4 points
    * at once), so 1 partition per fit strands all but 4 cores. The r10
    * A/B at sf0.1 (each config twice, JIT-warmed): 1 part 11.9 s,
    * 4 parts 7.6 s, 8 parts 6.1 s, 32 parts 7.7 s for the 4-point grid —
    * the optimum is partitions-per-fit ≈ cores / concurrent-fits. Target
    * ~2k rows per partition, capped at the cluster parallelism: at 100 TB
    * the cap leaves partitioning at the cluster's own width (unchanged
    * from before); at dev SF it lands the fit near the measured optimum.
    * (RF float outputs legitimately vary with fit partitioning — bagging
    * seeds per partition index — which is why MlSpec pins metric ranges
    * and the oracled `_keys` envelopes, never float hashes.)
    */
  private[ml] def sizedForTrees(df: DataFrame,
                                rowsPerPartition: Long = 2048): DataFrame = {
    val n = df.count()
    val parts = math.max(1, math.min(
      ((n + rowsPerPartition - 1) / rowsPerPartition).toInt,
      df.sparkSession.sparkContext.defaultParallelism))
    if (df.rdd.getNumPartitions <= parts) df else df.coalesce(parts)
  }

  /** M5: RF over a trees×depth grid on raw (unscaled) features, seed=42. */
  def trainRandomForest(train: DataFrame, test: DataFrame,
                        features: Array[String], target: String,
                        valCutoff: String, dateCol: String = "date",
                        grid: Seq[(Int, Int)] =
                          for {t <- Seq(50, 100); d <- Seq(5, 10)} yield (t, d))
      : FitResult = {
    val assembler = new VectorAssembler().setInputCols(features)
      .setOutputCol("features").setHandleInvalid("skip")
    // assembler is a pure Transformer — assemble the inner frames ONCE and
    // grid over the bare RF (same trick as the LR grid: identical
    // selection, no per-config re-assembly)
    // cache BEFORE sizedForTrees: its count() then populates the cache, and
    // the coalesced view reads through it — uncached, the filter+assembly
    // lineage would execute twice (once for the count, again on first fit)
    val assembledInner = assembler.transform(
      train.filter(col(dateCol) < lit(valCutoff))).cache()
    val innerTrain = sizedForTrees(assembledInner)
    val innerVal = assembler.transform(
      train.filter(col(dateCol) >= lit(valCutoff))).cache()
    val best = parGrid(grid) { case (t, d) =>
      val rf = new RandomForestRegressor().setFeaturesCol("features")
        .setLabelCol(target).setNumTrees(t).setMaxDepth(d).setSeed(42)
      val m = rf.fit(innerTrain)
      (t, d, evaluator("rmse", target).evaluate(m.transform(innerVal)))
    }.minBy(_._3)
    assembledInner.unpersist(); innerVal.unpersist()
    val rf = new RandomForestRegressor().setFeaturesCol("features")
      .setLabelCol(target).setNumTrees(best._1).setMaxDepth(best._2).setSeed(42)
    val model = new Pipeline().setStages(Array(assembler, rf))
      .fit(sizedForTrees(train))
    evalAll(model, test, target, s"numTrees=${best._1},maxDepth=${best._2}")
  }

  /** M6: GBT — present but not part of [[run]]'s selection, mirroring the
    * reference (`forecasting_model.py:428-476` skips it for memory).
    */
  def trainGbt(train: DataFrame, test: DataFrame, features: Array[String],
               target: String, maxIter: Int = 20): FitResult = {
    val assembler = new VectorAssembler().setInputCols(features)
      .setOutputCol("features").setHandleInvalid("skip")
    val gbt = new org.apache.spark.ml.regression.GBTRegressor()
      .setFeaturesCol("features").setLabelCol(target)
      .setMaxIter(maxIter).setSeed(42)
    val model = new Pipeline().setStages(Array(assembler, gbt))
      .fit(sizedForTrees(train))
    evalAll(model, test, target, s"gbtMaxIter=$maxIter")
  }

  /** M13: Q-Q plot quantiles of prediction errors vs normal
    * (`streamlit_app.py:406` uses scipy.probplot; the distributed form is
    * approxQuantile over the residuals — plotting stays at the edge).
    */
  def errorQuantiles(preds: DataFrame, target: String, nQuantiles: Int = 100)
      : Array[Double] = {
    val probs = (1 until nQuantiles).map(_.toDouble / nQuantiles).toArray
    preds.withColumn("err", col("prediction") - col(target))
      .stat.approxQuantile("err", probs, 0.001)
  }

  /** M10: top-k feature importances of a fitted RF pipeline. */
  def featureImportances(model: PipelineModel, features: Array[String],
                         k: Int = 10): Seq[(String, Double)] = {
    val rf = model.stages.collectFirst {
      case m: org.apache.spark.ml.regression.RandomForestRegressionModel => m
    }.getOrElse(sys.error("no RF stage in pipeline"))
    features.zip(rf.featureImportances.toArray).sortBy(-_._2).take(k).toSeq
  }

  /** The reference's trimmed dev grid; the full 9-point grid
    * (regParam {0.01,0.1,1.0} × elasticNet {0,0.5,1},
    * `forecasting_model.py:272-320`) is [[trainLinearRegression]]'s default.
    */
  val FastLrGrid: Seq[(Double, Double)] =
    Seq((0.01, 0.0), (0.1, 0.0), (0.1, 0.5))

  /** End-to-end forecast (the reference's stage 4): features → 70/30
    * chronological split (cutoffs derived from the data's date range) →
    * LR grid AND RF grid → best of both by test RMSE (M11, the reference's
    * model comparison, `forecasting_model.py:481-525`) → predictions
    * `(id, date, target, prediction)` from the winner.
    *
    * - `fastGrid=true` trims LR to the 3-point dev grid and skips RF — the
    *   cheap loop for iterating; the DEFAULT is full reference parity.
    * - GBT ([[trainGbt]]) stays out of the selection, as the reference's
    *   GBT branch is disabled (M6).
    * - `modelDir` persists the winning PipelineModel
    *   (`best_forecasting_model/`, `model.write().overwrite().save`, ref
    *   `:424,525`) plus `model_metadata.txt` (ref `:560-570`).
    */
  def run(daily: DataFrame, idCol: String = "user_id",
          dateCol: String = "date", target: String = "daily_value",
          fastGrid: Boolean = false, modelDir: Option[String] = None)
      : (DataFrame, FitResult) = {
    val feats = computeFeatures(daily, idCol, dateCol, target).cache()
    // phase boundary: the cutoff collect below is the first action over
    // the cached feature frame, so it pays the whole window-heavy
    // feature build — time it as the "features" phase
    val Array(minD, maxD) = graft.tools.PhaseTimer.timed("forecast.features") {
      feats.agg(min(col(dateCol)), max(col(dateCol)))
        .collect().head.toSeq.map(_.toString).toArray
    }
    val span = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(minD), java.time.LocalDate.parse(maxD))
    val testCutoff = java.time.LocalDate.parse(minD).plusDays(span * 7 / 10)
      .toString
    val valCutoff = java.time.LocalDate.parse(minD).plusDays(span * 5 / 10)
      .toString
    // train/test cached: every grid fit (LR points, RF points, refits) and
    // the final transform re-scan them; uncached they'd replay the
    // window-heavy feature lineage per fit
    val train = feats.filter(col(dateCol) < lit(testCutoff)).cache()
    val test = feats.filter(col(dateCol) >= lit(testCutoff)).cache()
    val fcols = featureCols(feats, Seq(idCol, dateCol, target))
    val trainers: Seq[(String, () => FitResult)] =
      Seq("LinearRegression" -> (() =>
        if (fastGrid)
          trainLinearRegression(train, test, fcols, target, valCutoff,
            dateCol, grid = FastLrGrid)
        else
          trainLinearRegression(train, test, fcols, target, valCutoff,
            dateCol))) ++
      (if (fastGrid) Nil
       else Seq("RandomForest" -> (() =>
         trainRandomForest(train, test, fcols, target, valCutoff, dateCol))))
    // model families train concurrently too (independent jobs on the same
    // cached frames); selection order is the declared Seq order. Each
    // family's grid is phase-timed in its own thread — concurrent phases
    // accumulate their OWN wall time, so the phase sums can exceed the
    // fused query's wall clock (PhaseTimer contract).
    val candidates = parGrid(trainers, parallelism = trainers.size) {
      case (name, t) =>
        name -> graft.tools.PhaseTimer.timed(s"forecast.grid_$name")(t())
    }
    val (bestName, best) = candidates.minBy(_._2.rmse)
    modelDir.foreach { dir =>
      best.model.write.overwrite().save(s"$dir/best_forecasting_model")
      graft.io.Writers.textFile(train.sparkSession, s"$dir/model_metadata.txt",
        Seq(s"Best Model: $bestName", s"Params: ${best.bestParams}",
          f"MAE: ${best.mae}%.4f", f"RMSE: ${best.rmse}%.4f",
          f"R2: ${best.r2}%.4f", s"Features Used: ${fcols.length}")
          .mkString("\n"))
    }
    val preds = best.model.transform(test)
      .select(col(idCol), col(dateCol), col(target), col("prediction"))
      .cache()
    // materialize preds, then DROP the feature-lineage caches: leaving the
    // wide cached train/test frames pinned after training measurably slows
    // every later query in the session (storage pressure + GC churn), and
    // nothing downstream needs them once preds is materialized
    graft.tools.PhaseTimer.timed("forecast.winner_transform")(preds.count())
    feats.unpersist(); train.unpersist(); test.unpersist()
    (preds, best.copy(bestParams = s"model=$bestName,${best.bestParams}"))
  }
}
