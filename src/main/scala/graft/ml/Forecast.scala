package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.optim.graft.LinearBridge
import org.apache.spark.ml.param.ParamMap
import org.apache.spark.ml.regression.RandomForestRegressor
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.feat.Windows

/** Forecasting pipeline (SURVEY.md §2.9 M1-M8, M10-M11) re-expressed in
  * Scala MLlib: feature computation per split, time-aware grid validation
  * (chronological inner split, NOT CrossValidator — the reference replaced
  * CV to avoid temporal leakage, `forecasting_model.py:260-320`), best-model
  * selection by validation RMSE, refit on full train, test metrics.
  *
  * The LR family is fit from sufficient statistics. One pass over the
  * cached features sums the Gram matrix of `[1, x, y]` per date
  * ([[LinearGram.byKey]]); the folds are sums of dates. The scaler, every
  * grid point's solve (MLlib's own Cholesky and quasi-Newton solvers),
  * each validation RMSE, the refit and the test RMSE and R² are then
  * local arithmetic on p+2 square matrices, with no Spark job, and the
  * model is MLlib's `PipelineModel(assembler, scaler, lr)`. MLlib's
  * `LinearRegression` instead aggregates the same rows once per grid
  * point, plus one evaluation job each: on MlSpec's fixture
  * `run(fastGrid = true)` took 30 jobs that way, and takes 5 now. The
  * pass is one `treeAggregate` of packed triangles rather than one SQL
  * `sum` per Gram entry, because the 325-column SQL aggregate measured
  * 1.1–1.8 s (2 jobs) against 0.05–0.07 s (1 job) on the perfbench input
  * (details at [[LinearGram.byKey]]).
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

  /** Mean |target − prediction| in one job: an RDD mean has no shuffle
    * stage, where a SQL aggregate adds one. NaN over no rows.
    */
  private def mae(pred: DataFrame, target: String): Double =
    pred.select(abs(col(target) - col("prediction")).cast("double"))
      .as(Encoders.scalaDouble).rdd.mean()

  private def assembler(features: Array[String]) =
    new VectorAssembler().setInputCols(features)
      .setOutputCol("features").setHandleInvalid("skip")

  /** The reference's LR grid: regParam {0.01,0.1,1.0} × elasticNet
    * {0,0.5,1} (`forecasting_model.py:272-320`).
    */
  val ReferenceLrGrid: Seq[(Double, Double)] =
    for {r <- Seq(0.01, 0.1, 1.0); e <- Seq(0.0, 0.5, 1.0)} yield (r, e)

  /** The reference's trimmed dev grid. */
  val FastLrGrid: Seq[(Double, Double)] =
    Seq((0.01, 0.0), (0.1, 0.0), (0.1, 0.5))

  /** The chronological split over the epoch days `days`: the validation
    * cutoff at 50 % and the test cutoff at 70 % of their span.
    */
  def cutoffDays(days: Iterable[Int]): (Int, Int) = {
    val (first, span) = (days.min, days.max - days.min)
    (first + span * 5 / 10, first + span * 7 / 10)
  }

  /** M3+M4: LR over a manual grid, selected on a chronological validation
    * split, refit on full train: MLlib's assembler → scaler →
    * `LinearRegression` pipeline, fit from the per-date Grams of the
    * features ([[LinearGram.byKey]] keyed by epoch day) with no Spark job.
    * Days before `valDay` are inner-train, days from `valDay` to before
    * `testDay` inner-val, the rest test. The scaler is fit on inner-train,
    * then one solve per grid point, selection by validation RMSE, the
    * refit of scaler and LR on inner-train + inner-val, and test RMSE and
    * R². MAE needs the test rows, so it is NaN here; [[run]] measures it
    * in its predictions pass.
    */
  def trainLinearRegression(byDate: Map[Int, Gram], valDay: Int,
                            testDay: Int, features: Array[String],
                            target: String,
                            grid: Seq[(Double, Double)] = ReferenceLrGrid)
      : FitResult = {
    def fold(in: Int => Boolean) = byDate.keys.filter(in).toSeq.sorted
      .foldLeft(LinearGram.empty(features.length))(_ + byDate(_))
    val innerTrain = fold(_ < valDay)
    val innerVal = fold(d => d >= valDay && d < testDay)
    val test = fold(_ >= testDay)
    // prediction = coef · (x * scale) + intercept, so the residual's
    // weights on the raw features are coef * scale
    def weights(c: Array[Double], s: Array[Double]) =
      Array.tabulate(c.length)(i => c(i) * s(i))
    val innerScale = LinearGram.scale(LinearGram.scaler(innerTrain)._1)
    val (reg, en) = grid.minBy { case (r, e) =>
      val (c, b) = LinearGram.fit(innerTrain, innerScale, r, e)
      math.sqrt(innerVal.sse(weights(c, innerScale), b) / innerVal.n)
    }
    val train = innerTrain + innerVal
    val (std, mean) = LinearGram.scaler(train)
    val scale = LinearGram.scale(std)
    val (coef, intercept) = LinearGram.fit(train, scale, reg, en)
    val sse = test.sse(weights(coef, scale), intercept)
    val lr = LinearBridge.linearModel(Vectors.dense(coef).compressed, intercept)
    val scaler = LinearBridge.scalerModel(Vectors.dense(std).compressed,
      Vectors.dense(mean).compressed)
      .setInputCol("features").setOutputCol("scaled_features")
    val model = LinearBridge.pipelineModel(Array(assembler(features), scaler,
      lr.copy(ParamMap(lr.featuresCol -> "scaled_features",
        lr.labelCol -> target, lr.maxIter -> LinearGram.MaxIter,
        lr.regParam -> reg, lr.elasticNetParam -> en))))
    FitResult(model, math.sqrt(sse / test.n), Double.NaN,
      1 - sse / test.centeredYY, s"regParam=$reg,elasticNet=$en")
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
    val assembler = Forecast.assembler(features)
    // assembler is a pure Transformer — assemble the inner frames ONCE and
    // grid over the bare RF: identical selection, no per-config
    // re-assembly
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
    val gbt = new org.apache.spark.ml.regression.GBTRegressor()
      .setFeaturesCol("features").setLabelCol(target)
      .setMaxIter(maxIter).setSeed(42)
    val model = new Pipeline().setStages(Array(assembler(features), gbt))
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

  /** End-to-end forecast (the reference's stage 4): features → 70/30
    * chronological split (cutoffs derived from the data's date range) →
    * LR grid AND RF grid → best of both by test RMSE (M11, the reference's
    * model comparison, `forecasting_model.py:481-525`) → predictions
    * `(id, date, target, prediction)` from the winner.
    *
    * - The first pass over the cached features sums the LR Gram per date
    *   ([[LinearGram.byKey]]). The date range, and so the cutoffs, come
    *   from its keys, and the three LR folds are sums of its dates: the
    *   whole LR grid, its refit and its test RMSE and R² are local
    *   arithmetic. The second pass materializes the winner's predictions
    *   and measures its test MAE.
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
    val fcols = featureCols(feats, Seq(idCol, dateCol, target))
    // the first action over the cached frame: it also pays the
    // window-heavy feature build
    val byDate = graft.tools.PhaseTimer.timed("forecast.grid_LinearRegression") {
      LinearGram.byKey(feats, unix_date(col(dateCol).cast("date")),
        fcols.toSeq, target)
    }
    val (valDay, testDay) = cutoffDays(byDate.keys)
    val testCutoff = java.time.LocalDate.ofEpochDay(testDay).toString
    val valCutoff = java.time.LocalDate.ofEpochDay(valDay).toString
    val train = feats.filter(col(dateCol) < lit(testCutoff))
    val test = feats.filter(col(dateCol) >= lit(testCutoff))
    val trainers: Seq[(String, () => FitResult)] =
      Seq("LinearRegression" -> (() =>
        trainLinearRegression(byDate, valDay, testDay, fcols, target,
          if (fastGrid) FastLrGrid else ReferenceLrGrid))) ++
      (if (fastGrid) Nil
       else Seq("RandomForest" -> (() =>
         trainRandomForest(train, test, fcols, target, valCutoff, dateCol))))
    // model families train concurrently too (independent jobs on the same
    // cached frame); selection order is the declared Seq order. Each
    // family's grid is phase-timed in its own thread — concurrent phases
    // accumulate their OWN wall time, so the phase sums can exceed the
    // fused query's wall clock (PhaseTimer contract).
    val candidates = parGrid(trainers, parallelism = trainers.size) {
      case (name, t) =>
        name -> graft.tools.PhaseTimer.timed(s"forecast.grid_$name")(t())
    }
    val (bestName, best) = candidates.minBy(_._2.rmse)
    val preds = best.model.transform(test)
      .select(col(idCol), col(dateCol), col(target), col("prediction"))
      .cache()
    // one pass materializes preds and measures the winner's test MAE; then
    // DROP the feature cache: leaving the wide cached frame pinned after
    // training measurably slows every later query in the session
    // (storage pressure + GC churn), and nothing downstream needs it
    val fit = best.copy(mae =
      graft.tools.PhaseTimer.timed("forecast.winner_transform")(mae(preds, target)))
    feats.unpersist()
    modelDir.foreach { dir =>
      fit.model.write.overwrite().save(s"$dir/best_forecasting_model")
      graft.io.Writers.textFile(preds.sparkSession, s"$dir/model_metadata.txt",
        Seq(s"Best Model: $bestName", s"Params: ${fit.bestParams}",
          f"MAE: ${fit.mae}%.4f", f"RMSE: ${fit.rmse}%.4f",
          f"R2: ${fit.r2}%.4f", s"Features Used: ${fcols.length}")
          .mkString("\n"))
    }
    (preds, fit.copy(bestParams = s"model=$bestName,${fit.bestParams}"))
  }
}
