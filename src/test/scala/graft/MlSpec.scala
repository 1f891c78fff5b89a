package graft

import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.sql.functions._

import org.apache.spark.sql.DataFrame

import graft.ml.{Anomaly, Forecast, Gram, LinearGram}
import graft.queries.Parity

/** Seeded ML invariants (SURVEY.md §5.4): metric ranges and determinism,
  * never float hash-equality.
  */
class MlSpec extends SparkSpec {

  private lazy val daily = Parity.daily(spark, TestSpark.sf0001).cache()

  test("forecast features: warm-up rows dropped, no nulls remain") {
    val f = Forecast.computeFeatures(daily)
    assert(f.count() > 0)
    val anyNull = f.columns.map(c => col(c).isNull).reduce(_ || _)
    assert(f.filter(anyNull).count() == 0)
  }

  test("P12: tariff features default when absent, one-hot when present") {
    import spark.implicits._
    // absent → lit defaults, uniform schema
    val f = Forecast.computeFeatures(daily)
    assert(Seq("tariff_high", "tariff_low", "tariff_normal")
      .forall(f.columns.contains))
    val r = f.select("tariff_high", "tariff_low", "tariff_normal").distinct()
      .collect()
    assert(r.length == 1 && r.head.toSeq == Seq(0, 0, 1))
    // present → real one-hots
    val withT = Seq((1L, "High"), (2L, "Low"), (3L, "Normal"))
      .toDF("id", "tariff")
    val oh = Forecast.withTariffFeatures(withT)
      .orderBy("id")
      .select("tariff_high", "tariff_low", "tariff_normal").collect()
    assert(oh.map(_.toSeq).toSeq ==
      Seq(Seq(1, 0, 0), Seq(0, 1, 0), Seq(0, 0, 1)))
    // generic withDefaults never overwrites an existing column
    val kept = graft.feat.Windows.withDefaults(
      Seq((1, 5)).toDF("a", "tariff_high"), Seq("tariff_high" -> lit(0)))
    assert(kept.head.getInt(1) == 5)
  }

  test("LR forecast: predictions exist, metrics finite, chronological split") {
    val (preds, fit) = Forecast.run(daily, fastGrid = true)
    assert(preds.count() > 0)
    assert(!fit.rmse.isNaN && fit.rmse >= 0 && !fit.mae.isNaN && fit.mae >= 0)
    assert(fit.r2 <= 1.0)
    // test rows must all be after the train cutoff — no temporal leakage
    val f = Forecast.computeFeatures(daily)
    val maxTrainDate = f.agg(min(col("date")), max(col("date"))).head
    assert(preds.agg(min(col("date"))).head.getDate(0)
      .after(maxTrainDate.getDate(0)))
  }

  /** A perfbench-shaped daily frame: `households` × `days` of daily kWh
    * (household level + weekend + day-of-week + noise, about one
    * household-day in 200 tripled), from `start`. `start` places the
    * month boundaries, and with them the folds where `month` is constant.
    */
  private def benchShaped(seed: Long, start: String, households: Int = 40,
                          days: Int = 60) = {
    import spark.implicits._
    val r = new scala.util.Random(seed)
    val base = Array.fill(households)(60 + r.nextInt(140))
    val d0 = java.time.LocalDate.parse(start)
    val rows = for (h <- 0 until households; d <- 0 until days) yield {
      val date = d0.plusDays(d)
      val weekend = if (date.getDayOfWeek.getValue >= 6) 40 else 0
      val wh = 47L * (base(h) + weekend + 3 * (d % 7) + 48) + r.nextInt(47 * 50)
      (h.toLong, java.sql.Date.valueOf(date),
        (if (r.nextInt(200) == 0) 3 * wh else wh) / 1000.0)
    }
    rows.toDF("user_id", "date", "daily_value")
  }

  /** The forecast's inputs, cut as [[Forecast.run]] cuts them. */
  private case class Folds(byDate: Map[Int, Gram], valDay: Int, testDay: Int,
                           train: DataFrame, test: DataFrame,
                           fcols: Array[String], valCutoff: String)

  private def folds(f: DataFrame): Folds = {
    val fcols = Forecast.featureCols(f, Seq("user_id", "date", "daily_value"))
    val byDate = LinearGram.byKey(f, unix_date(col("date").cast("date")),
      fcols.toSeq, "daily_value")
    val (valDay, testDay) = Forecast.cutoffDays(byDate.keys)
    def day(d: Int) = java.time.LocalDate.ofEpochDay(d).toString
    Folds(byDate, valDay, testDay, f.filter(col("date") < lit(day(testDay))),
      f.filter(col("date") >= lit(day(testDay))), fcols, day(valDay))
  }

  private def metric(name: String, pred: DataFrame) =
    new org.apache.spark.ml.evaluation.RegressionEvaluator()
      .setLabelCol("daily_value").setPredictionCol("prediction")
      .setMetricName(name).evaluate(pred)

  /** MLlib's own LR path, the reference for [[Forecast.trainLinearRegression]]:
    * assembler → scaler fit on inner-train → one `LinearRegression` per grid
    * point, selected by validation RMSE → the whole pipeline refit on train
    * → three `RegressionEvaluator` metrics on test.
    */
  private def mllibLinear(c: Folds, grid: Seq[(Double, Double)]) = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
    import org.apache.spark.ml.regression.LinearRegression
    def lr(reg: Double, en: Double) = new LinearRegression()
      .setFeaturesCol("scaled_features").setLabelCol("daily_value")
      .setMaxIter(100).setRegParam(reg).setElasticNetParam(en)
    val assembler = new VectorAssembler().setInputCols(c.fcols)
      .setOutputCol("features").setHandleInvalid("skip")
    val scaler = new StandardScaler().setInputCol("features")
      .setOutputCol("scaled_features")
    val innerTrain = c.train.filter(col("date") < lit(c.valCutoff))
    val innerVal = c.train.filter(col("date") >= lit(c.valCutoff))
    val prep = new Pipeline().setStages(Array(assembler, scaler)).fit(innerTrain)
    val (reg, en) = grid.minBy { case (r, e) =>
      metric("rmse", lr(r, e).fit(prep.transform(innerTrain))
        .transform(prep.transform(innerVal)))
    }
    val model = new Pipeline().setStages(Array(assembler, scaler, lr(reg, en)))
      .fit(c.train)
    val pred = model.transform(c.test)
    ((reg, en), model, metric("rmse", pred), metric("mae", pred),
      metric("r2", pred))
  }

  test("LR from sufficient statistics matches MLlib's LinearRegression: " +
    "selection, coefficients, test metrics") {
    import org.apache.spark.ml.regression.LinearRegressionModel
    // every miss is collected, so a failure reports all of them
    val misses = scala.collection.mutable.ArrayBuffer[String]()
    // NaN on both sides agrees (R² over a constant test label is 0/0)
    def check(what: String, a: Double, b: Double, tol: Double): Unit =
      if (!(a.isNaN && b.isNaN) &&
          !(math.abs(a - b) <= tol * math.max(math.abs(a), math.abs(b))))
        misses += s"$what: $a vs $b (rel ${math.abs(a - b) /
          math.max(math.abs(a), math.abs(b))}, tol $tol)"
    // daily: month, month_sin/cos and the defaulted tariff_* one-hots are
    // constant everywhere. Apr 1 start: month is constant in inner-train
    // and in test but not in train, so the refit's scaler sees a std the
    // grid's scaler saw as zero. A constant label gives MLlib's
    // intercept-only model at every grid point.
    val fixtures = Seq("daily" -> daily,
      "constant target" -> daily.withColumn("daily_value", lit(2.0)),
      "bench seed 7, Mar 18" -> benchShaped(7, "2013-03-18"),
      "bench seed 11, Jan 1" -> benchShaped(11, "2013-01-01"))
    for ((name, fixture) <- fixtures;
         (gname, grid) <- Seq("fast" -> Forecast.FastLrGrid,
           "reference" -> Forecast.ReferenceLrGrid)) {
      val f = Forecast.computeFeatures(fixture).cache()
      val c = folds(f)
      val fcols = c.fcols
      val ((reg, en), ref, rmse, mae, r2) = mllibLinear(c, grid)
      val got = Forecast.trainLinearRegression(c.byDate, c.valDay, c.testDay,
        fcols, "daily_value", grid)
      val at = s"$name, $gname grid"
      if (got.bestParams != s"regParam=$reg,elasticNet=$en")
        misses += s"$at: selected ${got.bestParams}, MLlib ($reg, $en)"
      else {
        // Cholesky (L2 only) agrees to rounding; QuasiNewton to its own tol
        val tol = if (en == 0.0) 1e-9 else 1e-6
        def lrOf(m: org.apache.spark.ml.PipelineModel) =
          m.stages.collectFirst { case l: LinearRegressionModel => l }.get
        val (a, b) = (lrOf(got.model), lrOf(ref))
        // a known miss of 1e-9, held at 1e-7: in this fixture's train fold
        // month takes two values, so month, month_sin and month_cos are
        // exactly collinear and only the L2 term splits the weight among
        // them. MLlib refit on the same rows repartitioned moves these
        // three by 1.6e-9 to 7.3e-9 (every other coefficient by ≤ 2.3e-11)
        // and the intercept, which carries their means, by up to 7.0e-9;
        // the Gram fit differs from MLlib by 3.1e-9 to 8.3e-9 on the three
        // and by 1.3e-9 on the intercept.
        val collinear = name.startsWith("bench seed 7")
        val loose = math.max(tol, 1e-7)
        fcols.indices.foreach { i =>
          check(s"$at: coefficient ${fcols(i)}", a.coefficients(i),
            b.coefficients(i),
            if (collinear && Set("month", "month_sin", "month_cos")(fcols(i)))
              loose
            else tol)
        }
        check(s"$at: intercept", a.intercept, b.intercept,
          if (collinear) loose else tol)
        check(s"$at: rmse", got.rmse, rmse, 1e-9)
        check(s"$at: r2", got.r2, r2, 1e-9)
        check(s"$at: mae", metric("mae", got.model.transform(c.test)), mae,
          1e-9)
      }
      f.unpersist()
    }
    assert(misses.isEmpty, misses.mkString("\n", "\n", ""))
  }

  /** `body`'s result and the jobs it ran, from the engine's listener. */
  private def jobsOf[A](body: => A): (A, Long) = {
    val sc = spark.sparkContext
    val m = graft.tools.StageMetrics.attach(sc)
    try {
      val t0 = m.read()
      val a = body
      (a, (m.read() - t0).jobs)
    } finally sc.removeSparkListener(m)
  }

  test("job budget: Forecast.run(fastGrid = true) runs in 5 jobs") {
    // Measured twice at local[4]: the feature window's shuffle, the
    // feature cache's materialization, the Gram pass, the predictions
    // cache's materialization and the MAE pass (a cached plan under AQE
    // materializes in a job of its own). It was 30 with one MLlib fit and
    // evaluation job per grid point. Raise the budget only with a reason.
    daily.count()
    val ((preds, _), jobs) = jobsOf(Forecast.run(daily, fastGrid = true))
    preds.unpersist()
    assert(jobs <= 5, s"Forecast.run(fastGrid = true) ran $jobs jobs")
  }

  test("RF forecast: small grid trains and ranks importances") {
    // features start ~Jan 15 at sf0.001 (lag_14 warm-up dropped by na.drop)
    val f = Forecast.computeFeatures(daily).cache()
    val cut = "2024-01-27"
    val train = f.filter(col("date") < lit(cut))
    val test = f.filter(col("date") >= lit(cut))
    val fcols = Forecast.featureCols(f, Seq("user_id", "date", "daily_value"))
    val fit = Forecast.trainRandomForest(train, test, fcols, "daily_value",
      valCutoff = "2024-01-24", grid = Seq((10, 4)))
    assert(!fit.rmse.isNaN)
    val imp = Forecast.featureImportances(fit.model, fcols, k = 5)
    assert(imp.length == 5 && imp.head._2 >= imp.last._2)
    f.unpersist()
  }

  test("RF test metrics from one pass equal RegressionEvaluator's, bit " +
      "for bit") {
    val f = Forecast.computeFeatures(daily).cache()
    val cut = "2024-01-27"
    val train = f.filter(col("date") < lit(cut))
    // one partition: the metrics merge per-partition summaries in task
    // completion order, so over several partitions the last bits of two
    // passes over the same rows may differ
    val test = f.filter(col("date") >= lit(cut)).coalesce(1)
    val fcols = Forecast.featureCols(f, Seq("user_id", "date", "daily_value"))
    val fit = Forecast.trainRandomForest(train, test, fcols, "daily_value",
      valCutoff = "2024-01-24", grid = Seq((10, 4)))
    val pred = fit.model.transform(test)
    for ((metric, got) <- Seq("rmse" -> fit.rmse, "mae" -> fit.mae,
        "r2" -> fit.r2)) {
      val want = new RegressionEvaluator().setLabelCol("daily_value")
        .setMetricName(metric).evaluate(pred)
      assert(java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(want), s"$metric: $got vs $want")
    }
    f.unpersist()
  }

  test("job budget: Anomaly.run runs in 9 jobs") {
    // Measured twice at local[4], 9 both times: the scaler fit, the one-job
    // KMeans fit, the materialization of the input and distance caches and
    // of AQE's stages (a cached plan under AQE materializes in a job of its
    // own), and the collect. It was 20 when MLlib's KMeans.fit ran its
    // initialization and each Lloyd iteration as jobs of their own, and 21
    // with a partition-sizing count and a count that only fed a phase
    // timer. Raise the budget only with a reason.
    daily.count()
    val (preds, _) = Forecast.run(daily, fastGrid = true)
    try {
      val (_, jobs) = jobsOf(Anomaly.run(daily, preds).collect())
      assert(jobs <= 9, s"Anomaly.run ran $jobs jobs")
    } finally preds.unpersist()
  }

  test("job budget: Anomaly.run on a perfbench-shaped input runs in 8 jobs") {
    // One partition, as perfbench's daily table reads, and MLlib's KMeans
    // runs all 20 iterations on it. Measured twice at local[4], 8 both
    // times; MLlib's KMeans.fit made it 36. Raise the budget only with a
    // reason.
    val d = benchShaped(7, "2013-03-18").coalesce(1).cache()
    d.count()
    val (preds, _) = Forecast.run(d, fastGrid = true)
    try {
      val (_, jobs) = jobsOf(Anomaly.run(d, preds).collect())
      assert(jobs <= 8, s"Anomaly.run ran $jobs jobs")
    } finally {
      preds.unpersist()
      d.unpersist()
    }
  }

  /** `d`'s anomaly features (`d` ⋈ its fast-grid forecast), assembled and
    * scaled as [[Anomaly.detect]] does, cached in one partition.
    */
  private def scaledAnomalyInput(d: DataFrame): DataFrame = {
    val (preds, _) = Forecast.run(d, fastGrid = true)
    val f = Anomaly.features(d.join(
      preds.select("user_id", "date", "prediction"), Seq("user_id", "date")))
    val out = Anomaly.scaled(f, Array("daily_value", "residual",
      "day_of_week", "is_weekend")).coalesce(1).cache()
    out.count()
    preds.unpersist()
    out
  }

  /** How [[Anomaly.fitKMeans]] on `f` misses MLlib's row-solver
    * `KMeans.fit` on the same frame (centers and training cost bit for
    * bit, iteration count, every row's cluster), and the jobs fitKMeans
    * ran.
    */
  private def kmeansMisses(what: String, f: DataFrame, k: Int, seed: Long)
      : (Seq[String], Long) = {
    import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
    val ref = new KMeans().setK(k).setSeed(seed).setSolver("row")
      .setFeaturesCol("scaled_features").setPredictionCol("cluster").fit(f)
    val (got, jobs) = jobsOf(Anomaly.fitKMeans(f, k, seed))
    def bits(m: KMeansModel) = m.clusterCenters.toSeq
      .map(_.toArray.toSeq.map(java.lang.Double.doubleToLongBits))
    def clusters(m: KMeansModel) =
      m.transform(f).select("cluster").collect().map(_.getInt(0)).toSeq
    val at = s"$what, k=$k, seed=$seed"
    val misses = Seq(
      (bits(got) != bits(ref)) -> s"$at: centers ${got.clusterCenters
        .mkString(" ")} vs ${ref.clusterCenters.mkString(" ")}",
      (java.lang.Double.doubleToLongBits(got.summary.trainingCost) !=
        java.lang.Double.doubleToLongBits(ref.summary.trainingCost)) ->
        s"$at: cost ${got.summary.trainingCost} vs ${ref.summary.trainingCost}",
      (got.summary.numIter != ref.summary.numIter) ->
        s"$at: ${got.summary.numIter} vs ${ref.summary.numIter} iterations",
      (clusters(got) != clusters(ref)) -> s"$at: row clusters differ"
    ).collect { case (true, miss) => miss }
    (misses, jobs)
  }

  test("KMeans on one partition: MLlib's model bit for bit, in 1 job") {
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    import spark.implicits._
    def frame(vs: Seq[Vector]) = {
      val f = vs.map(Tuple1(_)).toDF("scaled_features").coalesce(1).cache()
      f.count()
      f
    }
    val r = new scala.util.Random(3)
    // bench seed 7 runs all 20 Lloyd iterations at k=5, seed 42
    val anomalyInputs = Seq("daily" -> daily,
      "bench seed 7" -> benchShaped(7, "2013-03-18"),
      "bench seed 11" -> benchShaped(11, "2013-01-01"))
      .map { case (n, d) => n -> scaledAnomalyInput(d) }
    val edges = Seq(
      // 3 distinct points: k-means‖ keeps ≤ k candidates, no k-means++
      "3 distinct points" -> frame(Seq.tabulate(10)(i =>
        Vectors.dense(i % 3, 1.0, -(i % 3), 2.0))),
      "duplicate-heavy" -> frame(Seq.tabulate(200)(i =>
        if (i % 10 == 0) Vectors.dense(Array.fill(4)(r.nextGaussian()))
        else Vectors.dense(i % 6, (i % 6) * 0.5, 1.0, 0.0))),
      // one feature, so the row path: takeSample's collect-and-shuffle
      "single row" -> frame(Seq(Vectors.dense(2.5))))
    val misses = scala.collection.mutable.ArrayBuffer[String]()
    for ((name, f) <- anomalyInputs ++ edges; k <- Seq(2, 5);
         seed <- Seq(42L, 1L)) {
      val (m, jobs) = kmeansMisses(name, f, k, seed)
      misses ++= m
      if (jobs != 1) misses += s"$name, k=$k, seed=$seed: $jobs jobs"
    }
    // fewer rows than features: the row solver fits them in one task too
    // (ml's `auto` solver would pick its block solver here, which fails)
    val (m, jobs) = kmeansMisses("3 rows of 4 features", frame(Seq(
      Vectors.dense(1.0, 2.0, 3.0, 4.0), Vectors.dense(0.0, 2.0, 3.0, 4.0),
      Vectors.dense(1.0, 5.0, 3.0, 4.0))), 2, 42L)
    misses ++= m
    if (jobs != 1) misses += s"3 rows of 4 features: $jobs jobs"
    (anomalyInputs ++ edges).foreach(_._2.unpersist())
    assert(misses.isEmpty, misses.mkString("\n", "\n", ""))
  }

  test("KMeans on several partitions or none is MLlib's fit") {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.linalg.Vector
    import spark.implicits._
    val one = scaledAnomalyInput(benchShaped(7, "2013-03-18"))
    val three = one.repartition(3).cache()
    three.count()
    val km = new KMeans().setK(5).setSeed(42L).setSolver("row")
      .setFeaturesCol("scaled_features").setPredictionCol("cluster")
    val ref = km.fit(three)
    val (got, jobs) = jobsOf(Anomaly.fitKMeans(three, 5, 42L))
    assert(jobs > 1, s"$jobs jobs")
    // over several partitions MLlib sums the cost in task completion order
    assert(got.clusterCenters.toSeq == ref.clusterCenters.toSeq)
    assert(got.summary.numIter == ref.summary.numIter)
    assert(math.abs(got.summary.trainingCost - ref.summary.trainingCost) <=
      1e-12 * ref.summary.trainingCost)
    Seq(one, three).foreach(_.unpersist())
    // an empty frame fails as MLlib's row solver fails, naming the RDD it
    // sampled (whose id differs between the two fits)
    val empty = Seq.empty[Tuple1[Vector]].toDF("scaled_features").coalesce(1)
    def root(t: Throwable): Throwable =
      if (t.getCause == null) t else root(t.getCause)
    def masked(t: Throwable) =
      t.getMessage.replaceAll("RDD\\[\\d+\\]", "RDD[n]")
    val want = root(intercept[Exception](km.fit(empty)))
    val fail = root(intercept[Exception](Anomaly.fitKMeans(empty, 5, 42L)))
    assert(fail.getClass == want.getClass && masked(fail) == masked(want),
      s"$fail vs $want")
  }

  test("anomaly: 1, 2 and 3 scored rows come back flagged") {
    val preds = daily.orderBy("user_id", "date").limit(3)
      .select(col("user_id"), col("date"),
        (col("daily_value") * 0.9).as("prediction")).cache()
    try for (n <- 1 to 3) {
      val out = Anomaly.run(daily, preds.limit(n)).collect()
      assert(out.length == n, s"$n scored rows")
      assert(out.forall(r => Set(0, 1).contains(r.getAs[Int]("is_anomaly"))),
        s"$n scored rows: ${out.mkString(" ")}")
    } finally preds.unpersist()
  }

  test("anomaly: clusters in range, rate bounded, deterministic with seed") {
    val (preds, _) = Forecast.run(daily, fastGrid = true)
    val out = Anomaly.run(daily, preds).cache()
    val n = out.count()
    assert(n > 0)
    val clusters = out.select("cluster").distinct().collect()
      .map(_.getInt(0)).toSet
    assert(clusters.subsetOf((0 until 5).toSet))
    val rate = out.agg(avg(col("is_anomaly"))).head.getDouble(0)
    assert(rate >= 0 && rate < 0.2) // z>3 flags are rare by construction
    // seeded determinism: same flag count across two runs
    val out2 = Anomaly.run(daily, preds)
    assert(out2.agg(sum(col("is_anomaly"))).head.getLong(0) ==
      out.agg(sum(col("is_anomaly"))).head.getLong(0))
    out.unpersist()
  }

  test("GBT (M6, flag-enabled) and error quantiles (M13)") {
    val f = Forecast.computeFeatures(daily).cache()
    val train = f.filter(col("date") < lit("2024-01-27"))
    val test = f.filter(col("date") >= lit("2024-01-27"))
    val fcols = Forecast.featureCols(f, Seq("user_id", "date", "daily_value"))
    val fit = Forecast.trainGbt(train, test, fcols, "daily_value", maxIter = 3)
    assert(!fit.rmse.isNaN)
    val preds = fit.model.transform(test)
    val qs = Forecast.errorQuantiles(preds, "daily_value", nQuantiles = 10)
    assert(qs.length == 9 && qs.sorted.sameElements(qs)) // monotone quantiles
    f.unpersist()
  }

  test("sampled re-clustering (M12) is seeded and bounded") {
    val out = Anomaly.reclusterSample(daily,
      Array("daily_value", "num_readings"), k = 3, sampleFraction = 0.5)
    assert(out.count() > 0 && out.count() < daily.count())
    val clusters = out.select("cluster").distinct().count()
    assert(clusters <= 3)
    val again = Anomaly.reclusterSample(daily,
      Array("daily_value", "num_readings"), k = 3, sampleFraction = 0.5)
    assert(again.count() == out.count()) // same seed, same sample
  }

  test("model save/load roundtrip (S13)") {
    val (_, fit) = Forecast.run(daily, fastGrid = true)
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    fit.model.write.overwrite().save(dir)
    val loaded = org.apache.spark.ml.PipelineModel.load(dir)
    assert(loaded.stages.length == fit.model.stages.length)
  }

  test("M11: cross-model selection picks min test RMSE, persists winner") {
    val dir = java.nio.file.Files.createTempDirectory("graft-best").toString
    val (preds, fit) = Forecast.run(daily, modelDir = Some(dir))
    assert(preds.count() > 0)
    // the winner is named, and its rmse is the min over both candidates:
    // re-derive each candidate's test rmse independently
    assert(fit.bestParams.startsWith("model="))
    val f = Forecast.computeFeatures(daily).cache()
    val c = folds(f)
    val lr = Forecast.trainLinearRegression(c.byDate, c.valDay, c.testDay,
      c.fcols, "daily_value")
    val rf = Forecast.trainRandomForest(c.train, c.test, c.fcols,
      "daily_value", c.valCutoff)
    assert(math.abs(fit.rmse - math.min(lr.rmse, rf.rmse)) < 1e-6)
    val expectName =
      if (lr.rmse <= rf.rmse) "LinearRegression" else "RandomForest"
    assert(fit.bestParams.startsWith(s"model=$expectName,"))
    f.unpersist()
    // persistence: saved winner loads; metadata names it
    val loaded = org.apache.spark.ml.PipelineModel.load(
      s"$dir/best_forecasting_model")
    assert(loaded.stages.length == fit.model.stages.length)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/model_metadata.txt")))
    assert(meta.contains(s"Best Model: $expectName"))
    assert(meta.contains("RMSE:"))
  }

  test("CentroidDist: bit-equal to sqrt(Vectors.sqdist), dense and sparse") {
    import spark.implicits._
    import org.apache.spark.ml.linalg.{Vector, Vectors}
    val centers = Array(
      Array(0.5, -1.25, 3.0, 0.0),
      Array(2.0, 2.0, -0.75, 1.5),
      Array(-3.5, 0.1, 0.0, 4.25))
    val vecs: Seq[(Int, Vector, Int)] = Seq(
      (0, Vectors.dense(1.1, -2.2, 3.3, 0.4), 0),
      (1, Vectors.dense(0.0, 0.0, 0.0, 0.0), 2),
      (2, Vectors.sparse(4, Array(1, 3), Array(-2.5, 7.0)), 1),
      (3, Vectors.sparse(4, Array(), Array()), 0),
      (4, Vectors.dense(5.0, 5.0, 5.0, 5.0), 99)) // out-of-range -> null
    val df = vecs.toDF("id", "v", "c")
    val got = df.select(col("id"),
      graft.functions.CentroidFunctions.graft_centroid_dist(
        col("v"), col("c"), centers).as("d"))
      .orderBy("id").collect()
    vecs.foreach { case (id, v, c) =>
      val row = got(id)
      if (c >= centers.length) assert(row.isNullAt(1), s"id=$id want null")
      else {
        val want = math.sqrt(Vectors.sqdist(v, Vectors.dense(centers(c))))
        // bit-equality, not tolerance: same additions in the same order
        assert(java.lang.Double.doubleToLongBits(row.getDouble(1)) ==
          java.lang.Double.doubleToLongBits(want),
          s"id=$id got ${row.getDouble(1)} want $want")
      }
    }
    // null vector / null cluster -> null (nullSafeEval path)
    val nulls = Seq((Option.empty[Vector], Option(0)),
      (Option(Vectors.dense(1.0, 2.0, 3.0, 4.0)), Option.empty[Int]))
      .toDF("v", "c")
      .select(graft.functions.CentroidFunctions.graft_centroid_dist(
        col("v"), col("c"), centers).as("d"))
      .collect()
    assert(nulls.forall(_.isNullAt(0)))
  }

  test("anomaly distance is the codegen'd CentroidDist, not a ScalaUDF") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    // walk INCLUDING cached subplans — the distance column is computed
    // inside the cached withDist frame, invisible from the top plan
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case i: InMemoryTableScanExec => i +: walk(i.relation.cachedPlan)
      case other => other +: other.children.flatMap(walk)
    }
    val (preds, _) = Forecast.run(daily, fastGrid = true)
    val out = Anomaly.run(daily, preds)
    out.collect()
    val ops = walk(out.queryExecution.executedPlan)
    val ours = ops.flatMap(_.expressions.flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF
          if u.function.getClass.getName.startsWith("graft") => u
    }))
    assert(ours.isEmpty, "graft-authored ScalaUDF in anomaly plan")
    assert(ops.exists(_.expressions.exists(_.collectFirst {
      case c: graft.functions.CentroidDist => c
    }.isDefined)), "expected CentroidDist in the anomaly plan")
  }
}
