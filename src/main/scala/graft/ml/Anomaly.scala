package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.clustering.graft.KMeansFit
import org.apache.spark.ml.feature.{StandardScaler, VectorAssembler}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** KMeans-based anomaly detection (SURVEY.md §2.9 M9 + §2.8 U1 + §2.5 W5),
  * the reference's stage 5 (`anomaly_detection.py:55-196`):
  * features ⋈ predictions → residual → KMeans(k=5, seed=42) on scaled
  * features → distance-to-centroid → per-cluster z-score → flag z > 3.
  *
  * Scale choices vs the reference:
  *  - the distance is `graft.functions.CentroidDist`, a whole-stage
  *    codegen'd expression over the centroids embedded in the plan (the
  *    reference's Python row UDF crossed the py4j boundary per row batch —
  *    SURVEY.md §2.8 U1);
  *  - the KMeans fit on a one-partition input is one job, not MLlib's ~28
  *    one-task jobs ([[fitKMeans]]), with MLlib's model bit for bit;
  *  - per-cluster stats via groupBy + broadcast join-back, NOT an unbounded
  *    `Window.partitionBy(cluster)` (which would funnel each cluster into a
  *    single partition — a skew cliff at 100 TB; SURVEY.md §7.4.5).
  */
object Anomaly {

  /** Anomaly features of `anomaly_detection.py:90-108`: consumption +
    * rolling stats + lags + residual + temporal.
    */
  def features(joined: DataFrame, target: String = "daily_value",
               predCol: String = "prediction",
               dateCol: String = "date"): DataFrame =
    joined
      .withColumn("residual", abs(col(target) - col(predCol)))
      .withColumn("day_of_week", dayofweek(col(dateCol)))
      .withColumn("is_weekend",
        graft.feat.Windows.Weekend.byGte6(col("day_of_week")).cast("int"))

  /** The features assembled (rows with a null or NaN skipped) and scaled
    * by MLlib's `StandardScaler`, fit on `df` (one job).
    */
  private[graft] def scaled(df: DataFrame, featureColumns: Array[String])
      : DataFrame = {
    val prep = new Pipeline().setStages(Array(
      new VectorAssembler().setInputCols(featureColumns)
        .setOutputCol("features").setHandleInvalid("skip"),
      new StandardScaler().setInputCol("features")
        .setOutputCol("scaled_features"))).fit(df)
    prep.transform(df)
  }

  /** MLlib's `KMeans(k, seed)` with the row solver, fit on `scaled`. An
    * input of one partition is fit in one job ([[KMeansFit]]); MLlib's
    * `KMeans.fit` would run each of its ~28 passes as a job of one task.
    * Any other input goes to `KMeans.fit`, whose per-partition sampling and
    * merges one task cannot replay. Both give MLlib's model, bit for bit.
    * The row solver is the one ml's `auto` picks on every input with at
    * least as many rows as features; below that `auto` picks the block
    * solver, which fails on such inputs.
    */
  def fitKMeans(scaled: DataFrame, k: Int, seed: Long): KMeansModel = {
    val km = new KMeans().setK(k).setSeed(seed).setSolver("row")
      .setFeaturesCol("scaled_features").setPredictionCol("cluster")
    KMeansFit.oneTask(km, scaled).getOrElse(km.fit(scaled))
  }

  /** KMeans + distance + per-cluster z-score + flag. */
  def detect(df: DataFrame, featureColumns: Array[String], k: Int = 5,
             zThreshold: Double = 3.0, seed: Long = 42L): DataFrame = {
    // cache the input once: the scaler and KMeans fit passes and the
    // transform below would otherwise each replay the upstream
    // join+features lineage (lifecycle: registered until unpersisted, like
    // withDist). Its partitioning is whatever AQE coalesced the cache to
    // (Engine.session lets AQE coalesce cached plans), and that picks the
    // KMeans fit path. Cluster floats legitimately vary with fit
    // partitioning (init sampling) — the verification contract pins metric
    // invariants and the oracled key envelope, never cluster-float hashes.
    val input = scaled(df.cache(), featureColumns)
    val model = fitKMeans(input, k, seed)
    val centers: Array[Vector] = model.clusterCenters
    // U1 as a native codegen'd expression over the embedded centroid matrix
    // (graft.functions.CentroidDist): the reference's per-row Python UDF →
    // whole-stage-codegen'd distance, bit-equal to
    // sqrt(Vectors.sqdist(v, centers(c))) — no ScalaUDF anywhere on the
    // surface, so ScaleAuditSpec's UDF lint covers the ML stage too
    // cache: consumed by both the stats agg and the join-back — uncached,
    // the KMeans transform + full upstream lineage would execute twice per
    // materialization (lifecycle: a plain cache, so the MlQueries memo's
    // frames outlive the query scopes)
    val withDist = model.transform(input)
      .withColumn("distance_to_center",
        graft.functions.CentroidFunctions.graft_centroid_dist(
          col("scaled_features"), col("cluster"), centers.map(_.toArray)))
      .cache()
    // W5 at scale: agg + broadcast join-back instead of unbounded window
    val stats = withDist.groupBy(col("cluster")).agg(
      avg(col("distance_to_center")).as("cluster_mean_dist"),
      stddev(col("distance_to_center")).as("cluster_std_dist"))
    withDist.join(broadcast(stats), Seq("cluster"), "left")
      .withColumn("z_score",
        (col("distance_to_center") - col("cluster_mean_dist")) /
          when(col("cluster_std_dist") > 0, col("cluster_std_dist"))
            .otherwise(lit(1.0)))
      .withColumn("is_anomaly", (col("z_score") > zThreshold).cast("int"))
  }

  /** M12: the dashboard's interactive re-clustering
    * (`streamlit_app.py:656-704` — sklearn KMeans on a ≤50k pandas sample);
    * here the same sampled KMeans, seeded, through [[fitKMeans]].
    */
  def reclusterSample(df: DataFrame, featureColumns: Array[String], k: Int,
                      sampleFraction: Double, seed: Long = 42L): DataFrame = {
    val sampled = scaled(
      df.sample(withReplacement = false, sampleFraction, seed), featureColumns)
    fitKMeans(sampled, k, seed).transform(sampled)
      .drop("features", "scaled_features")
  }

  /** End-to-end anomaly stage: daily ⋈ predictions (J2, composite key) →
    * features → detect → output the reference's `anomalies` table shape
    * (FIXTURES.md §A7).
    */
  def run(daily: DataFrame, predictions: DataFrame,
          idCol: String = "user_id", dateCol: String = "date",
          target: String = "daily_value"): DataFrame = {
    val joined = daily.join(
      predictions.select(col(idCol), col(dateCol), col("prediction")),
      Seq(idCol, dateCol), "inner")
    val featured = features(joined, target, dateCol = dateCol)
    val fcols = Array(target, "residual", "day_of_week", "is_weekend")
    detect(featured, fcols)
      .select(col(idCol), col(dateCol), col(target), col("prediction"),
        col("residual"), col("cluster"),
        col("distance_to_center"), col("cluster_mean_dist"),
        col("cluster_std_dist"), col("z_score"), col("is_anomaly"))
  }
}
