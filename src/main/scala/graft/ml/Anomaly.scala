package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.clustering.KMeans
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
  *  - distance UDF is a Scala udf over broadcast centroids (JVM-native; the
  *    reference's Python row UDF crossed the py4j boundary per row batch —
  *    SURVEY.md §2.8 U1);
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

  /** KMeans + distance + per-cluster z-score + flag. */
  def detect(df: DataFrame, featureColumns: Array[String], k: Int = 5,
             zThreshold: Double = 3.0, seed: Long = 42L): DataFrame = {
    val assembler = new VectorAssembler().setInputCols(featureColumns)
      .setOutputCol("features").setHandleInvalid("skip")
    val scaler = new StandardScaler().setInputCol("features")
      .setOutputCol("scaled_features")
    val km = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("scaled_features").setPredictionCol("cluster")
    // cache the input once: the sizing count, the scaler/KMeans fit passes,
    // and the transform below would otherwise each replay the upstream
    // join+features lineage (lifecycle: session-LRU, same policy as
    // withDist). Fit on the compacted view — KMeans is iterative, the same
    // scheduling-overhead lever as the tree grids (Forecast.sizedForTrees'
    // measured A/B); the TRANSFORM runs on the cached input itself, so
    // downstream partitioning is whatever AQE sized that cache to (never
    // a fixed 32 since SessionTuning). Cluster floats legitimately
    // vary with fit partitioning (init sampling) — the verification
    // contract pins metric invariants and the oracled key envelope, never
    // cluster-float hashes.
    val input = df.cache()
    // the three estimator phases run exactly as Pipeline.fit would chain
    // them (assemble → scaler fit/transform → kmeans fit on the scaled
    // frame — bit-identical staging), but individually timed into
    // PhaseTimer so BENCH_DETAIL can adjudicate fit-time variance per
    // phase (q_ml_anomaly's wall bounced across rounds with no code
    // change; the phase map decides variance vs regression)
    val sized = graft.ml.Forecast.sizedForTrees(input)
    val prep = graft.tools.PhaseTimer.timed("anomaly.prep_fit") {
      new Pipeline().setStages(Array(assembler, scaler)).fit(sized)
    }
    val kmModel = graft.tools.PhaseTimer.timed("anomaly.kmeans_fit") {
      km.fit(prep.transform(sized))
    }
    val centers: Array[Vector] = kmModel.clusterCenters
    // U1 as a native codegen'd expression over the embedded centroid matrix
    // (graft.functions.CentroidDist): the reference's per-row Python UDF →
    // whole-stage-codegen'd distance, bit-equal to
    // sqrt(Vectors.sqdist(v, centers(c))) — no ScalaUDF anywhere on the
    // surface, so ScaleAuditSpec's UDF lint covers the ML stage too
    // cache: consumed by both the stats agg and the join-back — uncached,
    // the KMeans transform + full upstream lineage would execute twice per
    // materialization (lifecycle: session-LRU, same policy as Dedup)
    val withDist = kmModel.transform(prep.transform(input))
      .withColumn("distance_to_center",
        graft.functions.CentroidFunctions.graft_centroid_dist(
          col("scaled_features"), col("cluster"), centers.map(_.toArray)))
      .cache()
    // materialize the cache inside the timed scope: the transform cost
    // lands in the phase map instead of whichever consumer's action runs
    // first (the stats agg below would have paid it anyway — same total
    // work, now attributed)
    graft.tools.PhaseTimer.timed("anomaly.transform")(withDist.count())
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
    * here the same sampled KMeans stays distributed and seeded.
    */
  def reclusterSample(df: DataFrame, featureColumns: Array[String], k: Int,
                      sampleFraction: Double, seed: Long = 42L): DataFrame = {
    val sampled = df.sample(withReplacement = false, sampleFraction, seed)
    val assembler = new VectorAssembler().setInputCols(featureColumns)
      .setOutputCol("features").setHandleInvalid("skip")
    val scaler = new StandardScaler().setInputCol("features")
      .setOutputCol("scaled_features")
    val km = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("scaled_features").setPredictionCol("cluster")
    new Pipeline().setStages(Array(assembler, scaler, km))
      .fit(sampled).transform(sampled)
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
