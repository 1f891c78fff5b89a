package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ml.{Anomaly, Forecast}
import Parity._

/** ML-operator queries (SURVEY.md §2.9). Float outputs are not
  * SQL-expressible → the full frames have no DuckDB oracle (driver records
  * rows-only); they are verified by seeded invariants in scalatest
  * (SURVEY.md §5.4: metric ranges + determinism, never hash-equality —
  * KMeans/RF floats vary with partitioning). The DETERMINISTIC envelope is
  * oracled hash-exact via the `_keys` twins below: the prediction frame's
  * (user, date) key-set is a pure function of the chronological split and
  * the feature-availability filter, independent of any model float.
  */
object MlQueries {

  /** One forecast fit (and one anomaly detection) per (session, sfDir) —
    * q_ml_anomaly consumes q_ml_forecast's predictions (the reference
    * pipeline's stage 4 → 5 dataflow), and the `_keys` envelope queries
    * project the same frames — so recomputing the grid / KMeans per query
    * would double-count training time in benchmarks for no semantic
    * difference. The memo is the one session-lifetime cache owner: the
    * frames it holds are plain caches, so they outlive every query's
    * [[graft.ext.CacheScope]].
    */
  private val memoized = new SessionMemo[DataFrame]

  private def forecastPreds(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir) {
      // ONLY (id, date, target) feeds the model — daily's derived
      // avg_reading/num_readings are same-day functions of the target
      // and would leak the label into the features
      val base = daily(s, dir).select(col("user_id"), col("date"),
        col("daily_value"))
      // run() returns preds already cached + materialized
      val (preds, _) = Forecast.run(base)
      preds
    }

  private def anomalies(s: SparkSession, dir: String): DataFrame =
    memoized(s, dir + "#anomaly") {
      Anomaly.run(daily(s, dir), forecastPreds(s, dir))
    }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // M1-M4+M7+M8+M11: LR forecast with time-aware grid validation
    "q_ml_forecast" -> ((s, dir) =>
      forecastPreds(s, dir).orderBy(col("user_id"), col("date"))),

    // M9+U1+W5: KMeans anomaly detection over forecast residuals
    "q_ml_anomaly" -> ((s, dir) =>
      anomalies(s, dir).orderBy(col("user_id"), col("date"))),

    // Deterministic envelope of the pair, DuckDB-oracled hash-exact: the
    // prediction key-set is the 70/30 chronological test split intersected
    // with feature availability (max lag = 14 → a row needs 14
    // predecessors before na.drop keeps it). The anomaly twin pins that
    // stage 5 preserves stage 4's keys 1:1 (inner join on the same keys,
    // no dedup, no loss).
    "q_ml_forecast_keys" -> ((s, dir) =>
      forecastPreds(s, dir).select(col("user_id"), col("date"))
        .orderBy(col("user_id"), col("date"))),

    "q_ml_anomaly_keys" -> ((s, dir) =>
      anomalies(s, dir).select(col("user_id"), col("date"))
        .orderBy(col("user_id"), col("date")))
  )

  /** SQL twin of the prediction key-set: row_number ≥ 15 reproduces
    * `computeFeatures`' na.drop (lag-14 is the binding feature — every
    * other feature is non-null wherever it is), and the date cutoff
    * reproduces `Forecast.run`'s `minDate + floor(span·7/10)` split
    * (Scala Long division = DuckDB `//`, both floor for non-negative).
    * The min/max date range feeding the cutoff is taken over the
    * POST-na.drop feature frame — `run()` derives its cutoffs from
    * `feats`, not raw daily.
    */
  private val keysSql: String =
    s"""$dailySql, rn AS (
       |  SELECT user_id, "date",
       |    row_number() OVER (PARTITION BY user_id ORDER BY "date") AS rn
       |  FROM daily
       |), feats AS (
       |  SELECT user_id, "date" FROM rn WHERE rn >= 15
       |), rng AS (
       |  SELECT min("date") AS mind, max("date") AS maxd FROM feats
       |)
       |SELECT user_id, "date"
       |FROM feats, rng
       |WHERE "date" >= mind
       |  + ((date_diff('day', mind, maxd) * 7) // 10) * INTERVAL '1 day'
       |ORDER BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_ml_forecast_keys" -> keysSql,
    "q_ml_anomaly_keys" -> keysSql)
}
