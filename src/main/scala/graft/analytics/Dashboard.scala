package graft.analytics

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The dashboard's page queries (`streamlit_app.py:713-1176`) as distributed
  * DataFrame programs. The reference loads every Parquet output fully into
  * driver pandas (S9, `load_all_data` `:777-811`) and computes pages
  * single-process; here each page is a Spark query and ONLY the plot-sized
  * result crosses to the driver (SURVEY.md §3.3) — so the same pages work
  * at 100 TB.
  */
object Dashboard {

  /** Overview page KPI cards (A5). */
  def overview(daily: DataFrame, valueCol: String, idCol: String): Row =
    Queries.kpis(daily, valueCol, idCol).head()

  /** Consumption-patterns page: weekday + monthly profiles (A6/A7). */
  def patterns(daily: DataFrame, dateCol: String, valueCol: String)
      : (Array[Row], Array[Row]) = {
    val byWeekday = daily
      .withColumn("weekday", date_format(col(dateCol), "E"))
      .groupBy("weekday").agg(avg(col(valueCol)).as("mean_value"))
      .collect()
    val byMonth = Queries.monthlyTrend(daily, dateCol, valueCol)
      .orderBy("month_start").collect()
    (byWeekday, byMonth)
  }

  /** Anomalies page: top offenders + monthly rate (A7/A8). */
  def anomalies(an: DataFrame, idCol: String, dateCol: String)
      : (Array[Row], Array[Row]) = {
    val top = an.filter(col("is_anomaly") === 1)
      .groupBy(col(idCol)).count()
      .orderBy(desc("count"), col(idCol)).limit(15).collect()
    val rate = Queries.monthlyTrend(
      an.withColumn("flag", col("is_anomaly").cast("double")),
      dateCol, "flag").orderBy("month_start").collect()
    (top, rate)
  }

  /** Model-insight page: feature correlations vs target, |r| < 0.999
    * filter + top-15 (A10, `streamlit_app.py:542-555`) — one aggregation
    * pass, not a per-column pandas loop. A constant candidate has no
    * correlation and is dropped, as the reference's NaN fails its filter.
    */
  def topCorrelations(features: DataFrame, target: String,
                      candidates: Seq[String], k: Int = 15)
      : Seq[(String, Double)] = {
    val byFeature = Queries.corrAgainst(features, target, candidates)
      .collect()
      .collect { case row if !row.isNullAt(1) => row.getString(0) -> row.getDouble(1) }
      .toMap
    candidates.flatMap(c => byFeature.get(c).map(c -> _))
      .filter { case (_, r) => math.abs(r) < 0.999 }
      .sortBy { case (_, r) => -math.abs(r) }
      .take(k)
  }

  /** The MongoDB-export merge (J3/A9/P13/P14,
    * `merge_csv_for_mongodb.py:62-133`): anomalies ⋈ forecasts ⋈ daily with
    * disciplined projections (no duplicate columns to drop afterwards),
    * dtype-defaulted fills, ready for the CSV/gzip sinks.
    */
  def exportMerge(daily: DataFrame, preds: DataFrame, an: DataFrame,
                  idCol: String, dateCol: String): DataFrame = {
    val p = preds.select(col(idCol), col(dateCol), col("prediction"))
    val a = an.select(col(idCol), col(dateCol), col("cluster"),
      col("z_score"), col("is_anomaly"))
    graft.etl.Clean.fillDefaults(
      daily.join(p, Seq(idCol, dateCol), "left")
        .join(a, Seq(idCol, dateCol), "left"))
  }
}
