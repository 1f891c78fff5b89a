package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The dashboard/export analytics surface (SURVEY.md §2.4 A5-A11, §2.6
  * O2-O3). The reference runs these in single-process pandas after loading
  * every Parquet output into driver memory (`streamlit_app.py:777-811`);
  * here each is a distributed DataFrame query that collects only plot-sized
  * results (SURVEY.md §3.3).
  */
object Queries {

  /** A5: global KPI card aggregates (`streamlit_app.py:191,236-247`).
    * `countDistinct` is exact here for oracle parity; at 100 TB swap in
    * `approx_count_distinct` (SURVEY.md §7.4.8) via `exact = false`.
    */
  def kpis(df: DataFrame, valueCol: String, idCol: String,
           exact: Boolean = true): DataFrame = {
    val v = col(valueCol)
    val nUsers =
      if (exact) countDistinct(col(idCol)) else approx_count_distinct(col(idCol))
    df.agg(
      count(lit(1)).as("n_rows"),
      sum(v).as("total_value"),
      avg(v).as("avg_value"),
      max(v).as("max_value"),
      stddev(v).as("std_value"),
      nUsers.as("n_users"))
  }

  /** A6: group-mean by a calendar key (`streamlit_app.py:611,621`). */
  def groupMean(df: DataFrame, key: String, valueCol: String): DataFrame =
    df.groupBy(col(key)).agg(avg(col(valueCol)).as("mean_value"))

  /** A7: monthly trend — mean by month period
    * (`streamlit_app.py:504-507,633-635`); with a 0/1 flag column this is
    * the monthly anomaly *rate*.
    */
  def monthlyTrend(df: DataFrame, dateCol: String, valueCol: String): DataFrame =
    df.groupBy(date_trunc("month", col(dateCol)).cast("date").as("month_start"))
      .agg(avg(col(valueCol)).as("mean_value"), count(lit(1)).as("n"))

  /** A8/O2: top-N by an aggregate, deterministically tie-broken.
    * Catalyst plans `orderBy(...).limit(n)` as TakeOrderedAndProject — each
    * partition keeps only its local top-n, so no global sort materializes at
    * scale.
    */
  def topN(df: DataFrame, sortCols: Seq[Column], n: Int): DataFrame =
    df.orderBy(sortCols: _*).limit(n)

  /** A10: Pearson correlation of each feature column against a target in ONE
    * aggregation pass (`streamlit_app.py:542-555` loops per-column over
    * pandas): one `(feature, r)` row per feature. The features are
    * unpivoted to (feature, x, y) rows and grouped by feature, so the
    * aggregate stays three functions wide however many features there are
    * (one `agg` column per feature measured ~9x the executor CPU: 34
    * features, 1.2k rows, local[4]). Like pandas, each feature uses the
    * rows where it and the target are both non-null. A zero-variance
    * feature has no correlation: null, where pandas gives NaN. Hence
    * covariance over the product of the standard deviations inside
    * `try_divide`: Spark's `corr` raises DIVIDE_BY_ZERO there under ANSI.
    */
  def corrAgainst(df: DataFrame, target: String, features: Seq[String]): DataFrame = {
    val (x, y) = (col("p.x"), col("y"))
    df.select(col(target).cast("double").as("y"),
      explode(array(features.distinct.map(f => struct(lit(f).as("feature"),
        col(f).cast("double").as("x"))): _*)).as("p"))
      .filter(x.isNotNull && y.isNotNull)
      .groupBy(col("p.feature").as("feature"))
      .agg(try_divide(covar_samp(x, y), stddev_samp(x) * stddev_samp(y)).as("r"))
  }
}
