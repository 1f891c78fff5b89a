package graft.feat

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regular-grid resampling with gap fill — meter/sensor series arrive with
  * missing days, and every downstream window feature (lags, rolling stats)
  * silently mis-frames on a ragged axis. Two fill modes over the same
  * grid: [[dailyLocf]] (last observation carried forward) and
  * [[dailyLerp]] (linear interpolation between surrounding observations).
  *
  * Scale: the grid explode is per-key and bounded by the key's own span
  * (narrow); the span aggregate and the grid join each shuffle once. When
  * the observation side broadcasts, the fill window reuses the grid's
  * key partitioning (no extra exchange — asserted in PhysicalSpec); a
  * shuffled join keys on (key, date) and the key-only fill window then
  * adds its own exchange, which is the correct 100 TB shape.
  */
object Resample {

  /** Shared grid construction: each key's full daily [min, max] grid,
    * left-joined to the observations, with the synthetic-row flag. The
    * observation projection is cached — it feeds both the span aggregate
    * and the join probe, and uncached the caller's upstream plan (a full
    * scan + aggregate in the bench queries) would execute twice.
    */
  private def gridJoin(df: DataFrame, keyCol: String, dateCol: String,
                       valueCol: String): DataFrame = {
    val src = df.select(col(keyCol), col(dateCol), col(valueCol))
      .transform(graft.ext.CacheScope.cache)
    val span = src.groupBy(col(keyCol))
      .agg(min(col(dateCol)).as("__d0"), max(col(dateCol)).as("__d1"))
    val grid = span.select(col(keyCol),
      explode(sequence(col("__d0"), col("__d1"))).as(dateCol))
    grid.join(src, Seq(keyCol, dateCol), "left")
      .withColumn("was_gap", col(valueCol).isNull.cast("long"))
  }

  /** LOCF fill. Adds `was_gap` (1 for synthesized rows). The first grid
    * row of a key is never synthetic (the span starts at an observation),
    * so `value_filled` is never null.
    */
  def dailyLocf(df: DataFrame, keyCol: String, dateCol: String,
                valueCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gridJoin(df, keyCol, dateCol, valueCol)
      .withColumn("value_filled",
        last(col(valueCol), ignoreNulls = true).over(w))
      .drop(valueCol)
  }

  /** Linear-interpolation fill: gaps take the line between the previous
    * and next observation (weighted by day offset); span edges always have
    * both anchors (the first/last grid row is an observation). Two frames
    * over the same (key, date) sort — one partitioning, one sort.
    */
  def dailyLerp(df: DataFrame, keyCol: String, dateCol: String,
                valueCol: String): DataFrame = {
    val back = Window.partitionBy(col(keyCol)).orderBy(col(dateCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col(keyCol)).orderBy(col(dateCol))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    gridJoin(df, keyCol, dateCol, valueCol)
      .withColumn("__pv", last(col(valueCol), ignoreNulls = true).over(back))
      .withColumn("__pd", last(when(col(valueCol).isNotNull, col(dateCol)),
        ignoreNulls = true).over(back))
      .withColumn("__nv", first(col(valueCol), ignoreNulls = true).over(fwd))
      .withColumn("__nd", first(when(col(valueCol).isNotNull, col(dateCol)),
        ignoreNulls = true).over(fwd))
      .withColumn("value_filled",
        when(col("was_gap") === 0, col(valueCol))
          .otherwise(col("__pv") +
            (col("__nv") - col("__pv")) *
              datediff(col(dateCol), col("__pd")).cast("double") /
              datediff(col("__nd"), col("__pd")).cast("double")))
      .select(col(keyCol), col(dateCol), col("was_gap"), col("value_filled"))
  }
}
