package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.feat.Windows
import graft.analytics.{Queries => Q}
import graft.queries._

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2, each paired (where SQL-expressible) with a DuckDB oracle in
  * [[oracleSql]]. Query groups live in [[graft.queries]]; parity discipline
  * in [[graft.queries.Parity]].
  */
object SparkEntry {

  /** Flagship: the reference's spine (scan → clean → daily agg → rolling
    * window → top-k) on sf0.001. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = Parity.daily(spark, "/root/testdata/sf0.001")
    val roll = Windows.addRolling(d, "user_id", "date", "daily_value")
    Q.topN(roll, Seq(col("daily_value").desc, col("user_id"), col("date")), 10)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CoreQueries.defs ++ ExtendedQueries.defs ++ NorthStarQueries.defs ++
      MlQueries.defs ++ AdvancedQueries.defs ++ SessionQueries.defs ++
      PipelineQueries.defs ++ CorpusQueries.defs ++ ScaleQueries.defs ++
      RelationalQueries.defs

  def oracleSql: Map[String, String] =
    CoreQueries.oracles ++ ExtendedQueries.oracles ++ NorthStarQueries.oracles ++
      MlQueries.oracles ++ AdvancedQueries.oracles ++ SessionQueries.oracles ++
      PipelineQueries.oracles ++ CorpusQueries.oracles ++ ScaleQueries.oracles ++
      RelationalQueries.oracles
}
