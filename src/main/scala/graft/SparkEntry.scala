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

  /** The order Bench and Verify run `names` in, each paired with whether
    * `clearCache` runs before it. Sorted, so every run executes the same
    * sequence, with the memoized `q_ml_*` pair last. Each query pays for
    * exactly its own caches: operators cache internal frames they cannot
    * unpersist, and accumulated entries slow later queries and pin storage
    * memory. The one clear before the first `q_ml_*` releases the plain
    * queries' caches before model training; none runs between the pair's
    * halves, which would retrain the model.
    */
  def runOrder(names: Iterable[String]): Seq[(String, Boolean)] = {
    val (ml, plain) = names.toSeq.sorted.partition(_.startsWith("q_ml_"))
    plain.map(_ -> true) ++ ml.zipWithIndex.map { case (n, i) => n -> (i == 0) }
  }
}
