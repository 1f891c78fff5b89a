package graft

import org.apache.spark.sql.functions._

/** The SpreadGenerate optimizer rule: SQL-first explode over an
  * under-split scan gets a repartition injected — and only when opted in.
  */
class SpreadRuleSpec extends SparkSpec {

  private def explodePlan(): String = {
    val df = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select(col("doc_id"),
        explode(split(col("text"), "\\s+")).as("t"))
    df.collect()
    df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
  }

  test("opt-in rule widens an explode over a single-split scan") {
    val key = "spark.graft.spread.enabled"
    try {
      spark.conf.set(key, "true")
      val plan = explodePlan()
      assert(plan.contains("Exchange RoundRobinPartitioning"),
        s"expected injected repartition in:\n$plan")
    } finally spark.conf.unset(key)
  }

  test("rule is inert without the flag and idempotent with it") {
    val off = explodePlan()
    assert(!off.contains("Exchange RoundRobinPartitioning"),
      s"rule fired without opt-in:\n$off")
    val key = "spark.graft.spread.enabled"
    try {
      spark.conf.set(key, "true")
      val on = explodePlan()
      // exactly ONE injected exchange: the rule runs to a fixed point and
      // the session holds it once
      assert(on.linesIterator
        .count(_.contains("Exchange RoundRobinPartitioning")) == 1,
        s"expected exactly one injected repartition:\n$on")
    } finally spark.conf.unset(key)
  }

  test("rule never fires beneath an existing shuffle") {
    val key = "spark.graft.spread.enabled"
    try {
      spark.conf.set(key, "true")
      val df = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
        .repartition(4, col("doc_id"))
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("t"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange RoundRobinPartitioning"),
        s"rule fired on an already-repartitioned child:\n$plan")
    } finally spark.conf.unset(key)
  }
}
