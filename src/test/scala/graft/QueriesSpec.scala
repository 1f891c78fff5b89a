package graft

/** Contract tests for the driver interface: every query runs at sf0.001,
  * every oracle key has a query, entry() returns rows (t1 analogue).
  */
class QueriesSpec extends SparkSpec {

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("entry returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 with a nonempty schema") {
    // each query runs in its own CacheScope, as Bench and Verify run it,
    // and must leave the cache registry as it found it; only the q_ml_*
    // pair's memo keeps its frames for the session
    def numCached() =
      org.apache.spark.sql.graft.CacheProbe.numCachedEntries(spark)
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val before = numCached()
        try graft.ext.CacheScope.scoped {
          val df = fn(spark, TestSpark.sf0001)
          if (df.schema.isEmpty) Some(s"$name: empty schema") else { df.count(); None }
        }.orElse {
          val left = numCached() - before
          if (left == 0 || name.startsWith("q_ml_")) None
          else Some(s"$name: left $left cache entries registered")
        } catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("StageMetrics: a Probe reading holds exactly its own query's work") {
    val m = graft.tools.StageMetrics.attach(spark.sparkContext)
    def probe() =
      graft.tools.Probe.measure(spark, m, TestSpark.sf0001, "q_daily_agg")
    try {
      val a = probe()
      assert(a.rows > 0 && a.m.jobs >= 1 && a.m.stages >= 1 &&
        a.m.tasks >= 1 && a.m.cpuNs > 0, a.m.show)
      assert(a.executedPlan.contains("isFinalPlan=true"), a.executedPlan)
      val b = probe()
      assert(b.m.stages >= 1 && b.stages.size == b.m.stages)
      assert(b.m.cpuNs == b.stages.map(_.m.cpuNs).sum)
      assert(b.stages.map(_.id).min > a.stages.map(_.id).max,
        s"second reading's stages ${b.stages.map(_.id)} overlap the first's")
    } finally spark.sparkContext.removeSparkListener(m)
  }
}
