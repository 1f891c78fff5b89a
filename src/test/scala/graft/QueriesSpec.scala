package graft

/** Contract tests for the driver interface: every query runs at sf0.001,
  * every oracle key has a query, entry() returns rows (t1 analogue).
  */
class QueriesSpec extends SparkSpec {

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("runOrder: every query once, q_ml_* last, only the first q_ml_* clears") {
    assert(SparkEntry.runOrder(Seq("q_ml_b", "q_z", "q_ml_a", "q_a")) ==
      Seq("q_a" -> true, "q_z" -> true, "q_ml_a" -> true, "q_ml_b" -> false))
    val names = SparkEntry.queries.keys.toSeq
    val order = SparkEntry.runOrder(names)
    assert(order.map(_._1).sorted == names.sorted)
    val firstMl = order.indexWhere(_._1.startsWith("q_ml_"))
    assert(firstMl > 0 && order.drop(firstMl).forall(_._1.startsWith("q_ml_")))
    order.zipWithIndex.foreach { case ((name, clear), i) =>
      assert(clear == (!name.startsWith("q_ml_") || i == firstMl), name)
    }
  }

  test("entry returns rows (t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 with a nonempty schema") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val df = fn(spark, TestSpark.sf0001)
          if (df.schema.isEmpty) Some(s"$name: empty schema") else { df.count(); None }
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
