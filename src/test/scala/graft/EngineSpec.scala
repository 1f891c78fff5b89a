package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** SQL-first usage through [[Engine]]: views + the graft_dot extension
  * resolve inside plain spark.sql, on the one engine session.
  */
class EngineSpec extends SparkSpec {

  test("the shared test session is Engine.session: extension + AQE conf") {
    assert(spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")))
    assert(spark.conf.get(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true")
  }

  test("graft_dot resolves in SQL through the session extension") {
    Engine.registerTables(spark, TestSpark.sf0001)
    val row = spark.sql(
      """SELECT a.vec_id, b.vec_id,
        |  graft_dot(a.embedding_d, b.embedding_d) AS dot
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin).head()
    assert(!row.isNullAt(2) && math.abs(row.getDouble(2)) < 1.5)
    // relational SQL over the registered views
    val n = spark.sql(
      """SELECT count(*) FROM events e JOIN customer c
        |  ON e.user_id = c.c_custkey""".stripMargin).head().getLong(0)
    assert(n > 0)
    // fused cosine == dot of pre-normalized vectors (same pair)
    val cosRow = spark.sql(
      """SELECT graft_cosine(a.embedding_d, b.embedding_d) AS c
        |FROM embeddings a JOIN embeddings b
        |  ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin).head()
    import org.apache.spark.sql.functions.col
    val viaUnit = graft.ext.Similarity.bruteForceTopK(
      spark.table("embeddings").filter(col("vec_id") === 0),
      spark.table("embeddings").filter(col("vec_id") === 1),
      "vec_id", "embedding", k = 1).head().getAs[Double]("cosine")
    assert(math.abs(cosRow.getDouble(0) - viaUnit) < 1e-5)
  }

  test("SQL UDF graft_bucket matches the Column-API hash bucket") {
    Engine.registerSqlFunctions(spark)
    import spark.implicits._
    val ids = (1L to 50L).toDF("id")
    ids.createOrReplaceTempView("ids_sqludf")
    val viaSql = spark.sql(
      "SELECT id, graft_bucket(id, 'graft') AS b FROM ids_sqludf")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCol = ids.select($"id",
      graft.ext.Sampling.hashBucket($"id", "graft").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql == viaCol)
  }

  test("no session builder in src/main outside Engine.scala") {
    // Spark-free: one session builder keeps every main, tool and test on
    // the session the benchmark measures. Comments are ignored.
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "Engine.scala")
      .filter { p =>
        builder.findFirstIn(Files.readString(p)
          .replaceAll("(?s)/\\*.*?\\*/", "")
          .replaceAll("//[^\n]*", "")).nonEmpty
      }.toList
    assert(offenders.isEmpty, s"session builders outside Engine: $offenders")
  }

  test("Observation attaches zero-cost metrics to a query in flight") {
    import org.apache.spark.sql.Observation
    import org.apache.spark.sql.functions._
    // row counts and control totals ride the SAME job as the query —
    // no second pass over the data, the audit pattern for 100 TB loads
    // where a separate count() would double the scan
    val obs = Observation("daily_audit")
    val daily = graft.queries.Parity.daily(spark, TestSpark.sf0001)
      .observe(obs, count(lit(1)).as("n_rows"),
        sum(col("daily_value")).as("control_total"),
        sum(col("daily_value").isNull.cast("long")).as("null_values"))
    val collected = daily.collect()
    val m = obs.get
    assert(m("n_rows") == collected.length.toLong)
    val expected = collected.map(_.getAs[Double]("daily_value")).sum
    assert(math.abs(m("control_total").asInstanceOf[Double] - expected)
      < 1e-6)
    assert(m("null_values") == 0L)
  }
}
