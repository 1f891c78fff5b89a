package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.io.Tables
import graft.plans.GraftExtensions

/** Library entry point: a session with graft's extensions installed and the
  * testdata tables registered as views, so the whole engine is usable
  * SQL-first:
  * {{{
  *   val spark = Engine.session()
  *   Engine.registerTables(spark, "/root/testdata/sf0.01")
  *   spark.sql("SELECT graft_dot(a.embedding_d, b.embedding_d) ...")
  * }}}
  */
object Engine {

  /** The one session builder: library users, perfbench, Bench, Verify,
    * Smoke, the tools and the tests all run this session. `local[cpus]`
    * with one shuffle partition per core, UTC, UI off, WARN logging and
    * [[GraftExtensions]], then `confs` (applied last, so they win).
    * Nothing clears the session's cache: a [[graft.ext.CacheScope]]
    * releases the caches registered inside it.
    *
    * `canChangeCachedPlanOutputPartitioning=true`: upstream Spark disables
    * AQE partition coalescing for any plan that feeds a `.cache()` (to keep
    * cached partitionings static), so every CacheScope'd intermediate
    * materializes at the static `spark.sql.shuffle.partitions` — at 32
    * cores that is 32 near-empty partitions per cached frame, and each task
    * re-deserializes the ~1 MB task binary (the "Broadcasting large task
    * binary" warnings), burning ~50-90 ms of fixed CPU per task. Measured
    * at sf0.1/local[32] (cold executor-CPU, conf off vs on):
    * q_rolling_actives 9.7→0.85 cpu-s (133→9 tasks), q_pagerank3
    * 81.8→30.9 (558→185), q_copurchase_degree 44.6→13.6 (203→56) — each
    * landing on its 8-core CPU reading, i.e. the 32-core CPU inflation was
    * exactly this per-task fixed cost. At real scale the same conf sizes
    * cached-plan partitions by AQE's byte targets instead of a static
    * partition count ("fewer, larger reduce partitions"); coalesced hash
    * partitioning still satisfies downstream clustering (q_pagerank3 keeps
    * zero per-iteration edge exchanges). It changes partitioning, never
    * results.
    */
  def session(cpus: Int = Runtime.getRuntime.availableProcessors(),
      confs: Seq[(String, String)] = Nil): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(confs.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the one install route: getOrCreate may return an existing session,
    // where `withExtensions` would be ignored
    GraftExtensions.ensureRegistered(spark)
    spark
  }

  /** SQL scalar UDFs (Spark 4 `CREATE FUNCTION … RETURN expr`) mirroring
    * the engine-portable hash helpers, so SQL-first users get the same
    * stable sampling/splitting rules as the Column API
    * ([[graft.ext.Sampling.hashBucket]] / [[graft.ext.Dedup.tokenHash]]).
    * SQL UDF bodies inline into the plan at analysis time — same codegen
    * as the Column form, no black-box function boundary.
    */
  def registerSqlFunctions(spark: SparkSession): Unit = {
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_token_hash(t STRING)
        |RETURNS BIGINT
        |RETURN CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT)
        |""".stripMargin)
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION
        |  graft_bucket(id BIGINT, salt STRING)
        |RETURNS BIGINT
        |RETURN pmod(graft_token_hash(concat(salt, ':', CAST(id AS STRING))),
        |            100)
        |""".stripMargin)
  }

  /** Register every testdata table as a temp view (events via its
    * nanos-safe reader). `embedding_d` is pre-cast for SQL vector work.
    */
  def registerTables(spark: SparkSession, dir: String): Unit = {
    val tables: Seq[(String, DataFrame)] = Seq(
      "region" -> Tables.region(spark, dir),
      "nation" -> Tables.nation(spark, dir),
      "customer" -> Tables.customer(spark, dir),
      "supplier" -> Tables.supplier(spark, dir),
      "part" -> Tables.part(spark, dir),
      "orders" -> Tables.orders(spark, dir),
      "lineitem" -> Tables.lineitem(spark, dir),
      "events" -> Tables.events(spark, dir),
      "documents" -> Tables.documents(spark, dir),
      "embeddings" -> Tables.embeddings(spark, dir)
        .withColumn("embedding_d",
          org.apache.spark.sql.functions.col("embedding").cast("array<double>")))
    tables.foreach { case (name, df) => df.createOrReplaceTempView(name) }
  }
}
