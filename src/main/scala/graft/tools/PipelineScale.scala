package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.EnergyPipeline

/** Dev tool: end-to-end [[EnergyPipeline]] at a chosen scale with
  * per-stage wall + executor-CPU timing — the SCALING.md evidence for the
  * reference's actual five-stage contract (BASELINE.md publishes per-stage
  * times; this produces the comparable per-stage breakdown at 1× and 10×).
  *
  *   PipelineScale <workDir> <households> <days>
  *
  * Mirrors the reference's staged execution shape: every stage WRITES its
  * output to parquet and the next stage READS it back (the reference runs
  * five scripts communicating through files), so stage times are isolated
  * — no lazy-plan bleed, no cumulative recompute.
  *
  * The synthetic half-hourly CSV is deterministic (value = seasonal +
  * slot + per-household component; one "Null" sentinel per day; same
  * shape as the spec fixture, parameterized) and generated DISTRIBUTED —
  * households × days × 48 rows never assemble on the driver. The session
  * is Bench's, on every core.
  */
object PipelineScale {

  def main(args: Array[String]): Unit = {
    val Array(workDir, hhStr, daysStr) = args.take(3)
    val households = hhStr.toInt
    val days = daysStr.toInt
    val spark = graft.Bench.session(
      Runtime.getRuntime.availableProcessors().toString)
    val acct = StageMetrics.attach(spark.sparkContext)

    // --- deterministic half-hourly CSV, generated distributed ---
    val slots = days * 48
    val base = spark.range(households.toLong * slots)
      .withColumn("hh", (col("id") / slots).cast("long"))
      .withColumn("slot", (col("id") % slots).cast("long"))
      .withColumn("day", (col("slot") / 48).cast("long"))
      .withColumn("halfhour", (col("slot") % 48).cast("long"))
    val raw = base.select(
      format_string("MAC%06d", col("hh")).as("LCLid"),
      when(col("hh") % 2 === 0, "Std").otherwise("ToU").as("stdorToU"),
      date_format(
        col("day").cast("int") * expr("INTERVAL 1 DAY") +
          col("halfhour").cast("int") * expr("INTERVAL 30 MINUTE") +
          to_timestamp(lit("2013-01-01 00:00:00")),
        "yyyy-MM-dd HH:mm:ss").as("DateTime"),
      when(col("halfhour") === 6, lit("Null")).otherwise(
        format_string("%.3f",
          lit(0.1) + (col("day") % 7).cast("double") * 0.05
            + col("halfhour").cast("double") * 0.001
            + (col("hh") % 13).cast("double") * 0.01)).as(
        EnergyPipeline.EnergyRaw))
    raw.repartition(32).write.mode("overwrite")
      .option("header", "true").csv(s"$workDir/csv")
    val tariffs = spark.range(slots)
      .select((col("id") / 48).cast("int").as("day"),
        (col("id") % 48).cast("int").as("halfhour"))
      .select(
        (col("day") * expr("INTERVAL 1 DAY") +
          col("halfhour") * expr("INTERVAL 30 MINUTE") +
          to_timestamp(lit("2013-01-01 00:00:00"))).as("TariffDateTime"),
        when(col("halfhour") < 14, "Low").when(col("halfhour") > 40, "High")
          .otherwise("Normal").as("Tariff"))
      .cache()
    tariffs.count()
    println(s"[pipescale] generated ${households.toLong * slots} readings " +
      s"($households households x $days days)")

    def stage(name: String)(body: => Long): Unit = {
      spark.sparkContext.setJobGroup(name, name)
      val m0 = acct.read()
      val t0 = System.nanoTime()
      val rows = body
      val wall = (System.nanoTime() - t0) / 1e9
      val m = acct.read() - m0
      println(f"[pipescale] $name: wall=$wall%.2f s ${m.show} rows=$rows")
    }

    def rd(name: String): DataFrame =
      spark.read.parquet(s"$workDir/$name")
    def wr(df: DataFrame, name: String): Long = {
      df.write.mode("overwrite").parquet(s"$workDir/$name")
      spark.read.parquet(s"$workDir/$name").count()
    }

    stage("s1_ingest") {
      wr(EnergyPipeline.ingest(spark, s"$workDir/csv/*.csv"), "raw")
    }
    stage("s2_preprocess") {
      val (hourly, daily) = EnergyPipeline.preprocess(rd("raw"), tariffs)
      wr(hourly, "hourly") + wr(daily, "daily")
    }
    stage("s3_features") {
      wr(EnergyPipeline.features(rd("daily")), "features")
    }
    stage("s4s5_forecast_anomaly") {
      val (preds, _, anomalies) = EnergyPipeline.forecastAndDetect(rd("daily"))
      wr(preds, "forecast") + wr(anomalies, "anomalies")
    }

    // household preservation: the pipeline must not lose or invent keys
    val dailyHh = rd("daily").select("LCLid").distinct().count()
    require(dailyHh == households,
      s"household invariant broken: $dailyHh daily households != $households")
    val featHh = rd("features").select("LCLid").distinct().count()
    require(featHh == households,
      s"household invariant broken: $featHh feature households != $households")
    println(s"[pipescale] invariant ok: $dailyHh households preserved " +
      "through daily and features")
    spark.stop()
  }
}
