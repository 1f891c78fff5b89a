package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.EnergyPipeline

/** End-to-end pipeline test on a reference-shaped CSV fixture
  * (FIXTURES.md §A1: "Null" sentinels, trailing-space column name, null-key
  * rows, duplicates, day-boundary crossings, ≥2 households, ≥31 days, plus
  * a tariff dim). The reference's runtime audits (SURVEY.md §5) become
  * assertions here.
  */
class EnergyPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val csvDir: String = {
    val dir = Files.createTempDirectory("graft-energy-csv")
    val rows = new StringBuilder(
      "LCLid,stdorToU,DateTime,\"KWH/hh (per half hour) \"\n")
    for {
      hh <- Seq("MAC000002" -> "Std", "MAC000003" -> "ToU")
      day <- 1 to 40
      halfHour <- 0 until 48
    } {
      val (id, t) = hh
      val d = java.time.LocalDate.of(2013, 1, 1).plusDays(day - 1)
      val ts = f"$d ${halfHour / 2}%02d:${(halfHour % 2) * 30}%02d:00"
      // deterministic value; a "Null" sentinel once per day at 03:00
      val v = if (halfHour == 6) "Null"
        else f"${0.1 + (day % 7) * 0.05 + halfHour * 0.001}%.3f"
      rows ++= s"$id,$t,$ts,$v\n"
    }
    rows ++= "MAC000002,Std,2013-01-01 00:00:00,0.100\n" // duplicate reading
    rows ++= ",Std,2013-01-02 00:00:00,0.5\n"            // null-key row
    Files.writeString(dir.resolve("block_0.csv"), rows.toString)
    dir.toString
  }

  private lazy val tariffs = {
    val rows = for {
      day <- 1 to 40; halfHour <- 0 until 48
    } yield {
      val d = java.time.LocalDate.of(2013, 1, 1).plusDays(day - 1)
      val label = if (halfHour < 14) "Low" else if (halfHour > 40) "High"
        else "Normal"
      (f"$d ${halfHour / 2}%02d:${(halfHour % 2) * 30}%02d:00", label)
    }
    rows.toDF("raw", "Tariff")
      .select(to_timestamp(col("raw")).as("TariffDateTime"), col("Tariff"))
  }

  private lazy val out = EnergyPipeline.run(spark, s"$csvDir/*.csv", tariffs)

  test("ingest: explicit schema, trailing-space column preserved") {
    val raw = out("raw_energy_data")
    assert(raw.columns.contains(EnergyPipeline.EnergyRaw))
    assert(raw.count() == 2L * 40 * 48 + 2)
  }

  test("ingest: a glob reads the files it matches; one matching nothing " +
    "fails") {
    val raw = EnergyPipeline.ingest(spark, s"$csvDir/*.csv")
    assert(raw.inputFiles.toSeq.map(_.split('/').last) == Seq("block_0.csv"))
    // a matched name that is itself a glob is read as that file
    val two = Files.createTempDirectory("graft-energy-glob")
    for (name <- Seq("block_0.csv", "block_[1].csv"))
      Files.copy(java.nio.file.Paths.get(csvDir, "block_0.csv"),
        two.resolve(name))
    val both = EnergyPipeline.ingest(spark, s"$two/*.csv")
    assert(both.inputFiles.length == 2)
    assert(both.count() == 2 * (2L * 40 * 48 + 2))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      EnergyPipeline.ingest(spark, s"$csvDir/none_*.csv")
    }
    assert(e.getMessage.contains("Path does not exist"), e.getMessage)
  }

  test("preprocess: sentinel dropped, households preserved, sums consistent") {
    val daily = out("daily")
    // household preservation (data_preprocessing.py:208-215 audit)
    assert(daily.select("LCLid").distinct().count() == 2)
    // 47 readings on sentinel days (+1 dup on day 1 household 1)
    val r = daily.filter($"LCLid" === "MAC000003" && $"date" =!= "2013-01-01")
      .select("total_readings").head.getLong(0)
    assert(r == 47)
    // hourly-sum == daily-sum invariant
    val h = out("hourly").groupBy("LCLid", "date")
      .agg(sum("hourly_energy_kwh").as("s"))
    val mismatches = h.join(out("daily"), Seq("LCLid", "date"))
      .filter(abs($"s" - $"daily_energy_kwh") > 1e-6).count()
    assert(mismatches == 0)
  }

  test("preprocess: calendar columns derived after the rollups equal the " +
    "7-key rollups, row for row") {
    import graft.etl.{Aggregate, Clean}
    // the rollups as preprocess ran them before: every reading carries its
    // calendar columns (Clean.withTimeFeatures) and both rollups group by
    // them
    val raw = out("raw_energy_data")
    val timed = Clean.withTimeFeatures(
      Clean.dropNullKeys(raw, Seq("LCLid", "DateTime"))
        .withColumnRenamed(EnergyPipeline.EnergyRaw, "energy_raw")
        .withColumnRenamed("stdorToU", "tariff_type")
        .withColumn("energy_kwh", Clean.sentinelCast(col("energy_raw"),
          org.apache.spark.sql.types.FloatType))
        .drop("energy_raw")
        .na.drop(Seq("energy_kwh")), "DateTime")
    val hourly = Aggregate.dimJoin(timed, tariffs,
      col("DateTime") === col("TariffDateTime")).drop("TariffDateTime")
      .groupBy("LCLid", "date", "hour", "year", "month", "day", "weekday")
      .agg(sum("energy_kwh").as("hourly_energy_kwh"),
        avg("energy_kwh").as("avg_half_hour_energy"),
        count(lit(1)).as("num_readings"), min("Tariff").as("Tariff"))
    val daily = hourly
      .groupBy("LCLid", "date", "year", "month", "day", "weekday")
      .agg(sum("hourly_energy_kwh").as("daily_energy_kwh"),
        avg("hourly_energy_kwh").as("avg_hourly_energy"),
        sum("num_readings").as("total_readings"), min("Tariff").as("Tariff"))
    val (gotHourly, gotDaily) = EnergyPipeline.preprocess(raw, tariffs)
    for ((name, got, want) <- Seq(("hourly", gotHourly, hourly),
        ("daily", gotDaily, daily))) {
      assert(got.schema == want.schema, name)
      assert(got.count() == want.count(), name)
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty, name)
    }
  }

  test("tariff join: every reading hour gets a label; one-hots in features") {
    val hourly = out("hourly")
    assert(hourly.filter($"Tariff".isNull).count() == 0)
    // hourly grain sees all three labels
    val hourlyLabels = hourly.select("Tariff").distinct().collect()
      .map(_.getString(0)).toSet
    assert(hourlyLabels == Set("Low", "Normal", "High"))
    // daily grain collapses via deterministic min (the reference used an
    // arbitrary first()); with all 3 labels present each day that is
    // always "High" — so exactly one one-hot column materializes
    val feats = out("energy_features")
    val oneHots = feats.columns.filter(_.startsWith("tariff_")).toSet
    assert(oneHots == Set("tariff_high"))
  }

  test("features: warm-up trimmed, lag/rolling/cyclical present") {
    val feats = out("energy_features")
    assert(feats.count() > 0)
    assert(Seq("lag_30_day", "rolling_avg_30d", "month_sin", "is_weekend",
      "energy_change_pct", "z_score_7d").forall(feats.columns.contains))
    // na.drop means every remaining row has a full 30-day history
    assert(feats.filter($"lag_30_day".isNull).count() == 0)
  }

  test("forecast + anomaly: outputs shaped like the reference tables") {
    val preds = out("forecasting_results")
    assert(preds.columns.toSeq ==
      Seq("LCLid", "date", "daily_energy_kwh", "prediction"))
    assert(preds.count() > 0)
    val an = out("anomalies")
    assert(an.count() > 0)
    val rate = an.agg(avg($"is_anomaly")).head.getDouble(0)
    assert(rate >= 0 && rate <= 0.2) // z>3: anomalies are rare
  }

  test("dashboard pages run distributed and collect plot-sized results") {
    import graft.analytics.Dashboard
    val daily = out("daily")
      .withColumn("daily_energy_kwh", col("daily_energy_kwh").cast("double"))
    val kpis = Dashboard.overview(daily, "daily_energy_kwh", "LCLid")
    assert(kpis.getAs[Long]("n_rows") == 80L && kpis.getAs[Long]("n_users") == 2L)
    val (byWeekday, byMonth) = Dashboard.patterns(daily, "date",
      "daily_energy_kwh")
    assert(byWeekday.length == 7 && byMonth.length == 2) // Jan + Feb 2013
    val an = out("anomalies")
    val (top, rate) = Dashboard.anomalies(an, "LCLid", "date")
    assert(top.length <= 15 && rate.nonEmpty)
    val merged = Dashboard.exportMerge(daily, out("forecasting_results"),
      an, "LCLid", "date")
    assert(merged.count() == daily.count()) // left joins preserve the base
    assert(merged.columns.count(_ == "prediction") == 1) // no dup columns
    graft.io.Writers.csv(merged,
      java.nio.file.Files.createTempDirectory("graft-export").toString + "/m",
      gzip = true)
    // correlations page over every numeric feature column: `year` is
    // constant (Jan-Feb 2013) and must be dropped, not fail the page
    val feats = out("energy_features")
    val numeric = feats.schema.fields.collect {
      case f if f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] =>
        f.name
    }.toSeq
    val corrs = Dashboard.topCorrelations(feats, "daily_energy_kwh", numeric)
    assert(corrs.nonEmpty && !corrs.exists(_._1 == "year"), corrs)
    val (c, r) = corrs.head
    val xy = feats.select(col(c).cast("double"),
      col("daily_energy_kwh").cast("double")).collect()
      .map(row => (row.getDouble(0), row.getDouble(1)))
    val (mx, my) = (xy.map(_._1).sum / xy.length, xy.map(_._2).sum / xy.length)
    val sxy = xy.map { case (x, y) => (x - mx) * (y - my) }.sum
    val sxx = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val syy = xy.map { case (_, y) => (y - my) * (y - my) }.sum
    assert(math.abs(r - sxy / math.sqrt(sxx * syy)) < 1e-9, s"$c: $r")
  }

  test("materialized run writes all stage tables + metadata (S6/S7/S14)") {
    val dir = Files.createTempDirectory("graft-energy-out").toString
    EnergyPipeline.run(spark, s"$csvDir/*.csv", tariffs, Some(dir),
      partitionDaily = true)
    // §7.4.8 layout variant: daily also lands date-partitioned, one
    // directory per day, and a date filter round-trips from it
    val byDate = new java.io.File(s"$dir/daily_by_date").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("date="))
    assert(byDate.length >= 2, "expected per-date partition directories")
    val firstDate = byDate.map(_.getName.stripPrefix("date=")).min
    val pruned = spark.read.parquet(s"$dir/daily_by_date")
      .filter(col("date") === lit(java.sql.Date.valueOf(firstDate)))
    assert(pruned.count() > 0)
    for (t <- Seq("raw_energy_data", "hourly", "daily", "energy_features",
        "forecasting_results", "anomalies"))
      assert(spark.read.parquet(s"$dir/$t").count() > 0, t)
    val meta = Files.readString(java.nio.file.Paths.get(s"$dir/model_metadata.txt"))
    assert(meta.contains("RMSE:") && meta.contains("Best Model:"))
    // the winning model itself persists beside the tables (reference's
    // best-model save) and loads back
    val loaded = org.apache.spark.ml.PipelineModel.load(
      s"$dir/best_forecasting_model")
    assert(loaded.stages.nonEmpty)
  }
}
