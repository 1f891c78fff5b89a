package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.FloatType

import graft.etl.{Aggregate, Clean}
import graft.feat.Windows
import graft.io.{Sources, Writers}
import graft.ml.{Anomaly, Forecast}
import graft.schema.Schemas

/** The reference's five-stage batch pipeline (SURVEY.md §3.1) as a single
  * library API over reference-shaped data: a user of
  * `Sagar4276/Smart-Energy-Consumption-Analytics-using-Big-Data` points
  * [[ingest]] at the same CSVs and gets the same derived tables.
  *
  * Deliberate departures (SURVEY.md §4, §7.4):
  *  - explicit schema, never `inferSchema` (saves a full input scan);
  *  - one multi-file CSV read instead of a 168-way union fold;
  *  - no driver-side household batching — windows shuffle by LCLid and
  *    parallelize on their own;
  *  - stages compose as DataFrames in ONE session; Parquet materialization
  *    between stages is optional (`outDir`), not mandatory — the reference
  *    re-read everything from disk between its five JVMs.
  */
object EnergyPipeline {

  val EnergyRaw = "KWH/hh (per half hour) " // trailing space — as shipped

  /** Stage 1 (`data_ingestion.py:40-209`): CSV scan S1/S2 + timestamp parse.
    * One `spark.read.csv(paths)` fans out over any number of files.
    */
  def ingest(spark: SparkSession, csvPath: String): DataFrame =
    Sources.csv(spark, csvPath,
        Schemas.rawEnergy.copy(fields = Schemas.rawEnergy.fields.map(f =>
          if (f.name == "DateTime") f.copy(dataType =
            org.apache.spark.sql.types.StringType) else f)))
      .withColumn("DateTime", to_timestamp(col("DateTime")))

  /** Stage 2 (`data_preprocessing.py:88-305`): clean (P1-P4), time features
    * (F2-F3), tariff dim join (J1, broadcast), hourly + daily rollups
    * (A1-A2). Returns (hourly, daily).
    *
    * Each reading gets only its `date` and `hour`; the rollups group by
    * (LCLid, date, hour) and (LCLid, date), and `year`, `month`, `day` and
    * `weekday`, functions of `date`, are derived once per output row after
    * each rollup, in the reference's column order.
    */
  def preprocess(raw: DataFrame, tariffs: DataFrame): (DataFrame, DataFrame) = {
    val cleaned = Clean.dropNullKeys(raw, Seq("LCLid", "DateTime"))
      .withColumnRenamed(EnergyRaw, "energy_raw")
      .withColumnRenamed("stdorToU", "tariff_type")
      .withColumn("energy_kwh", Clean.sentinelCast(col("energy_raw"), FloatType))
      .drop("energy_raw")
      .na.drop(Seq("energy_kwh"))
      .withColumn("date", to_date(col("DateTime")))
      .withColumn("hour", hour(col("DateTime")))
    val withTariff = Aggregate.dimJoin(cleaned, tariffs,
      col("DateTime") === col("TariffDateTime")).drop("TariffDateTime")
    val hourly = withTariff
      .groupBy(col("LCLid"), col("date"), col("hour"))
      .agg(sum(col("energy_kwh")).as("hourly_energy_kwh"),
        avg(col("energy_kwh")).as("avg_half_hour_energy"),
        count(lit(1)).as("num_readings"),
        // `first(Tariff)` in the reference (A2) is order-nondeterministic;
        // min is the deterministic equivalent on a per-hour-constant dim
        min(col("Tariff")).as("Tariff"))
    val daily = hourly
      .groupBy(col("LCLid"), col("date"))
      .agg(sum(col("hourly_energy_kwh")).as("daily_energy_kwh"),
        avg(col("hourly_energy_kwh")).as("avg_hourly_energy"),
        sum(col("num_readings")).as("total_readings"),
        min(col("Tariff")).as("Tariff"))
    (withCalendar(hourly, "hour"), withCalendar(daily, "date"))
  }

  /** `df` with `year`, `month`, `day` and `weekday` of its `date` inserted
    * after the column `after`.
    */
  private def withCalendar(df: DataFrame, after: String): DataFrame = {
    val calendar = Seq(year(col("date")).as("year"),
      month(col("date")).as("month"), dayofmonth(col("date")).as("day"),
      date_format(col("date"), "E").as("weekday"))
    val (head, tail) = df.columns.splitAt(df.columns.indexOf(after) + 1)
    df.select(head.toSeq.map(col) ++ calendar ++ tail.map(col): _*)
  }

  /** Stage 3 (`feature_engineering.py:41-249`): W1-W4 windows, P10-P12
    * flags, F5 cyclical, P11 tariff one-hots, F6-F8 derived; warm-up rows
    * with any null feature dropped (`feature_engineering.py:196`).
    */
  def features(daily: DataFrame): DataFrame = {
    val lagged = Windows.addLags(daily, "LCLid", "date", "daily_energy_kwh")
    val rolled = Windows.addRolling(lagged, "LCLid", "date", "daily_energy_kwh")
    val flagged = Windows.addSeasons(
      rolled.withColumn("is_weekend", Windows.Weekend.byName(col("weekday"))))
    val cyc = Windows.addCyclical(flagged)
    val oneHot = Windows.addOneHot(cyc, "Tariff", "tariff")
    Windows.addDerived(oneHot, "daily_energy_kwh").na.drop()
  }

  /** Stages 4+5: forecast on the daily table (cross-model selection; the
    * winner persists to `modelDir` when set, matching the reference's
    * best-model save), anomalies on daily ⋈ predictions
    * (`forecasting_model.py` / `anomaly_detection.py`).
    */
  def forecastAndDetect(daily: DataFrame, modelDir: Option[String] = None)
      : (DataFrame, Forecast.FitResult, DataFrame) = {
    val base = daily.select(col("LCLid"), col("date"),
      col("daily_energy_kwh").cast("double").as("daily_energy_kwh"))
    val (preds, fit) = Forecast.run(base, idCol = "LCLid",
      target = "daily_energy_kwh", modelDir = modelDir)
    val anomalies = Anomaly.run(base, preds, idCol = "LCLid",
      target = "daily_energy_kwh")
    (preds, fit, anomalies)
  }

  /** Full pipeline; when `outDir` is set, materializes each stage like the
    * reference (S6/S7 sinks, X1 coalesce policy) plus the S14 metadata
    * file.
    */
  def run(spark: SparkSession, csvPath: String, tariffs: DataFrame,
          outDir: Option[String] = None,
          partitionDaily: Boolean = false): Map[String, DataFrame] = {
    val raw = ingest(spark, csvPath)
    val (hourly, daily) = preprocess(raw, tariffs)
    val dailyCached = daily.cache()
    val feats = features(dailyCached)
    // when materializing, the winning model + its metadata land beside the
    // tables (Forecast.run writes best_forecasting_model/ and
    // model_metadata.txt, mirroring the reference's model sink)
    val (preds, fit, anomalies) = forecastAndDetect(dailyCached, outDir)
    val out = Map("raw_energy_data" -> raw, "hourly" -> hourly,
      "daily" -> dailyCached, "energy_features" -> feats,
      "forecasting_results" -> preds, "anomalies" -> anomalies)
    outDir.foreach { d =>
      out.foreach { case (name, df) =>
        Writers.parquet(df, s"$d/$name", numFiles = Some(4))
      }
      // SURVEY §7.4.8 layout: daily also lands date-partitioned so the P5
      // chronological train/test split prunes whole date directories at
      // plan time instead of scanning the full history (the 100 TB posture
      // — PhysicalSpec asserts the pruned scan)
      if (partitionDaily)
        Writers.parquetPartitioned(dailyCached, s"$d/daily_by_date",
          Seq("date"))
    }
    out
  }
}
