package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks against the generator's arithmetic. A failed check throws
  * [[Checks.Wrong]]; the run then reports `correct: false` and exits non-zero.
  */
object Checks {
  final class Wrong(msg: String) extends RuntimeException(msg)

  def ensure(ok: Boolean, what: => String): Unit =
    if (!ok) throw new Wrong(what)

  def close(a: Double, b: Double, rel: Double = 1e-6): Boolean =
    math.abs(a - b) <= rel * math.max(math.abs(a), math.abs(b)) + 1e-9

  def kwh(wh: Long): Double = wh / 1000.0

  /** The forecast stage's chronological test split (`Forecast.run`): the
    * date range of its feature frame (the first 14 days per household drop
    * out with lag_14_day), cut at 70 %.
    */
  def testDates(g: Gen): Seq[LocalDate] = {
    val minD = g.dates(14)
    val span = java.time.temporal.ChronoUnit.DAYS.between(minD,
      g.dates(g.days - 1))
    val cutoff = minD.plusDays(span * 7 / 10)
    g.dates.toSeq.filter(!_.isBefore(cutoff))
  }

  private def keyed(rows: Array[Row]): Map[(String, LocalDate), Row] = {
    val m = rows.map(r => (r.getString(0), r.getDate(1).toLocalDate) -> r).toMap
    ensure(m.size == rows.length, s"duplicate (LCLid, date) keys: " +
      s"${rows.length} rows, ${m.size} distinct")
    m
  }

  private def expectKeys(name: String, got: Iterable[(String, LocalDate)],
                         g: Gen, dates: Seq[LocalDate]): Unit = {
    val want = (for (i <- 0 until g.households; d <- dates)
      yield (g.id(i), d)).toSet
    val have = got.toSet
    ensure(have == want, s"$name keys: ${(want -- have).size} missing, " +
      s"${(have -- want).size} unexpected")
  }

  private def wantDaily(g: Gen, lcl: String, d: LocalDate): Double = {
    val i = lcl.stripPrefix("MAC").toInt
    kwh(g.dailyWh(i * g.days +
      java.time.temporal.ChronoUnit.DAYS.between(g.start, d).toInt))
  }

  /** Stages 1-3: row counts of every table, every household kept through
    * daily and features, kWh conserved readings → hourly → daily, daily and
    * feature values equal to the generator's.
    */
  def etlTables(spark: SparkSession, out: String, g: Gen): Unit = {
    def rd(n: String) = spark.read.parquet(s"$out/$n")
    val raw = rd("raw_energy_data").agg(count(lit(1)),
      count(col("DateTime")), countDistinct(col("LCLid"))).head()
    ensure(raw.getLong(0) == g.readings,
      s"raw_energy_data rows ${raw.getLong(0)} != ${g.readings}")
    ensure(raw.getLong(1) == g.readings, "raw_energy_data: unparsed DateTime")
    ensure(raw.getLong(2) == g.households, "raw_energy_data households")

    val total = kwh(g.totalWh)
    val hourly = rd("hourly").agg(count(lit(1)),
      sum(col("hourly_energy_kwh")), sum(col("num_readings"))).head()
    ensure(hourly.getLong(0) == g.households.toLong * g.days * 24,
      s"hourly rows ${hourly.getLong(0)}")
    ensure(close(hourly.getDouble(1), total),
      s"kWh not conserved readings → hourly: ${hourly.getDouble(1)} vs $total")
    ensure(hourly.getLong(2) == g.validReadings,
      s"hourly num_readings ${hourly.getLong(2)} != ${g.validReadings}")

    val daily = keyed(rd("daily").select("LCLid", "date", "daily_energy_kwh",
      "total_readings").collect())
    expectKeys("daily", daily.keys, g, g.dates.toSeq)
    var dsum = 0.0
    daily.foreach { case ((lcl, d), r) =>
      dsum += r.getDouble(2)
      ensure(close(r.getDouble(2), wantDaily(g, lcl, d)),
        s"daily $lcl $d: ${r.getDouble(2)} != ${wantDaily(g, lcl, d)}")
      ensure(r.getLong(3) == 47, s"daily $lcl $d total_readings ${r.getLong(3)}")
    }
    ensure(close(dsum, total), s"kWh not conserved hourly → daily: $dsum")

    val feats = keyed(rd("energy_features").select("LCLid", "date",
      "daily_energy_kwh", "lag_1_day", "lag_30_day", "rolling_avg_7d")
      .collect())
    expectKeys("energy_features", feats.keys, g, g.dates.toSeq.drop(30))
    feats.foreach { case ((lcl, d), r) =>
      val v = wantDaily(g, lcl, d)
      val avg7 = (1 to 7).map(k => wantDaily(g, lcl, d.minusDays(k))).sum / 7
      ensure(close(r.getDouble(2), v) &&
        close(r.getDouble(3), wantDaily(g, lcl, d.minusDays(1))) &&
        close(r.getDouble(4), wantDaily(g, lcl, d.minusDays(30))) &&
        close(r.getDouble(5), avg7),
        s"energy_features $lcl $d: $r")
    }
  }

  /** Stages 4-5: forecasting_results and anomalies keyed 1:1 to the test
    * split, targets equal to the generator's, `is_anomaly` in {0, 1}.
    */
  def mlTables(spark: SparkSession, out: String, g: Gen): Unit = {
    val test = testDates(g)
    val preds = keyed(spark.read.parquet(s"$out/forecasting_results")
      .select("LCLid", "date", "daily_energy_kwh", "prediction").collect())
    expectKeys("forecasting_results", preds.keys, g, test)
    preds.foreach { case ((lcl, d), r) =>
      ensure(close(r.getDouble(2), wantDaily(g, lcl, d)) &&
        !r.getDouble(3).isNaN && !r.getDouble(3).isInfinite,
        s"forecasting_results $lcl $d: $r")
    }
    val an = keyed(spark.read.parquet(s"$out/anomalies")
      .select("LCLid", "date", "daily_energy_kwh", "is_anomaly", "cluster")
      .collect())
    expectKeys("anomalies", an.keys, g, test)
    an.foreach { case ((lcl, d), r) =>
      ensure(close(r.getDouble(2), wantDaily(g, lcl, d)) &&
        (r.getInt(3) == 0 || r.getInt(3) == 1) &&
        r.getInt(4) >= 0 && r.getInt(4) < 5, s"anomalies $lcl $d: $r")
    }
  }
}
