package perfbench

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

import graft.analytics.Dashboard

/** The five dashboard pages over one set of pipeline tables, each forced to
  * its full result (collected page rows, or a `noop` sink for the export
  * merge) and checked against values computed here on the driver.
  */
final class Pages(spark: SparkSession, out: String, g: Gen) {
  import Checks.{close, ensure, kwh}

  private def rd(n: String): DataFrame = spark.read.parquet(s"$out/$n")
  val daily: DataFrame = rd("daily")
  val feats: DataFrame = rd("energy_features")
  val preds: DataFrame = rd("forecasting_results")
  val an: DataFrame = rd("anomalies")

  /** The reference's candidate set (`streamlit_app.py:542-555`): every
    * numeric column of the feature table except the target.
    */
  val candidates: Seq[String] = feats.schema.fields.toSeq.collect {
    case f if f.dataType.isInstanceOf[NumericType] &&
      f.name != Pages.Target => f.name
  }

  // ---- expected values; computed once per table set, outside the timing
  private val dailyKwh = g.dailyWh.map(kwh)
  private val dayOf = (i: Int) => g.dates(i % g.days)
  private val corrWant: Map[String, Option[Double]] = {
    val rows = feats.select((Pages.Target +: candidates).map(col): _*)
      .collect()
    def num(r: org.apache.spark.sql.Row, i: Int): Double =
      r.get(i).asInstanceOf[Number].doubleValue
    val y = rows.map(num(_, 0))
    candidates.zipWithIndex.map { case (c, k) =>
      val x = rows.map(num(_, k + 1))
      val mx = x.sum / x.length; val my = y.sum / y.length
      val sxy = x.indices.map(i => (x(i) - mx) * (y(i) - my)).sum
      val sxx = x.map(v => (v - mx) * (v - mx)).sum
      val syy = y.map(v => (v - my) * (v - my)).sum
      c -> (if (sxx == 0 || syy == 0) None else Some(sxy / math.sqrt(sxx * syy)))
    }.toMap
  }
  private val anRows = an.select("LCLid", "date", "is_anomaly").collect()
    .map(r => (r.getString(0), r.getDate(1).toLocalDate, r.getInt(2)))
  private val predSum = preds.agg(sum("prediction")).head().getDouble(0)

  private def monthOf(d: LocalDate) = d.withDayOfMonth(1)
  private val kpiWant = {
    val n = dailyKwh.length
    val mean = dailyKwh.sum / n
    (n.toLong, kwh(g.totalWh), mean, dailyKwh.max,
      math.sqrt(dailyKwh.map(v => (v - mean) * (v - mean)).sum / (n - 1)))
  }
  private val weekdayWant = dailyKwh.indices.groupBy(i => dayOf(i).getDayOfWeek
      .getDisplayName(java.time.format.TextStyle.SHORT, java.util.Locale.US))
    .map { case (k, is) => k -> is.map(dailyKwh).sum / is.size }
  private val monthWant = dailyKwh.indices.groupBy(i => monthOf(dayOf(i)))
    .map { case (k, is) => k -> (is.map(dailyKwh).sum / is.size, is.size.toLong) }
  private val topWant = anRows.filter(_._3 == 1).groupBy(_._1)
    .map { case (k, v) => (k, v.length.toLong) }.toSeq
    .sortBy { case (k, n) => (-n, k) }.take(15)
  private val rateWant = anRows.groupBy(r => monthOf(r._2)).map { case (k, v) =>
    k -> (v.map(_._3).sum.toDouble / v.length, v.length.toLong) }
  private val flagsWant = anRows.count(_._3 == 1).toLong

  // Each page runs the engine call and returns the check of its result, so
  // the caller times the call alone.
  private def overview(): () => Unit = {
    val r = Dashboard.overview(daily, Pages.Target, "LCLid")
    () => {
      val (n, total, mean, max, std) = kpiWant
      ensure(r.getLong(0) == n && r.getLong(5) == g.households &&
        close(r.getDouble(1), total) && close(r.getDouble(2), mean) &&
        close(r.getDouble(3), max) && close(r.getDouble(4), std, 1e-5),
        s"overview KPI card $r; want $kpiWant, users ${g.households}")
    }
  }

  private def patterns(): () => Unit = {
    val (byWeekday, byMonth) = Dashboard.patterns(daily, "date", Pages.Target)
    () => {
      ensure(byWeekday.length == weekdayWant.size && byWeekday.forall(r =>
        close(r.getDouble(1), weekdayWant(r.getString(0)))),
        s"patterns by weekday ${byWeekday.mkString(",")}; want $weekdayWant")
      ensure(byMonth.length == monthWant.size && byMonth.forall { r =>
        val (m, n) = monthWant(r.getDate(0).toLocalDate)
        close(r.getDouble(1), m) && r.getLong(2) == n
      }, s"patterns by month ${byMonth.mkString(",")}; want $monthWant")
    }
  }

  private def anomalies(): () => Unit = {
    val (top, rate) = Dashboard.anomalies(an, "LCLid", "date")
    () => {
      ensure(top.map(r => (r.getString(0), r.getLong(1))).toSeq == topWant,
        s"anomalies top offenders ${top.mkString(",")}; want $topWant")
      ensure(rate.length == rateWant.size && rate.forall { r =>
        val (m, n) = rateWant(r.getDate(0).toLocalDate)
        close(r.getDouble(1), m) && r.getLong(2) == n
      }, s"anomalies monthly rate ${rate.mkString(",")}; want $rateWant")
    }
  }

  private def correlations(): () => Unit = {
    val top = Dashboard.topCorrelations(feats, Pages.Target, candidates)
    () => {
      ensure(top.size <= 15 && top.map(t => -math.abs(t._2)) ==
        top.map(t => -math.abs(t._2)).sorted, s"correlations order $top")
      top.foreach { case (c, r) =>
        ensure(corrWant(c).fold(r == 0.0 || r.isNaN)(close(r, _, 1e-6)),
          s"correlation of $c: $r; want ${corrWant(c)}")
      }
    }
  }

  private def export(): () => Unit = {
    val obs = Observation("export")
    Dashboard.exportMerge(daily, preds, an, "LCLid", "date")
      .observe(obs, count(lit(1)).as("n"), sum("is_anomaly").as("flags"),
        sum("prediction").as("pred"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    () => ensure(m("n") == dailyKwh.length.toLong && m("flags") == flagsWant &&
      close(m("pred").asInstanceOf[Double], predSum),
      s"export merge $m; want n=${dailyKwh.length} flags=$flagsWant " +
        s"pred=$predSum")
  }

  /** Runs one page: Right(check) when the engine call completed, Left(error)
    * when it threw. Running the check throws [[Checks.Wrong]] on a wrong
    * result.
    */
  def serve(name: String): Either[Throwable, () => Unit] =
    try Right(name match {
      case "overview" => overview()
      case "patterns" => patterns()
      case "anomalies" => anomalies()
      case "correlations" => correlations()
      case "export" => export()
    })
    catch { case scala.util.control.NonFatal(e) => Left(e) }
}

object Pages {
  val Target = "daily_energy_kwh"
  val All = Seq("overview", "patterns", "anomalies", "correlations", "export")
}
