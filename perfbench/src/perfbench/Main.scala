package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.io.{Sources, Writers}
import graft.ml.{Anomaly, Forecast}
import graft.pipeline.EnergyPipeline
import graft.schema.Schemas

/** The benchmark JVM: one workload, one client, one run. See NOTES.md for
  * the workloads, the metrics and the method; `run.py` is the entry point.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, smoke: Boolean, work: String,
                        traces: String, heap: String, launchedMs: Long)

  val Workloads = Seq("pipeline", "dashboard")

  /** Untimed page rounds after the dashboard's tables are built (its
    * warm-up; a dashboard is a long-lived process). Round times level off
    * after about four rounds on the host in NOTES.md.
    */
  val WarmRounds = 4

  /** Input size, (households, days); both workloads use the same tables.
    * Reasons in NOTES.md.
    */
  def size(smoke: Boolean): (Int, Int) = if (smoke) (6, 40) else (40, 60)

  val Calls = Seq("io.ingest", "etl.preprocess", "feat.features",
    "ml.forecast", "ml.anomaly")

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("scale") == "smoke", m("work"), m("traces"),
      m("heap"), m("launched-ms").toLong)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Workloads.contains(o.workload),
      s"unknown workload ${o.workload}")
    val spark = graft.Engine.session()
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try new Run(spark, o).apply()
      finally spark.stop()
    System.exit(code)
  }
}

/** One benchmark run: set-up (input generation + untimed warm-up), the
  * timed loop, checks after every timed unit, then the result line.
  */
final class Run(spark: SparkSession, o: Main.Opts) {
  private val sc = spark.sparkContext
  private val sessionS = (System.currentTimeMillis() - o.launchedMs) / 1000.0
  private val rec = new Recorder(traced = o.trace)
  sc.addSparkListener(rec)
  private val tracer = new Tracer(sc)
  private val (households, days) = Main.size(o.smoke)
  private val g = new Gen(o.seed, households, days)
  private val out = s"${o.work}/tables"
  private val order = new Random(o.seed)
  private def drain(): Unit = org.apache.spark.graft.ListenerBridge.drain(sc)

  /** Untimed: collect the garbage of the previous phase and let the
    * listener bus catch up, so a timed phase does not pay for the one before
    * it (the reference runs its dashboard in a process of its own).
    */
  private def settle(): Unit = { System.gc(); drain() }

  // ---- timed observations
  private val batchS = ArrayBuffer[Double]()   // per batch, or per page round
  private val batchCpu = ArrayBuffer[Double]()
  private val pageMs = ArrayBuffer[(String, Double, Boolean)]()
  private var attempted, failed = 0L
  private val firstError = scala.collection.mutable.Map[String, String]()

  private var csv = ""
  private var tariffPath = ""

  private def rd(n: String): DataFrame = spark.read.parquet(s"$out/$n")

  /** The daily frame the ML stages take (`EnergyPipeline.forecastAndDetect`). */
  private def mlBase(): DataFrame = rd("daily").select(col("LCLid"), col("date"),
    col("daily_energy_kwh").cast("double").as("daily_energy_kwh"))

  /** The five stages, each isolated through parquet like the reference's
    * script-per-stage runs; every span ends with its stage's parquet write,
    * so the write bills to that stage. The forecast runs the engine's
    * 3-point LR grid (`fastGrid`); NOTES.md says why.
    */
  private def batch(): Unit = tracer.span("batch") {
    tracer.span("io.ingest") {
      Writers.parquet(EnergyPipeline.ingest(spark, csv), s"$out/raw_energy_data")
    }
    tracer.span("etl.preprocess") {
      val (hourly, daily) = EnergyPipeline.preprocess(rd("raw_energy_data"),
        Sources.csv(spark, tariffPath, Schemas.tariffs))
      Writers.parquet(hourly, s"$out/hourly")
      Writers.parquet(daily, s"$out/daily")
    }
    tracer.span("feat.features") {
      Writers.parquet(EnergyPipeline.features(rd("daily")),
        s"$out/energy_features")
    }
    tracer.span("ml.forecast") {
      val (preds, _) = Forecast.run(mlBase(), idCol = "LCLid",
        dateCol = "date", target = "daily_energy_kwh", fastGrid = true)
      Writers.parquet(preds, s"$out/forecasting_results")
      preds.unpersist()
    }
    tracer.span("ml.anomaly") {
      Writers.parquet(Anomaly.run(mlBase(), rd("forecasting_results"),
        idCol = "LCLid", dateCol = "date", target = "daily_energy_kwh"),
        s"$out/anomalies")
    }
  }

  /** One page round: every page once, in a seeded order; each page is
    * checked after its timing. Returns the round's wall time.
    */
  private def round(p: Pages, timed: Boolean): Double = {
    var total = 0.0
    for (name <- order.shuffle(Pages.All)) {
      val t0 = System.nanoTime()
      val r = tracer.span(s"analytics.$name")(p.serve(name))
      val ms = (System.nanoTime() - t0) / 1e6
      total += ms / 1000
      r.foreach(check => check())
      if (timed) {
        attempted += 1
        pageMs += ((name, ms, r.isRight))
        r.left.foreach { e =>
          failed += 1
          firstError.getOrElseUpdate(name, e.toString.linesIterator.next())
        }
      }
    }
    total
  }

  /** Executor CPU seconds of `body`; the bus is drained on both sides,
    * outside any timing.
    */
  private def cpuOf[A](body: => A): (A, Double) = {
    drain()
    val c0 = rec.cpuNs.get
    val a = body
    drain()
    (a, (rec.cpuNs.get - c0) / 1e9)
  }

  /** One timed unit: a page round (dashboard), or a batch followed by the
    * checks of every table it wrote (pipeline; the checks are untimed).
    * Returns the unit's wall and executor-CPU seconds.
    */
  private def unit(pages: Pages): (Double, Double) =
    if (o.workload == "dashboard") cpuOf(round(pages, timed = true))
    else {
      val r = timedBatch()
      attempted += 1
      tracer.span("check") {
        Checks.etlTables(spark, out, g)
        Checks.mlTables(spark, out, g)
      }
      r
    }

  private def timedBatch(): (Double, Double) = {
    spark.catalog.clearCache()
    settle()
    cpuOf {
      val t0 = System.nanoTime()
      batch()
      (System.nanoTime() - t0) / 1e9
    }
  }

  private def measure(): Int = {
    // ---- set-up: session (already up), inputs, then the untimed warm-up
    val t0 = System.nanoTime()
    csv = g.write(s"${o.work}/input", files = 8)
    tariffPath = s"${o.work}/input/tariffs.csv"
    val genS = (System.nanoTime() - t0) / 1e9
    val warmBatchS = timedBatch()._1
    var pages: Pages = null
    val warmRounds =
      if (o.workload == "dashboard") {
        pages = new Pages(spark, out, g)
        Seq.fill(Main.WarmRounds)(round(pages, timed = false))
      } else Nil
    settle()
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    println(f"[perfbench] set-up: session $sessionS%.2f s, input $genS%.2f s " +
      f"(${g.readings} readings), warm-up batch $warmBatchS%.2f s, rounds " +
      warmRounds.map(v => f"$v%.2f").mkString("[", " ", "]") +
      f" s, total $setupS%.2f s")

    // ---- timed loop; in a traced run every unit is traced
    drain(); rec.reset()
    tracer.on = o.trace
    val loop0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - loop0) / 1e9 < o.seconds) {
      tracer.run = i
      val (s, cpu) = unit(pages)
      batchS += s
      batchCpu += cpu
      i += 1
    }
    tracer.on = false
    drain()
    println("[perfbench] timed units: " +
      batchS.map(v => f"$v%.3f").mkString(" ") + " s")
    firstError.foreach { case (k, v) => println(s"[perfbench] $k failed: $v") }

    val metrics =
      if (o.trace) new LayerMetrics(tracer, rec, g, pageMs.toSeq,
        batchS.toSeq).all
      else endToEnd(setupS)
    Report.stamp(spark, o, g, households, days)
    if (o.trace) tracer.write(s"${o.traces}/${o.workload}-seed${o.seed}.jsonl",
      s"${o.workload}-${o.seed}-${o.launchedMs}")
    Report.result(metrics, correct = true, attempted, failed)
    0
  }

  /** Runs the workload; a wrong output ends the run with `correct: false`. */
  def apply(): Int =
    try measure()
    catch {
      case w: Checks.Wrong =>
        System.err.println(s"[perfbench] WRONG OUTPUT: ${w.getMessage}")
        Report.result(Nil, correct = false, math.max(attempted, 1), failed)
        1
    }

  private def endToEnd(setupS: Double): Seq[(String, Double, String)] = {
    Report.describe("batch_s", batchS.toSeq, "s")
    if (pageMs.nonEmpty) {
      Report.describe("page_ms", pageMs.map(_._2).toSeq, "ms")
      for (p <- Pages.All)
        Report.describe(s"page_ms.$p",
          pageMs.filter(_._1 == p).map(_._2).toSeq, "ms")
    }
    Seq(
      ("setup_s", setupS, "s"),
      ("batch_s", Stats.median(batchS.toSeq), "s"),
      ("cpu_s", Stats.median(batchCpu.toSeq), "cpu-s"),
      ("ok_ratio", (attempted - failed).toDouble / attempted, "ratio"))
  }
}
