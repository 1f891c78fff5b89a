package perfbench

/** Per-layer metrics of a traced run, named `<layer>.<call>.<metric>`. Times
  * come from the spans, counters from the job tags; every value is per call
  * (or per traced unit for `spark.*`), so runs of different lengths compare.
  * A call the workload never makes reports 0. `trace.unit_s` is the median
  * traced unit, to set against the untraced runs' `batch_s`: the difference
  * is the tracing overhead.
  */
final class LayerMetrics(tracer: Tracer, rec: Recorder, g: Gen,
                         pageMs: Seq[(String, Double, Boolean)],
                         units: Seq[Double]) {
  private val cores = Runtime.getRuntime.availableProcessors
  private val counters = rec.counters
  private val MB = 1024.0 * 1024
  private def spans(name: String) = tracer.spans.filter(_.name == name)
  private def tag(name: String) = counters.getOrElse(name, new Counters)

  private def call(name: String): Seq[(String, Double, String)] = {
    val ss = spans(name)
    val k = tag(name)
    def per(x: Double) = if (ss.isEmpty) 0.0 else x / ss.size
    val wall = per(ss.map(_.wallS).sum)
    val cpu = per(k.cpuNs / 1e9)
    Seq(
      ("wall_s", wall, "s"),
      ("self_s", per(ss.map(tracer.selfS).sum), "s"),
      ("cpu_s", cpu, "cpu-s"),
      ("jobs", per(k.jobs), "count"),
      ("stages", per(k.stages), "count"),
      ("tasks", per(k.tasks), "count"),
      ("shuffle_write_mb", per(k.shuffleWrite / MB), "MB"),
      ("spill_mb", per(k.spill / MB), "MB"),
      ("gc_s", per(k.gcMs / 1000.0), "s"),
      ("util", if (wall > 0) cpu / (wall * cores) else 0.0, "ratio"),
    ).map { case (m, v, u) => (s"$name.$m", v, u) } ++ (name match {
      case "io.ingest" => Seq(("io.ingest.write_mb", per(k.written / MB), "MB"))
      case "etl.preprocess" => Seq(("etl.preprocess.cpu_us_per_reading",
        cpu / g.readings * 1e6, "us"))
      case _ => Nil
    })
  }

  private def page(p: String): Seq[(String, Double, String)] = {
    val ss = spans(s"analytics.$p")
    val k = tag(s"analytics.$p")
    def per(x: Double) = if (ss.isEmpty) 0.0 else x / ss.size
    Seq(
      (s"analytics.$p.p50_ms",
        if (ss.isEmpty) 0.0 else Stats.median(ss.map(_.wallS * 1000).toSeq), "ms"),
      (s"analytics.$p.jobs", per(k.jobs), "count"),
      (s"analytics.$p.cpu_s", per(k.cpuNs / 1e9), "cpu-s"),
      (s"analytics.$p.fail_n",
        pageMs.count(x => x._1 == p && !x._3).toDouble, "count"))
  }

  /** Latency over every page served, and pages per second spent serving. */
  private def allPages: Seq[(String, Double, String)] = {
    val lat = pageMs.map(_._2)
    def q(p: Double) = if (lat.isEmpty) 0.0 else Stats.quantile(lat, p)
    Seq(
      ("analytics.all_pages.p50_ms", q(0.5), "ms"),
      ("analytics.all_pages.p95_ms", q(0.95), "ms"),
      ("analytics.all_pages.per_s",
        if (lat.isEmpty) 0.0 else lat.size / (lat.sum / 1000), "1/s"))
  }

  /** Whole-run counters per traced unit; the benchmark's own checks are
    * left out.
    */
  private def spark: Seq[(String, Double, String)] = {
    val all = new Counters
    counters.foreach { case (t, c) =>
      if (t != Recorder.Untagged && t != "check") all += c }
    val n = units.size.toDouble
    Seq(
      ("spark.jobs", all.jobs / n, "count"),
      ("spark.tasks", all.tasks / n, "count"),
      ("spark.task_overhead_s", (all.durMs - all.runMs) / 1000.0 / n, "s"),
      ("spark.gc_s", all.gcMs / 1000.0 / n, "s"),
      ("spark.peak_exec_mem_mb", all.peakMem / MB, "MB"),
      ("spark.peak_rss_mb", Report.vmHwmMb, "MB"))
  }

  def all: Seq[(String, Double, String)] =
    Main.Calls.flatMap(call) ++ Pages.All.flatMap(page) ++ allPages ++
      spark :+
      (("trace.unit_s", Stats.median(units), "s"))
}
