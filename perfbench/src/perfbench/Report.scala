package perfbench

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolated quantile (numpy's default); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile with at least ten samples above it. */
  def tailPercentile(n: Int): Option[Int] =
    if (n < 11) None else Some(((n - 10) * 100) / n)
}

object Report {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  /** Driver JVM peak resident set (VmHWM), MB. */
  def vmHwmMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(Double.NaN)
    finally src.close()
  }

  private def memTotalKb: Long = {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().collectFirst {
      case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally src.close()
  }

  /** Median, the highest percentile with ten samples beyond it, and n. */
  def describe(name: String, xs: Seq[Double], unit: String): Unit = {
    val tail = Stats.tailPercentile(xs.size).fold("no percentile with 10 " +
      "samples beyond it") { p => f"p$p ${Stats.quantile(xs, p / 100.0)}%.4f" }
    println(f"[perfbench] $name: median ${Stats.median(xs)}%.4f $unit, " +
      s"$tail, n=${xs.size}")
  }

  /** Host and method stamp. */
  def stamp(spark: SparkSession, o: Main.Opts, g: Gen, households: Int,
            days: Int): Unit = {
    val kv = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "mem_total_kb" -> memTotalKb.toString,
      "xmx" -> s"\"${o.heap}\"",
      "java" -> s"\"${System.getProperty("java.version")}\"",
      "spark" -> s"\"${spark.version}\"",
      "master" -> s"\"${spark.sparkContext.master}\"",
      "shuffle_partitions" ->
        spark.conf.get("spark.sql.shuffle.partitions"),
      "seed" -> o.seed.toString,
      "households" -> households.toString,
      "days" -> days.toString,
      "readings" -> g.readings.toString,
      "seconds" -> o.seconds.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "warmup" -> ("\"untimed, inside setup_s: " + (if (o.workload == "dashboard")
        s"the pipeline batch that builds the tables, ${Main.WarmRounds} page rounds"
        else "one batch") + "\""))
    println("[perfbench] stamp {" +
      kv.map { case (k, v) => s"\"$k\": $v" }.mkString(", ") + "}")
  }

  /** Prints every metric with its unit, then the result JSON as the last
    * line of stdout.
    */
  def result(metrics: Seq[(String, Double, String)], correct: Boolean,
             attempted: Long, failed: Long): Unit = {
    metrics.foreach { case (n, v, u) => println(s"[perfbench] metric $n ${num(v)} $u") }
    val m = metrics.map { case (n, v, u) =>
      s"""\"$n\": {\"value\": ${num(v)}, \"unit\": \"$u\"}""" }
    println(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${m.mkString(", ")}}}""")
  }
}
