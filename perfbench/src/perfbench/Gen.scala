package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate
import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Seeded smart-meter input in the reference's CSV shape (the same shape as
  * `tools/PipelineScale`): `LCLid, stdorToU, DateTime, KWH/hh (per half hour) `
  * with one `"Null"` sentinel per household-day, Std and ToU households, and
  * a half-hourly tariff table with Low/Normal/High slots.
  *
  * Every reading is an integer number of watt-hours (printed as kWh with
  * three decimals), so the generator's own arithmetic gives exact totals for
  * the checks: readings are summed as integers here and compared with the
  * engine's float sums within a relative tolerance.
  */
final class Gen(val seed: Long, val households: Int, val days: Int) {
  require(days >= 31, "features need 30 days of history (lag_30_day)")

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(a: Long, b: Long = 0, c: Long = 0, d: Long = 0): Long =
    mix(mix(mix(mix(seed * 0x2545F4914F6CDD1DL ^ a) ^ b) ^ c) ^ d)
  private def pick(n: Int, a: Long, b: Long = 0, c: Long = 0, d: Long = 0) =
    java.lang.Math.floorMod(h(a, b, c, d), n.toLong).toInt

  /** The seed moves the calendar too, so months and seasons differ. */
  val start: LocalDate = LocalDate.of(2012, 10, 1).plusDays(pick(300, 7))
  val dates: Array[LocalDate] = Array.tabulate(days)(start.plusDays(_))
  def id(hh: Int): String = f"MAC$hh%06d"
  def isToU(hh: Int): Boolean = hh % 2 == 1

  private val base = Array.tabulate(households)(i => 60 + pick(140, 1, i))

  /** Tariff slot of a half hour: the ToU price bands of the reference. */
  def tariff(slot: Int): String =
    if (slot < 14) "Low" else if (slot > 40) "High" else "Normal"

  def nullSlot(hh: Int, day: Int): Int = pick(48, 4, hh, day)

  /** Watt-hours of one reading: household level + weekday/weekend + time of
    * day + ToU load shifting + noise, and about one household-day in 200
    * tripled (the outliers the anomaly stage is for). Always > 0.
    */
  def wh(hh: Int, day: Int, slot: Int): Int = {
    val weekend = dates(day).getDayOfWeek.getValue >= 6
    val timeOfDay =
      if (slot >= 34 && slot <= 41) 120 else if (slot >= 14) 40 else 0
    val shift =
      if (!isToU(hh)) 0 else if (slot > 40) -30 else if (slot < 14) 25 else 0
    val v = base(hh) + (if (weekend) 40 else 0) + 3 * (day % 7) + timeOfDay +
      shift + pick(50, 2, hh, day, slot)
    if (pick(200, 3, hh, day) == 0) 3 * v else v
  }

  /** Exact daily totals in Wh, index `hh * days + day`. */
  lazy val dailyWh: Array[Long] = {
    val out = new Array[Long](households * days)
    for (i <- 0 until households; d <- 0 until days) {
      val skip = nullSlot(i, d)
      var s = 0L
      var slot = 0
      while (slot < 48) { if (slot != skip) s += wh(i, d, slot); slot += 1 }
      out(i * days + d) = s
    }
    out
  }
  def totalWh: Long = dailyWh.sum

  def readings: Long = households.toLong * days * 48
  def validReadings: Long = households.toLong * days * 47

  private def stamp(d: Int, slot: Int): String =
    f"${dates(d)} ${slot / 2}%02d:${slot % 2 * 30}%02d:00"

  /** Writes `files` CSV files (households in contiguous blocks, like the
    * reference's block files) plus `tariffs.csv`; returns the CSV glob.
    */
  def write(dir: String, files: Int): String = {
    val csvDir = new File(dir, "csv")
    csvDir.mkdirs()
    val stamps = Array.tabulate(days, 48)(stamp)
    val per = (households + files - 1) / files
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(files, Runtime.getRuntime.availableProcessors())))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val jobs = (0 until files).map { f => Future {
        val w = new BufferedWriter(
          new FileWriter(new File(csvDir, f"block_$f%03d.csv")), 1 << 16)
        try {
          w.write("LCLid,stdorToU,DateTime,KWH/hh (per half hour) \n")
          val sb = new java.lang.StringBuilder(64)
          for (i <- f * per until math.min(households, (f + 1) * per)) {
            val lcl = id(i)
            val kind = if (isToU(i)) "ToU" else "Std"
            for (d <- 0 until days) {
              val skip = nullSlot(i, d)
              for (slot <- 0 until 48) {
                sb.setLength(0)
                sb.append(lcl).append(',').append(kind).append(',')
                  .append(stamps(d)(slot)).append(',')
                if (slot == skip) sb.append("Null")
                else {
                  val v = wh(i, d, slot)
                  sb.append(v / 1000).append('.')
                  val r = v % 1000
                  if (r < 100) sb.append('0')
                  if (r < 10) sb.append('0')
                  sb.append(r)
                }
                w.append(sb).append('\n')
              }
            }
          }
        } finally w.close()
      }}
      Await.result(Future.sequence(jobs), Duration.Inf)
    } finally pool.shutdown()
    val t = new BufferedWriter(new FileWriter(new File(dir, "tariffs.csv")))
    try {
      t.write("TariffDateTime,Tariff\n")
      for (d <- 0 until days; slot <- 0 until 48)
        t.write(s"${stamps(d)(slot)},${tariff(slot)}\n")
    } finally t.close()
    s"${csvDir.getPath}/*.csv"
  }
}
