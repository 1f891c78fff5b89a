package graft.tools

import scala.annotation.tailrec

import org.apache.spark.sql.SparkSession

import graft.{Bench, SparkEntry}

/** Measure named [[graft.SparkEntry]] queries in a Bench session:
  *
  *   Probe --sf DIR [--cpus N] [--conf k=v]... QUERY...
  *
  * After Bench's warm-up, each query runs a cold pass and a warm pass, with
  * clearCache and a GC before each. Per pass it prints wall time and the
  * [[StageMetrics]] window (executor CPU, jobs, stages, tasks, shuffle
  * read/write, spill); then the cold pass's stages ranked by CPU and its
  * final post-AQE executed plan. `--cpus` defaults to the core count;
  * `--conf` settings go on the session after Bench's own.
  */
object Probe {
  private val Usage =
    "usage: Probe --sf DIR [--cpus N] [--conf k=v]... QUERY..."

  final case class Reading(rows: Long, wallSec: Double,
      m: StageMetrics.Totals, stages: Vector[StageMetrics.Stage],
      executedPlan: String)

  /** Run `query` once as Bench times it (a full count) and read its window.
    * The count runs as `groupBy().count()` — the plan `Dataset.count`
    * executes — so that plan's final adaptive form can be returned.
    */
  def measure(spark: SparkSession, metrics: StageMetrics, sfDir: String,
      query: String): Reading = {
    val m0 = metrics.read()
    val t0 = System.nanoTime()
    val counted = SparkEntry.queries(query)(spark, sfDir).groupBy().count()
    val rows = counted.collect().head.getLong(0)
    val wallSec = (System.nanoTime() - t0) / 1e9
    val m1 = metrics.read()
    Reading(rows, wallSec, m1 - m0, metrics.stagesBetween(m0, m1),
      counted.queryExecution.executedPlan.toString)
  }

  private final case class Args(sf: Option[String] = None,
      cpus: String = Runtime.getRuntime.availableProcessors().toString,
      confs: Vector[(String, String)] = Vector.empty,
      queries: Vector[String] = Vector.empty)

  @tailrec private def parse(a: List[String], o: Args): Args = a match {
    case Nil => o
    case "--sf" :: d :: t => parse(t, o.copy(sf = Some(d)))
    case "--cpus" :: n :: t if n.toIntOption.exists(_ > 0) =>
      parse(t, o.copy(cpus = n))
    case "--conf" :: kv :: t if kv.contains('=') =>
      val Array(k, v) = kv.split("=", 2)
      parse(t, o.copy(confs = o.confs :+ (k -> v)))
    case q :: t if !q.startsWith("--") && SparkEntry.queries.contains(q) =>
      parse(t, o.copy(queries = o.queries :+ q))
    case bad :: _ =>
      System.err.println(s"Probe: bad or unknown argument '$bad'\n$Usage")
      sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList, Args())
    val sf = a.sf match {
      case Some(d) if a.queries.nonEmpty => d
      case _ => System.err.println(Usage); sys.exit(2)
    }
    val spark = Bench.session(a.cpus, a.confs)
    val metrics = StageMetrics.attach(spark.sparkContext)
    SparkEntry.entry(spark).count()
    println(s"[probe] local[${a.cpus}] sf=$sf confs=" +
      a.confs.map { case (k, v) => s"$k=$v" }.mkString(","))
    a.queries.foreach { q =>
      val cold = Seq("cold", "warm").map { pass =>
        spark.catalog.clearCache(); System.gc()
        val r = measure(spark, metrics, sf, q)
        println(f"[probe] $q $pass: wall=${r.wallSec}%.2f s ${r.m.show} " +
          s"rows=${r.rows}")
        r
      }.head
      println(s"[probe] $q cold stages by cpu:")
      cold.stages.sortBy(-_.m.cpuNs).foreach { s =>
        println(f"  cpu ${s.m.cpuSec}%7.2f  wall ${s.wallSec}%6.2f  " +
          f"tasks ${s.m.tasks}%4d  shRd ${s.m.shuffleReadB / 1e6}%8.1f MB  " +
          f"shWr ${s.m.shuffleWriteB / 1e6}%8.1f MB  [${s.id}] ${s.name}")
      }
      println(s"[probe] $q cold executed plan:\n${cold.executedPlan}")
    }
    spark.stop()
  }
}
