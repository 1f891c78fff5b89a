package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task counters of one job tag (the name of the span that ran the job). */
final class Counters {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, durMs, gcMs = 0L
  var shuffleWrite, spill, written, peakMem = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    cpuNs += o.cpuNs; runMs += o.runMs; durMs += o.durMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; spill += o.spill; written += o.written
    peakMem = math.max(peakMem, o.peakMem)
  }
}

/** The benchmark's only SparkListener. Untraced it sums executor CPU per
  * completed stage (the `cpu_s` metric). Traced it also counts jobs, stages
  * and task metrics per job tag: a stage inherits the `spark.jobGroup.id` of
  * the job that submitted it, so counters land on the span that caused the
  * work, with no snapshot deltas and no sleeps.
  */
final class Recorder(traced: Boolean) extends SparkListener {
  val cpuNs = new AtomicLong
  private val stageTag = new ConcurrentHashMap[Int, String]
  private val byTag = new ConcurrentHashMap[String, Counters]

  private def of(tag: String): Counters =
    byTag.computeIfAbsent(tag, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (traced) {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(Recorder.Untagged)
    e.stageIds.foreach(stageTag.put(_, tag))
    val c = of(tag)
    c.synchronized(c.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    cpuNs.addAndGet(e.stageInfo.taskMetrics.executorCpuTime)
    if (traced) {
      val c = of(stageTag.getOrDefault(e.stageInfo.stageId, Recorder.Untagged))
      c.synchronized(c.stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (traced && e.taskMetrics != null) {
      val m = e.taskMetrics
      val c = of(stageTag.getOrDefault(e.stageId, Recorder.Untagged))
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.durMs += e.taskInfo.duration
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.written += m.outputMetrics.bytesWritten
        c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
      }
    }

  /** Counters per tag; call after draining the listener bus. */
  def counters: Map[String, Counters] = {
    val b = Map.newBuilder[String, Counters]
    byTag.forEach((k, v) => b += k -> v)
    b.result()
  }

  /** Forget every counter (after the untimed set-up). */
  def reset(): Unit = { cpuNs.set(0); byTag.clear() }
}

object Recorder {
  val Untagged = "untagged"
}

final case class Span(id: Int, name: String, parent: Int, run: Int,
                      startNs: Long, endNs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out at the end of the run. When tracing
  * is on, a span also names the job group of every Spark job started under
  * it (the innermost open span wins), which is how [[Recorder]] attributes
  * counters. With tracing off, `span` only runs its body.
  */
final class Tracer(sc: SparkContext) {
  var on = false
  var run = 0
  private var nextId = 0
  private var open: List[(Int, String, Long)] = Nil
  val spans = ArrayBuffer[Span]()

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name, System.nanoTime()) :: open
      sc.setJobGroup(name, name)
      try body
      finally {
        val (_, _, t0) = open.head
        spans += Span(id, name, parent, run, t0, System.nanoTime())
        open = open.tail
        open.headOption match {
          case Some((_, p, _)) => sc.setJobGroup(p, p)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** A span's duration minus the part of it that its children cover. */
  def selfS(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs))
      .sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    for ((a, b) <- kids) {
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def write(path: String, runId: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f)
    try spans.foreach { s =>
      w.println(s"""{"run_id":"$runId","iteration":${s.run},"id":${s.id},""" +
        s""""name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"self_s":${selfS(s)}}""")
    } finally w.close()
  }
}
