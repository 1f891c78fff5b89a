package graft.tools

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageCompleted}

/** The one stage-metrics listener: executor CPU-time, shuffle read/write
  * and spill bytes, and job/stage/task counts, summed over every completed
  * job and stage, plus a per-stage log. Bench, PipelineScale and Probe
  * attribute work to a window by differencing two [[read]]s.
  *
  * CPU-time is the load-invariant signal: host load stretches wall-clock
  * but not the cycles a plan consumes. Stage events arrive asynchronously
  * on the listener bus, so [[read]] drains the bus first: every stage of a
  * finished action is counted in that action's window, never the next.
  */
final class StageMetrics private (sc: SparkContext) extends SparkListener {
  import StageMetrics._

  private var totals = Totals.zero
  private val log = ArrayBuffer.empty[Stage]

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    totals = totals.copy(jobs = totals.jobs + 1)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    val i = s.stageInfo
    val m = i.taskMetrics
    val t =
      if (m == null) Totals.zero.copy(stages = 1, tasks = i.numTasks)
      else Totals(0, 1, i.numTasks, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
    val wallSec = (for (a <- i.completionTime; b <- i.submissionTime)
      yield (a - b) / 1e3).getOrElse(0.0)
    synchronized {
      totals = totals + t
      log += Stage(i.stageId, i.name.takeWhile(_ != '\n').take(120), wallSec, t)
    }
  }

  /** Totals so far, after every event already posted has been delivered. */
  def read(): Totals = {
    ListenerBridge.drain(sc)
    synchronized(totals)
  }

  /** The stages completed between two [[read]]s. */
  def stagesBetween(from: Totals, to: Totals): Vector[Stage] =
    synchronized(log.slice(from.stages.toInt, to.stages.toInt).toVector)
}

object StageMetrics {
  final case class Totals(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
      shuffleReadB: Long, shuffleWriteB: Long, spillB: Long) {
    private def zip(o: Totals, f: (Long, Long) => Long) =
      Totals(f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks),
        f(cpuNs, o.cpuNs), f(shuffleReadB, o.shuffleReadB),
        f(shuffleWriteB, o.shuffleWriteB), f(spillB, o.spillB))
    def +(o: Totals): Totals = zip(o, _ + _)
    def -(o: Totals): Totals = zip(o, _ - _)
    def cpuSec: Double = cpuNs / 1e9

    def show: String =
      f"cpu=$cpuSec%.2f s jobs=$jobs stages=$stages tasks=$tasks " +
        f"shuffle_read=${shuffleReadB / 1e6}%.1f MB " +
        f"shuffle_write=${shuffleWriteB / 1e6}%.1f MB spill=${spillB / 1e6}%.1f MB"
  }
  object Totals {
    val zero: Totals = Totals(0, 0, 0, 0, 0, 0, 0)
  }

  /** One completed stage: its id, first call-site line, submit-to-complete
    * wall seconds and its metrics (jobs = 0, stages = 1).
    */
  final case class Stage(id: Int, name: String, wallSec: Double, m: Totals)

  def attach(sc: SparkContext): StageMetrics = {
    val l = new StageMetrics(sc)
    sc.addSparkListener(l)
    l
  }
}
