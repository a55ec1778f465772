package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished task, as the listener saw it. */
final case class TaskRec(stageId: Int, durationMs: Long, runMs: Long,
    cpuNs: Long, inputRecords: Long, shuffleWriteBytes: Long, outputBytes: Long)

/** Records finished tasks. A phase calls [[reset]] before its work and
  * [[take]] after it; both first drain the listener bus so that every
  * event of the phase, and none of the one before, is counted.
  */
final class TaskListener extends SparkListener {
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskRec(e.stageId, e.taskInfo.duration, m.executorRunTime,
        m.executorCpuTime, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.outputMetrics.bytesWritten))
  }

  def reset(sc: SparkContext): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    tasks.clear()
  }

  def take(sc: SparkContext): Phase = {
    org.apache.spark.BenchBus.drain(sc)
    Phase(tasks.asScala.toVector)
  }
}

/** The tasks of one measured phase. */
final case class Phase(tasks: Vector[TaskRec]) {
  def runS: Double = tasks.map(_.runMs).sum / 1e3
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def shuffleBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  def outputBytes: Long = tasks.map(_.outputBytes).sum
  def inputRecords: Long = tasks.map(_.inputRecords).sum

  /** The stage that took the most task time: the extraction stage. */
  private def mainStage: Vector[TaskRec] =
    if (tasks.isEmpty) Vector.empty
    else tasks.groupBy(_.stageId).values.maxBy(_.map(_.runMs).sum)

  def mainTaskCount: Int = mainStage.size

  /** Slowest over median task duration in the extraction stage. */
  def maxOverMedian: Double = {
    val d = mainStage.map(_.durationMs.toDouble).sorted
    if (d.isEmpty) 0.0 else d.last / math.max(Stats.median(d), 1.0)
  }
}
