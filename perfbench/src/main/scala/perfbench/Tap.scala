package perfbench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Scheduler counters summed over an interval of Spark activity. */
final case class Counters(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    cpuNs: Long = 0, runMs: Long = 0,
    shuffleWriteBytes: Long = 0, outputBytes: Long = 0,
    outputRecords: Long = 0, taskFailures: Long = 0,
    /** max / median task duration in the interval's widest stage */
    stragglerRatio: Double = 0.0)

/** The benchmark's own Spark listener.
  *
  * Failed and retried tasks are always counted: they feed `error_rate`
  * on every run. The remaining
  * counters are only gathered while `detailed` is on, which is what makes
  * a run "traced"; untraced runs pay for a few field reads per task.
  */
final class Tap extends SparkListener {
  @volatile var detailed = false

  private var failedTasks = 0L
  private var c = Counters()
  private val stageTaskMs =
    scala.collection.mutable.HashMap.empty[(Int, Int), ArrayBuffer[Long]]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val failed = e.reason != Success
    val retry = e.taskInfo != null && e.taskInfo.attemptNumber > 0
    if (failed || retry) failedTasks += 1
    if (detailed) {
      val m = e.taskMetrics
      c = c.copy(tasks = c.tasks + 1,
        taskFailures = c.taskFailures + (if (failed) 1 else 0))
      if (m != null) c = c.copy(
        cpuNs = c.cpuNs + m.executorCpuTime,
        runMs = c.runMs + m.executorRunTime,
        shuffleWriteBytes = c.shuffleWriteBytes +
          m.shuffleWriteMetrics.bytesWritten,
        outputBytes = c.outputBytes + m.outputMetrics.bytesWritten,
        outputRecords = c.outputRecords + m.outputMetrics.recordsWritten)
      if (e.taskInfo != null)
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
          ArrayBuffer.empty) += e.taskInfo.duration
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (detailed) c = c.copy(jobs = c.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (detailed) c = c.copy(stages = c.stages + 1)
    }

  /** Failed or retried tasks since the listener was registered. */
  def failures(sc: SparkContext): Long = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(failedTasks)
  }

  /** Counters since the previous call; starts the next interval. */
  def take(sc: SparkContext): Counters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val widest = stageTaskMs.values.maxByOption(_.size)
      val ratio = widest.fold(0.0) { ds =>
        val s = ds.sorted
        s.last.toDouble / math.max(Stats.median(s.map(_.toDouble).toSeq), 1.0)
      }
      val out = c.copy(stragglerRatio = ratio)
      c = Counters(); stageTaskMs.clear()
      out
    }
  }
}
