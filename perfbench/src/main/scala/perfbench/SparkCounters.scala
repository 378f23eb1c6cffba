package perfbench

import org.apache.spark.scheduler._

/** Load-insensitive counters from Spark's own listener events: jobs, stages,
  * tasks, executor CPU, shuffle bytes, and the wall time during which at
  * least one stage ran. A phase's driver-only time is its wall time minus
  * that busy time: log replay, planning and commits on the driver. */
final class SparkCounters extends SparkListener {
  import SparkCounters.Snap

  private var jobs, stages, tasks, cpuNs, shRead, shWrite, busyMs = 0L
  private var active = 0
  private var busySince = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (active == 0) busySince = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    active += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    active = math.max(0, active - 1)
    if (active == 0)
      busyMs += math.max(0L, e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) - busySince)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      cpuNs += m.executorCpuTime
      shRead += m.shuffleReadMetrics.totalBytesRead
      shWrite += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Counters so far; a stage still running counts as busy up to now. */
  def snap(): Snap = synchronized {
    val openBusy = if (active > 0) System.currentTimeMillis() - busySince else 0L
    Snap(jobs, stages, tasks, cpuNs, shRead, shWrite, busyMs + openBusy)
  }
}

object SparkCounters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
      shuffleRead: Long, shuffleWrite: Long, busyMs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      cpuNs - o.cpuNs, shuffleRead - o.shuffleRead, shuffleWrite - o.shuffleWrite,
      busyMs - o.busyMs)
  }
}
