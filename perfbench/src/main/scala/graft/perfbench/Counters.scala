package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task-level counters of everything the session executes while attached:
  * jobs, tasks, executor CPU time, shuffle, spill and output bytes. */
final class Counters extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val outputBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  def snapshot: Counters.Snap = Counters.Snap(jobs.get, tasks.get, cpuNs.get,
    shuffleWriteBytes.get, shuffleReadBytes.get, spillBytes.get, outputBytes.get)
}

object Counters {
  final case class Snap(jobs: Long, tasks: Long, cpuNs: Long,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
      outputBytes: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
      shuffleWriteBytes - o.shuffleWriteBytes, shuffleReadBytes - o.shuffleReadBytes,
      spillBytes - o.spillBytes, outputBytes - o.outputBytes)
  }
}
