package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark's execution layer as seen through its public listener API:
  * jobs, tasks and the task metrics a change to execution would move.
  */
final class LayerListener extends SparkListener {
  val jobs, tasks, cpuNs, deserCpuNs, gcMs, shuffleWriteBytes, spillBytes =
    new AtomicLong(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      deserCpuNs.addAndGet(m.executorDeserializeCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def snapshot(): LayerCounts = LayerCounts(jobs.get, tasks.get, cpuNs.get,
    deserCpuNs.get, gcMs.get, shuffleWriteBytes.get, spillBytes.get)
}

final case class LayerCounts(jobs: Long, tasks: Long, cpuNs: Long, deserCpuNs: Long,
                             gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long) {
  def -(o: LayerCounts): LayerCounts = LayerCounts(jobs - o.jobs, tasks - o.tasks,
    cpuNs - o.cpuNs, deserCpuNs - o.deserCpuNs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)

  /** The per-layer metrics, scaled by `per` units of work. */
  def metrics(per: Double): Seq[(String, Double)] = Seq(
    "spark.jobs" -> jobs / per,
    "spark.tasks" -> tasks / per,
    "spark.executor_cpu_s" -> cpuNs / 1e9 / per,
    "spark.executor_deser_cpu_s" -> deserCpuNs / 1e9 / per,
    "spark.gc_s" -> gcMs / 1e3 / per,
    "spark.shuffle_write_bytes" -> shuffleWriteBytes / per,
    "spark.spill_bytes" -> spillBytes / per)
}
