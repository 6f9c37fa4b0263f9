package perfbench

import java.lang.management.ManagementFactory

/** Process- and host-level readings from the JVM and /proc. */
object Proc {

  /** CPU seconds (user + system) this process has used so far; in local
    * mode every executor is a thread of this process, so this covers the
    * driver, the executors and the generator thread.
    */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime / 1e9

  /** Seconds the JIT compiler threads have spent compiling so far. */
  def jitSeconds(): Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0

  /** Peak resident set size of this process in MiB (VmHWM). */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  private def statusKb(field: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith(field + ":"))
      .map(_.split("\\s+")(1).toDouble)
      .getOrElse(sys.error(s"$field missing from /proc/self/status"))
    finally src.close()
  }

  /** Cumulative (steal, total) jiffies of the host's aggregate cpu line. */
  def jiffies(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().find(_.startsWith("cpu ")).get
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } finally src.close()
  }

  /** Percent of host CPU time stolen between two [[jiffies]] readings. */
  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0

  /** Seconds since this JVM started. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def jvmFlags: Seq[String] = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
  }
}
