package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload run shares with every layer it drives. */
final case class Ctx(spark: SparkSession, root: String, dataDir: String, seed: Long,
                     seconds: Int, tracer: Tracer, listener: Option[LayerListener]) {
  def traced: Boolean = tracer.enabled

  /** Spark's execution counters so far, after the listener bus has
    * delivered every event already posted; None in an untraced run.
    */
  def counts(): Option[LayerCounts] = listener.map { l =>
    org.apache.spark.GraftCpuMeter.drain(spark.sparkContext)
    l.snapshot()
  }

  /** Execution counters between two [[counts]] readings, per unit of work. */
  def countMetrics(from: Option[LayerCounts], per: Double): Seq[(String, Double)] =
    (from, counts()) match {
      case (Some(a), Some(b)) => (b - a).metrics(per)
      case _ => Nil
    }

  def dir(name: String): String = {
    val f = new java.io.File(root, name)
    f.mkdirs()
    f.getAbsolutePath
  }
}

/** A workload run's outcome.
  *
  * @param attempted operations offered (queries run, segments released,
  *                  correctness checks made)
  * @param failed    operations that threw, were never applied, or whose
  *                  output mismatched the reference
  * @param setupS    the median of the workload's repeated input set-ups
  *                  plus its warm-up
  * @param e2e       end-to-end metrics other than set-up time
  * @param layers    per-layer metrics (traced runs)
  * @param info      facts about the run for the report file
  */
final case class Outcome(attempted: Long, failed: Long, setupS: Double,
                         e2e: Seq[(String, Double)], layers: Seq[(String, Double)],
                         info: Seq[(String, String)])

object Files {
  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  /** Data files (not sidecars or checksums) directly under `dir`. */
  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    Option(dir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .sortBy(_.getName)
}
