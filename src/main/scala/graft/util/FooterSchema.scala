package graft.util

import java.util.Locale

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftshim.Bridge
import org.apache.spark.sql.types.StructType

/** The schema `spark.read.parquet(dir)` would infer, read on the driver.
  *
  * Without a declared schema every parquet read starts a one-task Spark
  * job whose only work is to open one file footer (84–123 ms per read
  * against 8–12 ms for a declared read, on a 4-core x86 host at
  * local[4]). Spark's non-merging inference
  * touches exactly one file: `_common_metadata`, else `_metadata`, else
  * the first data file by path. This object opens that same footer
  * in-process and converts it with Spark's own
  * `ParquetFileFormat.readSchemaFromFooter` and a
  * `ParquetToSparkSchemaConverter` over the session conf, made nullable
  * as every file read makes it, so a caller that declares the result
  * reads exactly what inference would have produced — minus the job.
  *
  * [[of]] answers None, and the caller lets Spark infer as before (same
  * result, same errors), whenever Spark would not pick a single footer
  * or would list files differently: `mergeSchema`, a file-selection
  * reader option, a partitioned or nested directory, a glob, a missing
  * path, no data file, or a footer that fails to open. A user-given
  * schema never reaches here — callers only ask when they have none.
  */
object FooterSchema {

  /** Reader options that change which files Spark lists. */
  private val ListingOptions =
    Set("pathglobfilter", "recursivefilelookup", "modifiedbefore", "modifiedafter")

  private val SummaryFiles = Set("_common_metadata", "_metadata")

  /** Spark's InMemoryFileIndex rule for which names a listing keeps. */
  private def visible(name: String): Boolean =
    name.startsWith("_common_metadata") || name.startsWith("_metadata") ||
      !((name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_"))

  def of(spark: SparkSession, paths: Seq[String],
         options: Map[String, String] = Map.empty): Option[StructType] = {
    val opts = options.map { case (k, v) => k.toLowerCase(Locale.ROOT) -> v }
    val conf = spark.sessionState.conf
    val merge = opts.get("mergeschema").map(_.toBoolean)
      .getOrElse(conf.isParquetSchemaMergingEnabled)
    if (merge || opts.keySet.exists(ListingOptions) || paths.isEmpty) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConfWithOptions(options)
      val leaves = paths.map { p =>
        val path = new Path(p)
        val fs = path.getFileSystem(hadoopConf)
        val st = fs.getFileStatus(path)
        if (st.isFile) Some(Seq(st))
        else {
          val kept = fs.listStatus(path).toSeq
            .filter(s => visible(s.getPath.getName))
          if (kept.exists(_.isDirectory)) None else Some(kept)
        }
      }
      if (leaves.contains(None)) None
      else {
        val files = leaves.flatten.flatten.sortBy(_.getPath.toString)
        def named(n: String) = files.find(_.getPath.getName == n)
        named("_common_metadata").orElse(named("_metadata"))
          .orElse(files.find(s => !SummaryFiles(s.getPath.getName)))
          .map { st =>
            Bridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
              new Footer(st.getPath, footer(st, hadoopConf)),
              new ParquetToSparkSchemaConverter(conf)))
          }
      }
    } catch { case NonFatal(_) => None }
  }

  /** Parquet's own schema of one file, from its footer (no Spark job):
    * for branching on physical types Spark's converter refuses, such as
    * TIMESTAMP(NANOS).
    */
  def parquetSchema(spark: SparkSession, file: String): MessageType = {
    val path = new Path(file)
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    footer(path.getFileSystem(hadoopConf).getFileStatus(path), hadoopConf)
      .getFileMetaData.getSchema
  }

  /** `spark.read.parquet(dir)` with the footer schema declared when [[of]]
    * can supply it.
    */
  def read(spark: SparkSession, dir: String): DataFrame =
    of(spark, Seq(dir)) match {
      case Some(s) => spark.read.schema(s).parquet(dir)
      case None => spark.read.parquet(dir)
    }

  private def footer(st: FileStatus, hadoopConf: org.apache.hadoop.conf.Configuration) =
    ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, hadoopConf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
}
