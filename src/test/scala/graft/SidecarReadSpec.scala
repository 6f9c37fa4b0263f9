package graft.sources

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, FileSystem, FilterFileSystem, Path}
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSpark

/** Small sidecars are read whole: `InputStream.read` may return fewer
  * bytes than the file holds, so every read here goes through a
  * FileSystem whose streams return one byte per call.
  */
class SidecarReadSpec extends AnyFunSuite {
  import GraftSpark.spark
  import spark.implicits._

  /** Streams that return at most one byte per `read`. */
  private final class OneByteStream(in: FSDataInputStream) extends FSInputStream {
    override def read(): Int = in.read()
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (len == 0) 0 else in.read(b, off, 1)
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(targetPos: Long): Boolean = false
    override def close(): Unit = in.close()
  }

  private final class OneByteFs(under: FileSystem) extends FilterFileSystem(under) {
    override def open(f: Path, bufferSize: Int): FSDataInputStream =
      new FSDataInputStream(new OneByteStream(super.open(f, bufferSize)))
  }

  private def table(): (Path, FileSystem) = {
    val main = new Path(java.nio.file.Files.createTempDirectory("graft_sidecar").toString + "/t")
    (main, main.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  test("the sink reads its whole batch id: a redelivered batch is still skipped") {
    val (main, fs) = table()
    val sink = new GraftStreamSink(spark, main.toString, OutputMode.Append())
    sink.addBatch(123L, Seq((1L, 2L)).toDF("k", "v"))
    val oneByte = new OneByteFs(fs)
    // a single read() would have returned "1"
    assert(GraftStreamSink.lastBatchOf(oneByte, main) == Some(123L))
    assert(GraftStreamSink.lastBatchOf(fs, main) == Some(123L))
  }

  test("the publish instant comes from the whole marker payload, not the mtime fallback") {
    val (main, fs) = table()
    Compaction.appendGen(Seq((1L, 2L)).toDF("k", "v"), main.toString)
    val n = Compaction.generations(spark, main.toString).max
    val marker = new Path(main, "_graft_gen." + Compaction.genName(n))
    val payload = {
      val in = fs.open(marker)
      try new String(in.readAllBytes, "UTF-8") finally in.close()
    }
    val published = payload.linesIterator.collectFirst {
      case l if l.startsWith("publishedAtMs=") => l.stripPrefix("publishedAtMs=").trim.toLong
    }
    assert(published.exists(_ > 0L), payload)
    // a truncated payload would fall back to this mtime
    fs.setTimes(marker, 0L, -1L)
    assert(Compaction.publishInstant(new OneByteFs(fs), main, n) == published.get)
  }
}
