package graft

import java.nio.file.{Files, LinkOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Compaction
import graft.streaming.CdcPipeline
import graft.streaming.CdcPipeline.ChangeRec
import graft.util.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem}

/** The fork-free `file:` binding ([[graft.util.LocalFs]]): the session
  * resolves it, it gives the stock classes' answers, and the write paths
  * the engine runs start no `chmod` or `readlink` process.
  */
class LocalFsSpec extends AnyFunSuite {
  import GraftSpark.spark
  import spark.implicits._

  private def tmp(prefix: String): java.nio.file.Path = Files.createTempDirectory(prefix)

  private def fsWith(graft: Boolean, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    val fs = if (graft) new ForkFreeLocalFileSystem else new LocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), conf)
    fs
  }

  private def contextWith(graft: Boolean, umask: String): FileContext = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    if (graft) conf.set("fs.AbstractFileSystem.file.impl", classOf[ForkFreeLocalFs].getName)
    FileContext.getFileContext(conf)
  }

  /** Every path under `root` with its full `st_mode`, setid and sticky bits included. */
  private def modes(root: java.nio.file.Path): Map[String, Int] =
    Files.walk(root).iterator().asScala.filter(_ != root).map { p =>
      root.relativize(p).toString ->
        Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int]
    }.toMap

  /** Commands of the processes `body` starts, from a JFR recording of
    * `jdk.ProcessStart` in this JVM.
    */
  private def processesStartedBy(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val out = Files.createTempFile("graft_localfs", ".jfr")
    try {
      rec.dump(out)
      jdk.jfr.consumer.RecordingFile.readAllEvents(out).asScala
        .map(_.getString("command")).toSeq
    } finally { rec.close(); Files.deleteIfExists(out) }
  }

  private def shellFsCalls(cmds: Seq[String]): Seq[String] =
    cmds.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))

  test("Tuning defaults bind file: to the fork-free classes in the session's Hadoop conf") {
    // Hadoop caches one FileSystem per scheme and user for the JVM, keyed
    // without the conf: check what the running session resolves, not what
    // a fresh conf would
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(tmp("graft_localfs_bind").toUri)
    val fs = dir.getFileSystem(conf)
    assert(fs.isInstanceOf[ForkFreeLocalFileSystem], fs.getClass.getName)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
    assert(FileSystem.getLocal(conf).isInstanceOf[ForkFreeLocalFileSystem])
    // the FileContext Spark's FileContextBasedCheckpointFileManager opens
    val afs = FileContext.getFileContext(dir.toUri, conf).getDefaultFileSystem
    assert(afs.isInstanceOf[ForkFreeLocalFs], afs.getClass.getName)
  }

  test("created files and dirs get the stock permissions under umask 022 and 077, sticky and setgid too") {
    for (umask <- Seq("022", "077")) {
      val trees = Seq(false, true).map { graft =>
        val root = tmp("graft_localfs_perm")
        val fs = fsWith(graft, umask)
        val fc = contextWith(graft, umask)
        def p(rel: String) = new Path(root.toUri.toString + rel)
        fs.create(p("f_default")).close()
        fs.create(p("f_0640"), new FsPermission(Integer.parseInt("640", 8).toShort),
          true, 4096, 1.toShort, 1L << 20, null).close()
        fs.mkdirs(p("d_default"))
        fs.mkdirs(p("d_0750/sub"), new FsPermission(Integer.parseInt("750", 8).toShort))
        // sticky bit: the override hands it to the stock chmod
        fs.mkdirs(p("d_sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
        fs.setPermission(p("f_default"), new FsPermission(Integer.parseInt("1644", 8).toShort))
        // a setgid parent: GNU chmod keeps setgid on the new child dir
        Files.createDirectory(root.resolve("d_setgid"))
        new ProcessBuilder("chmod", "2775", root.resolve("d_setgid").toString)
          .start().waitFor()
        fs.mkdirs(p("d_setgid/child"), new FsPermission(Integer.parseInt("755", 8).toShort))
        // FileContext: create, mkdir and rename, as Spark's checkpoint manager does
        val out = fc.create(p("fc_tmp"), java.util.EnumSet.of(CreateFlag.CREATE))
        out.write(1); out.close()
        fc.rename(p("fc_tmp"), p("fc_file"))
        fc.mkdir(p("fc_dir/a"), FsPermission.getDirDefault, true)
        modes(root)
      }
      assert(trees(0).keySet.contains(".fc_file.crc") && trees(0).keySet.contains("d_setgid/child"))
      assert(trees(1) == trees(0), s"umask $umask")
    }
  }

  test("getFileLinkStatus answers as the stock class for file, dir, symlink, dangling symlink and missing path") {
    val root = tmp("graft_localfs_link")
    Files.write(root.resolve("file"), Array[Byte](1, 2, 3))
    Files.createDirectory(root.resolve("dir"))
    Files.createSymbolicLink(root.resolve("link"), root.resolve("file"))
    Files.createSymbolicLink(root.resolve("dangling"), root.resolve("nowhere"))
    val stock = fsWith(graft = false, "022").asInstanceOf[LocalFileSystem].getRaw
    val graft = fsWith(graft = true, "022").asInstanceOf[LocalFileSystem].getRaw
    def view(s: FileStatus) =
      (s.getPath, s.isDirectory, s.isSymlink, if (s.isSymlink) s.getSymlink else null,
        s.getLen, s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)
    def answer(fs: FileSystem, p: Path): Either[(Class[_], String), Any] =
      try Right(view(fs.getFileLinkStatus(p)))
      catch { case e: java.io.IOException => Left((e.getClass, e.getMessage)) }
    for (name <- Seq("file", "dir", "link", "dangling", "missing");
         // Hadoop's readlink check sees the Path's string: qualified and bare differ
         p <- Seq(new Path(root.resolve(name).toUri), new Path(root.resolve(name).toString))) {
      assert(answer(graft, p) == answer(stock, p), p)
    }
    assert(graft.getFileLinkStatus(new Path(root.resolve("link").toString)).isSymlink)
    assert(intercept[java.io.FileNotFoundException](
      graft.getFileLinkStatus(new Path(root.resolve("missing").toUri))) != null)
  }

  test("parquet writes, appendGen and a restarted RocksDB stream start no chmod or readlink") {
    // the recording sees forks: without libhadoop the stock class forks chmod
    if (!org.apache.hadoop.io.nativeio.NativeIO.isAvailable) {
      val f = tmp("graft_localfs_ctl").resolve("f")
      val stock = fsWith(graft = false, "022")
      val cmds = processesStartedBy(stock.create(new Path(f.toUri)).close())
      assert(shellFsCalls(cmds).nonEmpty, cmds)
    }
    val root = tmp("graft_localfs_forks").toString
    val tbl = s"$root/gen"
    Compaction.appendGen(spark.range(10).toDF("id"), tbl)
    val cmds = GraftSpark.withConf(GraftSpark.rocksDbProvider)(processesStartedBy {
      spark.range(100).toDF("id").write.parquet(s"$root/pq")
      Compaction.appendGen(spark.range(10, 20).toDF("id"), tbl)
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val input = MemoryStream[(String, Long, Long, String, String)]
      def start() = CdcPipeline.materializeTws(
          input.toDF().toDF("key", "tsMs", "seq", "op", "json").as[ChangeRec])
        .writeStream.format("graft")
        .option("checkpointLocation", s"$root/ckpt")
        .start(s"$root/sink")
      val q1 = start()
      try {
        input.addData(("a", 1L, 1L, "c", "{a:1}"), ("b", 2L, 2L, "c", "{b:1}"))
        q1.processAllAvailable()
        input.addData(("a", 3L, 3L, "u", "{a:2}"))
        q1.processAllAvailable()
      } finally q1.stop()
      val q2 = start()
      try {
        input.addData(("b", 4L, 4L, "d", "{}"))
        q2.processAllAvailable()
      } finally q2.stop()
    })
    assert(Compaction.generations(spark, s"$root/sink").max == 3L)
    // Spark's JavaUtils.deleteRecursively still runs `rm -rf` on local
    // temp dirs (the RocksDB working copies); that fork is Spark's own
    // and expected here
    assert(shellFsCalls(cmds).isEmpty, cmds.groupBy(identity).map { case (c, n) => s"$c x${n.size}" })
  }
}
