package graft

import java.nio.file.Files
import java.time.{LocalDateTime, ZoneOffset}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.GraftCpuMeter
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampNTZType
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Compaction
import graft.util.{FooterSchema, Tables}

/** [[graft.util.FooterSchema]] must hand a read exactly the schema Spark's
  * inference would have given it, and step aside wherever Spark would
  * not simply read one footer.
  */
class FooterSchemaSpec extends AnyFunSuite {
  import GraftSpark.{spark, sfDir}

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def wideFrame = spark.range(0, 40).select(
    col("id"),
    (col("id") * 7 / 3).cast("decimal(12,3)").as("dec"),
    array(col("id").cast("int"), lit(1)).as("arr"),
    struct(col("id").cast("string").as("a"), (col("id") / 2).as("b")).as("st"),
    lit("2024-05-06 07:08:09.123456").cast("timestamp_ntz").as("ntz"))

  test("a multi-file generation's footer schema equals Spark's inferred schema") {
    val dir = tmp("graft_footer") + "/g"
    wideFrame.repartition(4).write.parquet(dir)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) > 1)
    val inferred = spark.read.parquet(dir).schema
    assert(FooterSchema.of(spark, Seq(dir)) == Some(inferred))

    val root = tmp("graft_footer_gen") + "/t"
    Compaction.writeGen(wideFrame.repartition(3), root)
    Compaction.writeGen(wideFrame.repartition(3), root)
    val gen = Compaction.generations(spark, root).max
    val main = new Path(root)
    val genDir = Compaction.resolve(
      main.getFileSystem(spark.sparkContext.hadoopConfiguration), main).toString
    val want = spark.read.parquet(genDir).schema
    assert(Compaction.readTable(spark, root).schema == want)
    assert(Compaction.readTableAt(spark, root, gen).schema == want)
    assert(spark.read.format("graft").load(root).schema == want)
    assert(Compaction.readTable(spark, root).count() == 40L)
  }

  test("partitioned, mergeSchema, empty and missing dirs fall back to Spark's inference") {
    val parted = tmp("graft_footer_part") + "/p"
    wideFrame.withColumn("k", col("id") % 2).write.partitionBy("k").parquet(parted)
    assert(FooterSchema.of(spark, Seq(parted)).isEmpty)
    assert(FooterSchema.read(spark, parted).schema == spark.read.parquet(parted).schema)
    assert(FooterSchema.read(spark, parted).schema.fieldNames.last == "k")

    val flat = tmp("graft_footer_merge") + "/m"
    wideFrame.write.parquet(flat)
    assert(FooterSchema.of(spark, Seq(flat)).nonEmpty)
    assert(FooterSchema.of(spark, Seq(flat), Map("mergeSchema" -> "true")).isEmpty)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try assert(FooterSchema.of(spark, Seq(flat)).isEmpty)
    finally spark.conf.unset("spark.sql.parquet.mergeSchema")

    val empty = tmp("graft_footer_empty")
    assert(FooterSchema.of(spark, Seq(empty)).isEmpty)
    val ours = intercept[AnalysisException](FooterSchema.read(spark, empty))
    val sparks = intercept[AnalysisException](spark.read.parquet(empty))
    assert(ours.getMessage == sparks.getMessage)

    assert(FooterSchema.of(spark, Seq(s"$empty/absent")).isEmpty)
  }

  test("a TIMESTAMP(NANOS) events file reads through the long branch, truncated to µs") {
    val dir = tmp("graft_footer_nanos")
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,false));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |  required double value;
        |  required binary props (STRING);
        |}""".stripMargin)
    val nanos = Seq(1L -> 1700000000123456789L, 2L -> 1700000001000000999L)
    val w = ExampleParquetWriter.builder(new Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val g = new SimpleGroupFactory(schema)
      nanos.foreach { case (id, ns) =>
        w.write(g.newGroup().append("event_id", id).append("ts", ns)
          .append("user_id", 7L).append("event_type", "click")
          .append("value", 1.5).append("props", "{}"))
      }
    } finally w.close()

    val prior = spark.conf.getOption(NanosAsLong)
    spark.conf.unset(NanosAsLong)
    try {
      // a MICROS events read leaves the session's long mode alone
      Tables(spark, sfDir, "events").schema
      assert(spark.conf.get(NanosAsLong) == "false")

      val ev = Tables(spark, dir, "events")
      assert(spark.conf.get(NanosAsLong) == "true")
      assert(ev.schema("ts").dataType == TimestampNTZType)
      assert(ev.schema.fieldNames.toSeq == Tables.schemas("events").fieldNames.toSeq)
      val got = ev.orderBy("event_id").collect()
        .map(r => r.getLong(0) -> r.getAs[LocalDateTime]("ts")).toSeq
      val want = nanos.map { case (id, ns) =>
        val us = Math.floorDiv(ns, 1000L)
        id -> LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L),
          (Math.floorMod(us, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
      }
      assert(got == want)
    } finally prior.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  test("building q06_selective_agg and fmt_time_travel launches no Spark job") {
    val sc = spark.sparkContext
    Seq("q06_selective_agg", "fmt_time_travel").foreach { name =>
      val q = SparkEntry.queries(name)
      q(spark, sfDir) // first build writes fmt_time_travel's memoized fixture
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      GraftCpuMeter.drain(sc)
      sc.addSparkListener(listener)
      try {
        q(spark, sfDir)
        GraftCpuMeter.drain(sc)
      } finally sc.removeSparkListener(listener)
      assert(jobs.get == 0, s"$name launched ${jobs.get} job(s) while building")
    }
  }
}
