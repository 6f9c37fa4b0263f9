package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Envelope
import graft.model.Schemas
import graft.streaming.CdcPipeline
import graft.streaming.CdcPipeline.ChangeRec

/** End-to-end streaming CDC: synthetic Debezium envelope JSON (insert /
  * update / delete, duplicate delivery, precise base64 decimals) through
  * parse → decode → stateful last-write-wins materialization, driven by
  * MemoryStream exactly like the Kafka source would feed it.
  */
class CdcStreamSpec extends AnyFunSuite {
  import GraftSpark.spark
  import spark.implicits._

  private def env(op: String, id: String, amountB64: String, scale: Int,
                  tsMs: Long, before: Boolean = false): String = {
    val payload =
      s"""{"transaction_id":"$id","amount":{"scale":$scale,"value":"$amountB64"}}"""
    val (b, a) = if (op == "d") (payload, "null") else
      (if (before) payload else "null", payload)
    s"""{"before":$b,"after":$a,"op":"$op","ts_ms":$tsMs,"source":{"table":"transactions"}}"""
  }

  // 500.00 at scale 2 (README.md:269-287) and 123.45
  private val b500 = "AAAB9A=="
  private val b12345 = java.util.Base64.getEncoder.encodeToString(
    java.math.BigInteger.valueOf(12345).toByteArray)

  test("envelope stream materializes to last-write-wins state with deletes") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val raw = input.toDF().withColumnRenamed("value", "value")

    val parsed = Envelope.parse(raw, CdcStreamSpecSchemas.payload)
    val rows = parsed
      .withColumn("__row", Envelope.currentImage)
      .select(col("op"), col("ts_ms"),
        col("__row.transaction_id").as("transaction_id"),
        graft.functions.DebeziumDecimal.fromMode("precise", col("__row.amount"), 2)
          .cast("string").as("amount"))
    val changes = CdcPipeline.toChangeRecs(rows, "transaction_id", "ts_ms")
    val out = CdcPipeline.materialize(changes)

    val q = out.writeStream.format("memory").queryName("cdc_state")
      .outputMode("append").start()
    try {
      // batch 1: two inserts, one duplicate delivery (at-least-once)
      input.addData(
        env("c", "t1", b500, 2, 1000),
        env("c", "t1", b500, 2, 1000), // duplicate
        env("c", "t2", b12345, 2, 1001))
      q.processAllAvailable()
      // batch 2: update t1, delete t2, garbage line (consumer skips, O12)
      input.addData(
        env("u", "t1", b12345, 2, 2000, before = true),
        env("d", "t2", b12345, 2, 2001),
        "{not json")
      q.processAllAvailable()

      val state = spark.table("cdc_state")
        .groupBy("key")
        .agg(max_by(struct(col("op"), col("json")), col("tsMs")).as("s"))
        .select(col("key"), col("s.op").as("op"), col("s.json").as("json"))
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap

      assert(state("t1")._1 == "u")
      assert(state("t1")._2.contains("123.45"))
      assert(state("t2")._1 == "d") // tombstone emitted
    } finally q.stop()
  }

  test("streaming foreachBatch into the bucket-pruned parquet sink (O14 e2e)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_sink")
      .toString + "/t"
    val input = MemoryStream[(String, String)]
    val q = input.toDF().toDF("key", "value").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        CdcPipeline.idempotentParquetUpsert(spark, batch, dir,
          keys = Seq("key"), nBuckets = 8)
      }
      .start()
    try {
      input.addData(("k1", "v1"), ("k2", "v2"))
      q.processAllAvailable()
      input.addData(("k2", "REDELIVERED"), ("k3", "v3"))
      q.processAllAvailable()
      val got = spark.read.parquet(dir).select("key", "value")
        .as[(String, String)].collect().toMap
      assert(got == Map("k1" -> "v1", "k2" -> "v2", "k3" -> "v3"))
    } finally q.stop()
  }

  test("transformWithState materialization matches flatMapGroupsWithState LWW") {
    // Spark 4's transformWithState requires the RocksDB state store —
    // which is also the point: per-key state off the executor heap
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(String, Long, Long, String, String)]
      val changes = input.toDF().toDF("key", "tsMs", "seq", "op", "json")
        .as[ChangeRec]
      val q = CdcPipeline.materializeTws(changes)
        .writeStream.format("memory").queryName("tws_state")
        .outputMode("append").start()
      try {
        input.addData(("t1", 1000L, 1L, "c", "{a:1}"),
          ("t1", 1000L, 1L, "c", "{a:1}"), // duplicate delivery
          ("t2", 1001L, 2L, "c", "{b:1}"))
        q.processAllAvailable()
        input.addData(("t1", 2000L, 3L, "u", "{a:2}"),
          ("t2", 2001L, 4L, "d", "{}"),
          ("t1", 1500L, 5L, "u", "{stale}")) // older ts loses
        q.processAllAvailable()
        val last = spark.table("tws_state")
          .groupBy("key")
          .agg(max_by(struct(col("op"), col("json")), col("tsMs")).as("s"))
          .select(col("key"), col("s.op"), col("s.json"))
          .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
        assert(last("t1") == ("u", "{a:2}"))
        assert(last("t2") == ("d", "{}")) // tombstone emitted
        assert(!spark.table("tws_state").collect().exists(_.getString(3) == "{stale}"))
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("RocksDB changelog checkpointing off -> on -> off on one checkpoint: sink exact, redelivered batch skipped") {
    import graft.sources.Compaction
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_changelog").toString
    val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val prev = Seq(providerKey, changelogKey).map(k => k -> spark.conf.getOption(k))
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(String, Long, Long, String, String)]
    val fed = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long, String, String)]
    def feed(from: Int): Unit = {
      val rows = (from until from + 20).map { i =>
        (s"k${i % 7}", 1000L + i, i.toLong, if (i % 5 == 0) "d" else "u", s"{v:$i}")
      } ++ Seq(("k1", 10L, from + 100L, "u", "{stale}")) // older ts loses
      val batch = rows :+ rows.head // duplicate delivery
      fed ++= batch
      input.addData(batch)
    }
    def run(changelog: Boolean): Seq[Long] = {
      spark.conf.set(changelogKey, changelog.toString)
      val q = CdcPipeline.materializeTws(
          input.toDF().toDF("key", "tsMs", "seq", "op", "json").as[ChangeRec])
        .writeStream.format("graft")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(sink)
      q.awaitTermination(120000L)
      assert(!q.isActive && q.exception.isEmpty, s"${q.exception}")
      q.recentProgress.map(_.batchId).toSeq.distinct
    }
    // the sink read back through last-write-wins equals batch applyCdc
    // over everything fed so far, with no upsert applied twice
    def check(): Unit = {
      val upserts = Compaction.readTable(spark, sink)
      val actual = upserts.groupBy("key")
        .agg(max_by(struct(col("op"), col("json")), col("tsMs")).as("s"))
        .filter(col("s.op") =!= "d")
        .select(col("key"), col("s.json").as("json"))
      val expected = graft.operators.Materialize.applyCdc(
          fed.toSeq.toDF("key", "tsMs", "seq", "op", "json"),
          Seq("key"), Seq(col("tsMs"), col("seq")))
        .select("key", "json")
      assert(expected.exceptAll(actual).isEmpty && actual.exceptAll(expected).isEmpty,
        s"expected ${expected.collect().toSeq} got ${actual.collect().toSeq}")
      assert(upserts.count() == upserts.distinct().count(), "an upsert was applied twice")
    }
    def changelogFiles(): Long = {
      val state = java.nio.file.Paths.get(s"$ckpt/state")
      java.nio.file.Files.walk(state).filter(_.toString.endsWith(".changelog")).count()
    }
    try {
      feed(0); run(changelog = false); check()
      assert(changelogFiles() == 0L)
      feed(20); val second = run(changelog = true); check()
      assert(changelogFiles() > 0L, "the second run commits through changelog files")
      // crash between the sink's publish and the offset commit: Spark
      // re-runs the last batch on restart, and the sink must skip it
      val last = second.max
      val commit = new org.apache.hadoop.fs.Path(s"$ckpt/commits/$last")
      val fs = commit.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.delete(commit, false))
      val gensBefore = Compaction.generations(spark, sink).max
      feed(40); val third = run(changelog = false); check()
      assert(third.contains(last) && third.max == last + 1, third)
      assert(Compaction.generations(spark, sink).max == gensBefore + 1,
        "only the new batch publishes a generation")
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("materializeWithTtl evicts tombstoned keys once past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Long, Long, String, String)]
    val changes = input.toDF().toDF("key", "tsMs", "seq", "op", "json")
      .as[ChangeRec]
    // 1 min watermark delay, 1 min tombstone ttl → eviction at delete+2min
    val out = CdcPipeline.materializeWithTtl(changes,
      watermarkDelay = "1 minute", tombstoneTtlMs = 60000L)
    val q = out.writeStream.format("memory").queryName("ttl_state")
      .outputMode("append").start()
    def stateRows(): Long = {
      val p = q.lastProgress
      if (p == null) -1 else p.stateOperators.map(_.numRowsTotal).sum
    }
    try {
      val t0 = 1700000000000L
      input.addData(("k1", t0, 1L, "c", "{v:1}"), ("k2", t0, 2L, "c", "{v:2}"))
      q.processAllAvailable()
      input.addData(("k1", t0 + 1000, 3L, "d", "{}"))
      q.processAllAvailable()
      assert(stateRows() == 2, s"live + tombstone expected, got ${stateRows()}")
      // advance event time far past delete + watermark + ttl; the extra
      // batch lets the new watermark trigger the timeout pass
      input.addData(("k9", t0 + 600000, 4L, "c", "{v:9}"))
      q.processAllAvailable()
      input.addData(("k9", t0 + 601000, 5L, "u", "{v:10}"))
      q.processAllAvailable()
      assert(stateRows() == 2, s"tombstone should be evicted, got ${stateRows()}")
      // a NEW insert for the evicted key must win and re-create state
      input.addData(("k1", t0 + 700000, 6L, "c", "{v:back}"))
      q.processAllAvailable()
      val last = spark.table("ttl_state")
        .groupBy("key").agg(max_by(struct(col("op"), col("json")), col("tsMs")).as("s"))
        .select(col("key"), col("s.op"), col("s.json"))
        .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
      assert(last("k1") == ("c", "{v:back}"))
      assert(stateRows() == 3, s"k1 re-created, got ${stateRows()}")
    } finally q.stop()
  }

  test("stream-static broadcast enrichment join (dimension lookup on a stream)") {
    // the standard CDC downstream shape: a change stream enriched
    // against a static dimension — map-side broadcast, no stream state
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "EUR"), (2L, "USD")).toDF("cid", "currency")
    val input = MemoryStream[(Long, Double)]
    val joined = input.toDF().toDF("cid", "amount")
      .join(broadcast(dim), Seq("cid"), "left")
    val q = joined.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      input.addData((1L, 10.0), (2L, 20.0), (9L, 5.0)) // 9 has no dim row
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .select(col("cid"), col("currency"))
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got == Map(1L -> Some("EUR"), 2L -> Some("USD"), 9L -> None))
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join null-pads unmatched rows past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(String, java.sql.Timestamp)]
    val right = MemoryStream[(String, java.sql.Timestamp)]
    val l = left.toDF().toDF("k", "lts").withWatermark("lts", "5 minutes")
    val r = right.toDF().toDF("rk", "rts").withWatermark("rts", "5 minutes")
    val joined = l.join(r,
      col("k") === col("rk") &&
        col("rts") >= col("lts") && col("rts") <= col("lts") + expr("INTERVAL 10 minutes"),
      "leftOuter")
    val q = joined.writeStream.format("memory").queryName("lsj_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      left.addData(("a", t("2024-01-01 00:00:00")), ("b", t("2024-01-01 00:01:00")))
      right.addData(("a", t("2024-01-01 00:02:00")))
      q.processAllAvailable()
      // matched row emits promptly; the unmatched left row ("b") must
      // wait until the watermark proves no match can arrive
      right.addData(("zz", t("2024-01-01 01:00:00"))) // advance watermark
      left.addData(("zz2", t("2024-01-01 01:00:00")))
      q.processAllAvailable()
      right.addData(("zz", t("2024-01-01 02:00:00")))
      left.addData(("zz2", t("2024-01-01 02:00:00")))
      q.processAllAvailable()
      val got = spark.table("lsj_out")
        .select(col("k"), col("rk"))
        .collect().map(r => r.getString(0) -> Option(r.getString(1)))
      assert(got.contains("a" -> Some("a")))
      assert(got.contains("b" -> None), s"unmatched left row not null-padded: ${got.toSeq}")
    } finally q.stop()
  }

  test("stream-stream FULL OUTER join null-pads both sides past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(String, java.sql.Timestamp)]
    val right = MemoryStream[(String, java.sql.Timestamp)]
    val l = left.toDF().toDF("k", "lts").withWatermark("lts", "5 minutes")
    val r = right.toDF().toDF("rk", "rts").withWatermark("rts", "5 minutes")
    val joined = l.join(r,
      col("k") === col("rk") &&
        col("rts") >= col("lts") && col("rts") <= col("lts") + expr("INTERVAL 10 minutes"),
      "fullOuter")
    val q = joined.writeStream.format("memory").queryName("fsj_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // "a" matches; "b" is left-only; "c" is right-only
      left.addData(("a", t("2024-01-01 00:00:00")), ("b", t("2024-01-01 00:01:00")))
      right.addData(("a", t("2024-01-01 00:02:00")), ("c", t("2024-01-01 00:03:00")))
      q.processAllAvailable()
      // push the watermark far past the join window on BOTH inputs so
      // each side's unmatched rows become provably unmatchable
      left.addData(("w1", t("2024-01-01 02:00:00")))
      right.addData(("w2", t("2024-01-01 02:00:00")))
      q.processAllAvailable()
      left.addData(("w3", t("2024-01-01 04:00:00")))
      right.addData(("w4", t("2024-01-01 04:00:00")))
      q.processAllAvailable()
      val got = spark.table("fsj_out")
        .select(col("k"), col("rk"))
        .collect().map(r => Option(r.getString(0)) -> Option(r.getString(1)))
      assert(got.contains(Some("a") -> Some("a")))
      assert(got.contains(Some("b") -> None),
        s"left-only row not null-padded: ${got.toSeq}")
      assert(got.contains(None -> Some("c")),
        s"right-only row not null-padded: ${got.toSeq}")
    } finally q.stop()
  }

  test("stream-stream LEFT SEMI join emits matched left rows exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val left = MemoryStream[(String, java.sql.Timestamp)]
    val right = MemoryStream[(String, java.sql.Timestamp)]
    val l = left.toDF().toDF("k", "lts").withWatermark("lts", "5 minutes")
    val r = right.toDF().toDF("rk", "rts").withWatermark("rts", "5 minutes")
    val joined = l.join(r,
      col("k") === col("rk") &&
        col("rts") >= col("lts") && col("rts") <= col("lts") + expr("INTERVAL 10 minutes"),
      "left_semi")
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      left.addData(("a", t("2024-01-01 00:00:00")), ("b", t("2024-01-01 00:01:00")))
      // "a" matches TWICE inside the window — semi must emit it ONCE;
      // "b" never matches and must never appear
      right.addData(("a", t("2024-01-01 00:02:00")), ("a", t("2024-01-01 00:03:00")))
      q.processAllAvailable()
      left.addData(("w1", t("2024-01-01 02:00:00")))
      right.addData(("w2", t("2024-01-01 02:00:00")))
      q.processAllAvailable()
      left.addData(("w3", t("2024-01-01 04:00:00")))
      right.addData(("w4", t("2024-01-01 04:00:00")))
      q.processAllAvailable()
      val got = spark.table("ssj_out").select(col("k"))
        .collect().map(_.getString(0)).toSeq
      assert(got.count(_ == "a") == 1,
        s"semi join must emit a matched row exactly once: $got")
      assert(!got.contains("b"), s"unmatched row leaked through semi: $got")
      // the semi output carries ONLY left-side columns
      assert(spark.table("ssj_out").columns.toSeq == Seq("k", "lts"))
    } finally q.stop()
  }

  test("tumbling-window agg with watermark drops late rows (§2B streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val df = input.toDF().toDF("user", "ts", "amount")
    val agg = df
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("user"))
      .agg(count(lit(1)).as("n"), sum(col("amount").cast("decimal(18,2)")).as("total"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        ("u1", t("2024-01-01 00:01:00"), 10.0),
        ("u1", t("2024-01-01 00:03:00"), 20.0),
        ("u2", t("2024-01-01 00:02:00"), 5.0))
      q.processAllAvailable()
      // advance the watermark far past the first window…
      input.addData(("u1", t("2024-01-01 01:00:00"), 1.0))
      q.processAllAvailable()
      // …so the first windows finalize (append mode emits them), and a
      // straggler behind the watermark must be DROPPED, not re-opened.
      input.addData(("u1", t("2024-01-01 00:01:30"), 999.0))
      q.processAllAvailable()
      input.addData(("u1", t("2024-01-01 02:00:00"), 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select(col("user"), col("n"), col("total").cast("double"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(rows.contains(("u1", 2L, 30.0))) // both on-time u1 rows, no 999
      assert(rows.contains(("u2", 1L, 5.0)))
      assert(!rows.exists(_._3 == 999.0))
    } finally q.stop()
  }

  test("streaming session window merges gap-bounded activity (§2B)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val agg = input.toDF().toDF("user", "ts")
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      // u1: two events 3 min apart (one session), then one 20 min later
      // (a second session)
      input.addData(("u1", t("2024-01-01 00:00:00")),
        ("u1", t("2024-01-01 00:03:00")), ("u1", t("2024-01-01 00:23:00")))
      q.processAllAvailable()
      input.addData(("u1", t("2024-01-01 01:30:00"))) // advance watermark
      q.processAllAvailable()
      val sessions = spark.table("sess_out")
        .select(col("user"), col("n")).as[(String, Long)].collect().toSeq
      assert(sessions.count(_ == ("u1", 2L)) == 1) // merged 2-event session
      assert(sessions.count(_ == ("u1", 1L)) == 1) // separate later session
    } finally q.stop()
  }

  test("pipeline throughput far exceeds the reference's 2 msg/s ceiling") {
    // The reference paces itself to ≤2 msg/s (sleep(0.5) per message,
    // transaction_producer.py:51) and commits per message. Push 10k
    // envelopes through parse → decode → stateful materialize and check
    // the engine clears it orders of magnitude faster.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val parsed = Envelope.parse(input.toDF(), CdcStreamSpecSchemas.payload)
    val rows = parsed.withColumn("__row", Envelope.currentImage)
      .select(col("op"), col("ts_ms"),
        col("__row.transaction_id").as("transaction_id"),
        graft.functions.DebeziumDecimal.fromMode("precise", col("__row.amount"), 2)
          .cast("string").as("amount"))
    val out = CdcPipeline.materialize(
      CdcPipeline.toChangeRecs(rows, "transaction_id", "ts_ms"))
    val q = out.writeStream.format("memory").queryName("tp_out")
      .outputMode("append").start()
    try {
      val n = 10000
      input.addData((0 until n).map(i => env("c", s"t$i", b500, 2, 1000L + i)))
      val t0 = System.nanoTime()
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val got = spark.table("tp_out").count()
      assert(got == n)
      val rate = n / secs
      info(f"$rate%.0f msg/s through parse+decode+materialize")
      assert(rate > 200, f"rate=$rate%.0f msg/s — reference ceiling is 2")
    } finally q.stop()
  }

  test("stream-stream interval join with watermarks (§2B range/interval)") {
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(String, java.sql.Timestamp)]
    val clicks = MemoryStream[(String, java.sql.Timestamp)]
    val impDf = imps.toDF().toDF("ad", "impTime").withWatermark("impTime", "10 minutes")
    val clkDf = clicks.toDF().toDF("cad", "clickTime").withWatermark("clickTime", "10 minutes")
    val joined = impDf.join(clkDf,
      col("ad") === col("cad") &&
        col("clickTime") >= col("impTime") &&
        col("clickTime") <= col("impTime") + expr("INTERVAL 5 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      def t(s: String) = java.sql.Timestamp.valueOf(s)
      imps.addData(("a1", t("2024-01-01 00:00:00")), ("a2", t("2024-01-01 00:00:00")))
      clicks.addData(
        ("a1", t("2024-01-01 00:03:00")),  // within 5 min → joins
        ("a2", t("2024-01-01 00:09:00")))  // outside window → dropped
      q.processAllAvailable()
      val rows = spark.table("ssj_out").select("ad").as[String].collect()
      assert(rows.toSeq == Seq("a1"))
    } finally q.stop()
  }

  test("topic log round-trip: produce → paced consume → idempotent sink, with checkpoint resume (O8/O9/O10)") {
    // The broker-less stand-in for the Kafka round-trip: FileTopic speaks
    // the Kafka source's exact record schema, so everything downstream of
    // `readStream` here is byte-for-byte what runs against kafkaSource.
    import graft.streaming.FileTopic
    val root = java.nio.file.Files.createTempDirectory("graft_topic").toString
    val topicDir = s"$root/txns"
    val sinkDir = s"$root/sink"
    val ckpt = s"$root/ckpt"
    val nPart = 4

    def payload(ids: Seq[Int], tag: String) =
      ids.map(i => (s"t$i", tag)).toDF("transaction_id", "state")

    def runConsumer(counter: java.util.concurrent.atomic.AtomicInteger,
                    rowsSeen: java.util.concurrent.atomic.AtomicLong) = {
      val parsed = FileTopic.source(spark, topicDir, maxFilesPerTrigger = Some(1))
        .select(col("value").cast("string").as("json")) // as with Kafka
        .select(from_json(col("json"), org.apache.spark.sql.types.StructType
          .fromDDL("transaction_id STRING, state STRING")).as("r"))
        .select("r.*")
      parsed.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          if (!batch.isEmpty) {
            counter.incrementAndGet()
            rowsSeen.addAndGet(batch.count())
            CdcPipeline.idempotentParquetUpsert(spark, batch, sinkDir,
              keys = Seq("transaction_id"), nBuckets = 8)
          }
        }
        .start()
    }

    // produce epoch 1: 12 keys, keyed by transaction_id like the reference
    FileTopic.produce(
      CdcPipeline.toKafkaRecords(payload(0 until 12, "v1"), "transaction_id"),
      topicDir, "transactions", nPart)
    val batches1 = new java.util.concurrent.atomic.AtomicInteger
    val rows1 = new java.util.concurrent.atomic.AtomicLong
    val q1 = runConsumer(batches1, rows1)
    try { q1.processAllAvailable() } finally q1.stop()
    // pacing: maxFilesPerTrigger=1 over one-segment-per-partition epochs
    // must split consumption into multiple triggers, not one big batch
    assert(batches1.get() > 1, s"pacing produced ${batches1.get()} batch(es)")
    assert(rows1.get() == 12L)

    // epoch 2 while the consumer is DOWN: redeliver 3 old keys with a
    // conflicting tag (at-least-once) plus 6 genuinely new keys
    FileTopic.produce(
      CdcPipeline.toKafkaRecords(
        payload(0 until 3, "REDELIVERED").unionAll(payload(12 until 18, "v2")),
        "transaction_id"),
      topicDir, "transactions", nPart)
    val batches2 = new java.util.concurrent.atomic.AtomicInteger
    val rows2 = new java.util.concurrent.atomic.AtomicLong
    val q2 = runConsumer(batches2, rows2)
    try { q2.processAllAvailable() } finally q2.stop()
    // checkpoint resume: only epoch-2 segments were consumed
    assert(rows2.get() == 9L,
      s"resume re-read old segments: saw ${rows2.get()} rows, expected 9")

    // end-to-end effectively-once: first write of every key survives
    val got = spark.read.parquet(sinkDir)
      .select("transaction_id", "state").as[(String, String)].collect().toMap
    assert(got.size == 18)
    assert((0 until 12).forall(i => got(s"t$i") == "v1"))
    assert((12 until 18).forall(i => got(s"t$i") == "v2"))

    // transport contract: kafka schema, keyed partitioning, per-partition
    // contiguous monotone offsets across produce calls
    // (directory partitioning appends `partition` last on read — the
    // contract is the field set + types, which projection restores)
    val log = spark.read.schema(FileTopic.recordSchema).parquet(topicDir)
      .select(FileTopic.recordSchema.fieldNames.map(col).toSeq: _*)
    assert(log.schema.map(f => f.name -> f.dataType) ==
      FileTopic.recordSchema.map(f => f.name -> f.dataType))
    val badPart = log.filter(
      col("partition") =!= pmod(hash(col("key")), lit(nPart)).cast("int")).count()
    assert(badPart == 0L, s"$badPart records outside their key's partition")
    val offs = log.groupBy("partition")
      .agg(count(lit(1)).as("n"), min("offset").as("lo"),
        max("offset").as("hi"), count_distinct(col("offset")).as("d"))
      .collect()
    offs.foreach { r =>
      assert(r.getLong(2) == 0L && r.getLong(3) == r.getLong(1) - 1 &&
        r.getLong(4) == r.getLong(1),
        s"partition ${r.getInt(0)} offsets not contiguous from 0: $r")
    }
  }

  test("drift alerting end-to-end: FileTopic → windowed PSI → exactly one alert window") {
    // Composes the O23 monitoring pattern with the q92 drift algebra
    // over the real transport twin: events produced into the topic log,
    // consumed as a stream, binned against static reference deciles,
    // watermark-windowed counts materialized to a queryable sink, PSI
    // thresholded into alert rows. One window is planted with a +50
    // value shift — exactly that window must alarm — and one with a
    // type the reference never saw — it must surface flagged new_type,
    // not vanish (the round-5 ADVICE blind spot, proven here e2e).
    import graft.streaming.{DriftMonitor, FileTopic}
    val root = java.nio.file.Files.createTempDirectory("graft_drift").toString
    val topicDir = s"$root/events"

    def ev(ts: String, et: String, v: Double) =
      (java.sql.Timestamp.valueOf(ts), et, v)
    // window A (10:00): the reference distribution; window B (10:05):
    // shifted +50; window B also carries a brand-new event type
    val events = ((0 until 300).map(i =>
        ev("2024-01-01 10:00:01", "e", (i % 100).toDouble)) ++
      (0 until 300).map(i =>
        ev("2024-01-01 10:05:01", "e", (i % 100) + 50.0)) ++
      (0 until 40).map(i =>
        ev("2024-01-01 10:05:02", "born_today", (i % 10).toDouble)))
      .toDF("ts", "event_type", "value")
    FileTopic.produce(
      CdcPipeline.toKafkaRecords(events, "event_type"),
      topicDir, "events", nPartitions = 2)

    val cuts = Seq(("e", (1 to 9).map(_ * 10.0).toArray)).toDF("et", "cuts")
    val parsed = FileTopic.source(spark, topicDir)
      .select(from_json(col("value").cast("string"),
        org.apache.spark.sql.types.StructType
          .fromDDL("ts TIMESTAMP, event_type STRING, value DOUBLE")).as("r"))
      .select("r.*")
    val q = DriftMonitor.binnedWindowCounts(parsed, cuts,
        windowLen = "5 minutes", watermarkDelay = "1 minute")
      .writeStream.format("memory").queryName("drift_e2e")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val ref = (0 to 9).map(b => ("e", b, 0.1)).toDF("event_type", "bin", "ref_frac")
    val report = DriftMonitor.psiOf(spark.table("drift_e2e"), ref)
      .select(col("window.start").cast("string").as("w"),
        col("event_type"), col("n_events"), col("psi"), col("new_type"))
      .collect()
    // of the KNOWN type's two windows, exactly the shifted one alarms
    val alerts = report.filter(r =>
      r.getAs[String]("event_type") == "e" && r.getAs[Double]("psi") > 0.25)
    assert(alerts.length == 1, s"want 1 alert, got ${alerts.toSeq}")
    assert(alerts(0).getAs[String]("w") == "2024-01-01 10:05:00")
    assert(alerts(0).getAs[Long]("n_events") == 300L)
    val quiet = report.filter(r => r.getAs[String]("event_type") == "e" &&
      r.getAs[String]("w") == "2024-01-01 10:00:00")
    assert(quiet.length == 1 && quiet(0).getAs[Double]("psi") < 0.05)
    // the unseen type surfaced — flagged, finite, in its own window
    val born = report.filter(_.getAs[String]("event_type") == "born_today")
    assert(born.length == 1, s"new type rows: ${born.toSeq}")
    assert(born(0).getAs[Boolean]("new_type"))
    assert(born(0).getAs[String]("w") == "2024-01-01 10:05:00")
    assert(born(0).getAs[Long]("n_events") == 40L)
    assert(!born(0).getAs[Double]("psi").isNaN &&
      !born(0).getAs[Double]("psi").isInfinite)
    assert(!report.filter(r => r.getAs[String]("event_type") == "e")
      .exists(_.getAs[Boolean]("new_type")))
  }

  test("FileTopic offsets: log is truth on sidecar loss, caller ordering wins, gaps tolerated") {
    import graft.streaming.FileTopic
    val root = java.nio.file.Files.createTempDirectory("graft_topic2").toString

    // 1. sidecar lost → next produce rebuilds base offsets from the log:
    // no (partition, offset) pair may repeat across the two epochs
    val d1 = s"$root/t1"
    def recs(kv: (String, String)*) = kv.toDF("key", "value")
    FileTopic.produce(recs("k1" -> "a", "k2" -> "b", "k3" -> "c"), d1, "t", 2)
    val fs = new org.apache.hadoop.fs.Path(d1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(d1, "_graft_next_offsets"), false))
    FileTopic.produce(recs("k1" -> "d", "k4" -> "e"), d1, "t", 2)
    val log1 = spark.read.parquet(d1)
    assert(log1.count() == 5L)
    val dupPairs = log1.groupBy("partition", "offset").count()
      .filter(col("count") > 1).count()
    assert(dupPairs == 0L,
      "sidecar loss produced duplicate (partition, offset) pairs")

    // 2. ordering column: two records for ONE key in one produce whose
    // byte order CONTRADICTS produce order — offsets must follow the
    // caller's sequence, so offset-as-tieBreak picks the true last write
    val d2 = s"$root/t2"
    val seqRecs = Seq(("k9", "z-insert", 1L), ("k9", "a-update", 2L))
      .toDF("key", "value", "seq")
    FileTopic.produce(seqRecs, d2, "t", 1, ordering = Seq(col("seq")))
    val byOff = spark.read.parquet(d2).orderBy("offset")
      .select(col("value").cast("string")).as[String].collect()
    assert(byOff.toSeq == Seq("z-insert", "a-update"),
      s"offsets ignored the caller's sequence: $byOff")

    // 3. reserved-but-unwritten offsets (crash between sidecar reserve
    // and data append) leave a GAP; the next produce continues past it
    // and a consumer never assumes density
    val d3 = s"$root/t3"
    FileTopic.produce(recs("k1" -> "a"), d3, "t", 1)
    val sc = new org.apache.hadoop.fs.Path(d3, "_graft_next_offsets")
    val out = fs.create(sc, true)
    out.write("0=6".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close() // simulates a produce that reserved 5 offsets then died
    FileTopic.produce(recs("k2" -> "b"), d3, "t", 1)
    val offs3 = spark.read.parquet(d3).select("offset").as[Long].collect().sorted
    assert(offs3.toSeq == Seq(0L, 6L), s"gap not preserved: ${offs3.toSeq}")
    val dup3 = offs3.distinct.length == offs3.length
    assert(dup3, "offset reuse across the simulated crash")
  }

  test("Trigger.AvailableNow drains the topic in rate-limited batches then terminates (O10)") {
    import graft.streaming.FileTopic
    import org.apache.spark.sql.streaming.Trigger
    val root = java.nio.file.Files.createTempDirectory("graft_avail").toString
    val topicDir = s"$root/t"
    def recs(ids: Range, tag: String) =
      ids.map(i => (s"k$i", tag)).toDF("key", "value")
    FileTopic.produce(recs(0 until 6, "a"), topicDir, "t", nPartitions = 4)
    FileTopic.produce(recs(6 until 12, "b"), topicDir, "t", nPartitions = 4)
    val batches = new java.util.concurrent.atomic.AtomicInteger
    val rows = new java.util.concurrent.atomic.AtomicLong
    val q = FileTopic.source(spark, topicDir, maxFilesPerTrigger = Some(2))
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow()) // drain-and-stop, still paced
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!b.isEmpty) { batches.incrementAndGet(); rows.addAndGet(b.count()) }
        ()
      }
      .start()
    // AvailableNow terminates on its own once the backlog is drained —
    // no q.stop(); that IS the contract under test
    assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
    assert(rows.get() == 12L, s"drained ${rows.get()} of 12 rows")
    // 8 segment files at 2 per trigger ⇒ several paced batches, not one
    assert(batches.get() >= 3, s"pacing yielded only ${batches.get()} batches")
  }

  test("envelope parse survives producer schema evolution (new field: old consumer ignores, evolved consumer backfills)") {
    import org.apache.spark.sql.types._
    // A Debezium topic evolves in place: the producer adds a column and
    // old + new envelope versions coexist in the log. An old-schema
    // consumer must keep parsing (unknown fields ignored — from_json is
    // non-strict); an evolved-schema consumer must read old records
    // with the new column null-backfilled. Neither direction may drop
    // rows (the O12 skip is for MALFORMED payloads only).
    val vOld = StructType(Seq(
      StructField("id", LongType), StructField("state", StringType)))
    val vNew = vOld.add(StructField("region", StringType))
    val raw = Seq(
      """{"op":"c","ts_ms":1,"after":{"id":1,"state":"NEW"}}""",
      """{"op":"c","ts_ms":2,"after":{"id":2,"state":"OK","region":"eu"}}""",
      """{not json""").toDF("value")
    val oldSeen = Envelope.parse(raw, vOld)
      .select(col("after.id"), col("after.state"))
      .as[(Long, String)].collect().toSet
    assert(oldSeen == Set((1L, "NEW"), (2L, "OK")))
    val newSeen = Envelope.parse(raw, vNew)
      .select(col("after.id"), col("after.region"))
      .as[(Long, Option[String])].collect().toSet
    assert(newSeen == Set((1L, None), (2L, Some("eu"))))
  }

  test("PipelineMonitor captures per-batch progress rows with state counts (O23)") {
    import graft.streaming.PipelineMonitor
    implicit val sqlCtx = spark.sqlContext
    val monitor = new PipelineMonitor(maxBatches = 2)
    spark.streams.addListener(monitor)
    try {
      val input = MemoryStream[(String, Int)]
      val agg = input.toDF().toDF("k", "v")
        .observe("graft_metrics", count(lit(1)).as("rows_seen"),
          sum(col("v")).as("v_sum"))
        .groupBy("k").agg(count(lit(1)).as("n"))
      val q = agg.writeStream.outputMode("update")
        .format("memory").queryName("mon_out").start()
      try {
        input.addData(("a", 1), ("b", 2)); q.processAllAvailable()
        input.addData(("a", 3)); q.processAllAvailable()
        input.addData(("c", 4)); q.processAllAvailable()
      } finally q.stop()
      // listener bus is async — poll for delivery
      val runId = q.runId.toString
      def mine = monitor.batches.filter(b =>
        b.runId == runId && b.numInputRows > 0)
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (mine.size < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      val got = mine
      // ring bound: 3 data batches ran, only maxBatches=2 retained
      assert(got.size == 2, s"expected 2 retained batches, got ${got.size}")
      assert(got.forall(_.batchDurationMs >= 0))
      // the retained (latest) batches each carried one row, and the
      // stateful agg reports its state rows (grows a->b->c keys to 3)
      assert(got.map(_.numInputRows).sum == 2L)
      assert(got.last.stateRows == 3L,
        s"state rows: ${got.map(_.stateRows)}")
      // Dataset.observe metrics ride on the same progress rows: the
      // last batch carried ("c", 4)
      assert(got.last.observed("graft_metrics.rows_seen") == "1" &&
        got.last.observed("graft_metrics.v_sum") == "4",
        s"observed: ${got.last.observed}")
      assert(monitor.startedCount >= 1 && monitor.terminatedCount >= 1)
      // the monitoring "table" is queryable like any DataFrame
      assert(monitor.toDF(spark).filter(col("runId") === runId).count() == 2)
    } finally spark.streams.removeListener(monitor)
  }

  test("session_window closes a session only after the watermark passes the gap") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val sessions = input.toDF().toDF("user", "ts")
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "10 minutes"), col("user"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("user"), col("cnt"),
        col("session_window.start").as("start"))
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
      // two events 5 min apart → one open session; watermark = max ts
      input.addData(("u1", t(0)), ("u1", t(5)))
      q.processAllAvailable()
      assert(spark.table("sess_out").isEmpty,
        "session emitted while still open (watermark has not passed the gap)")
      // an event 30 min later moves the watermark past start+gap: the
      // first session closes (append-mode emit); the new one stays open
      input.addData(("u1", t(35)))
      q.processAllAvailable()
      val done = spark.table("sess_out")
        .select("user", "cnt").as[(String, Long)].collect().toSeq
      assert(done == Seq(("u1", 2L)), s"expected first session only, got $done")
    } finally q.stop()
  }

  test("dedupWithinWatermark suppresses duplicate keys (O14 contract)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val df = input.toDF().toDF("key", "ts")
    val q = CdcPipeline.dedupWithinWatermark(df, "key", "ts", "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val t1 = java.sql.Timestamp.valueOf("2024-01-01 00:01:00")
      input.addData(("k1", t0), ("k1", t1), ("k2", t0))
      q.processAllAvailable()
      val n = spark.table("dedup_out").count()
      assert(n == 2) // k1 once, k2 once
    } finally q.stop()
  }

  test("chained stateful aggs: 1-min windows roll up into 5-min windows in one query") {
    // Spark 3.5+ multiple-stateful-operator support: two windowed
    // aggregations chained in a single streaming query (the hierarchical
    // rollup every metrics pipeline wants), watermark propagated through
    // the first agg into the second.
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp, Double)]
    val base = input.toDF().toDF("k", "ts", "v")
      .withWatermark("ts", "0 seconds")
    val w1 = base
      .groupBy(col("k"), window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n1"))
    val w5 = w1
      .groupBy(col("k"), window(col("window"), "5 minutes"))
      .agg(sum(col("n1")).as("n5"))
      .select(col("k"), col("window.start").as("w"), col("n5"))
    val q = w5.writeStream.format("memory").queryName("roll_out")
      .outputMode("append").start()
    try {
      def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:$m%02d:00")
      // 3 events in minutes 0-4 (first 5-min window), 1 in minute 6
      input.addData(("u", t(0), 1.0), ("u", t(1), 1.0), ("u", t(4), 1.0),
        ("u", t(6), 1.0))
      q.processAllAvailable()
      // watermark at 00:06 closes every 1-min window ≤ 00:05 but the
      // 5-min window [00:05,00:10) is still open
      // an event far past moves the watermark beyond [00:05, 00:10)
      input.addData(("u", t(20), 1.0))
      q.processAllAvailable()
      input.addData(("u", t(40), 1.0))
      q.processAllAvailable()
      val got = spark.table("roll_out")
        .select(col("k"), col("w").cast("string"), col("n5"))
        .as[(String, String, Long)].collect().toSet
      assert(got.contains(("u", "2024-01-01 00:00:00", 3L)),
        s"first 5-min rollup wrong: $got")
      assert(got.contains(("u", "2024-01-01 00:05:00", 1L)),
        s"second 5-min rollup wrong: $got")
    } finally q.stop()
  }

  test("foreachBatch delta-agg maintains a grouped aggregate ≡ one-shot recompute (IVM)") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Materialize
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm")
      .toString + "/agg"
    // (grp, op, before, after)
    val input = MemoryStream[(String, String, Option[Double], Option[Double])]
    val q = input.toDF().toDF("grp", "op", "before", "after").writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        Materialize.maintainAggregate(spark, dir, b,
          Seq("grp"), col("before"), col("after"), batchId = Some(id))
      }
      .start()
    try {
      input.addData(
        ("g1", "c", None, Some(10.0)), ("g1", "c", None, Some(20.0)),
        ("g2", "c", None, Some(5.0)))
      q.processAllAvailable()
      // mid-stream state is already queryable and correct
      val mid = spark.read.parquet(dir)
        .select(col("grp"), col("live_cnt"), col("live_sum").cast("double"))
        .as[(String, Long, Double)].collect()
        .map { case (g, c, v) => g -> ((c, v)) }.toMap
      assert(mid == Map("g1" -> ((2L, 30.0)), "g2" -> ((1L, 5.0))))
      // batch 2: update g1, delete-only batch for g2 (its count delta is
      // -1 — the prune=false path), then a re-insert in batch 3
      input.addData(("g1", "u", Some(20.0), Some(25.0)),
        ("g2", "d", Some(5.0), None))
      q.processAllAvailable()
      input.addData(("g2", "c", None, Some(7.0)))
      q.processAllAvailable()
      val got = spark.read.parquet(dir)
        .select(col("grp"), col("live_cnt"), col("live_sum").cast("double"))
        .as[(String, Long, Double)].collect()
        .map { case (g, c, v) => g -> ((c, v)) }.toMap
      assert(got == Map("g1" -> ((2L, 35.0)), "g2" -> ((1L, 7.0))))
      // stored sum stayed exact DECIMAL across merges
      val sumType = spark.read.parquet(dir).schema("live_sum").dataType
      assert(sumType == org.apache.spark.sql.types.DecimalType(38, 2),
        s"stored as $sumType")
      // redelivery of an already-applied batch id (crash after swap,
      // before checkpoint commit) must be a no-op — deltas are not
      // idempotent, the batch-id sidecar is what makes them so
      val replay = Seq(("g2", "c", None: Option[Double], Some(7.0)))
        .toDF("grp", "op", "before", "after")
      Materialize.maintainAggregate(spark, dir, replay,
        Seq("grp"), col("before"), col("after"), batchId = Some(2L))
      val after = spark.read.parquet(dir)
        .select(col("grp"), col("live_cnt"), col("live_sum").cast("double"))
        .as[(String, Long, Double)].collect()
        .map { case (g, c, v) => g -> ((c, v)) }.toMap
      assert(after == got, "redelivered batch was double-applied")
      // a genuinely new batch id still applies
      Materialize.maintainAggregate(spark, dir, replay,
        Seq("grp"), col("before"), col("after"), batchId = Some(3L))
      val g2 = spark.read.parquet(dir).filter(col("grp") === "g2")
        .select(col("live_cnt")).as[Long].head()
      assert(g2 == 2L)
    } finally q.stop()
  }

  test("generational IVM: same semantics, marker atomic with its generation, gens pruned") {
    // The flat swap's reader hazard (part-files renamed away mid-scan)
    // makes generational = true the mode for a maintained aggregate
    // that consumers query while the stream merges. Same
    // effectively-once contract: the batch-id marker is written into
    // the generation BEFORE publish, so state and bookkeeping appear
    // atomically; redelivery is a no-op. The zero-transient concurrent-
    // reader guarantee of the publish path itself is proven in
    // OperatorsSpec's generational chaos spec.
    import graft.operators.Materialize
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm_gen")
      .toString + "/agg"
    def merge(rows: Seq[(String, String, Option[Double], Option[Double])],
              id: Long) =
      Materialize.maintainAggregate(spark,
        dir, rows.toDF("grp", "op", "before", "after"),
        Seq("grp"), col("before"), col("after"), batchId = Some(id),
        generational = true)
    def state() = Compaction.readTable(spark, dir)
      .select(col("grp"), col("live_cnt"), col("live_sum").cast("double"))
      .as[(String, Long, Double)].collect()
      .map { case (g, c, v) => g -> ((c, v)) }.toMap

    merge(Seq(("g1", "c", None, Some(10.0)), ("g2", "c", None, Some(5.0))), 0L)
    merge(Seq(("g1", "u", Some(10.0), Some(25.0)), ("g2", "d", Some(5.0), None)), 1L)
    merge(Seq(("g2", "c", None, Some(7.0))), 2L)
    val got = state()
    assert(got == Map("g1" -> ((1L, 25.0)), "g2" -> ((1L, 7.0))), s"got $got")
    // redelivered batch id → no-op
    merge(Seq(("g2", "c", None, Some(7.0))), 2L)
    assert(state() == got, "redelivered batch was double-applied")
    // new id applies
    merge(Seq(("g2", "c", None, Some(7.0))), 3L)
    assert(state()("g2") == ((2L, 14.0)))
    // generation dirs stay within the two-generation grace
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName)
    assert(gens.length <= 3, s"prune failed: ${gens.mkString(",")}")
  }

  test("generational IVM: compaction preserves the redelivery marker (effectively-once survives compactGen)") {
    // compactGen rebuilds gen N+1 from parquet data; before the
    // sidecar carry it silently dropped the _graft_last_batch marker
    // riding inside gen N, so a redelivered batch AFTER a compaction
    // re-applied and double-counted — the exact break of the
    // documented effectively-once contract this spec pins.
    import graft.operators.Materialize
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm_compact")
      .toString + "/agg"
    def merge(rows: Seq[(String, String, Option[Double], Option[Double])],
              id: Long) =
      Materialize.maintainAggregate(spark,
        dir, rows.toDF("grp", "op", "before", "after"),
        Seq("grp"), col("before"), col("after"), batchId = Some(id),
        generational = true)
    def state() = Compaction.readTable(spark, dir)
      .select(col("grp"), col("live_cnt"), col("live_sum").cast("double"))
      .as[(String, Long, Double)].collect()
      .map { case (g, c, v) => g -> ((c, v)) }.toMap
    // several groups across un-coalesced shuffle partitions → the
    // merged agg writes >1 part file, so the default-target compaction
    // genuinely rewrites (AQE's partition coalescing would fold this
    // tiny fixture to one file and make the spec vacuous)
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val prevCoalesce = spark.conf.get(coalesceKey)
    try {
      spark.conf.set(coalesceKey, "false")
      merge((1 to 8).map(i => (s"g$i", "c", None, Some(i * 10.0))), 0L)
      merge(Seq(("g1", "c", None, Some(1.0))), 1L)
    } finally spark.conf.set(coalesceKey, prevCoalesce)
    val before = state()
    assert(before("g1") == ((2L, 11.0)), s"setup wrong: $before")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val st = Compaction.compactGen(spark, dir, targetBytes = 1L << 26)
    assert(st.rewritten, s"fixture did not force a rewrite: $st")
    // the marker must ride into the compacted generation
    val cur = Compaction.resolve(fs, new org.apache.hadoop.fs.Path(dir))
    assert(fs.exists(new org.apache.hadoop.fs.Path(cur, "_graft_last_batch")),
      "compaction dropped the redelivery marker sidecar")
    assert(state() == before, "compaction changed the aggregate")
    // redelivered batch id after compaction → still a no-op
    merge(Seq(("g1", "c", None, Some(1.0))), 1L)
    assert(state() == before, "redelivered batch double-applied after compactGen")
    // a genuinely new batch still applies
    merge(Seq(("g1", "c", None, Some(1.0))), 2L)
    assert(state()("g1") == ((3L, 12.0)))
  }

  test("IVM: flat table crashed mid-swap then switched to generational=true recovers, not resets") {
    // The flat swap's crash window leaves main renamed to retired with
    // the staged copy not yet promoted. A deployment that then flips
    // generational=true must RECOVER that state like the flat path
    // does — before the fix the generational branch saw "no table" and
    // silently restarted the aggregate from zero.
    import graft.operators.Materialize
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_ivm_switch")
      .toString + "/agg"
    val main = new org.apache.hadoop.fs.Path(dir)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def merge(rows: Seq[(String, String, Option[Double], Option[Double])],
              id: Long, gen: Boolean) =
      Materialize.maintainAggregate(spark,
        dir, rows.toDF("grp", "op", "before", "after"),
        Seq("grp"), col("before"), col("after"), batchId = Some(id),
        generational = gen)
    merge(Seq(("g1", "c", None, Some(10.0)), ("g2", "c", None, Some(5.0))),
      0L, gen = false)
    merge(Seq(("g1", "c", None, Some(2.0))), 1L, gen = false)
    // simulate the mid-swap crash: main → retired done, staged promotion
    // never happened
    assert(fs.rename(main, Compaction.retiredPath(main)))
    // switch to generational: prior state must survive the recovery
    merge(Seq(("g2", "c", None, Some(3.0))), 2L, gen = true)
    val got = Compaction.readTable(spark, dir)
      .select(col("grp"), col("live_cnt"), col("live_sum").cast("double"))
      .as[(String, Long, Double)].collect()
      .map { case (g, c, v) => g -> ((c, v)) }.toMap
    assert(got == Map("g1" -> ((2L, 12.0)), "g2" -> ((2L, 8.0))),
      s"crashed flat state dropped on generational switch: $got")
    // the marker moved into g1 with the data: replaying batch 1 is a
    // no-op even though it predates the conversion
    merge(Seq(("g1", "c", None, Some(99.0))), 1L, gen = true)
    val after = Compaction.readTable(spark, dir)
      .filter(col("grp") === "g1").select(col("live_cnt")).as[Long].head()
    assert(after == 2L, "pre-conversion batch id replayed after switch")
  }

  test("streaming incremental dedup: probe-then-append loop, cross-batch, replay-idempotent") {
    // StreamingDedup lifts the batch ingest loop (LlmOpsSpec "ingest
    // loop" case) onto foreachBatch: every micro-batch is deduped
    // against the full history — offline base index AND all earlier
    // batches — with both writes keyed by batchId (dynamic partition
    // overwrite), so a replayed batch is idempotent. MemoryStream
    // stands in for the transport; swapping in FileTopic.source is the
    // one-readStream change the drift-alert case already exercises.
    import graft.ops.Dedup
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    def body(seed: Int) = (0 until 20).map(i => s"v${seed}_$i").mkString(" ")
    val corpus = Seq((1L, body(1)), (2L, body(2))).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_sdedup").toString
    val idx = root + "/index"
    val pairs = root + "/pairs"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", n = 3, idx,
      nBuckets = 8)
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.attach(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idx, pairs, n = 3, threshold = 0.5, nBuckets = 8)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // batch 0: a novel doc — no pairs, but it must enter the index
      input.addData((10L, body(10)))
      q.processAllAvailable()
      // batch 1: one near-dup of the BATCH-0 doc, one of a CORPUS doc
      input.addData(
        (20L, body(10).replace("v10_10 ", "EDIT ")),
        (30L, body(1).replace("v1_5 ", "EDIT ")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(pairs)
      .select("i", "j").as[(Long, Long)].collect().toSet
    assert(got == Set((20L, 10L), (30L, 1L)), s"pairs: $got")
    // the index now holds base + one ingest partition per batch, each
    // doc's postings exactly once
    val perDoc = spark.read.parquet(idx).groupBy("doc")
      .agg(countDistinct(col("ingest")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(perDoc.keySet == Set(1L, 2L, 10L, 20L, 30L))
    assert(perDoc.values.forall(_ == 1L), s"doc spread over ingests: $perDoc")
  }

  test("streaming semantic dedup: probe-then-append over the cell index, cross-batch") {
    // attachSemantic = the same foreachBatch loop over EMBEDDINGS: the
    // index owns the quantizer, every batch assigns into the base cell
    // space, and batch 1 must surface a near-dup of a BATCH-0 vector
    // (proof the append happened) alongside one of a corpus vector.
    import graft.ops.SemDedup
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val corpus = Seq(1L -> v(1, 0, 0, 0), 2L -> v(0, 1, 0, 0))
      .toDF("vec_id", "embedding")
    val root = java.nio.file.Files
      .createTempDirectory("graft_semstream").toString
    val idx = root + "/index"
    val pairs = root + "/pairs"
    SemDedup.writeCellIndex(corpus, "vec_id", "embedding",
      centroidEvery = 1, indexPath = idx)
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamingDedup.attachSemantic(
        input.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
        idx, pairs, threshold = 0.9)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // batch 0: novel direction — no pairs, but it must enter the index
      input.addData((10L, v(0, 0, 1, 0)))
      q.processAllAvailable()
      // batch 1: a near-dup of the batch-0 vector and one of corpus id 1
      input.addData(
        (20L, v(0, 0, 0.99, 0.01)),
        (30L, v(0.99, 0.01, 0, 0)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(pairs)
      .select("batch", "i", "j").as[(Int, Long, Long)].collect().toSet
    assert(got == Set((1, 20L, 10L), (1, 30L, 1L)), s"pairs: $got")
    // base + one ingest partition per batch, each vector exactly once
    val perVec = spark.read.parquet(idx).groupBy("vec_id")
      .agg(countDistinct(col("ingest")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(perVec.keySet == Set(1L, 2L, 10L, 20L, 30L))
    assert(perVec.values.forall(_ == 1L), s"vector spread over ingests: $perVec")
  }

  test("streaming retrieval refresh: append-then-rank over the bm25 index, snapshots grow with the corpus") {
    // attachBm25 = the saved-search loop: every batch joins the index,
    // then the STANDING queries re-rank over the grown corpus — batch
    // 1's snapshot must surface a batch-1 document that outranks
    // everything older (proof the append landed before the rank), and
    // each snapshot equals the one-shot pass over its corpus prefix.
    import graft.ops.Search
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    val base = Seq(
      (1L, "spark engine runs the query"),
      (2L, "a window over the table")).toDF("doc_id", "text")
    val standing = Seq(1 -> "spark query")
    val root = java.nio.file.Files
      .createTempDirectory("graft_bm25stream").toString
    val idx = root + "/index"
    val out = root + "/snapshots"
    Search.writeBm25Index(base, "doc_id", "text", idx)
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.attachBm25(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idx, out, standing, k = 3)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      input.addData((10L, "nothing relevant here at all"))
      q.processAllAvailable()
      // a short doc repeating both query terms — must take rank 1
      input.addData((20L, "spark query spark query"))
      q.processAllAvailable()
    } finally q.stop()
    val snaps = spark.read.parquet(out)
      .select("batch", "qid", "doc_id", "rn", "score_u")
      .as[(Int, Int, Long, Int, Long)].collect()
    // batch-1 snapshot: doc 20 rank 1
    assert(snaps.exists(s => s._1 == 1 && s._3 == 20L && s._4 == 1),
      s"new best doc not rank-1 in the refreshed snapshot: ${snaps.toSeq}")
    // each snapshot ≡ the one-shot pass over its corpus prefix
    val s0 = snaps.filter(_._1 == 0).map(t => (t._2, t._3, t._4, t._5)).toSet
    val s1 = snaps.filter(_._1 == 1).map(t => (t._2, t._3, t._4, t._5)).toSet
    def oneShot(docs: org.apache.spark.sql.DataFrame) =
      Search.bm25TopK(docs, "doc_id", "text", standing, 3)
        .select("qid", "doc_id", "rn", "score_u")
        .as[(Int, Long, Int, Long)].collect().toSet
    val b0 = base.unionByName(
      Seq((10L, "nothing relevant here at all")).toDF("doc_id", "text"))
    val b1 = b0.unionByName(
      Seq((20L, "spark query spark query")).toDF("doc_id", "text"))
    assert(s0 == oneShot(b0), "batch-0 snapshot diverged")
    assert(s1 == oneShot(b1), "batch-1 snapshot diverged")
  }

  test("streaming entity resolution: probe-then-append over the variant index, cross-batch") {
    // attachLink = the ingest loop for STRUCTURED RECORDS: each batch
    // of new master records is linked against every master already
    // indexed, then its deletion variants enter the index — batch 1
    // must link a BATCH-0 record (proof the append happened) alongside
    // a base master.
    import graft.ops.EntityResolution
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    val masters = Seq((1L, "acme corp", 1), (2L, "globex inc", 1),
      (3L, "initech", 2)).toDF("id", "nm", "blk")
    val root = java.nio.file.Files
      .createTempDirectory("graft_erstream").toString
    val idx = root + "/index"
    val pairs = root + "/pairs"
    EntityResolution.writeVariantIndex(masters, "id", "nm", "blk", idx)
    val input = MemoryStream[(Long, String, Int)]
    val q = StreamingDedup.attachLink(
        input.toDF().toDF("id", "nm", "blk"), "id", "nm", "blk",
        idx, pairs)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // batch 0: one record matching base master 1 at distance 1, one
      // novel record that must still enter the index
      input.addData((10L, "acme cor", 1), (11L, "novel name", 2))
      q.processAllAvailable()
      // batch 1: one match of the BATCH-0 novel record, one of a base
      // master — cross-batch resolution through the appended segment
      input.addData((20L, "novel nam", 2), (21L, "globex in", 1))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(pairs)
      .select("batch", "i", "j", "dist")
      .as[(Int, Long, Long, Int)].collect().toSet
    assert(got == Set((0, 1L, 10L, 1), (1, 11L, 20L, 1), (1, 2L, 21L, 1)),
      s"pairs: $got")
    // base + one ingest segment per batch, each record exactly once
    val perRec = spark.read.parquet(
        graft.sources.IndexLifecycle.resolveDir(spark, idx))
      .groupBy("id").agg(countDistinct(col("ingest")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(perRec.keySet == Set(1L, 2L, 3L, 10L, 11L, 20L, 21L))
    assert(perRec.values.forall(_ == 1L), s"record spread over ingests: $perRec")
  }

  test("streaming image dedup: probe-then-append over the phash index, cross-batch") {
    // attachPhash = the same ingest loop for IMAGES: batch 1 must
    // surface an exact copy of a BATCH-0 image (proof the append
    // happened) alongside one of a corpus image. High-entropy random
    // pixels keep unrelated hashes far apart (pairwise hamming ≫ 3).
    import graft.ops.{Multimodal, PpmImage}
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    def img(seed: Int): PpmImage.Image = {
      val r = new scala.util.Random(seed)
      PpmImage.Image(16, 16, Array.fill(16 * 16 * 3)(r.nextInt(256).toByte))
    }
    def row(id: Long, i: PpmImage.Image) =
      (id, "image/x-portable-pixmap", PpmImage.encode(i))
    val corpus = Seq(row(1L, img(1)), row(2L, img(2)))
      .toDF("doc_id", "mime", "payload")
    val root = java.nio.file.Files
      .createTempDirectory("graft_phstream").toString
    val idx = root + "/index"
    val pairs = root + "/pairs"
    Multimodal.writePhashIndex(corpus, idx, nBuckets = 16)
    val input = MemoryStream[(Long, String, Array[Byte])]
    val q = StreamingDedup.attachPhash(
        input.toDF().toDF("doc_id", "mime", "payload"), idx, pairs,
        maxDist = 3, nBuckets = 16)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // batch 0: a novel image — no pairs, but it must enter the index
      input.addData(row(10L, img(3)))
      q.processAllAvailable()
      // batch 1: an exact copy of the batch-0 image and one of corpus 1
      input.addData(row(20L, img(3)), row(30L, img(1)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(pairs)
      .select("batch", "i", "j", "dist")
      .as[(Int, Long, Long, Int)].collect().toSet
    assert(got == Set((1, 10L, 20L, 0), (1, 1L, 30L, 0)), s"pairs: $got")
    // base + one ingest partition per batch, each image exactly once
    val perImg = spark.read.parquet(idx).groupBy("id")
      .agg(countDistinct(col("ingest")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(perImg.keySet == Set(1L, 2L, 10L, 20L, 30L))
    assert(perImg.values.forall(_ == 1L), s"image spread over ingests: $perImg")
  }

  test("streaming curation: gate drops junk, dedup drops history near-dups, survivors scored and appended") {
    import graft.ops.{Dedup, Dsir}
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    def body(seed: Int) = (0 until 20).map(i => s"w${seed}_$i").mkString(" ")
    val corpus = Seq((1L, body(1)), (2L, body(2))).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_scurate_spec").toString
    val idx = root + "/index"; val model = root + "/model"
    val out = root + "/out"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", n = 3, idx,
      nBuckets = 8)
    Dsir.writeModel(corpus, corpus.filter(col("doc_id") === 1),
      "doc_id", "text", model)
    val input = MemoryStream[(Long, String)]
    val q = StreamingDedup.attachCurate(
        input.toDF().toDF("doc_id", "text"), "doc_id", "text",
        idx, model, out, n = 3, threshold = 0.5, nBuckets = 8)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // 10: repetitive junk (gate); 20: near-dup of corpus doc 1
      // (index probe); 30: novel (must survive, score, and be appended)
      input.addData(
        (10L, ("spam " * 30).trim),
        (20L, body(1).replace("w1_5 ", "EDIT ")),
        (30L, body(30)))
      q.processAllAvailable()
      // 40: near-dup of BATCH-0 survivor 30 (proves the append);
      // 50: novel
      input.addData(
        (40L, body(30).replace("w30_7 ", "EDIT ")),
        (50L, body(50)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select("batch", "doc")
      .as[(Int, Long)].collect().toSet
    assert(got == Set((0, 30L), (1, 50L)), s"curated rows: $got")
    val scored = spark.read.parquet(out).select("doc", "logw")
      .as[(Long, Double)].collect().toMap
    assert(scored.values.forall(v => !v.isNaN && !v.isInfinite),
      s"non-finite importance weights: $scored")
  }

  test("streaming curation + redaction: a planted-PII doc's scrubbed form dedups against its clean cross-batch duplicate") {
    import graft.ops.{Dedup, Dsir, Redact}
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    def body(seed: Int) = (0 until 20).map(i => s"w${seed}_$i").mkString(" ")
    val corpus = Seq((1L, body(1)), (2L, body(2))).toDF("doc_id", "text")
    // the same form letter sent to two addresses: unscrubbed they
    // differ by one token of 15 (2 of 13 shingles -> jaccard
    // 11/15 = 0.733 < 0.8); scrubbed both emails canonicalize to
    // <EMAIL> -> identical text, jaccard 1
    val letter = (0 until 12).map(i => s"v10_$i").mkString(" ")
    val letterA = letter + " contact alice@example.com now"
    val letterB = letter + " contact bob@example.org now"
    def run(rules: Seq[Redact.Rule]): Set[(Int, Long)] = {
      val root = java.nio.file.Files
        .createTempDirectory("graft_scurate_red").toString
      val idx = root + "/index"; val model = root + "/model"
      val out = root + "/out"
      Dedup.writeShingleIndex(corpus, "doc_id", "text", n = 3, idx,
        nBuckets = 8)
      Dsir.writeModel(corpus, corpus.filter(col("doc_id") === 1),
        "doc_id", "text", model)
      val input = MemoryStream[(Long, String)]
      val q = StreamingDedup.attachCurate(
          input.toDF().toDF("doc_id", "text"), "doc_id", "text",
          idx, model, out, n = 3, threshold = 0.8, nBuckets = 8,
          redactRules = rules)
        .option("checkpointLocation", root + "/ckpt")
        .start()
      try {
        input.addData((10L, letterA))
        q.processAllAvailable()
        input.addData((20L, letterB), (30L, body(30)))
        q.processAllAvailable()
      } finally q.stop()
      // with rules on, no raw span may survive in the appended postings
      if (rules.nonEmpty) {
        val shingles = spark.read.parquet(idx).select("s")
          .as[String].collect()
        assert(!shingles.exists(s =>
            s.contains("alice@example.com") || s.contains("bob@example.org")),
          "raw PII spans leaked into the index postings")
        assert(shingles.exists(_.contains("<EMAIL>")),
          "scrubbed batch shingles must carry the replacement token")
      }
      spark.read.parquet(out).select("batch", "doc")
        .as[(Int, Long)].collect().toSet
    }
    // UNSCRUBBED control: the distinct addresses keep the letters
    // below threshold, so batch 1's copy sneaks through as "novel"
    assert(run(Nil) == Set((0, 10L), (1, 20L), (1, 30L)))
    // scrubbed: batch 0's letter is appended in canonical form and
    // batch 1's copy dedups against it across the batch boundary
    assert(run(Redact.StandardRules) == Set((0, 10L), (1, 30L)),
      "the scrubbed form must dedup against the clean duplicate")
  }

  test("attachIngest: admit -> scrub -> curate in one trigger; quarantined rows never reach scrub, index, or scorer") {
    import graft.ops.{Dedup, Dsir, Redact, Validate}
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    def body(seed: Int) = (0 until 12).map(i => s"v${seed}_$i").mkString(" ")
    val corpus = Seq((1L, body(1)), (2L, body(2))).toDF("doc_id", "text")
    val root = java.nio.file.Files
      .createTempDirectory("graft_singest_spec").toString
    val idx = root + "/index"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", n = 3, idx,
      nBuckets = 8)
    Dsir.writeModel(corpus, corpus.filter(col("doc_id") === 1),
      "doc_id", "text", root + "/model")
    val letterA = body(10) + " contact alice@example.com now"
    val letterB = body(10) + " contact bob@example.org now"
    val input = MemoryStream[(Long, String, Long)]
    val q = StreamingDedup.attachIngest(
        input.toDF().toDF("doc_id", "text", "n_chars"), "doc_id", "text",
        checks = Seq(Validate.InRange("n_chars", 0.0, 100.0),
          Validate.Unique(Seq("doc_id"))),
        redactRules = Redact.StandardRules,
        indexPath = idx, modelPath = root + "/model",
        outDir = root + "/out", quarantineDir = root + "/quarantine",
        reportDir = root + "/report", n = 3, threshold = 0.8, nBuckets = 8)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // 10 admitted (PII scrubbed, survives); 11 QUARANTINED by the
      // sheet — its tokens must never reach the index even though its
      // text is novel
      input.addData((10L, letterA, 50L), (11L, body(99) + " qban", 500L))
      q.processAllAvailable()
      // 20 = the same letter with a different address: admitted,
      // scrubbed to the identical canonical form, deduped against
      // batch 0's appended survivor; 30 novel, survives
      input.addData((20L, letterB, 50L), (30L, body(30), 50L))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(root + "/out").select("batch", "doc")
      .as[(Int, Long)].collect().toSet == Set((0, 10L), (1, 30L)))
    assert(spark.read.parquet(root + "/quarantine")
      .select("batch", "doc_id", "reasons")
      .as[(Int, Long, String)].collect().toSet ==
      Set((0, 11L, "in_range:n_chars")))
    val shingles = spark.read.parquet(idx).select("s").as[String].collect()
    assert(!shingles.exists(_.contains("qban")),
      "a quarantined row's tokens leaked into the index")
    assert(!shingles.exists(_.contains("alice@example.com")) &&
      shingles.exists(_.contains("<EMAIL>")),
      "admitted rows must append scrubbed postings")
    // the per-batch validation report feed landed for both batches
    assert(Validate.batchTrend(spark, root + "/report", k = 2)
      .filter(col("check_name") === "in_range:n_chars").count() == 2L)
  }

  test("attachCurateMm scrubs text before the gate too; image payloads pass through untouched") {
    import graft.ops.{Dedup, Dsir, Multimodal, PpmImage, Redact}
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    def body(seed: Int) = (0 until 20).map(i => s"w${seed}_$i").mkString(" ")
    def img(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      PpmImage.encode(
        PpmImage.Image(16, 16, Array.fill(16 * 16 * 3)(r.nextInt(256).toByte)))
    }
    val corpus = Seq((1L, body(1), img(1))).toDF("doc_id", "text", "payload")
    val root = java.nio.file.Files
      .createTempDirectory("graft_scuratemm_red").toString
    val idx = root + "/shingle"; val ph = root + "/phash"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", n = 3, idx,
      nBuckets = 8)
    val toImgs = (b: org.apache.spark.sql.DataFrame) =>
      b.select(col("doc_id"), lit("image/x-portable-pixmap").as("mime"),
        col("payload"))
    Multimodal.writePhashIndex(toImgs(corpus), ph, maxDist = 3, nBuckets = 8)
    Dsir.writeModel(corpus.select("doc_id", "text"),
      corpus.select("doc_id", "text"), "doc_id", "text", root + "/model")
    val input = MemoryStream[(Long, String, Array[Byte])]
    val q = StreamingDedup.attachCurateMm(
        input.toDF().toDF("doc_id", "text", "payload"), "doc_id", "text",
        images = toImgs, indexPath = idx, phashIndexPath = ph,
        modelPath = root + "/model", outDir = root + "/out",
        n = 3, threshold = 0.5, nBuckets = 8, maxDist = 3,
        phashBuckets = 8, redactRules = Redact.StandardRules)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      input.addData((10L, body(10) + " mail a@b.co now", img(10)))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(root + "/out").select("batch", "doc")
      .as[(Int, Long)].collect().toSet == Set((0, 10L)))
    // the scrub ran before the text canon's append...
    val shingles = spark.read.parquet(idx).select("s").as[String].collect()
    assert(!shingles.exists(_.contains("a@b.co")) &&
      shingles.exists(_.contains("<EMAIL>")),
      "mm loop must append scrubbed postings")
    // ...and the binary payload column reached the image canon intact
    val phIds = spark.read.parquet(ph).select("id").as[Long].collect().toSet
    assert(phIds == Set(1L, 10L), s"phash index ids: $phIds")
  }

  test("streaming multimodal curation: text canon AND image canon, both histories cross batches") {
    import graft.ops.{Dedup, Dsir, Multimodal, PpmImage}
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    def body(seed: Int) = (0 until 20).map(i => s"w${seed}_$i").mkString(" ")
    def img(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      PpmImage.encode(
        PpmImage.Image(16, 16, Array.fill(16 * 16 * 3)(r.nextInt(256).toByte)))
    }
    val corpus = Seq((1L, body(1), img(1)), (2L, body(2), img(2)))
      .toDF("doc_id", "text", "payload")
    val root = java.nio.file.Files
      .createTempDirectory("graft_scuratemm_spec").toString
    val idx = root + "/shingle"; val ph = root + "/phash"
    val model = root + "/model"; val out = root + "/out"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", n = 3, idx,
      nBuckets = 8)
    val toImgs = (b: org.apache.spark.sql.DataFrame) =>
      b.select(col("doc_id"), lit("image/x-portable-pixmap").as("mime"),
        col("payload"))
    Multimodal.writePhashIndex(toImgs(corpus), ph, maxDist = 3, nBuckets = 8)
    Dsir.writeModel(corpus.select("doc_id", "text"),
      corpus.filter(col("doc_id") === 1).select("doc_id", "text"),
      "doc_id", "text", model)
    val input = MemoryStream[(Long, String, Array[Byte])]
    val q = StreamingDedup.attachCurateMm(
        input.toDF().toDF("doc_id", "text", "payload"), "doc_id", "text",
        images = toImgs, indexPath = idx, phashIndexPath = ph,
        modelPath = model, outDir = out,
        n = 3, threshold = 0.5, nBuckets = 8, maxDist = 3,
        phashBuckets = 8)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // batch 0: 10 = novel text + novel image (survives, both indexes
      // absorb it); 20 = text near-dup of corpus doc 1 (text canon);
      // 30 = UNIQUE text but an exact pixel copy of corpus image 1 —
      // only the IMAGE canon can cut it
      input.addData(
        (10L, body(10), img(10)),
        (20L, body(1).replace("w1_5 ", "EDIT "), img(20)),
        (30L, body(30), img(1)))
      q.processAllAvailable()
      // batch 1: 40 = unique text, copy of BATCH-0 SURVIVOR 10's image
      // (image history crossed the batch boundary); 50 = text near-dup
      // of batch-0 survivor 10 (text history crossed); 60 = novel;
      // 70 = copy of TEXT-DROPPED doc 20's image — 20 was never
      // appended, so 70 must SURVIVE (only curated docs enter the
      // image history)
      input.addData(
        (40L, body(40), img(10)),
        (50L, body(10).replace("w10_7 ", "EDIT "), img(50)),
        (60L, body(60), img(60)),
        (70L, body(70), img(20)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out)
      .select("batch", "doc")
      .as[(Int, Long)].collect().toSet
    assert(got == Set((0, 10L), (1, 60L), (1, 70L)), s"curated rows: $got")
    // both indexes hold exactly base + the survivors, one ingest each
    val inPh = spark.read.parquet(
        graft.sources.IndexLifecycle.resolveDir(spark, ph))
      .select("id").distinct().as[Long].collect().toSet
    assert(inPh == Set(1L, 2L, 10L, 60L, 70L), s"phash index ids: $inPh")
    val inSh = spark.read.parquet(
        graft.sources.IndexLifecycle.resolveDir(spark, idx))
      .select("doc").distinct().as[Long].collect().toSet
    assert(inSh == Set(1L, 2L, 10L, 60L, 70L), s"shingle index ids: $inSh")
  }

  test("attachIngestMm: admit -> scrub -> curate-mm in one trigger; a quarantined image-dup row reaches neither index") {
    import graft.ops.{Dedup, Dsir, Multimodal, PpmImage, Redact, Validate}
    import graft.streaming.StreamingDedup
    implicit val sqlCtx = spark.sqlContext
    def body(seed: Int) = (0 until 20).map(i => s"m${seed}_$i").mkString(" ")
    def img(seed: Int): Array[Byte] = {
      val r = new scala.util.Random(seed)
      PpmImage.encode(
        PpmImage.Image(16, 16, Array.fill(16 * 16 * 3)(r.nextInt(256).toByte)))
    }
    val corpus = Seq((1L, body(1), img(1)), (2L, body(2), img(2)))
      .toDF("doc_id", "text", "payload")
    val root = java.nio.file.Files
      .createTempDirectory("graft_singestmm_spec").toString
    val idx = root + "/shingle"; val ph = root + "/phash"
    Dedup.writeShingleIndex(corpus, "doc_id", "text", n = 3, idx,
      nBuckets = 8)
    val toImgs = (b: org.apache.spark.sql.DataFrame) =>
      b.select(col("doc_id"), lit("image/x-portable-pixmap").as("mime"),
        col("payload"))
    Multimodal.writePhashIndex(toImgs(corpus), ph, maxDist = 3, nBuckets = 8)
    Dsir.writeModel(corpus.select("doc_id", "text"),
      corpus.filter(col("doc_id") === 1).select("doc_id", "text"),
      "doc_id", "text", root + "/model")
    val letterA = body(10) + " contact alice@example.com now"
    val letterB = body(10) + " contact bob@example.org now"
    val input = MemoryStream[(Long, String, Array[Byte], Long)]
    val q = StreamingDedup.attachIngestMm(
        input.toDF().toDF("doc_id", "text", "payload", "n_chars"),
        "doc_id", "text", images = toImgs,
        checks = Seq(Validate.InRange("n_chars", 0.0, 100.0),
          Validate.Unique(Seq("doc_id"))),
        redactRules = Redact.StandardRules,
        indexPath = idx, phashIndexPath = ph,
        modelPath = root + "/model", outDir = root + "/out",
        quarantineDir = root + "/quarantine", reportDir = root + "/report",
        n = 3, threshold = 0.5, nBuckets = 8, maxDist = 3,
        phashBuckets = 8)
      .option("checkpointLocation", root + "/ckpt")
      .start()
    try {
      // 10: admitted, scrubbed, survives — both indexes absorb it.
      // 11: QUARANTINED (n_chars) even though its image is an exact
      //     copy of corpus image 1 and its text is novel — the
      //     admission gate must cut it BEFORE either canon sees it,
      //     so neither its novel tokens nor its image may land
      input.addData((10L, letterA, img(10), 50L),
        (11L, body(99) + " qban", img(1), 500L))
      q.processAllAvailable()
      // 20: letterA with a different address — scrubs to the identical
      //     canonical form and text-dedups against batch 0's survivor;
      // 30: UNIQUE text but an exact copy of batch-0 survivor 10's
      //     image — only the cross-batch IMAGE history can cut it;
      // 40: novel on both axes, survives
      input.addData((20L, letterB, img(20), 50L),
        (30L, body(30), img(10), 50L),
        (40L, body(40), img(40), 50L))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.read.parquet(root + "/out").select("batch", "doc")
      .as[(Int, Long)].collect().toSet == Set((0, 10L), (1, 40L)))
    assert(spark.read.parquet(root + "/quarantine")
      .select("batch", "doc_id", "reasons")
      .as[(Int, Long, String)].collect().toSet ==
      Set((0, 11L, "in_range:n_chars")))
    val shingles = spark.read.parquet(
        graft.sources.IndexLifecycle.resolveDir(spark, idx))
      .select("s").as[String].collect()
    assert(!shingles.exists(_.contains("qban")),
      "a quarantined row's tokens leaked into the shingle index")
    assert(!shingles.exists(_.contains("alice@example.com")) &&
      shingles.exists(_.contains("<EMAIL>")),
      "admitted rows must append scrubbed postings")
    val inPh = spark.read.parquet(
        graft.sources.IndexLifecycle.resolveDir(spark, ph))
      .select("id").distinct().as[Long].collect().toSet
    assert(inPh == Set(1L, 2L, 10L, 40L),
      s"phash index must hold base + survivors only (the quarantined " +
        s"image-dup row 11 and the canon-cut rows never append): $inPh")
    assert(Validate.batchTrend(spark, root + "/report", k = 2)
      .filter(col("check_name") === "in_range:n_chars").count() == 2L)
  }
}

object CdcStreamSpecSchemas {
  import org.apache.spark.sql.types._
  val payload: StructType = StructType(Seq(
    StructField("transaction_id", StringType),
    StructField("amount", Schemas.preciseDecimal)))

}
