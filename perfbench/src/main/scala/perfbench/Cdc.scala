package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.cdc.Envelope
import graft.functions.DebeziumDecimal
import graft.gen.TransactionGen
import graft.sources.{Compaction, GraftStreamSink}
import graft.streaming.{CdcPipeline, FileTopic}

/** The two CDC workloads: one pipeline, driven two ways.
  *
  * `FileTopic.source` → `Envelope.parse` → `Envelope.toRows` (precise
  * decimal decode) → `CdcPipeline.toChangeRecs` → `materializeTws`
  * (RocksDB state) → `writeStream.format("graft")`.
  *
  *  - cdc_stream: an open loop. A generator thread releases one
  *    pre-produced segment into the live topic directory every
  *    [[StreamSpec.intervalMs]], on schedule whether or not the stream
  *    keeps up, and the query runs with the default trigger.
  *  - cdc_backfill: the whole log is present before the query starts
  *    and `Trigger.AvailableNow` drains it; the drain repeats on a fresh
  *    checkpoint and sink until the run's time is used.
  */
object Cdc {

  /** Small segments of a hot, skewed key set: per-trigger cost dominates. */
  val StreamLog = LogProfile(perSegment = 200, hotKeys = 200, hotShare = 0.8,
    coldKeys = 1000000L, creates = 0.3, updates = 0.55, dupShare = 0.03,
    lateShare = 0.1, malformedEvery = 97)

  /** A large backlog of mostly inserts over uniform keys: per-row cost
    * and state growth dominate.
    */
  val BackfillLog = LogProfile(perSegment = 8000, hotKeys = 1, hotShare = 0.0,
    coldKeys = 100000000000L, creates = 0.92, updates = 0.06, dupShare = 0.01,
    lateShare = 0.05, malformedEvery = 997)

  /** The stream's schedule: a segment every `intervalMs`; `burstSegments`
    * released at once and applied before the schedule starts, then
    * `rampSegments` on the schedule before the timed window opens.
    */
  final case class StreamSpec(intervalMs: Long, burstSegments: Int, rampSegments: Int)
  val Stream = StreamSpec(intervalMs = 100, burstSegments = 10, rampSegments = 30)
  val BackfillSegments = 8
  val WarmDrains = 2
  val BackfillPartitions = 4
  val SetupReps = 3

  /** Progress events of executed micro-batches, as delivered. */
  private final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.durationMs.containsKey("addBatch")) events.add(e.progress)
    def batches: Seq[StreamingQueryProgress] = events.asScala.toSeq.sortBy(_.batchId)
  }

  /** One executed micro-batch as the benchmark reads it. */
  private final case class Batch(id: Long, startMs: Long, commitMs: Long, inputRows: Long,
                                 raw: Long, parsed: Long, lo: Option[Long], hi: Option[Long],
                                 phases: Map[String, Long], stateRows: Long,
                                 stateMemory: Long, stateCommitMs: Long, stateUpdated: Long)

  private def batchOf(p: StreamingQueryProgress): Batch = {
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val obs = p.observedMetrics.asScala
    def obsLong(name: String, field: String): Option[Long] =
      obs.get(name).flatMap(r => Option(r.getAs[Any](field))).map(_.toString.toLong)
    val st = Option(p.stateOperators).getOrElse(Array.empty)
    Batch(p.batchId, start, start + d.getOrElse("triggerExecution", 0L), p.numInputRows,
      obsLong("raw", "n").getOrElse(0L), obsLong("parsed", "n").getOrElse(0L),
      obsLong("parsed", "lo"), obsLong("parsed", "hi"), d,
      st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum,
      st.map(_.commitTimeMs).sum, st.map(_.numRowsUpdated).sum)
  }

  /** The pipeline over a topic directory, with two observations the
    * benchmark reads back: raw records in, and parsed envelopes with the
    * lowest and highest segment tag they carry.
    */
  def pipeline(spark: SparkSession, topicDir: String): DataFrame = {
    val raw = FileTopic.source(spark, topicDir).observe("raw", count(lit(1)).as("n"))
    val parsed = Envelope.parse(raw).observe("parsed", count(lit(1)).as("n"),
      min(col("source.txId")).as("lo"), max(col("source.txId")).as("hi"))
    val changes = CdcPipeline.toChangeRecs(Envelope.toRows(parsed), "transaction_id", "ts_ms")
    CdcPipeline.materializeTws(changes).toDF()
  }

  /** Starts the pipeline into the graft sink. Traced, the batch is
    * persisted before the sink call, so the sink's own time is a span.
    */
  private def start(ctx: Ctx, df: DataFrame, ckpt: String, sink: String,
                    availableNow: Boolean): StreamingQuery = {
    val w0 = df.writeStream.option("checkpointLocation", ckpt)
    val w = if (availableNow) w0.trigger(Trigger.AvailableNow()) else w0
    if (!ctx.traced) w.format("graft").start(sink)
    else {
      val graftSink = new GraftStreamSink(ctx.spark, sink, OutputMode.Append())
      val publish: (DataFrame, Long) => Unit = { (batch, id) =>
        val kept = batch.persist()
        try {
          ctx.tracer("streaming.batch.compute", s"batch-$id")(kept.count())
          ctx.tracer("sources.GraftStreamSink.publish", s"batch-$id")(graftSink.addBatch(id, kept))
        } finally kept.unpersist()
      }
      w.foreachBatch(publish).start()
    }
  }

  /** One Kafka key per segment: the first `segment-<i>` that FileTopic's
    * partitioner (`pmod(hash(key), segments)`) sends to partition k.
    */
  private def segmentKeys(spark: SparkSession, segments: Int): Seq[String] = {
    val found = spark.range(segments * 64L)
      .withColumn("key", concat(lit("segment-"), col("id")))
      .withColumn("p", pmod(hash(col("key").cast("binary")), lit(segments)))
      .groupBy("p").agg(min_by(col("key"), col("id")).as("key"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    require(found.size == segments, s"no key found for ${segments - found.size} segments")
    (0 until segments).map(found)
  }

  /** Produces the log with one `FileTopic.produce` call. Keyed by segment
    * (the stream), each segment lands in its own partition file, which is
    * what the generator releases; otherwise records keep their primary
    * key and spread over `partitions` partition files (the backlog).
    * Returns each partition's data file.
    */
  private def produce(ctx: Ctx, p: LogProfile, arrivalMs: Long, segments: Int,
                      topicDir: String, keyBySegment: Boolean, partitions: Int): Seq[java.io.File] = {
    val log = EnvelopeGen.log(ctx.spark, ctx.seed, p, arrivalMs, 0L, segments.toLong * p.perSegment)
    val records =
      if (!keyBySegment) log
      else log.withColumn("key",
        element_at(typedLit(segmentKeys(ctx.spark, segments)), (col("seg") + 1).cast("int")))
    val n = if (keyBySegment) segments else partitions
    ctx.tracer("streaming.FileTopic.produce", "log") {
      FileTopic.produce(records.select("key", "value", "idx"), topicDir, EnvelopeGen.Topic,
        nPartitions = n, ordering = Seq(col("idx")))
    }
    (0 until n).map { k =>
      val fs = Files.dataFiles(new java.io.File(topicDir, s"partition=$k"))
      require(fs.size == 1, s"partition $k holds ${fs.size} files")
      fs.head
    }
  }

  /** Repeats the input set-up [[SetupReps]] times in fresh directories
    * and keeps the last; returns its files and the median set-up time.
    */
  private def setUp(ctx: Ctx, p: LogProfile, arrivalMs: Long, segments: Int,
                    keyBySegment: Boolean): (String, Seq[java.io.File], Double, Double) = {
    val runs = (0 until SetupReps).map { r =>
      val dir = ctx.dir(s"topic-$r")
      val t0 = System.nanoTime()
      val files = ctx.tracer("setup.produce_log", s"rep-$r")(
        produce(ctx, p, arrivalMs, segments, dir, keyBySegment, BackfillPartitions))
      val dt = (System.nanoTime() - t0) / 1e9
      Main.note(f"set-up $r: $segments segments produced in $dt%.2f s")
      (dir, files, dt)
    }
    runs.init.foreach(r => Files.deleteTree(new java.io.File(r._1)))
    val (dir, files, lastS) = runs.last
    (dir, files, Stats.median(runs.map(_._3)), lastS)
  }

  private def awaitBatches(log: ProgressLog, done: Seq[Batch] => Boolean,
                           timeoutMs: Long): Seq[Batch] = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var bs = log.batches.map(batchOf)
    while (!done(bs) && System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      bs = log.batches.map(batchOf)
    }
    bs
  }

  private def consumed(bs: Seq[Batch]): Seq[(Long, Long)] =
    bs.flatMap(b => for (lo <- b.lo; hi <- b.hi) yield (lo, hi))

  /** Correctness of a finished pipeline: the sink's final state against
    * batch applyCdc over the same log, and the malformed records the
    * stream dropped against the planted count.
    */
  private def check(ctx: Ctx, topicDir: String, sink: String, bs: Seq[Batch],
                    planted: Long): (Long, Seq[(String, String)]) = {
    val spark = ctx.spark
    val mismatched = Gate.stateMismatches(
      Gate.referenceState(spark, topicDir), Gate.sinkState(Compaction.readTable(spark, sink)))
    val dropped = bs.map(b => b.raw - b.parsed).sum
    val failed = (if (mismatched == 0) 0 else 1) + (if (dropped == planted) 0 else 1)
    if (mismatched != 0) System.err.println(s"[perfbench] final state: $mismatched rows differ from applyCdc")
    if (dropped != planted) System.err.println(s"[perfbench] malformed dropped $dropped, planted $planted")
    (failed, Seq("state_mismatched_rows" -> mismatched.toString,
      "malformed_dropped" -> dropped.toString, "malformed_planted" -> planted.toString))
  }

  private def filesInGeneration(ctx: Ctx, sink: String): Long = {
    val main = new org.apache.hadoop.fs.Path(sink)
    val fs = main.getFileSystem(ctx.spark.sparkContext.hadoopConfiguration)
    Files.dataFiles(new java.io.File(Compaction.resolve(fs, main).toUri.getPath)).size
  }

  /** Per-layer metrics the two CDC workloads share, over the timed
    * batches `bs`; `dropped` counts malformed records over the whole log.
    */
  private def layerMetrics(ctx: Ctx, topicDir: String, bs: Seq[Batch], dropped: Long,
                           logRows: Long, sink: String, produceS: Double): Seq[(String, Double)] = {
    val spark = ctx.spark
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def p95(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.percentile(xs, 95)
    def phase(k: String) = med(bs.map(_.phases.getOrElse(k, 0L).toDouble))
    def rate(rows: Long)(action: => Unit): Double =
      rows / Stats.median((0 until 3).map { _ =>
        val t0 = System.nanoTime(); action; (System.nanoTime() - t0) / 1e9
      })
    val rawLog = spark.read.schema(FileTopic.recordSchema).parquet(topicDir)
    val parseRate = rate(logRows)(ctx.tracer("cdc.Envelope.parse", "isolated") {
      Envelope.parse(rawLog).write.format("noop").mode("overwrite").save()
    })
    val amounts = ctx.dir("decode-input")
    Envelope.parse(rawLog).select(coalesce(col("after.amount"), col("before.amount")).as("amount"))
      .write.mode("overwrite").parquet(amounts)
    val amountRows = spark.read.parquet(amounts).count()
    val decodeRate = rate(amountRows)(ctx.tracer("functions.DebeziumDecimal.decode", "isolated") {
      spark.read.parquet(amounts).select(DebeziumDecimal.fromMode("precise", col("amount")))
        .write.format("noop").mode("overwrite").save()
    })
    val genRate = rate(logRows)(ctx.tracer("gen.TransactionGen", "isolated") {
      TransactionGen.batch(spark, logRows, ctx.seed).write.format("noop").mode("overwrite").save()
    })
    val timedIds = bs.map(b => s"batch-${b.id}").toSet
    val publish = ctx.tracer.all
      .filter(sp => sp.name == "sources.GraftStreamSink.publish" && timedIds(sp.req))
      .map(_.durNs / 1e6)
    val inputRows = bs.map(_.inputRows).sum
    Seq(
      "gen.TransactionGen.rows_per_s" -> genRate,
      "streaming.FileTopic.produce_s" -> produceS,
      "streaming.triggers" -> bs.size.toDouble,
      "streaming.rows_per_trigger_p50" -> med(bs.map(_.inputRows.toDouble)),
      "streaming.trigger_ms_p50" -> phase("triggerExecution"),
      "streaming.trigger_ms_p95" -> p95(bs.map(_.phases.getOrElse("triggerExecution", 0L).toDouble)),
      "streaming.phase.latestOffset_ms" -> phase("latestOffset"),
      "streaming.phase.getBatch_ms" -> phase("getBatch"),
      "streaming.phase.queryPlanning_ms" -> phase("queryPlanning"),
      "streaming.phase.addBatch_ms" -> phase("addBatch"),
      "streaming.phase.walCommit_ms" -> phase("walCommit"),
      "streaming.phase.commitOffsets_ms" -> phase("commitOffsets"),
      "cdc.Envelope.parse_rows_per_s" -> parseRate,
      "functions.DebeziumDecimal.decode_rows_per_s" -> decodeRate,
      "cdc.Envelope.malformed_dropped" -> dropped.toDouble,
      "streaming.CdcPipeline.state_rows" -> bs.lastOption.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.CdcPipeline.state_memory_bytes" -> bs.lastOption.map(_.stateMemory.toDouble).getOrElse(0.0),
      "streaming.CdcPipeline.state_commit_ms_p50" -> med(bs.map(_.stateCommitMs.toDouble)),
      "streaming.CdcPipeline.state_rows_updated" -> bs.map(_.stateUpdated).sum.toDouble,
      "streaming.CdcPipeline.upserts_per_input" ->
        (if (inputRows == 0) 0.0 else bs.map(_.stateUpdated).sum.toDouble / inputRows),
      "sources.GraftStreamSink.publish_ms_p50" -> med(publish),
      "sources.GraftStreamSink.publish_ms_p95" -> p95(publish),
      "sources.files_in_generation" -> filesInGeneration(ctx, sink).toDouble)
  }

  def stream(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val spec = Stream
    val scheduledFrom = spec.burstSegments
    val timedFrom = spec.burstSegments + spec.rampSegments
    val segments = timedFrom + (ctx.seconds * 1000 / spec.intervalMs).toInt
    val (_, files, setupS, produceS) = setUp(ctx, StreamLog, spec.intervalMs, segments,
      keyBySegment = true)
    val live = ctx.dir("live")
    def release(k: Int): Unit = {
      val part = new java.io.File(live, s"partition=$k")
      part.mkdirs()
      java.nio.file.Files.move(files(k).toPath, new java.io.File(part, files(k).getName).toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

    val log = new ProgressLog
    spark.streams.addListener(log)
    val sink = ctx.dir("sink") + "/t"
    val q = start(ctx, pipeline(spark, live), ctx.dir("checkpoint"), sink, availableNow = false)
    try {
      // warm-up, first a burst that pays state-store creation, codegen and
      // the first generations, then a ramp on the timed schedule, so the
      // timed window opens on a stream already in its steady state
      val warm0 = System.nanoTime()
      (0 until scheduledFrom).foreach(release)
      q.processAllAvailable()
      awaitBatches(log, bs => Gate.unapplied((0 until scheduledFrom).map(_.toLong),
        consumed(bs)).isEmpty, 30000)

      val released = new Array[Long](segments)
      val tStart = System.currentTimeMillis() + 20
      def scheduled(k: Int): Long = tStart + (k - scheduledFrom) * spec.intervalMs
      val gen = new Thread(() => {
        (scheduledFrom until segments).foreach { k =>
          val wait = scheduled(k) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          release(k)
          released(k) = System.currentTimeMillis()
        }
      }, "perfbench-generator")
      gen.setDaemon(true)
      gen.start()
      val t0 = scheduled(timedFrom)
      Thread.sleep(math.max(0L, t0 - System.currentTimeMillis()))
      val warmS = (System.nanoTime() - warm0) / 1e9
      val cpu0 = Proc.cpuSeconds()
      val jit0 = Proc.jitSeconds()
      val counts0 = ctx.counts()
      Main.note(f"warm-up: $timedFrom segments in $warmS%.2f s")
      gen.join()
      val all = (0 until segments).map(_.toLong)
      q.processAllAvailable()
      val bs = awaitBatches(log, bs => Gate.unapplied(all, consumed(bs)).isEmpty, 60000)
      val cpu = Proc.cpuSeconds() - cpu0
      val jit = Proc.jitSeconds() - jit0
      val execution = ctx.countMetrics(counts0, 1.0)
      val missing = Gate.unapplied(all, consumed(bs))
      if (missing.nonEmpty) System.err.println(s"[perfbench] segments never applied: ${missing.mkString(",")}")

      // a segment's freshness: commit of the batch that consumed it,
      // minus the time it was due to arrive
      val commitOf: Long => Option[Long] = k =>
        bs.find(b => b.lo.exists(_ <= k) && b.hi.exists(_ >= k)).map(_.commitMs)
      val timedSegs = timedFrom until segments
      val fresh = timedSegs.flatMap(k => commitOf(k.toLong).map(c => (c - scheduled(k)).toDouble))
      val timed = bs.filter(_.hi.exists(_ >= timedFrom))
      val tEnd = timed.lastOption.map(_.commitMs).getOrElse(System.currentTimeMillis())
      val e2e = Seq(
        "latency_p50_ms" -> Stats.median(fresh),
        "latency_p90_ms" -> Stats.percentile(fresh, 90),
        "throughput_per_s" -> timedSegs.size.toLong * StreamLog.perSegment / ((tEnd - t0) / 1000.0),
        "process_cpu_s" -> cpu)
      q.stop()
      val (badChecks, checkInfo) = check(ctx, live, sink, bs,
        EnvelopeGen.plantedMalformed(ctx.seed, StreamLog, segments.toLong * StreamLog.perSegment))
      val layers =
        if (!ctx.traced) Nil
        else {
          timed.foreach(b => ctx.tracer.recordEpochMs("streaming.trigger", s"batch-${b.id}",
            b.startMs, b.commitMs))
          // the age of the oldest released segment still waiting when a
          // trigger starts
          val lag = timed.map { b =>
            val waiting = (scheduledFrom until segments).filter(k =>
              released(k) <= b.startMs && commitOf(k.toLong).exists(_ >= b.commitMs))
            if (waiting.isEmpty) 0.0 else (b.startMs - waiting.map(released(_)).min).toDouble
          }
          val late = timedSegs.map(k => (released(k) - scheduled(k)).toDouble)
          execution ++
            layerMetrics(ctx, live, timed, bs.map(b => b.raw - b.parsed).sum,
              segments.toLong * StreamLog.perSegment, sink, produceS) ++ Seq(
            "streaming.FileTopic.input_lag_ms_p95" -> (if (lag.isEmpty) 0.0 else Stats.percentile(lag, 95)),
            "gen.release_late_ms_p95" -> Stats.percentile(late, 95))
        }
      Outcome(attempted = segments + 2L, failed = missing.size + badChecks, setupS = setupS + warmS,
        e2e = e2e, layers = layers,
        info = checkInfo ++ Seq("freshness_samples" -> fresh.size.toString,
          "timed_triggers" -> timed.size.toString,
          "offered_rows_per_s" -> (StreamLog.perSegment * 1000.0 / spec.intervalMs).toString,
          "freshness_ms" -> fresh.map(_.toLong).mkString(","),
          "jit_compile_s_in_window" -> jit.toString,
          "trigger_ms" -> timed.map(_.phases.getOrElse("triggerExecution", 0L)).mkString(",")))
    } finally {
      if (q.isActive) q.stop()
      spark.streams.removeListener(log)
    }
  }

  def backfill(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val segments = BackfillSegments
    val (topic, _, setupS, produceS) = setUp(ctx, BackfillLog, 0L, segments,
      keyBySegment = false)
    val logRows = segments.toLong * BackfillLog.perSegment
    val planted = EnvelopeGen.plantedMalformed(ctx.seed, BackfillLog, logRows)

    def drain(ep: Int, log: ProgressLog): (Double, String) = {
      val sink = ctx.dir(s"episode-$ep") + "/sink"
      val t0 = System.nanoTime()
      val q = ctx.tracer("streaming.drain", s"episode-$ep") {
        val q = start(ctx, pipeline(spark, topic), ctx.dir(s"episode-$ep/checkpoint"), sink,
          availableNow = true)
        q.awaitTermination()
        q
      }
      val dt = (System.nanoTime() - t0) / 1e9
      q.exception.foreach(e => throw e)
      (dt, sink)
    }

    // warm-up drain: state-store, codegen and sink first use
    val warmLog = new ProgressLog
    spark.streams.addListener(warmLog)
    val warmS = try (1 to WarmDrains).map { w =>
      val dt = drain(-w, warmLog)._1
      Files.deleteTree(new java.io.File(ctx.root, s"episode--$w"))
      dt
    }.sum finally spark.streams.removeListener(warmLog)
    val counts0 = ctx.counts()

    val episodes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, String, Seq[Batch])]
    val tStart = System.nanoTime()
    while (episodes.size < 2 || (System.nanoTime() - tStart) / 1e9 < ctx.seconds) {
      val log = new ProgressLog
      spark.streams.addListener(log)
      try {
        val cpu0 = Proc.cpuSeconds()
        val (dt, sink) = drain(episodes.size, log)
        val cpu = Proc.cpuSeconds() - cpu0
        val bs = awaitBatches(log, bs => bs.map(_.raw).sum >= logRows, 30000)
        episodes.lastOption.foreach(e => Files.deleteTree(new java.io.File(e._3).getParentFile))
        episodes += ((dt, cpu, sink, bs))
      } finally spark.streams.removeListener(log)
    }
    val execution = ctx.countMetrics(counts0, episodes.size.toDouble)
    val (_, _, sink, bs) = episodes.last
    val missing = Gate.unapplied((0 until segments).map(_.toLong), consumed(bs))
    val (badChecks, checkInfo) = check(ctx, topic, sink, bs, planted)
    val drains = episodes.map(_._1).toSeq
    val e2e = Seq(
      "latency_p50_ms" -> Stats.median(drains.map(_ * 1000)),
      "latency_p90_ms" -> Stats.percentile(drains.map(_ * 1000), 90),
      "throughput_per_s" -> Stats.median(drains.map(logRows / _)),
      "process_cpu_s" -> Stats.median(episodes.map(_._2).toSeq))
    val layers = if (!ctx.traced) Nil else execution ++
      layerMetrics(ctx, topic, bs, bs.map(b => b.raw - b.parsed).sum, logRows, sink, produceS) ++ Seq(
      "streaming.FileTopic.input_lag_ms_p95" -> 0.0,
      "gen.release_late_ms_p95" -> 0.0)
    Outcome(attempted = segments * episodes.size + 2L, failed = missing.size + badChecks,
      setupS = setupS + warmS, e2e = e2e, layers = layers,
      info = checkInfo ++ Seq("episodes" -> episodes.size.toString,
        "backlog_envelopes" -> logRows.toString))
  }
}
