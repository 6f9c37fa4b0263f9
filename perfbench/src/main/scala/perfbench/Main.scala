package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  * {{{
  * perfbench.Main --workload <cdc_stream|cdc_backfill|query_mix> --seed <n>
  *   --seconds <n> --trace <0|1> --root <fresh run dir> --data <testdata dir>
  *   --queries <query list file> --report <report file>
  * }}}
  *
  * Prints, as its last stdout line, one JSON object with `correct`,
  * `attempted`, `failed` and `metrics`: the end-to-end metrics untraced,
  * the per-layer metrics traced. The report file gets everything the run
  * measured, plus the JVM flags, task threads, steal and the testdata
  * fingerprint; a traced run also writes its spans next to it.
  */
object Main {

  val Workloads = Seq("cdc_stream", "cdc_backfill", "query_mix")

  /** Every per-layer metric and its unit; a workload that does not enter
    * a layer reports 0 for it.
    */
  val LayerUnits: Seq[(String, String)] = Seq(
    "SparkEntry.build_s" -> "s", "SparkEntry.build_jobs" -> "count",
    "util.Tables.read_ms" -> "ms", "spark.plan_s" -> "s", "spark.exec_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s",
    "spark.executor_deser_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "analytics.wall_s" -> "s", "cdc.wall_s" -> "s", "ops.wall_s" -> "s", "sources.wall_s" -> "s",
    "gen.TransactionGen.rows_per_s" -> "rows/s", "gen.release_late_ms_p95" -> "ms",
    "streaming.FileTopic.produce_s" -> "s", "streaming.FileTopic.input_lag_ms_p95" -> "ms",
    "streaming.triggers" -> "count", "streaming.rows_per_trigger_p50" -> "rows",
    "streaming.trigger_ms_p50" -> "ms", "streaming.trigger_ms_p95" -> "ms",
    "streaming.phase.latestOffset_ms" -> "ms", "streaming.phase.getBatch_ms" -> "ms",
    "streaming.phase.queryPlanning_ms" -> "ms", "streaming.phase.addBatch_ms" -> "ms",
    "streaming.phase.walCommit_ms" -> "ms", "streaming.phase.commitOffsets_ms" -> "ms",
    "cdc.Envelope.parse_rows_per_s" -> "rows/s",
    "functions.DebeziumDecimal.decode_rows_per_s" -> "rows/s",
    "cdc.Envelope.malformed_dropped" -> "count",
    "streaming.CdcPipeline.state_rows" -> "rows",
    "streaming.CdcPipeline.state_memory_bytes" -> "bytes",
    "streaming.CdcPipeline.state_commit_ms_p50" -> "ms",
    "streaming.CdcPipeline.state_rows_updated" -> "rows",
    "streaming.CdcPipeline.upserts_per_input" -> "ratio",
    "sources.GraftStreamSink.publish_ms_p50" -> "ms",
    "sources.GraftStreamSink.publish_ms_p95" -> "ms",
    "sources.files_in_generation" -> "count")

  val EndToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_p90_ms" -> "ms",
    "throughput_per_s" -> "1/s", "process_cpu_s" -> "s", "peak_rss_mb" -> "MB")

  /** A progress line on stderr. */
  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap

  /** sha-256 over the testdata files' names and bytes. */
  def dataFingerprint(dir: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files.dataFiles(new java.io.File(dir)).foreach { f =>
      md.update(f.getName.getBytes("UTF-8"))
      md.update(java.nio.file.Files.readAllBytes(f.toPath))
    }
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def session(root: String, threads: Int): SparkSession = {
    val spark = graft.util.Tuning.tuned(SparkSession.builder())
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(root, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new java.io.File(root, "warehouse").getAbsolutePath)
      // transformWithState keeps its state in RocksDB
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload = o("workload")
    require(Workloads.contains(workload) || workload == "fingerprints",
      s"unknown workload $workload")
    val traced = o.getOrElse("trace", "0") == "1"
    val root = o("root")
    val jiffies0 = Proc.jiffies()
    val nproc = Runtime.getRuntime.availableProcessors
    // Task threads per workload. The mix's inputs are small, so its queries
    // are bound by driver-side work: on one task thread a pass is faster than
    // on two or four. The live stream's batches are small too: at half the
    // cores each trigger commits half as many RocksDB state stores and its
    // freshness is lower. Both leave cores to the JIT, the GC and the host's
    // other tenants. The backfill is per-row bound and uses every core.
    val threads = workload match {
      case "query_mix" => 1
      case "cdc_stream" => math.max(1, nproc / 2)
      case _ => nproc
    }
    val spark = session(root, threads)
    val sessionS = Proc.sinceJvmStartS()
    val listener = if (traced) Some(new LayerListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, root, o("data"), o("seed").toLong, o("seconds").toInt,
      new Tracer(traced), listener)
    if (workload == "fingerprints") {
      val bad = QueryMix.checkDumps(ctx, o("queries"), o("dump"))
      spark.stop()
      if (bad > 0) sys.exit(1)
      return
    }
    val out = workload match {
      case "cdc_stream" => Cdc.stream(ctx)
      case "cdc_backfill" => Cdc.backfill(ctx)
      case "query_mix" => QueryMix.run(ctx, o("queries"))
    }
    val e2e = (("setup_s" -> (sessionS + out.setupS)) +: out.e2e) :+ ("peak_rss_mb" -> Proc.peakRssMb())
    val layers = out.layers.toMap
    val unknown = layers.keySet -- LayerUnits.map(_._1)
    require(unknown.isEmpty, s"unlisted layer metrics: ${unknown.mkString(", ")}")
    val self = ctx.tracer.selfSeconds
    val steal = Proc.stealPct(jiffies0, Proc.jiffies())
    val spansFile = o("report").stripSuffix(".json") + ".spans.jsonl"
    if (traced) ctx.tracer.write(spansFile)

    def metric(units: Map[String, String])(kv: (String, Double)): (String, String) =
      kv._1 -> Json.obj(Seq("value" -> Json.num(kv._2), "unit" -> Json.str(units(kv._1))))
    val e2eJson = e2e.map(metric(EndToEndUnits.toMap))
    val layerJson = LayerUnits.map { case (k, _) => k -> layers.getOrElse(k, 0.0) }
      .map(metric(LayerUnits.toMap))
    val correct = out.failed == 0
    val report = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> o("seed"), "seconds" -> o("seconds"),
      "trace" -> (if (traced) "1" else "0"), "correct" -> correct.toString,
      "attempted" -> out.attempted.toString, "failed" -> out.failed.toString,
      "error_rate" -> Json.num(out.failed.toDouble / out.attempted),
      "end_to_end" -> Json.obj(e2eJson),
      "per_layer" -> (if (traced) Json.obj(layerJson) else "{}"),
      "self_s" -> Json.obj(self.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "spans" -> (if (traced) Json.str(spansFile) else "null"),
      "jvm_flags" -> Proc.jvmFlags.map(Json.str).mkString("[", ",", "]"),
      "task_threads" -> threads.toString,
      "nproc" -> nproc.toString,
      "steal_pct" -> Json.num(steal),
      "testdata_fp" -> Json.str(dataFingerprint(ctx.dataDir)),
      "info" -> Json.obj(out.info.map { case (k, v) => k -> Json.str(v) })))
    val w = new java.io.PrintWriter(o("report"), "UTF-8")
    try w.println(report) finally w.close()
    spark.stop()
    println(Json.obj(Seq("correct" -> correct.toString, "attempted" -> out.attempted.toString,
      "failed" -> out.failed.toString,
      "metrics" -> Json.obj(if (traced) layerJson else e2eJson))))
  }
}
