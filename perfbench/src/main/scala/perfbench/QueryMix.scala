package perfbench

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation}

import graft.SparkEntry
import graft.util.{Caches, Tables}

/** The query_mix workload: one client in a closed loop runs a fixed list
  * of registered queries over the bundled testdata, in a seeded order,
  * pass after pass. Each query is built by its registered function,
  * materialised in full through a `noop` write (a count could let column
  * pruning skip work), and its rows fingerprinted in the same action.
  */
object QueryMix {

  final case class Entry(name: String, expected: Gate.Fingerprint)

  /** The list file: one query per line, `name rows hashHi hashLo`. */
  def readList(path: String): Seq[Entry] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(n, r, h, lo) = l.split("\\s+")
      Entry(n, Gate.Fingerprint(r.toLong, h.toLong, lo.toLong))
    }.toSeq
    finally src.close()
  }

  /** The query module whose `queries` registers a row: the package of the
    * object that defines its function.
    */
  def moduleOf(fn: AnyRef): String =
    fn.getClass.getName.stripPrefix("graft.").takeWhile(_ != '.')

  val Modules = Seq("analytics", "cdc", "ops", "sources")
  val WarmPasses = 4

  /** Seconds one timed pass takes on a four-core box (~3.5 s measured). */
  val PassSeconds = 3.0

  /** Timed passes for a run of `seconds`. The count is fixed by the run
    * length, never by how fast passes go: the JVM keeps warming from pass
    * to pass, so letting a slow run fit one pass fewer would move every
    * per-pass median with the pass count. A faster engine does the same
    * work in less time.
    */
  def timedPasses(seconds: Int): Int = math.max(2, math.round(seconds / PassSeconds).toInt)

  private val observations = new java.util.concurrent.atomic.AtomicLong

  final case class Sample(name: String, pass: Int, ok: Boolean, latencyS: Double,
                          buildS: Double, planS: Double, execS: Double, buildJobs: Long,
                          got: Option[Gate.Fingerprint])

  /** One timed pass: its samples, the process CPU and the wall time it took. */
  final case class Pass(samples: Seq[Sample], cpuS: Double, wallS: Double)

  /** Runs one query once: build, (traced) plan, materialise. */
  def runOne(ctx: Ctx, name: String, pass: Int): Sample = {
    val fn = SparkEntry.queries(name)
    val req = s"$name#$pass"
    val jobs0 = ctx.counts().map(_.jobs)
    val t0 = System.nanoTime()
    var tb, tp = t0
    var jobs = 0L
    try {
      val obs = new Observation(s"fp_${observations.incrementAndGet()}")
      ctx.tracer("query", req) {
        val df: DataFrame = ctx.tracer("SparkEntry.build", req)(fn(ctx.spark, ctx.dataDir))
        tb = System.nanoTime()
        jobs = ctx.counts().map(_.jobs).getOrElse(0L) - jobs0.getOrElse(0L)
        val fp = Gate.fingerprintColumns(df)
        val observed = df.observe(obs, fp.head, fp.tail: _*)
        tp = System.nanoTime()
        if (ctx.traced) {
          ctx.tracer("spark.plan", req)(observed.queryExecution.executedPlan)
          tp = System.nanoTime()
        }
        ctx.tracer("spark.exec", req)(observed.write.format("noop").mode("overwrite").save())
      }
      val t1 = System.nanoTime()
      val m = obs.get
      val got = Gate.Fingerprint(m("rows").asInstanceOf[Long], m("hi").asInstanceOf[Long],
        m("lo").asInstanceOf[Long])
      Sample(name, pass, ok = true, (t1 - t0) / 1e9, (tb - t0) / 1e9,
        if (ctx.traced) (tp - tb) / 1e9 else 0.0, (t1 - tp) / 1e9, jobs, Some(got))
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $name failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(1).mkString)
        Sample(name, pass, ok = false, (System.nanoTime() - t0) / 1e9, 0, 0, 0, jobs, None)
    } finally Caches.sweep()
  }

  def run(ctx: Ctx, listFile: String): Outcome = {
    val entries = readList(listFile)
    val expected = entries.map(e => e.name -> e.expected).toMap
    val unknown = entries.map(_.name).filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"query list names unregistered queries: ${unknown.mkString(", ")}")
    val module = SparkEntry.allQueries.map(q => q.name -> moduleOf(q.fn)).toMap

    // input set-up, repeated: open every table and read its schema, and
    // fix the seeded order
    val setups = (0 until 3).map { r =>
      val t0 = System.nanoTime()
      ctx.tracer("setup.tables", s"rep-$r")(Tables.all.foreach(t => Tables(ctx.spark, ctx.dataDir, t).schema))
      (System.nanoTime() - t0) / 1e9
    }
    val order = new scala.util.Random(ctx.seed).shuffle(entries.map(_.name))
    // warm-up passes: the first builds the registry's build-once fixtures,
    // the rest let JIT and codegen settle before timing starts (after two,
    // passes still sped up by a third through the timed window)
    val w0 = System.nanoTime()
    val warm = (1 to WarmPasses).flatMap(p => order.map(n => runOne(ctx, n, -p)))
    val warmS = (System.nanoTime() - w0) / 1e9
    Main.note(f"warm-up: $WarmPasses passes of ${order.size} queries in $warmS%.2f s; slowest " +
      warm.sortBy(-_.latencyS).take(5).map(s => f"${s.name} ${s.latencyS}%.2f").mkString(", "))

    val counts0 = ctx.counts()
    val t0 = System.nanoTime()
    val jit0 = Proc.jitSeconds()
    val passes = (1 to timedPasses(ctx.seconds)).map { p =>
      val cpu0 = Proc.cpuSeconds()
      val p0 = System.nanoTime()
      val ss = order.map(n => runOne(ctx, n, p))
      Pass(ss, Proc.cpuSeconds() - cpu0, (System.nanoTime() - p0) / 1e9)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val jitS = Proc.jitSeconds() - jit0
    val execution = ctx.countMetrics(counts0, passes.size.toDouble)

    val samples = passes.flatMap(_.samples)
    val bad = (warm ++ samples).filter(s => !s.ok || s.got.exists(_ != expected(s.name)))
    bad.filter(_.ok).foreach(s => System.err.println(
      s"[perfbench] ${s.name} pass ${s.pass}: fingerprint ${s.got.get} != expected ${expected(s.name)}"))
    val ok = samples.filter(_.ok)
    val lat = ok.map(_.latencyS * 1000)
    val e2e = Seq(
      "latency_p50_ms" -> Stats.median(lat),
      "latency_p90_ms" -> Stats.percentile(lat, 90),
      "throughput_per_s" -> Stats.median(passes.map(p => p.samples.count(_.ok) / p.wallS)),
      "process_cpu_s" -> Stats.median(passes.map(_.cpuS)))
    val layers =
      if (!ctx.traced) Nil
      else {
        val readMs = Tables.all.flatMap(t => (0 until 5).map { _ =>
          val r0 = System.nanoTime()
          ctx.tracer("util.Tables.read", t)(Tables(ctx.spark, ctx.dataDir, t).schema)
          (System.nanoTime() - r0) / 1e6
        })
        def perPass(f: Seq[Sample] => Double) = Stats.median(passes.map(p => f(p.samples)))
        execution ++ Seq(
          "SparkEntry.build_s" -> Stats.median(ok.map(_.buildS)),
          "SparkEntry.build_jobs" -> perPass(_.map(_.buildJobs).sum.toDouble),
          "util.Tables.read_ms" -> Stats.median(readMs),
          "spark.plan_s" -> Stats.median(ok.map(_.planS)),
          "spark.exec_s" -> Stats.median(ok.map(_.execS))) ++
          Modules.map(m => s"$m.wall_s" -> perPass(_.filter(s => module(s.name) == m).map(_.latencyS).sum))
      }
    Outcome(attempted = warm.size + samples.size, failed = bad.size,
      setupS = Stats.median(setups) + warmS, e2e = e2e, layers = layers,
      info = Seq("latency_samples" -> lat.size.toString, "passes" -> passes.size.toString,
        "queries_per_pass" -> order.size.toString, "order" -> order.mkString(","),
        "jit_compile_s_in_window" -> f"$jitS%.3f",
        "pass_wall_s" -> passes.map(p => f"${p.wallS}%.3f").mkString(","),
        "pass_cpu_s" -> passes.map(p => f"${p.cpuS}%.3f").mkString(","),
        "timed_wall_s" -> f"$wallS%.3f"))
  }

  /** Compares the fingerprint of each listed query's dump (written by
    * `graft.tools.VerifySome`, which the DuckDB oracle check reads) with
    * the pinned one; returns the number of mismatches.
    */
  def checkDumps(ctx: Ctx, listFile: String, dumpDir: String): Int =
    readList(listFile).count { e =>
      val dir = new java.io.File(dumpDir, e.name)
      val got =
        if (!dir.isDirectory) None
        else {
          val df = ctx.spark.read.parquet(dir.getAbsolutePath)
          val fp = Gate.fingerprintColumns(df)
          val r = df.agg(fp.head, fp.tail: _*).head()
          Some(Gate.Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2)))
        }
      val ok = got.contains(e.expected)
      println(s"${if (ok) "PASS" else "FAIL"} ${e.name}: pinned ${e.expected}, dump ${got.getOrElse("missing")}")
      !ok
    }
}
