package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Validate
import graft.ops.Validate._
import graft.sources.Compaction
import graft.util.Tables

/** Constraint-sheet semantics on hand-built frames: every check kind's
  * violation rule (including the SQL-CHECK null-passes convention),
  * report/quarantine agreement, FK null-key handling, threshold edges,
  * and the generation-drift audit — the paths the fixed-corpus oracle
  * rows exercise only at their observed data shapes.
  */
class ValidateSpec extends AnyFunSuite {
  import GraftSpark.spark
  import spark.implicits._

  private def reportMap(rows: Array[org.apache.spark.sql.Row])
      : Map[String, (Long, Long, String)] =
    rows.map(r => r.getString(0) ->
      ((r.getLong(2), r.getLong(3), r.getString(5)))).toMap

  test("report: every row-level kind counts violations and NULL passes range/set/regex/satisfies") {
    val df = Seq(
      (1L, Some(5.0), Some("ok"), Some("a-1")),
      (2L, Some(50.0), Some("bad"), Some("b-2")),   // range + set violations
      (3L, None: Option[Double], None, None),        // nulls: pass range/set/regex
      (4L, Some(-1.0), Some("ok"), Some("zz"))       // range + regex violations
    ).toDF("id", "v", "tag", "code")
    val rep = report(df, Seq(
      NotNull("v"),
      InRange("v", 0.0, 10.0),
      InSet("tag", Seq("ok")),
      MatchesRegex("code", "^[ab]-"),
      Satisfies("v_small", col("v") < 6.0),
      Completeness("tag", 7000)))
    val m = reportMap(rep.collect())
    assert(m("not_null:v") == ((4L, 1L, "fail")))
    assert(m("in_range:v") == ((4L, 2L, "fail")), "nulls must pass InRange")
    assert(m("in_set:tag") == ((4L, 1L, "fail")), "nulls must pass InSet")
    assert(m("regex:code") == ((4L, 1L, "fail")), "nulls must pass regex")
    assert(m("satisfies:v_small") == ((4L, 1L, "fail")),
      "NULL predicate passes, only v=50 fails")
    assert(m("completeness:tag") == ((4L, 1L, "pass")),
      "3/4 non-null = 7500 bps >= 7000: violations reported, status pass")
  }

  test("completeness threshold edge: exactly at the bar passes, one below fails") {
    val df = (1 to 10).map(i => (i, if (i <= 8) Some(i) else None))
      .toDF("id", "x")
    val at = reportMap(report(df, Seq(Completeness("x", 8000))).collect())
    assert(at("completeness:x") == ((10L, 2L, "pass")), "8000/10000 exactly")
    val over = reportMap(report(df, Seq(Completeness("x", 8001))).collect())
    assert(over("completeness:x")._3 == "fail")
  }

  test("unique: single + composite keys, duplicates count both copies, null keys group") {
    val df = Seq((1, "a"), (1, "b"), (2, "a"), (2, "a"), (2, "a"), (3, "c"))
      .toDF("k", "s")
    val m = reportMap(report(df, Seq(
      Unique(Seq("k")), Unique(Seq("k", "s")))).collect())
    assert(m("unique:k") == ((6L, 5L, "fail")), "k=1 twice + k=2 thrice")
    assert(m("unique:k,s") == ((6L, 3L, "fail")), "(2,a) thrice")
    val withNulls = Seq(Some(1), None, None).toDF("k")
    val mn = reportMap(report(withNulls, Seq(Unique(Seq("k")))).collect())
    assert(mn("unique:k") == ((3L, 2L, "fail")), "null keys group together")
  }

  test("report: empty frame yields zero counts and passes") {
    val df = Seq.empty[(Int, String)].toDF("k", "s")
    val m = reportMap(report(df, Seq(
      NotNull("s"), Unique(Seq("k")))).collect())
    assert(m("not_null:s") == ((0L, 0L, "pass")))
    assert(m("unique:k") == ((0L, 0L, "pass")))
  }

  test("report rejects duplicate check names and empty sheets") {
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[IllegalArgumentException](
      report(df, Seq(NotNull("a"), NotNull("a"))))
    intercept[IllegalArgumentException](report(df, Nil))
  }

  test("constructor guards: inverted/NaN range bounds and null allow-list entries are caller bugs") {
    intercept[IllegalArgumentException](InRange("x", 5.0, 1.0))
    intercept[IllegalArgumentException](InRange("x", Double.NaN, 1.0))
    intercept[IllegalArgumentException](InRange("x", 0.0, Double.NaN))
    InRange("x", 1.0, 1.0) // point range is legal
    intercept[IllegalArgumentException](InSet("x", Seq("a", null)))
  }

  test("foreignKey: orphans counted, NULL keys pass, duplicate parents harmless") {
    val child = Seq((Some(1), "x"), (Some(2), "y"), (Some(9), "z"),
      (None, "w")).toDF("fk", "payload")
    val parent = Seq(1, 1, 2, 3).toDF("pk") // dup parent keys
    val row = foreignKey(child, Seq("fk"), parent, Seq("pk")).collect()(0)
    assert(row.getString(0) == "fk:fk->pk")
    assert(row.getLong(2) == 4L, "n_rows counts every child row")
    assert(row.getLong(3) == 1L, "only fk=9 orphans; NULL key passes")
    assert(row.getString(5) == "fail")
  }

  test("foreignKey: composite key and the all-green path") {
    val child = Seq((1, "a"), (2, "b")).toDF("k1", "k2")
    val parent = Seq((1, "a"), (2, "b"), (3, "c")).toDF("p1", "p2")
    val row = foreignKey(child, Seq("k1", "k2"), parent, Seq("p1", "p2"))
      .collect()(0)
    assert(row.getLong(3) == 0L && row.getString(5) == "pass")
  }

  test("quarantine/clean partition the frame exactly; reasons in declaration order") {
    val df = Seq((1L, 5.0, "ok"), (2L, 50.0, "bad"), (3L, -2.0, "ok"),
      (4L, 7.0, "fine")).toDF("id", "v", "tag")
    val checks = Seq(InRange("v", 0.0, 10.0), InSet("tag", Seq("ok", "fine")))
    val q = quarantine(df, checks)
      .select(col("id"), concat_ws(",", col("violations")).as("r"))
      .as[(Long, String)].collect().toMap
    assert(q == Map(2L -> "in_range:v,in_set:tag", 3L -> "in_range:v"),
      "multi-reason row lists checks in sheet order")
    val c = clean(df, checks).select("id").as[Long].collect().toSet
    assert(c == Set(1L, 4L))
    assert(!clean(df, checks).columns.contains("violations"))
    // report and quarantine compile the same violation expression
    val m = reportMap(report(df, checks).collect())
    assert(m("in_range:v")._2 == 2L && m("in_set:tag")._2 == 1L)
  }

  test("withViolations rejects key-level checks and claimed columns") {
    val df = Seq((1, 2)).toDF("a", "violations")
    intercept[IllegalArgumentException](
      withViolations(df.select(col("a")), Seq(Unique(Seq("a")))))
    intercept[IllegalArgumentException](
      withViolations(df, Seq(NotNull("a"))))
  }

  test("requireValid throws listing every failing check; passes silently when green") {
    val df = Seq((1, "x"), (1, "y")).toDF("k", "s")
    val e = intercept[IllegalStateException](
      requireValid(df, Seq(Unique(Seq("k")), NotNull("s"),
        Satisfies("k_big", col("k") > 10)), "t"))
    assert(e.getMessage.contains("unique:k (2 rows)"))
    assert(e.getMessage.contains("satisfies:k_big (2 rows)"))
    assert(!e.getMessage.contains("not_null"))
    requireValid(df, Seq(NotNull("s")), "t") // no throw
  }

  test("generationDrift: null jump and count escape flag drift; stable column stays stable") {
    val dir = java.nio.file.Files.createTempDirectory("graft_valspec_")
    val path = dir.toString + "/t"
    try {
      val g1 = (1 to 1000).map(i => (i.toLong, Some(s"s${i % 7}"), i * 1.5))
        .toDF("id", "tag", "score")
      Compaction.writeGen(g1, path)
      // g2: 30% of tags nulled (null jump), half the rows gone (count
      // escape hits EVERY column), score untouched in the kept rows
      val g2 = (1 to 500).map(i =>
        (i.toLong, if (i % 10 < 3) None else Some(s"s${i % 7}"), i * 1.5))
        .toDF("id", "tag", "score")
      Compaction.writeGen(g2, path)
      val rep = Validate.generationDrift(spark, path, Seq("id", "tag"))
        .collect().map(r => r.getString(0) -> r).toMap
      assert(rep("id").getString(7) == "drift", "row count halved")
      assert(rep("tag").getString(7) == "drift")
      assert(rep("tag").getLong(4) == 300000L, "30% nulls in micro units")
      assert(rep("id").getLong(1) == 1000L && rep("id").getLong(2) == 500L)
      // same counts, same null ratio → stable, wide thresholds
      val rep2 = Validate.generationDrift(spark, path, Seq("score"),
        nullJumpU = 1000L, countLoBps = 4000, countHiBps = 11000)
        .collect()(0)
      assert(rep2.getString(7) == "stable")
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator.asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("generationSchemaDrift: added/dropped/type_changed/unchanged all reported; two gens required") {
    val dir = java.nio.file.Files.createTempDirectory("graft_valsch_")
    val path = dir.toString + "/t"
    try {
      Compaction.writeGen(Seq((1L, "a", 1.5)).toDF("id", "tag", "score"),
        path)
      intercept[IllegalArgumentException](
        Validate.generationSchemaDrift(spark, path))
      Compaction.writeGen(Seq((1L, 2, true)).toDF("id", "score", "fresh"),
        path)
      val rows = Validate.generationSchemaDrift(spark, path).collect()
        .map(r => r.getString(0) ->
          ((Option(r.getString(1)), Option(r.getString(2)), r.getString(3))))
        .toMap
      assert(rows("id") == ((Some("bigint"), Some("bigint"), "unchanged")))
      assert(rows("tag") == ((Some("string"), None, "dropped")))
      assert(rows("score") == ((Some("double"), Some("int"), "type_changed")))
      assert(rows("fresh") == ((None, Some("boolean"), "added")))
      assert(rows.size == 4)
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator.asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("generationDrift requires two retained generations") {
    val dir = java.nio.file.Files.createTempDirectory("graft_valspec1_")
    val path = dir.toString + "/t"
    try {
      Compaction.writeGen(Seq((1, "a")).toDF("id", "tag"), path)
      val e = intercept[IllegalArgumentException](
        Validate.generationDrift(spark, path, Seq("id")))
      assert(e.getMessage.contains("two retained generations"))
    } finally {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator.asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("plan shape: one pruned scan for all row checks, +1 per Unique, shuffle-free quarantine") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def dig(p: SparkPlan): Seq[SparkPlan] = p.collect {
      case a: AdaptiveSparkPlanExec => dig(a.executedPlan)
      case q: QueryStageExec => dig(q.plan)
      case other => Seq(other)
    }.flatten
    val orders = Tables(spark, GraftSpark.sfDir, "orders")
    val rowOnly = Seq(NotNull("o_custkey"), InRange("o_totalprice", 0, 1e6),
      InSet("o_orderstatus", Seq("O", "F", "P")))

    val rep = report(orders, rowOnly)
    rep.collect()
    val scans = dig(rep.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    assert(scans.length == 1,
      s"3 row-level checks must share ONE scan:\n${rep.queryExecution.executedPlan}")
    val read = scans.head.requiredSchema.fieldNames.toSet
    assert(read == Set("o_custkey", "o_totalprice", "o_orderstatus"),
      s"scan must prune to the checked columns, read $read")

    val withU = report(orders, rowOnly :+ Unique(Seq("o_orderkey")))
    withU.collect()
    assert(dig(withU.queryExecution.executedPlan)
      .count(_.isInstanceOf[FileSourceScanExec]) == 2,
      "one extra scan for the Unique key group-by, not one per check")

    val quar = quarantine(orders, rowOnly)
    quar.collect()
    assert(dig(quar.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike => s }.isEmpty,
      "quarantine must stay map-only")
  }

  test("suggest: inference rules fire per shape, and every suggestion passes on its own data") {
    val df = Seq(
      (1L, Some("a"), Some(2.5), "x1"),
      (2L, Some("b"), Some(7.5), "x2"),
      (3L, Some("a"), None, "x3"),
      (4L, None, Some(-1.0), "x4"),
      (5L, Some("b"), Some(9.0), "x5")
    ).toDF("id", "tag", "v", "label")
    // id: bigint, no nulls, all distinct -> NotNull + InRange + Unique
    // tag: string, 1 null -> Completeness(8000); 2 distinct but
    //      2*20 > 4 non-null rows -> NO InSet (coverage rule)
    // v: double, 1 null -> Completeness(8000) + InRange(-1.0, 9.0)
    // label: string, 5 distinct = n -> Unique, no InSet (5*20 > 5)
    val sugg = suggest(df, Seq("id", "tag", "v", "label"))
    val names = sugg.map(c => (c.name, c)).toMap
    assert(names.contains("not_null:id") && names.contains("unique:id"))
    assert(names("in_range:id") == InRange("id", 1.0, 5.0))
    assert(names("completeness:tag") == Completeness("tag", 8000))
    assert(!names.contains("in_set:tag"), "coverage rule: 2*20 > 4")
    assert(names("in_range:v") == InRange("v", -1.0, 9.0))
    assert(names("completeness:v") == Completeness("v", 8000))
    assert(names.contains("unique:label") &&
      names.contains("not_null:label"))
    // SELF-CONSISTENCY: inferred constraints hold on the source frame
    val rep = report(df, sugg).filter(col("status") === "fail").collect()
    assert(rep.isEmpty, s"suggestions must pass on their own data: " +
      rep.map(_.getString(0)).mkString(","))
    // low-cardinality set fires once coverage is met
    val many = (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "even"
      else "odd")).toDF("id", "par")
    val s2 = suggest(many, Seq("par"))
    assert(s2.contains(InSet("par", Seq("even", "odd"))),
      s"sorted set expected: $s2")
    assert(report(many, s2).filter(col("status") === "fail").count() == 0)
  }

  test("publishReport is idempotent per generation; historyTrend windows the last k with per-check deltas") {
    val p = java.nio.file.Files.createTempDirectory("graft_valh")
      .toString + "/hist"
    val sheet = Seq(NotNull("v"): Check, InRange("v", 0.0, 10.0))
    def frame(bad: Int) = ((1 to (10 - bad)).map(_.toDouble) ++
      Seq.fill(bad)(99.0)).toDF("v")
    publishReport(spark, p, 1L, report(frame(0), sheet))
    publishReport(spark, p, 2L, report(frame(2), sheet))
    // republish of generation 2 REPLACES its rows — byte-identical
    // trail, no duplicates (the crashed-and-retried publish hook)
    publishReport(spark, p, 2L, report(frame(2), sheet))
    assert(Compaction.readTable(spark, p).count() == 4,
      "2 checks x 2 generations after an idempotent republish")
    publishReport(spark, p, 3L, report(frame(5), sheet))
    // k = 2: only generations 2 and 3 are RETURNED, but the lag runs
    // over the full trail (r15 ADVICE fix) — generation 2's delta vs
    // generation 1 (outside the window, inside the feed) is carried
    // instead of silently nulled
    val t2 = historyTrend(spark, p, k = 2)
      .select("check_name", "generation", "violation_u", "delta_u", "status")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getString(4)))
    assert(t2.toSeq == Seq(
      ("in_range:v", 2L, 200000L, Some(200000L), "fail"),
      ("in_range:v", 3L, 500000L, Some(300000L), "fail"),
      ("not_null:v", 2L, 0L, Some(0L), "pass"),
      ("not_null:v", 3L, 0L, Some(0L), "pass")), t2.mkString(","))
    // k past the recorded depth: the whole trail, gen 1 leads
    val t9 = historyTrend(spark, p, k = 99)
    assert(t9.count() == 6)
    assert(t9.filter(col("generation") === 1L &&
      col("delta_u").isNotNull).count() == 0)
    // only genuine report frames are recordable
    val e = intercept[IllegalArgumentException](
      publishReport(spark, p, 4L, frame(0)))
    assert(e.getMessage.contains("Validate.report frame"))
  }

  test("suggest: NaN values kill the range suggestion, not the whole sheet (r13 ADVICE)") {
    val df = Seq(
      (1L, 2.5, 1.0),
      (2L, Double.NaN, 2.0),
      (3L, 7.5, 3.0)
    ).toDF("id", "noisy", "clean")
    val sugg = suggest(df, Seq("id", "noisy", "clean"))
    val names = sugg.map(_.name).toSet
    // the NaN column keeps its non-range rules but gets no InRange —
    // NaN compares greater than any finite hi bound, so a range could
    // never pass on this data (self-consistency)
    assert(!names.contains("in_range:noisy"), s"got $sugg")
    assert(names.contains("not_null:noisy"))
    // sibling columns are untouched by the NaN next door
    assert(sugg.contains(InRange("clean", 1.0, 3.0)))
    assert(sugg.contains(InRange("id", 1.0, 3.0)))
    // and the sheet still self-passes end-to-end
    assert(report(df, sugg).filter(col("status") === "fail").count() == 0)
    // all-NaN column: min/max over non-NaN is null -> no range either
    val allNan = Seq((1L, Double.NaN), (2L, Double.NaN)).toDF("id", "x")
    assert(!suggest(allNan, Seq("x")).exists(_.name == "in_range:x"))
  }

  test("suggest runs at most two actions however many columns qualify (r13 verdict #6)") {
    // AQE splits one action into a job per shuffle stage, so the unit
    // that pins the N+1 -> 2 fix is QUERY EXECUTIONS (collects), not
    // Spark jobs: one stats pass + ONE shared values job for all four
    // qualifying set columns (the old code collected once per column)
    val df = (1 to 200).map { i =>
      (i.toLong, s"t${i % 3}", s"u${i % 4}", s"v${i % 5}", s"w${i % 6}",
        i.toDouble, s"free_$i")
    }.toDF("id", "c1", "c2", "c3", "c4", "num", "wide").cache()
    df.count() // materialize outside the counted window
    // the execution-listener bus is async: deliver this count()'s (and
    // earlier tests') events before the listener can see them
    org.apache.spark.GraftCpuMeter.drain(spark.sparkContext)
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = actions.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      suggest(df, Seq("id", "c1", "c2", "c3", "c4", "num", "wide"))
      org.apache.spark.GraftCpuMeter.drain(spark.sparkContext)
      val last = actions.get()
      assert(last >= 1 && last <= 2,
        s"suggest must cost at most 2 actions (stats pass + one " +
          s"shared values job), ran $last")
    } finally {
      spark.listenerManager.unregister(l)
      df.unpersist()
    }
  }

  test("in_set on a numeric column rejects unparseable string values loudly (r13 ADVICE)") {
    val df = Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("id", "amt")
    // the trap: a persisted contract canonicalizes to strings; 'abc'
    // casts to NULL against a double column and isin goes three-valued
    val bad = Seq(InSet("amt", Seq("10.0", "abc")): Check)
    val e1 = intercept[IllegalArgumentException](report(df, bad))
    assert(e1.getMessage.contains("abc") &&
      e1.getMessage.contains("three-valued"))
    val e2 = intercept[IllegalArgumentException](quarantine(df, bad))
    assert(e2.getMessage.contains("abc"))
    // parseable string values keep Spark's ordinary coercion — and the
    // violation COUNTS (the silent-zero mode this guard closes)
    val ok = Seq(InSet("amt", Seq("10.0", "20.0")): Check)
    val rep = reportMap(report(df, ok).collect())("in_set:amt")
    assert(rep == ((3L, 1L, "fail")), s"got $rep")
    // string columns are untouched (identity cast can't null out)
    val sdf = Seq((1L, "x"), (2L, "abc")).toDF("id", "s")
    assert(reportMap(report(sdf, Seq(InSet("s", Seq("x")))).collect())(
      "in_set:s") == ((2L, 1L, "fail")))
  }

  test("NoMatch: a contained match violates, clean and NULL pass — the scrub-guarantee contract kind") {
    val df = Seq((1L, Some("has a@b.co inside")), (2L, Some("clean")),
      (3L, None: Option[String])).toDF("id", "t")
    val sheet = Seq(NoMatch("t", "[a-z]+@[a-z.]+"): Check)
    assert(reportMap(report(df, sheet).collect())("no_match:t") ==
      ((3L, 1L, "fail")))
    // quarantine/clean agree with the report (shared violation expr)
    assert(quarantine(df, sheet).select("id").as[Long].collect().toSeq ==
      Seq(1L))
    assert(clean(df, sheet).count() == 2L)
  }

  test("serialize/deserialize round-trips every data-only check, hostile characters included") {
    val hostile = "a|b=c%d\ne:f g" // separator, '=', '%', newline, space
    val cases = Seq[Check](
      NotNull(hostile),
      InRange(hostile, -1.5e300, 42.0),
      InSet(hostile, Seq("x", hostile, "")),
      MatchesRegex(hostile, "^[1-3]-|x\\|y$"),
      NoMatch(hostile, "^[1-3]-|x\\|y$"),
      Completeness(hostile, 9990),
      Unique(Seq(hostile, "plain")))
    cases.foreach { c =>
      val line = serialize(c)
      assert(!line.exists(_.isControl), s"token must be single-line: $c")
      assert(deserialize(line) == c, s"round-trip broke: $c -> $line")
    }
    // non-string set values canonicalize to strings — the documented
    // both-sides-identical semantics TrainExport.commit relies on
    assert(deserialize(serialize(InSet("k", Seq(1L, 2.5, true)))) ==
      InSet("k", Seq("1", "2.5", "true")))
    intercept[IllegalArgumentException](
      serialize(Satisfies("p", col("x") > 0)))
    intercept[IllegalArgumentException](deserialize("bogus|x"))
    intercept[IllegalArgumentException](deserialize("in_range|c|1.0"))
  }

  test("attachValidated: per-batch routing complements, reasons, report, unique in the report only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_valstream_")
    val root = dir.toString
    val checks = Seq(InRange("v", 0.0, 10.0), InSet("tag", Seq("ok")),
      Unique(Seq("id")))
    val input = MemoryStream[(Long, Double, String)]
    val q = graft.streaming.StreamingDedup.attachValidated(
        input.toDS().toDF("id", "v", "tag"), checks,
        s"$root/clean", s"$root/quar", s"$root/rep")
      .option("checkpointLocation", s"$root/ckpt").start()
    try {
      input.addData((1L, 5.0, "ok"), (2L, 50.0, "ok"), (3L, 5.0, "bad"))
      q.processAllAvailable()
      input.addData((4L, 1.0, "ok"), (4L, 1.0, "ok"), (5L, -3.0, "bad"))
      q.processAllAvailable()
    } finally q.stop()
    val clean = spark.read.parquet(s"$root/clean")
      .select("batch", "id").as[(Int, Long)].collect().sorted.toSeq
    assert(clean == Seq((0, 1L), (1, 4L), (1, 4L)),
      "clean keeps BOTH copies of the duplicate — Unique routes nothing")
    val quar = spark.read.parquet(s"$root/quar")
      .select(col("batch"), col("id"), col("reasons"))
      .as[(Int, Long, String)].collect().toSet
    assert(quar == Set((0, 2L, "in_range:v"), (0, 3L, "in_set:tag"),
      (1, 5L, "in_range:v,in_set:tag")))
    // complement: every input row landed exactly once on one side
    assert(spark.read.parquet(s"$root/clean").count() +
      spark.read.parquet(s"$root/quar").count() == 6L)
    val rep = spark.read.parquet(s"$root/rep")
      .select(col("batch"), col("check_name"), col("n_violations"),
        col("status"))
      .as[(Int, String, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(rep((0, "unique:id")) == ((0L, "pass")))
    assert(rep((1, "unique:id")) == ((2L, "fail")), "the dup pair")
    assert(rep((0, "in_range:v")) == ((1L, "fail")))
    assert(rep((1, "in_set:tag")) == ((1L, "fail")))
    assert(rep.size == 6, "3 checks x 2 batches")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(dir).iterator.asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
  }

  test("attachValidated rejects a sheet with no row-level checks and claimed column names") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Double)]
    intercept[IllegalArgumentException](
      graft.streaming.StreamingDedup.attachValidated(
        input.toDS().toDF("id", "v"), Seq(Unique(Seq("id"))),
        "/tmp/x1", "/tmp/x2", "/tmp/x3"))
    for (claimed <- Seq("batch", "reasons", "violations")) {
      val e = intercept[IllegalArgumentException](
        graft.streaming.StreamingDedup.attachValidated(
          input.toDS().toDF("id", claimed), Seq(NotNull("id")),
          "/tmp/x1", "/tmp/x2", "/tmp/x3"))
      assert(e.getMessage.contains(claimed), e.getMessage)
    }
  }

  test("registered validate queries run green on sf0.001 and split pass/fail as designed") {
    val d = GraftSpark.sfDir
    val byName = Validate.queries.map(q => q.name -> q).toMap
    val cons = byName("validate_constraints").fn(spark, d).collect()
      .map(r => r.getString(0) -> r.getString(5)).toMap
    assert(cons("not_null:o_custkey") == "pass")
    assert(cons("unique:o_orderkey") == "pass")
    assert(cons("in_set:o_orderstatus") == "fail", "status P exists")
    assert(cons("regex:o_orderpriority") == "fail", "classes 4-5 exist")
    val fk = byName("validate_fk").fn(spark, d).collect()
      .map(r => r.getString(0) -> r.getString(5)).toMap
    assert(fk("fk:l_orderkey->o_orderkey") == "pass")
    assert(fk("fk:o_custkey->c_custkey") == "fail")
    val drift = byName("validate_generation_drift").fn(spark, d).collect()
      .map(r => r.getString(0) -> r.getString(7)).toMap
    assert(drift == Map("o_custkey" -> "stable", "o_totalprice" -> "stable",
      "o_orderdate" -> "drift"), "exactly the nulled column drifts")
    val quar = byName("validate_quarantine").fn(spark, d)
    assert(quar.count() > 0, "zh/no-tail corpus would make the row vacuous")
  }
}
