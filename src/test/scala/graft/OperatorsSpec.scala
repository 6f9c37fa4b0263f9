package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsofJoin, Materialize, RangeJoin}

class OperatorsSpec extends AnyFunSuite {
  import GraftSpark.spark
  import spark.implicits._

  // (key, ts, id, value)
  private lazy val trades = Seq(
    ("a", 10L, 1L, 1.0), ("a", 20L, 2L, 2.0), ("a", 30L, 3L, 3.0),
    ("b", 15L, 4L, 4.0)).toDF("k", "ts", "id", "v")
  private lazy val quotes = Seq(
    ("a", 5L, 100L, 0.5), ("a", 20L, 101L, 0.7), ("a", 25L, 102L, 0.9),
    ("c", 1L, 103L, 9.9)).toDF("k", "ts", "id", "q")

  test("asof strict: latest strictly-prior right row per left row") {
    val got = AsofJoin.asofJoin(trades, quotes, Seq("k"), "ts", "ts",
        Seq("q" -> "last_q"), strict = true)
      .select("id", "last_q").as[(Long, Option[Double])]
      .collect().toMap
    assert(got == Map[Long, Option[Double]](
      1L -> Some(0.5),  // ts=10: only quote at 5
      2L -> Some(0.5),  // ts=20 strict: quote at 20 excluded
      3L -> Some(0.9),  // ts=30: quote at 25
      4L -> None))      // key b: no quotes
  }

  test("asof non-strict includes same-ts right rows") {
    val got = AsofJoin.asofJoin(trades, quotes, Seq("k"), "ts", "ts",
        Seq("q" -> "last_q"), strict = false)
      .select("id", "last_q").as[(Long, Option[Double])]
      .collect().toMap
    assert(got(2L) == Some(0.7))
  }

  test("banded range join equals the naive theta join") {
    val li = Seq((1L, 3.0), (2L, 10.0), (3L, 47.0)).toDF("id", "v")
    val bands = Seq((10L, 2, 4), (11L, 9, 12), (12L, 46, 50), (13L, 1, 2))
      .toDF("bid", "lo", "hi")
    val naive = li.join(bands, col("v").between(col("lo"), col("hi")))
      .select("id", "bid").as[(Long, Long)].collect().toSet
    val banded = RangeJoin.banded(li, col("v"), bands, col("lo"), col("hi"), 4.0)
      .select("id", "bid").as[(Long, Long)].collect().toSet
    assert(banded == naive && naive.nonEmpty)
  }

  test("latestByKey / firstByKey / applyCdc") {
    val ch = Seq(
      ("k1", 1L, "c", "v1"), ("k1", 3L, "u", "v3"), ("k1", 2L, "u", "v2"),
      ("k2", 1L, "c", "w1"), ("k2", 2L, "d", "w2"),
      ("k3", 5L, "c", "x1")).toDF("key", "ts", "op", "payload")
    val latest = Materialize.latestByKey(ch, Seq("key"), Seq(col("ts")))
      .select("key", "payload").as[(String, String)].collect().toMap
    assert(latest == Map("k1" -> "v3", "k2" -> "w2", "k3" -> "x1"))
    val first = Materialize.firstByKey(ch, Seq("key"), Seq(col("ts")))
      .select("key", "payload").as[(String, String)].collect().toMap
    assert(first == Map("k1" -> "v1", "k2" -> "w1", "k3" -> "x1"))
    val state = Materialize.applyCdc(ch, Seq("key"), Seq(col("ts")))
      .select("key", "payload").as[(String, String)].collect().toMap
    assert(state == Map("k1" -> "v3", "k3" -> "x1")) // k2 deleted
  }

  test("idempotentParquetUpsert: ON CONFLICT DO NOTHING across batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString + "/t"
    val b1 = Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value")
    val b2 = Seq(("k2", "DUP"), ("k3", "v3")).toDF("key", "value")
    graft.streaming.CdcPipeline.idempotentParquetUpsert(spark, b1, dir, Seq("key"))
    graft.streaming.CdcPipeline.idempotentParquetUpsert(spark, b2, dir, Seq("key"))
    val got = spark.read.parquet(dir)
      .select("key", "value").as[(String, String)].collect().toMap
    // k2's duplicate delivery must NOT overwrite the first write
    assert(got == Map("k1" -> "v1", "k2" -> "v2", "k3" -> "v3"))
  }

  test("idempotentParquetUpsert rewrites only the buckets a batch touches") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_b").toString + "/t"
    def upsert(df: org.apache.spark.sql.DataFrame): Unit =
      graft.streaming.CdcPipeline.idempotentParquetUpsert(
        spark, df, dir, Seq("key"), nBuckets = 8)
    // batch 1 spreads keys over several buckets
    upsert((0 until 64).map(i => (s"k$i", s"v$i")).toDF("key", "value"))
    def filesPerBucket(): Map[String, Set[String]] =
      Files.list(Paths.get(dir)).iterator.asScala
        .filter(p => p.getFileName.toString.startsWith("__bucket="))
        .map { p =>
          p.getFileName.toString ->
            Files.list(p).iterator.asScala.map(_.getFileName.toString)
              .filterNot(_.startsWith(".")).toSet
        }.toMap
    val before = filesPerBucket()
    assert(before.size > 1, s"expected several buckets, got ${before.keySet}")
    // batch 2: a single key → a single bucket; every other bucket's
    // files must remain untouched (the O(table)-per-batch rewrite is gone)
    upsert(Seq(("k1", "DUP"), ("brandnew", "x")).toDF("key", "value"))
    val after = filesPerBucket()
    val touched = before.keySet.filter(b =>
      before(b) != after.getOrElse(b, Set.empty))
    assert(touched.size <= 2, s"batch of 2 keys rewrote buckets $touched")
    assert(before.keySet.subsetOf(after.keySet))
    // and the merge semantics held
    val got = spark.read.parquet(dir)
      .select("key", "value").as[(String, String)].collect().toMap
    assert(got("k1") == "v1" && got("brandnew") == "x" && got.size == 65)
  }

  test("idempotentParquetUpsert recovers a marker-less sink with a different bucket count") {
    // The crash window the _graft_buckets marker closes: data written,
    // marker not yet. A later caller with a DIFFERENT nBuckets must not
    // trust directory ids (8-bucket ids all satisfy < 16 but keys hash
    // differently under 16) — it must re-bucket the committed rows
    // before resuming pruned merges, or first-write-wins breaks.
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_r").toString + "/t"
    val b1 = (0 until 64).map(i => (s"k$i", s"v$i")).toDF("key", "value")
    graft.streaming.CdcPipeline.idempotentParquetUpsert(
      spark, b1, dir, Seq("key"), nBuckets = 8)
    // simulate the crash: marker lost
    val marker = java.nio.file.Paths.get(dir, "_graft_buckets")
    java.nio.file.Files.delete(marker)
    // next batch arrives configured with 16 buckets and duplicate keys
    val b2 = (0 until 64).map(i => (s"k$i", "DUP")).toDF("key", "value")
    graft.streaming.CdcPipeline.idempotentParquetUpsert(
      spark, b2, dir, Seq("key"), nBuckets = 16)
    val got = spark.read.parquet(dir)
      .select("key", "value").as[(String, String)].collect()
    // no key duplicated across bucket dirs, every first write preserved
    assert(got.length == 64, s"expected 64 rows, got ${got.length}")
    assert(got.toMap == (0 until 64).map(i => s"k$i" -> s"v$i").toMap)
    // marker healed with the new count; buckets consistent with keys
    assert(new String(java.nio.file.Files.readAllBytes(marker)).trim == "16")
    val badBucket = spark.read.parquet(dir)
      .filter(col("__bucket") =!= pmod(hash(col("key")), lit(16)).cast("int"))
      .count()
    assert(badBucket == 0L, s"$badBucket rows in a bucket their key does not hash to")
    // no leftover staging/retired dirs
    val parent = java.nio.file.Paths.get(dir).getParent
    import scala.jdk.CollectionConverters._
    val leftovers = java.nio.file.Files.list(parent).iterator.asScala
      .map(_.getFileName.toString).filter(_.contains("__graft_")).toList
    assert(leftovers.isEmpty, s"recovery left $leftovers behind")
  }

  test("idempotentParquetUpsert completes a recovery interrupted between renames") {
    // Crash window inside recoverBucketLayout: staged table fully written
    // (marker inside), main renamed to .__graft_pre_recovery, then crash
    // before staged→main. The next upsert must finish the swap and merge
    // against the committed rows — NOT treat the missing main dir as a
    // first batch (which would abandon everything in the retired dir).
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_c").toString + "/t"
    val b1 = Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value")
    graft.streaming.CdcPipeline.idempotentParquetUpsert(spark, b1, dir, Seq("key"))
    import org.apache.hadoop.fs.{FileUtil, Path}
    val fs = new Path(dir).getFileSystem(conf)
    // staged = committed table re-written with marker inside (what
    // recoverBucketLayout produces); then main renamed away = the crash
    FileUtil.copy(fs, new Path(dir), fs, new Path(dir + ".__graft_recovery"),
      false, conf)
    assert(fs.rename(new Path(dir), new Path(dir + ".__graft_pre_recovery")))
    val b2 = Seq(("k1", "DUP"), ("k3", "v3")).toDF("key", "value")
    graft.streaming.CdcPipeline.idempotentParquetUpsert(spark, b2, dir, Seq("key"))
    val got = spark.read.parquet(dir)
      .select("key", "value").as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "v1", "k2" -> "v2", "k3" -> "v3"),
      s"committed rows lost across interrupted recovery: $got")
    assert(!fs.exists(new Path(dir + ".__graft_recovery")))
    assert(!fs.exists(new Path(dir + ".__graft_pre_recovery")))
  }

  test("idempotentParquetUpsert refuses a missing table with unrecognizable recovery siblings") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_f").toString + "/t"
    val b1 = Seq(("k1", "v1")).toDF("key", "value")
    graft.streaming.CdcPipeline.idempotentParquetUpsert(spark, b1, dir, Seq("key"))
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir).getFileSystem(conf)
    // retired exists but no staged dir: not a state recovery can produce —
    // must fail loudly rather than write a fresh table over it
    assert(fs.rename(new Path(dir), new Path(dir + ".__graft_pre_recovery")))
    val e = intercept[IllegalStateException] {
      graft.streaming.CdcPipeline.idempotentParquetUpsert(
        spark, Seq(("k9", "x")).toDF("key", "value"), dir, Seq("key"))
    }
    assert(e.getMessage.contains("interrupted recovery"))
    // the committed rows are still where the error said to look
    assert(fs.exists(new Path(dir + ".__graft_pre_recovery")))
  }

  test("idempotentParquetUpsert clears a leftover retired dir after a completed swap") {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_l").toString + "/t"
    val b1 = Seq(("k1", "v1")).toDF("key", "value")
    graft.streaming.CdcPipeline.idempotentParquetUpsert(spark, b1, dir, Seq("key"))
    import org.apache.hadoop.fs.{FileUtil, Path}
    val fs = new Path(dir).getFileSystem(conf)
    // crash after staged→main but before retired cleanup
    FileUtil.copy(fs, new Path(dir), fs, new Path(dir + ".__graft_pre_recovery"),
      false, conf)
    graft.streaming.CdcPipeline.idempotentParquetUpsert(
      spark, Seq(("k2", "v2")).toDF("key", "value"), dir, Seq("key"))
    assert(!fs.exists(new Path(dir + ".__graft_pre_recovery")),
      "retired dir from a completed swap was not cleaned up")
    val got = spark.read.parquet(dir)
      .select("key", "value").as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "v1", "k2" -> "v2"))
  }

  test("catalog introspection exposes registered tables and their schemas (O4)") {
    // The reference's O4 is psql-side introspection (\dt / information
    // schema); the engine-side equivalent is the Spark catalog. Assert
    // the surface actually answers: session catalog lists registered
    // views, listColumns matches the parquet schema, and SQL-side
    // DESCRIBE agrees with the DataFrame schema.
    val d = GraftSpark.sfDir
    graft.util.Tables(spark, d, "lineitem").createOrReplaceTempView("v_introspect")
    assert(spark.catalog.tableExists("v_introspect"))
    assert(spark.catalog.listTables().collect().exists(_.name == "v_introspect"))
    val cols = spark.catalog.listColumns("v_introspect")
      .collect().map(c => c.name -> c.dataType).toMap
    assert(cols("l_orderkey") == "bigint" && cols("l_quantity") == "double"
      && cols("l_shipdate") == "timestamp_ntz", s"unexpected schema: $cols")
    val described = spark.sql("DESCRIBE v_introspect")
      .select("col_name", "data_type").as[(String, String)].collect().toMap
    assert(described == cols.map(identity),
      "DESCRIBE and catalog.listColumns disagree")
    spark.catalog.dropTempView("v_introspect")
  }

  test("registered query names are unique") {
    // a duplicate name silently drops a query in the driver-facing map
    val names = SparkEntry.allQueries.map(_.name)
    val dups = names.groupBy(identity).filter(_._2.size > 1).keys
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
  }

  test("approx_percentile stays within GK rank error vs exact (q51 semantics)") {
    val li = graft.util.Tables(spark, GraftSpark.sfDir, "lineitem")
      .select(col("l_extendedprice").as("x"))
    val Seq(approx50, exact50) = li
      .agg(approx_percentile(col("x"), lit(0.5), lit(1000)),
        percentile(col("x"), lit(0.5)))
      .head().toSeq.map(_.toString.toDouble)
    // accuracy=1000 ⇒ rank error ≤ 1/1000; translate to a generous
    // value tolerance on this distribution
    assert(math.abs(approx50 - exact50) / exact50 < 0.05,
      s"approx=$approx50 exact=$exact50")
  }

  test("malformed rows are isolated, not fatal, on file reads (file-side O12)") {
    // the consumer's error-skip contract applied to file sources:
    // PERMISSIVE mode routes bad records to _corrupt_record
    val dir = java.nio.file.Files.createTempDirectory("graft_badjson")
    val f = dir.resolve("data.json")
    java.nio.file.Files.writeString(f,
      """{"id": 1, "v": "ok"}
        |{not json at all
        |{"id": 3, "v": "also ok"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_corrupt_record",
        org.apache.spark.sql.types.StringType)))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(dir.toString).cache()
    assert(df.filter(col("_corrupt_record").isNull).count() == 2)
    assert(df.filter(col("_corrupt_record").isNotNull).count() == 1)
    // DROPMALFORMED: the skip variant
    val dropped = spark.read
      .schema(org.apache.spark.sql.types.StructType(schema.take(2)))
      .option("mode", "DROPMALFORMED").json(dir.toString)
    assert(dropped.count() == 2)
    df.unpersist()
    java.nio.file.Files.deleteIfExists(f)
    java.nio.file.Files.deleteIfExists(dir)
  }

  test("approx_count_distinct stays within HLL++ error vs exact (q36 semantics)") {
    val ev = graft.util.Tables(spark, GraftSpark.sfDir, "events")
    val exact = ev.select(countDistinct(col("user_id"))).head().getLong(0)
    // default rsd = 0.05; allow 3 sigma
    val approx = ev.select(approx_count_distinct(col("user_id"))).head().getLong(0)
    val err = math.abs(approx - exact).toDouble / exact
    assert(err <= 0.15, s"approx=$approx exact=$exact err=$err")
  }

  test("partitioned events read prunes partitions at file-listing time") {
    val path = graft.sources.FileFormats.writePartitionedEvents(
      spark, GraftSpark.sfDir)
    val df = spark.read.parquet(path).filter(col("event_type") === "click")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.replaceAll("\\s", "")
      .matches("(?s).*PartitionFilters:.*event_type.*"), plan)
    // and the pruning is real: strictly fewer files opened than exist
    val scanned = df.select(input_file_name()).distinct().count()
    val all = spark.read.parquet(path)
      .select(input_file_name()).distinct().count()
    assert(scanned > 0 && scanned < all, s"scanned $scanned of $all files")
  }

  test("bucketed co-located join plans with no shuffle exchange") {
    graft.analytics.RelationalQueries.buildBucketedTables(spark, GraftSpark.sfDir)
    // disable broadcast so the planner must merge-join — at fact-fact
    // scale that is the only option, and bucketing must kill the shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.table("g_orders_b").join(spark.table("g_lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      val exec = j.queryExecution.executedPlan
      assert(exec.toString.contains("SortMergeJoin"), exec.toString)
      val shuffles = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty, s"bucketed join still shuffles:\n$exec")
      assert(j.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("saltedJoin spreads a single hot key across salts, result unchanged") {
    import graft.operators.SaltedJoin
    // pathological skew: EVERY probe row has the same join key
    val probe = spark.range(10000).select(lit(1L).as("k"), col("id").as("v"))
    val build = Seq((1L, "hot"), (2L, "cold")).toDF("bk", "name")
    val joined = SaltedJoin.saltedJoin(probe, build, Seq("k"), Seq("bk"), salts = 8)
    assert(joined.count() == 10000) // exactly the plain join's cardinality
    assert(joined.filter(col("name") =!= "hot").count() == 0)
    // the hot key's rows really fan out over the salt space (the salt is
    // a row hash, so distinct salts ≈ min(salts, distinct rows))
    val usedSalts = probe
      .select(pmod(xxhash64(col("k"), col("v")), lit(8)).as("s"))
      .distinct().count()
    assert(usedSalts == 8, s"expected all 8 salts in use, got $usedSalts")
  }

  test("idempotentParquetUpsert within-batch duplicate winner is replay-stable") {
    val dirA = java.nio.file.Files.createTempDirectory("graft_sink_r").toString + "/a"
    val dirB = java.nio.file.Files.createTempDirectory("graft_sink_r").toString + "/b"
    // duplicate key in ONE batch, no natural order — the stable-hash
    // tiebreak must pick the same winner on a replayed attempt
    val batch = Seq(("k", "first"), ("k", "second"), ("q", "z"))
      .toDF("key", "value")
    graft.streaming.CdcPipeline.idempotentParquetUpsert(spark, batch, dirA, Seq("key"))
    graft.streaming.CdcPipeline.idempotentParquetUpsert(spark, batch, dirB, Seq("key"))
    val a = spark.read.parquet(dirA).select("key", "value")
      .as[(String, String)].collect().toMap
    val b = spark.read.parquet(dirB).select("key", "value")
      .as[(String, String)].collect().toMap
    assert(a == b)
    // and a redelivery of the same batch into the committed table is a no-op
    graft.streaming.CdcPipeline.idempotentParquetUpsert(spark, batch, dirA, Seq("key"))
    val a2 = spark.read.parquet(dirA).select("key", "value")
      .as[(String, String)].collect().toMap
    assert(a2 == a)
  }

  test("AQE splits a skewed sort-merge join partition (skew=true in the final plan)") {
    // The engine's answer to skew WITHOUT manual salting (q44 is the
    // manual variant): AQE detects an oversized partition at the shuffle
    // boundary and splits it across tasks. Thresholds lowered so the
    // test-sized skew (one key carrying ~95% of rows) trips the same
    // code path a hot key trips at 100 TB.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
    conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // per-row high-entropy payload: a constant would be folded past
      // the join and a low-entropy one compressed below any threshold —
      // either way the skewed partition's shuffle bytes would vanish
      def pay(seed: String) = md5(concat(lit(seed), col("id")))
      val left = spark.range(120000)
        .select(when(col("id") < 114000, 0L).otherwise(col("id")).as("k"),
          pay("l").as("p"))
      val right = spark.range(3000).select(col("id").as("k2"), pay("r").as("q"))
      // count()/write would spawn a separate QueryExecution — collect
      // through j's OWN execution so the adaptive plan we inspect is the
      // one that actually ran
      val j = left.join(right, col("k") === col("k2")).select("k", "p")
      // key 0 matches once ×114000; keys 114000+ have no right match
      assert(j.collect().length == 114000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE skew-split SMJ in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("BandedRangeJoinRule: BETWEEN theta-join becomes a hash-joinable plan, result unchanged") {
    import graft.plans.BandedRangeJoinRule
    val conf = spark.conf
    val li = Seq((1L, 3.0), (2L, 10.0), (3L, 47.0), (4L, 11.9), (5L, -2.0))
      .toDF("id", "v")
    val bands = Seq((10L, 2.0, 4.0), (11L, 9.0, 12.0), (12L, 46.0, 50.0),
      (13L, 1.0, 2.0), (14L, -3.0, -1.0)).toDF("bid", "lo", "hi")
    def q() = li.join(bands, col("v") >= col("lo") && col("v") <= col("hi"))
      .select("id", "bid")
    val expected = q().as[(Long, Long)].collect().toSet
    assert(expected.nonEmpty)
    // baseline plan: no equi-key → nested-loop join
    assert(q().queryExecution.executedPlan.toString.contains("NestedLoop"))
    val prevOpt = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prevOpt :+ BandedRangeJoinRule
    conf.set(BandedRangeJoinRule.WidthKey, "4.0")
    try {
      val got = q()
      val plan = got.queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop"),
        s"rule did not remove the nested-loop join:\n$plan")
      assert(plan.contains("__graft_bucket_p"),
        s"expected the bucket equi-key in:\n$plan")
      assert(got.as[(Long, Long)].collect().toSet == expected)
      // point side on the RIGHT also matches (mirrored rewrite)
      val mirrored = bands.join(li,
          col("lo") <= col("v") && col("hi") >= col("v"))
        .select("id", "bid")
      assert(!mirrored.queryExecution.executedPlan.toString.contains("NestedLoop"))
      assert(mirrored.as[(Long, Long)].collect().toSet == expected)
      // rule leaves equi-joins and non-range joins alone
      val equi = li.join(bands, col("id") === col("bid")).queryExecution
        .optimizedPlan.toString
      assert(!equi.contains("__graft_bucket"))
    } finally {
      spark.experimental.extraOptimizations = prevOpt
      conf.unset(BandedRangeJoinRule.WidthKey)
    }
  }

  test("identical aggregation subtrees reuse one shuffle (Reused* in the final plan)") {
    // Exchange reuse is what makes self-join-shaped pipelines (the
    // dedup inverted-index pair join, q61's multiset ops) pay for their
    // shared subtree ONCE — at 100 TB recomputing the index per join
    // side would double the dominant cost.
    val conf = spark.conf
    val prev = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // keep both sides as shuffles
    try {
      val li = graft.util.Tables(spark, GraftSpark.sfDir, "lineitem")
      val agg = li.groupBy("l_orderkey").agg(count(lit(1)).as("n"))
      val j = agg.as("a")
        .join(agg.withColumnRenamed("n", "n2"), "l_orderkey")
        .select("l_orderkey")
      j.collect() // execute j's own adaptive plan
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("Reused"),
        s"expected a reused exchange/stage in:\n$plan")
    } finally prev match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("keySkew: grouped-counts subtree shared (Reused* in the final plan)") {
    val df = graft.analytics.ProfileQueries.keySkew(
      graft.util.Tables(spark, GraftSpark.sfDir, "lineitem"),
      "l_suppkey", "lineitem.l_suppkey")
    val rows = df.collect()
    assert(rows.length == 1 && rows(0).getAs[Long]("n_rows") > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Reused"),
      s"grouped-counts exchange not reused — both one-row aggregates recompute the groupBy:\n$plan")
  }

  test("runtime bloom filter injected on the probe side of a selective shuffle join") {
    // Catalyst's InjectRuntimeFilter: a selective filter on the build
    // side becomes a bloom-filter semi-filter on the probe side's scan,
    // killing never-joining fact rows before the shuffle — at 100 TB
    // this is the difference between shuffling the whole fact table and
    // shuffling the matching slice. Thresholds lowered so testdata-sized
    // tables take the same code path.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1B")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = graft.util.Tables(spark, GraftSpark.sfDir, "lineitem")
      val sel = graft.util.Tables(spark, GraftSpark.sfDir, "orders")
        .filter(col("o_orderstatus") === "P" && col("o_totalprice") > 200000)
      val j = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .select("l_orderkey", "l_extendedprice", "o_totalprice")
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected a bloom-filter runtime filter in:\n$optimized")
      // and the filtered result is still correct vs the unfiltered join
      // (count() re-plans under the conf current at call time)
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val expected = li.join(sel, col("l_orderkey") === col("o_orderkey")).count()
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      assert(j.count() == expected)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("compaction: fewer files, content identical, idempotent") {
    // a flat 16-file dir is converted to the generational layout and
    // compacted into one newly published generation; the crash window
    // between a generation's write and its publish is covered by
    // "generational compaction: crashed unpublished generation is
    // invisible and cleaned up" below
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_cmp").toString + "/t"
    val df = spark.range(10000).toDF("id").withColumn("v", col("id") * 2)
    df.repartition(16).write.parquet(dir)
    val st = Compaction.compactGen(spark, dir, targetBytes = 1L << 26)
    assert(st.rewritten && st.filesBefore == 16 && st.filesAfter == 1,
      s"got $st")
    assert(Compaction.readTable(spark, dir).as[(Long, Long)].collect().toSet ==
      (0L until 10000L).map(i => (i, i * 2)).toSet)
    // already compact → cheap no-op
    val st2 = Compaction.compactGen(spark, dir, targetBytes = 1L << 26)
    assert(!st2.rewritten && st2.filesAfter == 1)
  }

  test("generational compaction under concurrent readers: every read is bit-exact, zero transient errors") {
    // Chaos companion to the crash-window spec. A rewrite that renames
    // part-files in place pulls them out from under an in-flight
    // reader — a reader that planned its scan against the dir loses
    // its files mid-flight (FAILED_READ_FILE).
    // The generational layout fixes the CLASS: part-file paths under a
    // published generation are immutable until a full compaction cycle
    // later, readers resolve a single-pointer manifest, and pruning
    // lags publishing by two generations. Contract here is therefore
    // STRICT: every concurrent read must succeed AND be bit-exact —
    // no whitelist of "transient" errors at all.
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_chaos").toString + "/t"
    val n = 20000L
    val expectSum = n * (n - 1) / 2
    spark.range(n).toDF("id").repartition(16).write.parquet(dir)
    Compaction.toGenerational(spark, dir)

    @volatile var churning = true
    @volatile var writerErr: Throwable = null
    val writer = new Thread(() => {
      try {
        for (_ <- 1 to 5) {
          // re-fragment through the SAME publish/prune cycle, then
          // compact back — two manifest swaps per iteration
          Compaction.writeGen(
            Compaction.readTable(spark, dir).repartition(16), dir)
          Compaction.compactGen(spark, dir, targetBytes = 1L << 26)
        }
      } catch { case t: Throwable => writerErr = t }
      finally churning = false
    })
    var ok = 0
    writer.start()
    try {
      while (churning) {
        val r = Compaction.readTable(spark, dir)
          .agg(count(lit(1)), sum(col("id"))).head()
        assert(r.getLong(0) == n && r.getLong(1) == expectSum,
          s"TORN READ: count=${r.getLong(0)} sum=${r.getLong(1)}")
        ok += 1
      }
    } finally writer.join()
    assert(writerErr == null, s"writer failed: $writerErr")
    assert(ok >= 5, s"only $ok clean reads during churn")
    // final state intact, compacted, and pruned to within grace
    assert(Compaction.readTable(spark, dir).count() == n)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(_.isDirectory).map(_.getPath.getName).sorted
    assert(gens.length <= 3, s"prune failed: ${gens.mkString(",")}")
  }

  test("two-writer fencing: a stale writer cannot clobber a newer generation") {
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_fence").toString + "/t"
    val main = new org.apache.hadoop.fs.Path(dir)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    spark.range(100).toDF("id").write.parquet(dir)
    Compaction.toGenerational(spark, dir)

    // writer A claims the next generation and writes its data…
    val aN = Compaction.claimNext(fs, main, "slow-writer-A")
    val aDir = new org.apache.hadoop.fs.Path(main, f"g$aN%09d")
    spark.range(5).toDF("id").write.parquet(aDir.toString)
    // …then stalls. Writer B starts after A: its claim MUST skip A's
    // number (distinct dirs — no mid-write clobber), and B publishes.
    Compaction.writeGen(spark.range(200).toDF("id"), dir)
    val curAfterB = Compaction.readTable(spark, dir)
    assert(curAfterB.count() == 200, "B's publish did not become current")
    // A's unpublished dir survived B's publish+prune (live claim lease)
    assert(fs.exists(aDir), "a live writer's claimed dir was pruned")

    // A finally wakes up and tries to publish → fenced, loudly
    val e = intercept[Compaction.FencedWriteException] {
      Compaction.publish(fs, conf, main, f"g$aN%09d")
    }
    assert(e.getMessage.contains("fenced"))
    // the fence cleaned up the loser and left the winner untouched
    assert(!fs.exists(aDir), "fenced writer's data dir not cleaned up")
    assert(Compaction.readTable(spark, dir).count() == 200)

    // a crashed claim (no publish ever) ages out: with grace 0 the
    // orphan prune reclaims dir AND claim
    val cN = Compaction.claimNext(fs, main, "crashed-writer-C")
    val cDir = new org.apache.hadoop.fs.Path(main, f"g$cN%09d")
    spark.range(7).toDF("id").write.parquet(cDir.toString)
    Compaction.compactGen(spark, dir, targetBytes = 1L << 26, orphanGraceMs = 0L)
    assert(!fs.exists(cDir), "expired orphan claim's dir not reclaimed")
    assert(Compaction.readTable(spark, dir).count() == 200)
  }

  test("two-writer soak: concurrent writeGen loops — fenced losers retry, readers never torn") {
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_fence_soak").toString + "/t"
    spark.range(10).toDF("id").withColumn("w", lit(-1)).write.parquet(dir)
    Compaction.toGenerational(spark, dir)
    // two writers race full writeGen cycles; every fence is caught and
    // retried (the documented caller contract). Any OTHER throwable —
    // including the pre-fencing silent-clobber symptom, a torn read of
    // a half-written dir — fails the test.
    @volatile var bad: Throwable = null
    def writer(id: Int) = new Thread(() => {
      try {
        var done = 0
        while (done < 7) {
          try {
            // concurrent writers MUST set the wall-time retention
            // (readerGraceMs): the cycle-counted grace alone is no
            // wall-time guarantee when two publishes can land
            // microseconds apart — exactly the torn read this spec
            // caught against an unpaced two-writer loop before the
            // retention knob existed
            Compaction.writeGen(
              spark.range(10).toDF("id").withColumn("w", lit(id)), dir,
              readerGraceMs = 60000L)
            done += 1
          } catch { case _: Compaction.FencedWriteException => () } // retry
        }
      } catch { case t: Throwable => bad = t }
    })
    val (w1, w2) = (writer(1), writer(2))
    @volatile var churn = true
    var reads = 0
    // warm the read path before churn starts: a cold first read (plan +
    // codegen, seconds) would outrun the two-publish-cycle grace no
    // matter how the writers are paced — that is JVM warmup, not a
    // layout property
    Compaction.readTable(spark, dir).count()
    val reader = new Thread(() => {
      try {
        while (churn) {
          val r = Compaction.readTable(spark, dir)
            .agg(count(lit(1)), countDistinct(col("w"))).head()
          assert(r.getLong(0) == 10 && r.getLong(1) == 1,
            s"TORN READ: n=${r.getLong(0)} writers=${r.getLong(1)}")
          reads += 1
        }
      } catch { case t: Throwable => bad = t }
    })
    w1.start(); w2.start(); reader.start()
    w1.join(); w2.join(); churn = false; reader.join()
    assert(bad == null, s"non-fence failure under two-writer churn: $bad")
    assert(reads >= 2, s"only $reads clean reads during churn")
    // final state: exactly one writer's last publish, intact
    val fin = Compaction.readTable(spark, dir)
      .agg(count(lit(1)), countDistinct(col("w"))).head()
    assert(fin.getLong(0) == 10 && fin.getLong(1) == 1)
  }

  test("generational compaction: crashed unpublished generation is invisible and cleaned up") {
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_gencrash").toString + "/t"
    spark.range(1000).toDF("id").repartition(8).write.parquet(dir)
    Compaction.toGenerational(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a writer that died after writing files but BEFORE the
    // manifest swap: a half-written next generation
    val orphan = new org.apache.hadoop.fs.Path(dir, "g000000099")
    spark.range(5).toDF("id").coalesce(1).write.parquet(orphan.toString)
    // readers never see it — manifest still points at g000000001
    assert(Compaction.readTable(spark, dir).count() == 1000)
    // next compaction drops the orphan and proceeds normally
    val st = Compaction.compactGen(spark, dir, targetBytes = 1L << 26)
    assert(st.rewritten && st.filesAfter == 1)
    assert(!fs.exists(orphan))
    assert(Compaction.readTable(spark, dir).count() == 1000)
  }

  test("time travel: retained generations readable bit-exact, pruned and unpublished fail loudly") {
    import graft.sources.Compaction
    val dir = java.nio.file.Files.createTempDirectory("graft_tt").toString + "/t"
    Compaction.writeGen(spark.range(100).toDF("id"), dir)
    Compaction.writeGen(spark.range(150).toDF("id"), dir)
    Compaction.writeGen(spark.range(200).toDF("id"), dir)
    // rank-based prune keeps the two most recent publishes
    assert(Compaction.generations(spark, dir) == Seq(2L, 3L))
    assert(Compaction.readTableAt(spark, dir, 2)
      .as[Long].collect().sorted.toSeq == (0L until 150L))
    assert(Compaction.readTableAt(spark, dir, 3).count() == 200)
    // current-state reader still resolves the max generation
    assert(Compaction.readTable(spark, dir).count() == 200)
    val pruned = intercept[IllegalArgumentException](
      Compaction.readTableAt(spark, dir, 1))
    assert(pruned.getMessage.contains("not readable"))
    val never = intercept[IllegalArgumentException](
      Compaction.readTableAt(spark, dir, 99))
    assert(never.getMessage.contains("not readable"))
    // an in-flight (unpublished) writer dir is not a version
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.range(5).toDF("id").coalesce(1)
      .write.parquet(new org.apache.hadoop.fs.Path(dir, "g000000007").toString)
    assert(!Compaction.generations(spark, dir).contains(7L))
    assert(intercept[IllegalArgumentException](
      Compaction.readTableAt(spark, dir, 7))
      .getMessage.contains("not readable"))
  }

  test("Scd2.history: updates chain intervals, deletes close without opening") {
    // key a: insert@10, update@20, delete@30, re-insert@40 (still open)
    // key b: single insert@15, never touched — open from the start
    val ops = Seq(
      ("a", 10L, "c", 1.0), ("a", 20L, "u", 2.0),
      ("a", 30L, "d", 2.0), ("a", 40L, "c", 9.0),
      ("b", 15L, "c", 5.0)).toDF("k", "ts", "op", "v")
    val got = graft.operators.Scd2
      .history(ops, Seq("k"), Seq(col("ts")))
      .select("k", "version", "v", "valid_from", "valid_to", "is_current")
      .as[(String, Int, Double, Long, Option[Long], Boolean)]
      .collect().toSet
    assert(got == Set(
      ("a", 1, 1.0, 10L, Some(20L), false),   // closed by the update
      ("a", 2, 2.0, 20L, Some(30L), false),   // closed by the DELETE
      ("a", 3, 9.0, 40L, None, true),         // reopened after the delete
      ("b", 1, 5.0, 15L, None, true)))
    // exactly one current version per live key
    val cur = graft.operators.Scd2.history(ops, Seq("k"), Seq(col("ts")))
      .filter(col("is_current")).groupBy("k").count()
      .as[(String, Long)].collect().toMap
    assert(cur == Map("a" -> 1L, "b" -> 1L))
  }

  test("Scd2.history plans ONE exchange for both windows") {
    val ops = Seq(("a", 10L, "c", 1.0)).toDF("k", "ts", "op", "v")
    val plan = graft.operators.Scd2.history(ops, Seq("k"), Seq(col("ts")))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("deltaAggregate over a change log ≡ recompute over final state") {
    // ins x3, update one, delete another; group g1/g2
    val ops = Seq(
      ("g1", "c", None, Some(10.0)),
      ("g1", "c", None, Some(20.0)),
      ("g2", "c", None, Some(5.0)),
      ("g1", "u", Some(20.0), Some(25.0)),   // 20 → 25
      ("g2", "d", Some(5.0), None)           // g2 now empty → row vanishes
    ).toDF("grp", "op", "before", "after")
    val got = Materialize.deltaAggregate(ops, Seq("grp"),
        col("before"), col("after"))
      .select("grp", "live_cnt", "live_sum")
      .as[(String, Long, Double)].collect()
      .map { case (g, c, v) => g -> ((c, v)) }.toMap
    assert(got == Map("g1" -> ((2L, 35.0))))
    // incremental application batch-by-batch reaches the same state as
    // one-shot over the concatenated log (associativity of deltas — the
    // foreachBatch contract)
    val b1 = ops.limit(3)
    val b2 = ops.exceptAll(b1)
    // intermediate deltas use prune=false: b2 is delete-only for g2, so
    // its count delta is -1 and must reach the merge
    def delta(b: org.apache.spark.sql.DataFrame) =
      Materialize.deltaAggregate(b, Seq("grp"), col("before"), col("after"),
        prune = false)
    val merged = delta(b1)
      .select(col("grp"), col("live_cnt"), col("live_sum"))
      .unionByName(delta(b2)
        .select(col("grp"), col("live_cnt"), col("live_sum")))
      .groupBy("grp")
      .agg(sum("live_cnt").as("live_cnt"), sum("live_sum").as("live_sum"))
      .filter(col("live_cnt") > 0)
      .as[(String, Long, Double)].collect()
      .map { case (g, c, v) => g -> ((c, v)) }.toMap
    assert(merged == got)
  }

  test("changeFeedNext/advanceFeedCursor: snapshot -> diff -> caught-up; redelivery idempotent; stale consumers and lagging cursors fail loudly") {
    import graft.sources.Compaction
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_feed").toString
    val t = root + "/tbl"; val cursor = root + "/cursor"
    Compaction.writeGen((0 to 4).map(k => (k.toLong, k * 2L)).toDF("k", "v"), t) // g1
    // initial snapshot: every row a create, before null
    val s1 = Compaction.changeFeedNext(spark, t, cursor, Seq("k")).get
    assert(s1.fromGen.isEmpty && s1.toGen == 1L)
    val snap = s1.changes.select("k", "op").as[(Long, String)].collect().toSet
    assert(snap == (0 to 4).map(k => (k.toLong, "c")).toSet)
    assert(s1.changes.filter(col("before").isNotNull).count() == 0L)
    // REDELIVERY before the advance: the identical window again (the
    // crash-between-process-and-advance contract)
    val s1b = Compaction.changeFeedNext(spark, t, cursor, Seq("k")).get
    assert(s1b.fromGen == s1.fromGen && s1b.toGen == s1.toGen &&
      s1b.changes.count() == s1.changes.count())
    Compaction.advanceFeedCursor(spark, cursor, None, 1L)
    // caught up -> None
    assert(Compaction.changeFeedNext(spark, t, cursor, Seq("k")).isEmpty)
    // publish g2: update k=1, delete k=2, insert k=9
    Compaction.writeGen(Seq((0L, 0L), (1L, 99L), (3L, 6L), (4L, 8L),
      (9L, 18L)).toDF("k", "v"), t)
    val s2 = Compaction.changeFeedNext(spark, t, cursor, Seq("k")).get
    assert(s2.fromGen.contains(1L) && s2.toGen == 2L)
    val ops = s2.changes.select("k", "op").as[(Long, String)]
      .collect().toMap
    assert(ops == Map(1L -> "u", 2L -> "d", 9L -> "c"), ops.toString)
    Compaction.advanceFeedCursor(spark, cursor, Some(1L), 2L)
    // a SECOND consumer holding the stale window loses loudly
    val e1 = intercept[IllegalArgumentException](
      Compaction.advanceFeedCursor(spark, cursor, Some(1L), 2L))
    assert(e1.getMessage.contains("second consumer"), e1.getMessage)
    // the cursor can only move forward
    intercept[IllegalArgumentException](
      Compaction.advanceFeedCursor(spark, cursor, Some(2L), 2L))
    // lag past retention: two more publishes retire g2; the next poll
    // must fail loudly with re-snapshot guidance, never silently
    // replay creates the consumer already processed
    Compaction.writeGen((0 to 5).map(k => (k.toLong, k * 3L)).toDF("k", "v"), t)
    Compaction.writeGen((0 to 6).map(k => (k.toLong, k * 4L)).toDF("k", "v"), t)
    assert(!Compaction.generations(spark, t).contains(2L),
      "fixture must have retired the cursor generation")
    val e2 = intercept[IllegalArgumentException](
      Compaction.changeFeedNext(spark, t, cursor, Seq("k")))
    assert(e2.getMessage.contains("left the retention window") &&
      e2.getMessage.contains("re-snapshot"), e2.getMessage)
  }

  test("feed cursor groups: independent chains per group; from-keyed CAS; legacy markers migrate") {
    import graft.sources.Compaction
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_feedg").toString
    val t = root + "/tbl"; val cursor = root + "/cursor"
    val k = Seq("k")
    Compaction.writeGen((0 to 4).map(n => (n.toLong, n * 2L)).toDF("k", "v"), t) // g1
    // group A consumes; group B's chain is untouched
    val a1 = Compaction.changeFeedNext(spark, t, cursor, k, "grp-a").get
    Compaction.advanceFeedCursor(spark, cursor, a1.fromGen, a1.toGen, "grp-a")
    assert(Compaction.changeFeedNext(spark, t, cursor, k, "grp-a").isEmpty)
    val b0 = Compaction.changeFeedNext(spark, t, cursor, k, "grp-b").get
    assert(b0.fromGen.isEmpty && b0.toGen == 1L,
      "group B never advanced — its first poll is still the snapshot")
    Compaction.writeGen((0 to 5).map(n => (n.toLong, n * 3L)).toDF("k", "v"), t) // g2
    val a2 = Compaction.changeFeedNext(spark, t, cursor, k, "grp-a").get
    assert(a2.fromGen.contains(1L) && a2.toGen == 2L, "A gets the diff")
    val b1 = Compaction.changeFeedNext(spark, t, cursor, k, "grp-b").get
    assert(b1.fromGen.isEmpty && b1.toGen == 2L,
      "B, still uncursored, snapshots CURRENT — no phantom history")
    Compaction.advanceFeedCursor(spark, cursor, a2.fromGen, a2.toGen, "grp-a")
    Compaction.advanceFeedCursor(spark, cursor, b1.fromGen, b1.toGen, "grp-b")
    assert(Compaction.changeFeedNext(spark, t, cursor, k, "grp-a").isEmpty &&
      Compaction.changeFeedNext(spark, t, cursor, k, "grp-b").isEmpty)
    // the advance CAS is keyed by the DEPARTURE generation: two
    // consumers of one group that both read cursor==2 but computed
    // different targets contend on ONE marker name — simulate the
    // winner's commit landing first, then the loser's position check
    // (or, in the true race window, its exclusive create) fails loudly
    val fs = new org.apache.hadoop.fs.Path(cursor).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val mc = new graft.sources.FsManifestCommit(fs,
      new org.apache.hadoop.fs.Path(cursor))
    assert(Compaction.cursorMarkerName("grp-a", Some(2L)) ==
      Compaction.cursorMarkerName("grp-a", Some(2L)) &&
      !Compaction.cursorMarkerName("grp-a", Some(2L))
        .contains("g000000003"), "marker name keys on FROM, never TO")
    assert(mc.createExclusive(
      Compaction.cursorMarkerName("grp-a", Some(2L)),
      "g000000003".getBytes("UTF-8")), "winner's commit")
    val eRace = intercept[IllegalArgumentException](
      Compaction.advanceFeedCursor(spark, cursor, Some(2L), 4L, "grp-a"))
    assert(eRace.getMessage.contains("second consumer"), eRace.getMessage)
    assert(!mc.createExclusive(
        Compaction.cursorMarkerName("grp-a", Some(2L)), "x".getBytes),
      "the from-keyed name is one CAS: a second create always loses")
    // group ids are validated (marker-name grammar safety)
    intercept[IllegalArgumentException](
      Compaction.changeFeedNext(spark, t, cursor, k, "bad.group"))
    // LEGACY single-group markers (pre-group `_graft_feed_cursor.g<to>`)
    // read as the default group's cursor and migrate on first advance
    val legacyDir = root + "/legacy_cursor"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(legacyDir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(legacyDir, "_graft_feed_cursor.g000000001"),
      "g000000001".getBytes("UTF-8"))
    val l1 = Compaction.changeFeedNext(spark, t, legacyDir, k).get
    assert(l1.fromGen.contains(1L) && l1.toGen == 2L,
      "legacy marker must read as the default group's cursor position")
    Compaction.advanceFeedCursor(spark, legacyDir, l1.fromGen, l1.toGen)
    assert(Compaction.changeFeedNext(spark, t, legacyDir, k).isEmpty)
    val names = new java.io.File(legacyDir).list().toSeq
      .filter(_.startsWith("_graft_feed_cursor."))
    assert(names == Seq("_graft_feed_cursor.default.from.g000000001"),
      s"advance migrates to the group format and prunes legacy: $names")
  }
}
