package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.util.{GQuery, Tables}

/** File source/sink surface (SURVEY.md §2B "File sources/sinks"): the
  * reference moves rows only as JSON-over-Kafka (O7/O13); a complete
  * engine reads and writes the standard columnar/row formats. Each query
  * round-trips a testdata table through one format with an explicit
  * schema on re-read (no inference drift) and is oracle-checked against
  * the original table — proving write fidelity and read fidelity in one
  * pass. Writes go to a fresh temp dir per invocation; at scale these
  * are the same `df.write.format(...)` calls against object storage.
  */
object FileFormats {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/data"

  val queries: Seq[GQuery] = Seq(

    GQuery("fmt_csv_roundtrip",
      (s, d) => {
        val nation = Tables(s, d, "nation")
        val path = tmp("graft_csv")
        nation.write.mode("overwrite").option("header", "true").csv(path)
        s.read.schema(nation.schema).option("header", "true").csv(path)
          .orderBy(col("n_nationkey"))
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")),

    // REAL Avro object-container round-trip on the bundled avro jars
    // (sources/AvroFiles — the spark-avro DSv2 module is not shipped,
    // so the write is one DataFileWriter container per partition and
    // the read composes binaryFile + DataFileReader; no shuffle either
    // direction). Oracle = the source table: decode must be lossless.
    GQuery("fmt_avro_roundtrip",
      (s, d) => {
        val cust = Tables(s, d, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
            col("c_mktsegment"))
        val path = tmp("graft_avro")
        AvroFiles.write(cust, path)
        AvroFiles.read(s, path, cust.schema)
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        FROM customer ORDER BY c_custkey""")),

    GQuery("fmt_json_roundtrip",
      (s, d) => {
        val part = Tables(s, d, "part")
        val path = tmp("graft_json")
        part.write.mode("overwrite").json(path)
        s.read.schema(part.schema).json(path)
          .orderBy(col("p_partkey"))
      },
      Some("SELECT * FROM part ORDER BY p_partkey")),

    GQuery("fmt_orc_roundtrip",
      (s, d) => {
        val supplier = Tables(s, d, "supplier")
        val path = tmp("graft_orc")
        supplier.write.mode("overwrite").orc(path)
        s.read.schema(supplier.schema).orc(path)
          .orderBy(col("s_suppkey"))
      },
      Some("SELECT * FROM supplier ORDER BY s_suppkey")),

    // Line-oriented text: the rawest ingestion format an LLM corpus
    // arrives in (one document per line). Newline-free corpus asserted
    // by construction of the testdata; ids re-derived by content join
    // against the source table so the roundtrip is content-checked.
    GQuery("fmt_text_roundtrip",
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val path = tmp("graft_text")
        docs.select(col("text")).write.mode("overwrite").text(path)
        s.read.text(path)
          .join(docs, col("value") === col("text"))
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
          .orderBy(col("doc_id"))
      },
      // duplicate texts match each other's lines both ways: the group
      // count for doc d = (# docs sharing d's text); mirror by joining
      // the table to itself on text
      Some("""SELECT a.doc_id, COUNT(*) AS n
        FROM documents a JOIN documents b ON a.text = b.text
        GROUP BY a.doc_id ORDER BY a.doc_id""")),

    // XML (built-in source since Spark 4): write a projection with a
    // row tag, read it back with an explicit schema.
    GQuery("fmt_xml_roundtrip",
      (s, d) => {
        val nation = Tables(s, d, "nation")
        val path = tmp("graft_xml")
        nation.write.mode("overwrite").option("rowTag", "nation")
          .format("xml").save(path)
        s.read.schema(nation.schema).option("rowTag", "nation")
          .format("xml").load(path)
          .orderBy(col("n_nationkey"))
      },
      Some("SELECT * FROM nation ORDER BY n_nationkey")),

    // Directory-partitioned layout + partition pruning: events written
    // partitionBy(event_type); the filtered read prunes at FILE LISTING
    // time (PartitionFilters in the scan, one directory of five read —
    // asserted on the plan in OperatorsSpec via writePartitionedEvents).
    // At 100 TB, partitioning on the dominant filter column is the
    // difference between listing one prefix and scanning the lake.
    GQuery("fmt_partitioned_pruning",
      (s, d) => {
        val path = writePartitionedEvents(s, d)
        s.read.parquet(path)
          .filter(col("event_type") === "click")
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            graft.util.Det.dsum(col("value")).as("sum_value"))
          .orderBy(col("user_id"))
      },
      Some("""SELECT user_id, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events WHERE event_type = 'click'
        GROUP BY user_id ORDER BY user_id""")),

    // Opaque-binary ingestion, the front door of the multimodal
    // pipeline: raw payload files on disk → `binaryFile` source →
    // (id, length, digest) rows. The oracle never sees the files — it
    // recomputes length and md5 from the source table the files were
    // materialized from, so the whole write→list→read→parse path is
    // what is being checked. binaryFile scans are splittable by FILE
    // (one task per file group), the natural unit for media blobs; the
    // pathGlobFilter keeps sidecar/marker files out of the scan.
    GQuery("fmt_binary_files",
      (s, d) => {
        val dir = writePayloadFiles(s, d)
        s.read.format("binaryFile")
          .option("pathGlobFilter", "*.bin")
          .load(dir)
          .select(
            regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1)
              .cast("long").as("doc_id"),
            col("length").cast("int").as("n_bytes"),
            md5(col("content")).as("digest"))
          .orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id, CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        md5(text) AS digest
        FROM documents WHERE doc_id < 64 ORDER BY doc_id""")),

    // Schema evolution on read: two parquet writes with different column
    // sets under one partitioned root, mergeSchema unioning them with
    // nulls for absent columns — the contract a long-lived ingest dir
    // relies on when producers add fields (same evolution story the
    // envelope schema-evolution spec covers on the wire).
    GQuery("fmt_merge_schema",
      (s, d) => {
        val part = Tables(s, d, "part")
        val path = tmp("graft_merge")
        part.select("p_partkey", "p_name").write.parquet(s"$path/v=1")
        part.select("p_partkey", "p_retailprice").write.parquet(s"$path/v=2")
        s.read.option("mergeSchema", "true").parquet(path)
          .select(col("p_partkey"), col("p_name"), col("p_retailprice"), col("v"))
          .orderBy(col("v"), col("p_partkey"))
      },
      Some("""SELECT p_partkey, p_name, CAST(NULL AS DOUBLE) AS p_retailprice, 1 AS v
        FROM part
        UNION ALL
        SELECT p_partkey, NULL, p_retailprice, 2 FROM part
        ORDER BY v, p_partkey""")),

    // Small-file compaction (sources/Compaction.scala): a 48-task write
    // leaves 48 KB-sized files — the state every micro-batch sink decays
    // into — and the compactor converts the flat dir to the generational
    // layout, then bin-packs it back to ceil(bytes/target) files in a
    // newly published generation. The oracle checks content fidelity
    // through the rewrite; file-count and crash invariants are
    // spec-asserted (OperatorsSpec).
    GQuery("fmt_compaction",
      (s, d) => {
        val orders = Tables(s, d, "orders")
        val path = tmp("graft_compact")
        orders.repartition(48).write.mode("overwrite").parquet(path)
        Compaction.compactGen(s, path)
        Compaction.readTable(s, path).orderBy(col("o_orderkey"))
      },
      Some("SELECT * FROM orders ORDER BY o_orderkey")),

    // Generational (manifest-pointer) compaction — the concurrent-
    // reader-safe variant: publish immutable generation dirs, swap a
    // listing-resolved marker, prune two generations late. The chaos
    // spec proves the zero-transient-read contract; this proves the
    // data survives fragment → convert → compact → re-fragment →
    // compact bit-for-bit.
    GQuery("fmt_compaction_gen",
      (s, d) => {
        val orders = Tables(s, d, "orders")
        val path = tmp("graft_compact_gen")
        orders.repartition(48).write.mode("overwrite").parquet(path)
        Compaction.toGenerational(s, path)
        Compaction.compactGen(s, path)
        Compaction.writeGen(Compaction.readTable(s, path).repartition(48), path)
        Compaction.compactGen(s, path)
        Compaction.readTable(s, path).orderBy(col("o_orderkey"))
      },
      Some("SELECT * FROM orders ORDER BY o_orderkey")),

    // Time travel over the generational layout: three writeGen states
    // (o_orderkey%3==0 → %3<=1 → all); the rank-based prune retires the
    // first, so the readable window is exactly the two most recent
    // publishes — read BOTH via readTableAt and report per-generation
    // row counts and an exact cents sum. The fixture (the three writes)
    // is memoized per dataset dir; the registered query times what a
    // user pays per time-travel read: a directory listing plus two
    // pruned parquet scans. Oracle replays the two retained states from
    // the orders table.
    GQuery("fmt_time_travel",
      (s, d) => {
        val path = timeTravelFixture(s, d)
        val gens = Compaction.generations(s, path)
        require(gens.length == 2,
          s"retention window must hold exactly 2 generations, got $gens")
        gens.sorted.zipWithIndex.map { case (g, i) =>
          Compaction.readTableAt(s, path, g)
            .agg(count(lit(1)).as("n_rows"),
              sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
            .select(lit(i + 1).as("gen_rank"), col("n_rows"), col("cents"))
        }.reduce(_.unionByName(_)).orderBy(col("gen_rank"))
      },
      Some("""SELECT 1 AS gen_rank, count(*) AS n_rows,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 3 <= 1
        UNION ALL
        SELECT 2, count(*),
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        FROM orders
        ORDER BY gen_rank""")),

    // The DSv2 face of the generational layout (r15 verdict #1):
    // spark.read.format("graft") resolves the manifest and scans the
    // current generation through the built-in parquet DSv2 table —
    // hash-equal to Compaction.readTable by construction, proven here
    // against the same oracle. Pushdown/pruning surviving the
    // indirection is plan-asserted in GraftDataSourceSpec.
    GQuery("fmt_dsv2_read",
      (s, d) => s.read.format("graft").load(timeTravelFixture(s, d))
        .orderBy(col("o_orderkey")),
      Some("SELECT * FROM orders ORDER BY o_orderkey")),

    // Time travel through the reader options: `generation` pins an
    // exact published generation (readTableAt), `asOfGen` floors to
    // the highest published one <= the given number — rank 1 reads
    // the older retained generation by exact pin, rank 2 by an
    // as-of floor above current. Oracle = fmt_time_travel's (the two
    // faces must agree bit-for-bit on the same fixture).
    GQuery("fmt_dsv2_time_travel",
      (s, d) => {
        val path = timeTravelFixture(s, d)
        val gens = Compaction.generations(s, path)
        require(gens.length == 2,
          s"retention window must hold exactly 2 generations, got $gens")
        def stats(df: org.apache.spark.sql.DataFrame, rank: Int) =
          df.agg(count(lit(1)).as("n_rows"),
              sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
            .select(lit(rank).as("gen_rank"), col("n_rows"), col("cents"))
        stats(s.read.format("graft")
            .option(GraftDataSource.GenerationOption, gens.min.toString)
            .load(path), 1)
          .unionByName(stats(s.read.format("graft")
            .option(GraftDataSource.AsOfGenOption, (gens.max + 1000).toString)
            .load(path), 2))
          .orderBy(col("gen_rank"))
      },
      Some("""SELECT 1 AS gen_rank, count(*) AS n_rows,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 3 <= 1
        UNION ALL
        SELECT 2, count(*),
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        FROM orders
        ORDER BY gen_rank""")),

    // The WRITE face (r16 verdict #1): `INSERT INTO` through the
    // catalog publishes a NEW generation (Compaction.appendGen —
    // current files hard-link-carried, fresh rows as new part files,
    // publish fenced on the read generation). Self-contained per
    // invocation (the walk IS the cost being timed: bootstrap write,
    // SQL insert, read-back); the read-back must hash-match the plain
    // orders table — INSERT-then-read ≡ writeGen-then-readTable.
    // Concurrent-reader isolation and two-writer fencing are
    // spec-pinned (GraftWriteSpec).
    GQuery("fmt_dsv2_write",
      (s, d) => {
        s.conf.set("spark.sql.catalog.graft_w",
          "graft.sources.GraftCatalog")
        val path = tmp("graft_dsv2w") + "/tbl"
        val orders = Tables(s, d, "orders")
        Compaction.writeGen(
          orders.filter(col("o_orderkey") % 3 === 0), path) // g1
        orders.filter(col("o_orderkey") % 3 =!= 0)
          .createOrReplaceTempView("graft_dsv2_insert_src")
        s.sql(s"INSERT INTO graft_w.`$path` " +
          "SELECT * FROM graft_dsv2_insert_src") // g2 = g1 ∪ inserted
        require(Compaction.generations(s, path) == Seq(1L, 2L),
          "INSERT must have published generation 2")
        s.read.format("graft").load(path).orderBy(col("o_orderkey"))
      },
      Some("SELECT * FROM orders ORDER BY o_orderkey")),

    // The SQL face: a temp view over USING graft (the V1
    // RelationProvider path — same manifest resolution, then the
    // plain parquet relation). What a SQL-only user types.
    GQuery("fmt_dsv2_sql",
      (s, d) => {
        val path = timeTravelFixture(s, d)
        s.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_dsv2_tt " +
          s"USING graft OPTIONS (path '$path')")
        s.sql("SELECT o_orderkey, o_custkey, o_totalprice " +
          "FROM graft_dsv2_tt ORDER BY o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders ORDER BY o_orderkey""")),

    // The CATALOG face (GraftCatalog): standard SQL time travel —
    // `VERSION AS OF <gen>` through spark.sql.catalog.* registration,
    // no Scala API in sight. Same fixture and oracle as
    // fmt_time_travel: all three faces (Scala readTableAt, reader
    // options, catalog SQL) must agree bit-for-bit.
    GQuery("fmt_dsv2_catalog",
      (s, d) => {
        s.conf.set("spark.sql.catalog.graft_tt",
          "graft.sources.GraftCatalog")
        val path = timeTravelFixture(s, d)
        val gens = Compaction.generations(s, path)
        require(gens.length == 2,
          s"retention window must hold exactly 2 generations, got $gens")
        def stats(g: Long, rank: Int) = s.sql(
          s"""SELECT $rank AS gen_rank, count(*) AS n_rows,
            CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
              AS cents
          FROM graft_tt.`$path` VERSION AS OF $g""")
        stats(gens.min, 1).unionByName(stats(gens.max, 2))
          .orderBy(col("gen_rank"))
      },
      Some("""SELECT 1 AS gen_rank, count(*) AS n_rows,
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        FROM orders WHERE o_orderkey % 3 <= 1
        UNION ALL
        SELECT 2, count(*),
          CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        FROM orders
        ORDER BY gen_rank""")),

    // Right-to-be-forgotten on a generational TABLE (the CDC-side twin
    // of the index families' forgetViaRebuild): publish current-minus-
    // victims as a new generation, then SCRUB the retired dirs — the
    // normal two-generation reader grace would keep the victims' bytes
    // on disk and readTableAt serving them. The fixture takes the
    // table through two publishes first so retired generations really
    // exist; post-forget, generations() must collapse to the single
    // current one (erasure reaching time travel is the contract).
    GQuery("fmt_forget_rows",
      (s, d) => {
        val path = graft.util.TempFixtures.dir(s"fgrows:$d") { p =>
          val cust = Tables(s, d, "customer")
          Compaction.writeGen(cust.filter(col("c_custkey") % 2 === 0), p)
          Compaction.writeGen(cust, p) // g2: full table; g1 retired
          val removed = Compaction.forgetRows(s, p,
            col("c_custkey") % 20 === 0)
          require(removed > 0L, "forget removed nothing — bad fixture")
          require(Compaction.generations(s, p).length == 1,
            "scrub must leave only the current generation readable")
        }
        Compaction.readTable(s, path)
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
          .orderBy(col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_name, c_nationkey FROM customer
        WHERE c_custkey % 20 <> 0 ORDER BY c_custkey"""))
  )

  /** Build-once time-travel fixture: a generational table taken through
    * three publishes so the prune has retired the oldest. One per
    * dataset dir per JVM (the mutation is one-shot; re-running it per
    * bench pass would time fixture writes, not the time-travel read).
    */
  private def timeTravelFixture(s: org.apache.spark.sql.SparkSession,
                                d: String): String =
    graft.util.TempFixtures.dir(s"timetravel:$d") { path =>
      val orders = Tables(s, d, "orders")
      Compaction.writeGen(orders.filter(col("o_orderkey") % 3 === 0), path)
      Compaction.writeGen(orders.filter(col("o_orderkey") % 3 <= 1), path)
      Compaction.writeGen(orders, path)
    }

  /** Materialize the first 64 documents as one raw .bin file each under
    * a stable temp path (same rebuild-on-sf-change discipline as
    * [[writePartitionedEvents]]). Files are written from the executors
    * via foreachPartition — the driver never holds payloads.
    */
  def writePayloadFiles(s: org.apache.spark.sql.SparkSession,
                        d: String): String = {
    val base = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_bin_files")
    val path = new java.io.File(base, "data").getAbsolutePath
    val marker = new java.io.File(base, ".sfdir").toPath
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker) == d) return path
    java.nio.file.Files.deleteIfExists(marker)
    val dir = new java.io.File(path)
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
    dir.mkdirs()
    Tables(s, d, "documents").filter(col("doc_id") < 64)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
        it.foreach { r =>
          java.nio.file.Files.write(
            java.nio.file.Paths.get(path, s"doc_${r.getLong(0)}.bin"),
            r.getAs[Array[Byte]]("payload"))
        }
      }
    java.nio.file.Files.writeString(marker, d)
    path
  }

  /** Write events partitioned by event_type under a stable temp path
    * (rebuilt only when absent or the scale factor changed — same
    * rationale as the bucketed tables: the layout is the one-time
    * investment, the pruned read is the recurring query).
    */
  def writePartitionedEvents(s: org.apache.spark.sql.SparkSession,
                             d: String): String = {
    val base = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_part_events")
    val path = new java.io.File(base, "data").getAbsolutePath
    val marker = new java.io.File(base, ".sfdir").toPath
    if (java.nio.file.Files.exists(marker) &&
        java.nio.file.Files.readString(marker) == d) return path
    // invalidate BEFORE the rewrite: a crash mid-write must not leave a
    // marker that validates the half-written layout for the old sf
    java.nio.file.Files.deleteIfExists(marker)
    Tables(s, d, "events")
      .write.mode("overwrite").partitionBy("event_type").parquet(path)
    base.mkdirs()
    java.nio.file.Files.writeString(marker, d)
    path
  }
}
