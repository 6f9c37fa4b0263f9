package graft.util

import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Loaders + determinism helpers shared by every query in the engine.
  *
  * Determinism discipline: the driver hash-compares our results against a
  * DuckDB oracle. Floating-point SUM/AVG over a shuffled dataset is
  * order-dependent, so every money/quantity aggregate goes through exact
  * DECIMAL arithmetic (associative + commutative ⇒ partition-order
  * independent) and is cast back to DOUBLE only at the end. The oracle SQL
  * mirrors the same casts.
  */
object Tables {
  /** The testdata contract: every table's schema as the engine reads it,
    * in column order. Reads declare it, so building a query starts no
    * schema-inference job and opens no file (events alone reads its
    * footer on the driver, see [[events]]). SchemaProbeSpec compares it
    * with Spark's inference over every testdata scale, so a regenerated
    * dataset that drifts fails there as one line per column — update
    * this list (and FIXTURES.md §B) when that happens.
    */
  private val contract: Seq[(String, String)] = Seq(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> ("s_suppkey BIGINT, s_name STRING, s_nationkey INT, " +
      "s_acctbal DOUBLE"),
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, " +
      "p_type STRING, p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> ("doc_id BIGINT, text STRING, lang STRING, source STRING, " +
      "n_chars BIGINT"),
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")

  val all: Seq[String] = contract.map(_._1)

  val schemas: Map[String, StructType] =
    contract.map { case (t, ddl) => t -> StructType.fromDDL(ddl) }.toMap

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  /** events.ts has shipped as both parquet TIMESTAMP(NANOS) and
    * TIMESTAMP(MICROS) across testdata generations, so branch on the
    * file's footer (read on the driver) instead of assuming either.
    * NANOS: Spark's vectorized reader rejects it outright
    * (PARQUET_TYPE_ILLEGAL), so read raw nanos (legacy long mode) and
    * truncate to microseconds — the same floor DuckDB applies when
    * casting TIMESTAMP_NS → TIMESTAMP. Only this branch sets the
    * session-wide long mode. MICROS: the declared schema. Either way
    * both engines stay in naive wall-clock land (no tz shifts on either
    * side).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val file = s"$dir/events.parquet"
    FooterSchema.parquetSchema(spark, file).getType(Seq("ts"): _*)
        .getLogicalTypeAnnotation match {
      case t: TimestampLogicalTypeAnnotation if t.getUnit == TimeUnit.NANOS =>
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = StructType(schemas("events").map(f =>
          if (f.name == "ts") f.copy(dataType = LongType) else f))
        spark.read.schema(raw).parquet(file).withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ => spark.read.schema(schemas("events")).parquet(file)
    }
  }

  /** Spread a narrow source across all cores before per-row-heavy work
    * (JSON serde, codecs, O(n²) similarity probes). The testdata files
    * are single-row-group parquet, so the scan yields ONE partition and
    * an expensive map pipeline would otherwise run on one core of 32.
    *
    * Guard is metadata-only — file listing the plan already holds, plus
    * driver-side FileStatus calls for the (few) files — never `df.rdd`,
    * which would force an RDD-lineage conversion per call and bypass AQE.
    * On a real cluster this is a no-op two ways: many files ⇒ already
    * wide; few LARGE files ⇒ the parquet scan splits them at
    * maxPartitionBytes, so repartitioning would shuffle data that is
    * already parallel. Only a genuinely small input gets the exchange.
    */
  def spread(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val p = sc.defaultParallelism
    val files = try df.inputFiles catch { case _: Exception => Array.empty[String] }
    if (files.isEmpty || files.length >= p) df
    else {
      // byteStringAsBytes handles every legal form (134217728, 128m,
      // 1g, …) — a bare .toLong would crash on unit suffixes
      val maxPart = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        df.sparkSession.conf
          .get("spark.sql.files.maxPartitionBytes", "134217728"))
      val bytes = files.map { f =>
        // resolve the filesystem PER PATH: FileSystem.get(conf) returns
        // the default FS, so an s3a://… or file:// input under an HDFS
        // default would throw on every stat and silently disable the
        // repartition via the Long.MaxValue fallback
        try {
          val path = new org.apache.hadoop.fs.Path(f)
          path.getFileSystem(sc.hadoopConfiguration).getFileStatus(path).getLen
        } catch { case _: Exception => Long.MaxValue / files.length }
      }.sum
      if (bytes < p.toLong * maxPart) df.repartition(p) else df
    }
  }
}

object Det {
  /** Exact decimal view of a 2-decimal-valued double column. */
  def dec(c: Column, p: Int = 18, s: Int = 2): Column = c.cast(DecimalType(p, s))

  /** Order-independent sum of a money-like double column, as double. */
  def dsum(c: Column): Column = sum(dec(c)).cast("double")

  /** Order-independent avg (exact decimal sum / count), as double. */
  def davg(c: Column): Column = (sum(dec(c)).cast("double") / count(c))

  /** (1 - discount) as an exact decimal factor. */
  def oneMinus(c: Column): Column = (lit(1.0) - c).cast(DecimalType(4, 2))
  def onePlus(c: Column): Column = (lit(1.0) + c).cast(DecimalType(4, 2))
}

/** One engine query: a DataFrame program over the testdata tables plus an
  * optional DuckDB-dialect oracle equivalent (None ⇒ driver does a weaker
  * rows-only check).
  */
final case class GQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])
