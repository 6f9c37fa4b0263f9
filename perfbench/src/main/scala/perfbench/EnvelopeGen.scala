package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.DebeziumDecimal
import graft.gen.TransactionGen

/** The shape of a generated change log.
  *
  * @param perSegment envelopes per segment (one produce call each)
  * @param hotKeys    size of the hot key set
  * @param hotShare   share of changes that hit a hot key
  * @param coldKeys   size of the uniform key space the other changes use
  * @param creates    share of `c` ops; `updates` of `u`; the rest are `d`
  * @param dupShare   share of envelopes that redeliver an earlier
  *                   envelope of the same segment byte for byte
  * @param lateShare  share of changes whose `ts_ms` is set back by up to
  *                   999 positions, so `ts_ms` is out of log order
  * @param malformedEvery one envelope in this many is replaced by a
  *                   malformed record
  */
final case class LogProfile(perSegment: Int, hotKeys: Int, hotShare: Double,
                            coldKeys: Long, creates: Double, updates: Double,
                            dupShare: Double, lateShare: Double,
                            malformedEvery: Int)

/** Seeded Debezium change-log generator.
  *
  * Every envelope is a pure function of (seed, position), built from
  * column expressions, so the same seed gives a byte-identical log and a
  * segment can be generated on its own. Payloads come from
  * [[TransactionGen.project]] with the key substituted; the amount ships
  * in Debezium's `precise` form (base64 two's-complement unscaled bytes
  * plus scale). `source.txId` carries the segment number, and
  * `source.ts_ms` the segment's scheduled arrival, in ms after the
  * stream's start.
  */
object EnvelopeGen {

  val Topic = "cdc.public.transactions"

  /** The epoch of generated `ts_ms` values. */
  val TsBase = 1700000000000L

  /** Envelopes at positions [from, until) of the log; columns
    * seg, idx, key, value, malformed.
    */
  def log(spark: SparkSession, seed: Long, p: LogProfile, arrivalMsPerSegment: Long,
          from: Long, until: Long): DataFrame = {
    def u(salt: Int, pos: Column): Column =
      pmod(xxhash64(lit(seed), lit(salt), pos), lit(1000000L)) / 1e6
    val idx = col("id")
    val seg = (idx / p.perSegment).cast("long")
    val inSeg = pmod(idx, lit(p.perSegment.toLong))
    // a redelivery repeats an earlier envelope of the same segment, so
    // its source block (segment tag) is identical too
    val back = (u(1, idx) * 20).cast("long") + 1
    val src = when(u(2, idx) < p.dupShare && inSeg >= back, idx - back).otherwise(idx)
    val key = when(u(3, col("src")) < p.hotShare,
      concat(lit("hot-"), pmod(xxhash64(lit(seed), lit(4), col("src")), lit(p.hotKeys.toLong))))
      .otherwise(concat(lit("k-"), pmod(xxhash64(lit(seed), lit(5), col("src")), lit(p.coldKeys))))
    val opU = u(6, col("src"))
    val op = when(opU < p.creates, "c").when(opU < p.creates + p.updates, "u").otherwise("d")
    // distinct per position (the low three digits are the position mod
    // 1000 and the set-back is under 1000), so two different changes of
    // one key never tie on ts_ms
    val late = when(u(7, col("src")) < p.lateShare, (u(8, col("src")) * 999).cast("long"))
      .otherwise(0L)
    val ts = lit(TsBase) + (col("src") - late) * 1000 + pmod(col("src"), lit(1000L))

    val withSrc = spark.range(from, until).toDF()
      .withColumn("seg", seg)
      .withColumn("src", src)
      .withColumn("key", key)
      .withColumn("op", op)
      .withColumn("ts_ms", ts)
    val after = withImage(withSrc, seed, col("src"), "after_img")
    val before = withImage(after, seed, col("src") + 1000000000L, "before_img")
    val payload = (name: String) => struct(
      col("key").as("transaction_id"),
      col(s"$name.user_id"), col(s"$name.timestamp"),
      struct(lit(2).as("scale"),
        base64(DebeziumDecimal.debeziumDecimalEncode(
          col(s"$name.amount").cast("decimal(18,2)"))).as("value")).as("amount"),
      col(s"$name.currency"), col(s"$name.city"), col(s"$name.country"),
      col(s"$name.merchant_name"), col(s"$name.payment_method"),
      col(s"$name.ip_address"), col(s"$name.voucher_code"), col(s"$name.affiliate_id"))
    val envelope = struct(
      when(col("op") =!= "c", payload("before_img")).as("before"),
      when(col("op") =!= "d", payload("after_img")).as("after"),
      col("op"), col("ts_ms"),
      struct(lit("postgres").as("db"), lit("public").as("schema"),
        lit("transactions").as("table"), col("src").as("lsn"),
        col("seg").as("txId"), (col("seg") * arrivalMsPerSegment).as("ts_ms")).as("source"))
    val valid = to_json(envelope)
    val malformed = pmod(idx, lit(p.malformedEvery.toLong)) === pmod(lit(seed), lit(p.malformedEvery.toLong))
    val kind = pmod(xxhash64(lit(seed), lit(9), idx), lit(3L))
    // truncated inside `before`/`after`, unparseable text, or a record
    // with no op: each one Envelope.parse must drop
    val bad = when(kind === 0, substring(valid, lit(1), (length(valid) / 3).cast("int")))
      .when(kind === 1, concat(lit("{\"op\":\"c\",\"ts_ms\":"), col("ts_ms").cast("string"), lit(",")))
      .otherwise(to_json(struct(col("ts_ms"), lit("transactions").as("table"))))
    before
      .select(col("seg"), idx.as("idx"), col("key"),
        when(malformed, bad).otherwise(valid).as("value"), malformed.as("malformed"))
  }

  /** Adds the struct column `name` holding the generated transaction image
    * for `version`.
    */
  private def withImage(df: DataFrame, seed: Long, version: Column, name: String): DataFrame = {
    val projected = TransactionGen.project(version, seed)(df)
    val fields = Seq("user_id", "timestamp", "amount", "currency", "city", "country",
      "merchant_name", "payment_method", "ip_address", "voucher_code", "affiliate_id")
    projected
      .withColumn(name, struct(fields.map(col): _*))
      .select((df.columns.map(col) :+ col(name)).toSeq: _*)
  }

  /** Number of malformed envelopes at positions [0, n). */
  def plantedMalformed(seed: Long, p: LogProfile, n: Long): Long = {
    val m = p.malformedEvery.toLong
    val r = ((seed % m) + m) % m
    if (n <= r) 0L else (n - 1 - r) / m + 1
  }
}
