package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.Envelope
import graft.operators.Materialize
import graft.streaming.{CdcPipeline, FileTopic}

/** The benchmark's correctness checks. Each returns the number of
  * failed operations it found; the caller adds them to `failed`.
  */
object Gate {

  /** Live (key, json) rows of a sink holding `CdcPipeline.Upsert`s: the
    * last write per key by `tsMs`, with tombstoned keys removed.
    */
  def sinkState(upserts: DataFrame): DataFrame =
    upserts.groupBy("key")
      .agg(max_by(struct(col("op"), col("json")), col("tsMs")).as("s"))
      .filter(col("s.op") =!= "d")
      .select(col("key"), col("s.json").as("json"))

  /** The reference: batch [[Materialize.applyCdc]] over the whole topic
    * log, rendered through the same `toChangeRecs` projection the stream
    * uses.
    */
  def referenceState(spark: SparkSession, topicDir: String): DataFrame = {
    val rows = Envelope.toRows(Envelope.parse(
      spark.read.schema(FileTopic.recordSchema).parquet(topicDir)))
    val live = Materialize.applyCdc(rows, Seq("transaction_id"), Seq(col("ts_ms")))
    CdcPipeline.toChangeRecs(live, "transaction_id", "ts_ms").toDF().select("key", "json")
  }

  /** Rows present on one side only, counted with multiplicity. */
  def stateMismatches(expected: DataFrame, actual: DataFrame): Long =
    expected.exceptAll(actual).count() + actual.exceptAll(expected).count()

  /** Released segments that no committed batch consumed, given each
    * batch's (lowest, highest) consumed segment.
    */
  def unapplied(released: Seq[Long], consumed: Seq[(Long, Long)]): Seq[Long] =
    released.filterNot(k => consumed.exists { case (lo, hi) => lo <= k && k <= hi })

  /** A query result's row count and an order-independent hash of its rows. */
  final case class Fingerprint(rows: Long, hashHi: Long, hashLo: Long)

  /** Aggregates for [[Fingerprint]] over every column of `df`: the sums
    * of the high and low 32 bits of each row's xxhash64, which cannot
    * overflow a long below 2^31 rows.
    */
  def fingerprintColumns(df: DataFrame): Seq[org.apache.spark.sql.Column] = {
    val h = xxhash64(df.columns.map(c => df.col(s"`$c`")).toSeq: _*)
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"))
  }
}
