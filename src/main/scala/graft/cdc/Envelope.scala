package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.DebeziumDecimal
import graft.model.Schemas

/** Debezium envelope handling (reference O16/O17/O18).
  *
  * The engine consumes change topics (`cdc.*`, README.md:303) — it does
  * not re-implement logical decoding; stages WAL→Debezium→Kafka stay
  * external (SURVEY.md §3 E3). Input here is the raw Kafka record
  * (key/value binary) or any DataFrame with a JSON string column.
  */
object Envelope {

  /** Parse JSON envelope records into `before`, `after`, `op`, `ts_ms`
    * and `source` (the fields of `Schemas.envelope(payload)`).
    *
    * A record `from_json` cannot parse yields a null envelope, and one
    * with no `op` a null `op`; both are dropped — the streaming
    * equivalent of the reference consumer's log-and-skip on message
    * error (transaction_consumer.py:77-81). A null envelope comes out of
    * the generator as a row of nulls, so `op IS NOT NULL` alone drops
    * both kinds.
    *
    * The parse runs inside a generator (`inline` over a one-element
    * array) and the validity filter sits above it, so `from_json` runs
    * once per record: Catalyst never pushes a predicate on a
    * generator's output below the generator. Over a plain projection it
    * would push the filter down and inline the parse into it, parsing
    * each record once more per null check.
    */
  def parse(raw: DataFrame, payload: StructType = Schemas.transactionPrecise,
            jsonCol: String = "value"): DataFrame =
    raw
      .select(inline(array(from_json(col(jsonCol).cast("string"), Schemas.envelope(payload)))))
      .filter(col("op").isNotNull)

  /** The row image an op refers to: `before` for deletes, else `after`
    * (REPLICA IDENTITY FULL ⇒ before is present on u/d, README.md:173).
    */
  def currentImage: Column =
    when(col("op") === "d", col("before")).otherwise(col("after"))

  /** Flatten envelopes to op-tagged rows of the payload schema, decoding
    * the `precise` amount struct to the canonical DECIMAL(38,18)
    * (README.md:269-287; modes table README.md:342-346).
    */
  def toRows(parsed: DataFrame, decimalMode: String = "precise"): DataFrame = {
    val img = parsed
      .withColumn("__row", currentImage)
      .select(col("op"), col("ts_ms"), col("__row.*"))
    if (decimalMode == "precise")
      img.withColumn("amount", DebeziumDecimal.fromMode("precise", col("amount")))
    else img.withColumn("amount",
      DebeziumDecimal.fromMode(decimalMode, col("amount")))
  }
}
