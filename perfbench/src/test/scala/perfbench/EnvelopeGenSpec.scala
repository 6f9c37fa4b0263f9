package perfbench

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Envelope

class EnvelopeGenSpec extends AnyFunSuite {
  import TestSpark.spark

  private val p = Cdc.StreamLog.copy(malformedEvery = 7)
  private val n = 3L * p.perSegment

  private def bytes(seed: Long): Seq[(Long, String, Seq[Byte])] =
    EnvelopeGen.log(spark, seed, p, 100L, 0L, n).orderBy("idx")
      .select("idx", "key", "value").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getString(2).getBytes("UTF-8").toSeq))

  test("the same seed gives a byte-identical log, another seed a different one") {
    val a = bytes(11L)
    assert(a.size == n)
    assert(a == bytes(11L))
    assert(a != bytes(12L))
  }

  test("a segment generated on its own equals that slice of the whole log") {
    val whole = EnvelopeGen.log(spark, 5L, p, 100L, 0L, n)
      .filter(col("seg") === 1).orderBy("idx").collect().toSeq
    val alone = EnvelopeGen.log(spark, 5L, p, 100L, p.perSegment, 2L * p.perSegment)
      .orderBy("idx").collect().toSeq
    assert(whole == alone)
  }

  test("Envelope.parse drops exactly the planted malformed records") {
    val log = EnvelopeGen.log(spark, 3L, p, 100L, 0L, n)
    val planted = EnvelopeGen.plantedMalformed(3L, p, n)
    assert(planted > 0)
    assert(log.filter(col("malformed")).count() == planted)
    assert(Envelope.parse(log).count() == n - planted)
  }

  test("every op kind, duplicates and out-of-order ts_ms occur") {
    val rows = Envelope.parse(EnvelopeGen.log(spark, 9L, Cdc.StreamLog, 100L, 0L, 2000L))
      .select(col("op"), col("ts_ms"), col("source.lsn").as("lsn")).collect()
    assert(rows.map(_.getString(0)).toSet == Set("c", "u", "d"))
    assert(rows.map(_.getLong(2)).distinct.length < rows.length, "no redelivered envelope")
    val ts = rows.sortBy(_.getLong(2)).map(_.getLong(1))
    assert(ts.sliding(2).exists { case Array(a, b) => b < a }, "ts_ms never goes back")
  }
}
