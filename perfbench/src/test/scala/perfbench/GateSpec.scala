package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GateSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val upserts = Seq(
    ("k1", 1000L, "c", "{\"v\":1}"),
    ("k1", 2000L, "u", "{\"v\":2}"),
    ("k2", 1500L, "c", "{\"v\":3}"),
    ("k2", 1600L, "d", "{\"v\":3}"),
    ("k3", 1700L, "c", "{\"v\":4}")).toDF("key", "tsMs", "op", "json")

  test("the sink state is the last write per key, without tombstoned keys") {
    val got = Gate.sinkState(upserts).as[(String, String)].collect().toMap
    assert(got == Map("k1" -> "{\"v\":2}", "k3" -> "{\"v\":4}"))
  }

  test("a planted wrong row is rejected, an equal state accepted") {
    val expected = Seq(("k1", "{\"v\":2}"), ("k3", "{\"v\":4}")).toDF("key", "json")
    assert(Gate.stateMismatches(expected, Gate.sinkState(upserts)) == 0)
    val wrong = upserts.union(Seq(("k3", 1800L, "u", "{\"v\":99}")).toDF("key", "tsMs", "op", "json"))
    assert(Gate.stateMismatches(expected, Gate.sinkState(wrong)) == 2)
    val extra = upserts.union(Seq(("k4", 1L, "c", "{}")).toDF("key", "tsMs", "op", "json"))
    assert(Gate.stateMismatches(expected, Gate.sinkState(extra)) == 1)
  }

  test("a segment that no batch consumed is reported") {
    assert(Gate.unapplied(0L until 6L, Seq((0L, 2L), (3L, 5L))).isEmpty)
    assert(Gate.unapplied(0L until 6L, Seq((0L, 2L), (4L, 5L))) == Seq(3L))
    assert(Gate.unapplied(0L until 3L, Nil) == Seq(0L, 1L, 2L))
  }

  test("a result fingerprint catches a changed, a missing and a duplicated row") {
    def fp(rows: Seq[(Int, String)]): Gate.Fingerprint = {
      val df = rows.toDF("a", "b")
      val cols = Gate.fingerprintColumns(df)
      val r = df.agg(cols.head, cols.tail: _*).head()
      Gate.Fingerprint(r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val base = fp(Seq(1 -> "x", 2 -> "y", 3 -> "z"))
    assert(base == fp(Seq(3 -> "z", 1 -> "x", 2 -> "y")), "row order must not matter")
    assert(base != fp(Seq(1 -> "x", 2 -> "y", 3 -> "Z")))
    assert(base != fp(Seq(1 -> "x", 2 -> "y")))
    assert(base != fp(Seq(1 -> "x", 2 -> "y", 3 -> "z", 3 -> "z")))
    assert(fp(Nil) == Gate.Fingerprint(0L, 0L, 0L))
  }
}
