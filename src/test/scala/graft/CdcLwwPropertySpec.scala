package graft

import scala.collection.mutable

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Materialize
import graft.streaming.CdcPipeline
import graft.streaming.CdcPipeline.{ChangeRec, Upsert}

/** Prefix consistency of the streaming last-write-wins apply (the
  * Structured Streaming guarantee): however a change log is delivered —
  * duplicated within and across micro-batches, reordered, cut into
  * batches anywhere, with the query stopped and restarted on its
  * checkpoint — after every batch the `materializeTws` output, read
  * back through last-write-wins, equals batch `Materialize.applyCdc`
  * over everything delivered so far.
  */
class CdcLwwPropertySpec extends AnyFunSuite {
  import GraftSpark.{rocksDbProvider, spark, withConf}
  import spark.implicits._
  import CdcLwwPropertySpec._

  /** Runs one case on a fresh checkpoint and returns the batch at which
    * the sink read-back first differed from applyCdc, if any.
    */
  private def runCase(c: Case): Option[String] = {
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("graft_lww_prop")
    val input = MemoryStream[Change]
    // an output batch replayed after a restart replaces its first run
    val emitted = mutable.SortedMap.empty[Long, Array[Upsert]]
    def start() = CdcPipeline.materializeTws(
        input.toDF().toDF("key", "tsMs", "seq", "op", "json").as[ChangeRec])
      .writeStream.option("checkpointLocation", ckpt.toString)
      .foreachBatch { (ds: Dataset[Upsert], id: Long) =>
        emitted.synchronized(emitted(id) = ds.collect()) }
      .start()
    def live(): Set[(String, Long, String, String)] =
      emitted.synchronized(emitted.values.flatten.map(u => u.key -> u).toMap)
        .values.filter(_.op != "d").map(u => (u.key, u.tsMs, u.op, u.json)).toSet
    def expected(prefix: Seq[Change]): Set[(String, Long, String, String)] =
      Materialize.applyCdc(prefix.toDF("key", "tsMs", "seq", "op", "json"),
          Seq("key"), Seq(col("tsMs"), col("seq")))
        .select("key", "tsMs", "op", "json").as[(String, Long, String, String)]
        .collect().toSet
    var q = start()
    try {
      c.batches.zipWithIndex.iterator.map { case (batch, i) =>
        if (i == c.restartAfter) { q.stop(); q = start() }
        input.addData(batch)
        q.processAllAvailable()
        val want = expected(c.batches.take(i + 1).flatten)
        val got = live()
        if (got == want) None else Some(s"after batch $i: expected $want, got $got")
      }.collectFirst { case Some(m) => m }
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
    }
  }

  test("materializeTws equals batch applyCdc after every micro-batch, across a restart") {
    val seen = mutable.ArrayBuffer.empty[Case]
    val prop = Prop.forAllNoShrink(genCase) { c =>
      seen += c
      val mismatch = runCase(c)
      Prop(mismatch.isEmpty) :| mismatch.getOrElse("")
    }
    val t0 = System.nanoTime()
    val res = withConf(rocksDbProvider) {
      Test.check(Test.Parameters.default.withMinSuccessfulTests(Cases)
        .withWorkers(1).withInitialSeed(Seed(20181010L)), prop)
    }
    info(f"${seen.size} cases in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(res.passed, Pretty.pretty(res))
    // the generator reached every delivery hazard the property is about
    val reached = Hazards.filter { case (_, h) => seen.exists(h) }.keySet
    assert(reached == Hazards.keySet, s"never generated: ${Hazards.keySet -- reached}")
  }
}

object CdcLwwPropertySpec {
  type Change = (String, Long, Long, String, String)

  /** A delivered change log cut into non-empty micro-batches; the query
    * is stopped and restarted before batch `restartAfter`.
    */
  case class Case(batches: Seq[Seq[Change]], restartAfter: Int)

  val Cases = 16

  /** Distinct changes over a few keys. `seq` is the change's position in
    * the source log, so `(tsMs, seq)` is unique per change; `tsMs` comes
    * from a narrow range so that ties broken by `seq` are common.
    */
  private val genLog: Gen[Seq[Change]] = for {
    nKeys <- Gen.choose(1, 4)
    n <- Gen.choose(1, 24)
    picks <- Gen.listOfN(n, Gen.zip(Gen.choose(0, nKeys - 1), Gen.choose(1L, 8L),
      Gen.frequency(3 -> "c", 3 -> "u", 2 -> "d")))
  } yield picks.zipWithIndex.map { case ((k, ts, op), seq) =>
    (s"k$k", ts, seq.toLong, op, s"""{"k":$k,"seq":$seq}""")
  }

  val genCase: Gen[Case] = for {
    log <- genLog
    copies <- Gen.listOfN(log.size, Gen.frequency(3 -> 1, 1 -> 2, 1 -> 3))
    shuffleSeed <- Gen.long
    delivered = new scala.util.Random(shuffleSeed)
      .shuffle(log.zip(copies).flatMap { case (ch, k) => Seq.fill(k)(ch) })
    cuts <- Gen.listOfN(3, Gen.choose(1, delivered.size))
    bounds = (0 +: cuts.distinct.sorted :+ delivered.size).distinct
    batches = bounds.zip(bounds.tail).map { case (a, b) => delivered.slice(a, b) }
    restartAfter <- Gen.choose(1, math.max(1, batches.size - 1))
  } yield Case(batches, restartAfter)

  private def hasDup(b: Seq[Change]) = b.distinct.size < b.size

  /** Named predicates over a case; each must hold for some generated case. */
  val Hazards: Map[String, Case => Boolean] = Map(
    "duplicate within a batch" -> (c => c.batches.exists(hasDup)),
    "duplicate across batches" -> (c => c.batches.combinations(2).exists {
      case Seq(a, b) => a.exists(b.contains) }),
    "reordered delivery" -> { c =>
      val d = c.batches.flatten.distinct
      d.zip(d.drop(1)).exists { case (a, b) =>
        a._1 == b._1 && Ordering[(Long, Long)].lt((b._2, b._3), (a._2, a._3)) }
    },
    "delete then re-insert" -> { c =>
      c.batches.flatten.distinct.groupBy(_._1).values.exists { chs =>
        val ops = chs.sortBy(ch => (ch._2, ch._3)).map(_._4)
        ops.zip(ops.drop(1)).exists { case (a, b) => a == "d" && b != "d" }
      }
    },
    "tsMs tie broken by seq" -> (c => c.batches.flatten.distinct
      .groupBy(ch => (ch._1, ch._2)).values.exists(_.size > 1)),
    "restart before more batches" -> (c => c.restartAfter < c.batches.size))
}
