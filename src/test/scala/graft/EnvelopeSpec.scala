package graft

import java.math.BigDecimal

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Expression, JsonToStructs, Literal, StructsToJson}
import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.Envelope
import graft.model.Schemas
import graft.streaming.{CdcPipeline, FileTopic}

/** `Envelope.parse` on hostile input, and the shape of its plan. The
  * expected rows pin what `from_json` (PERMISSIVE) does today: a record
  * it cannot parse at all, or one without an `op`, is dropped; a field
  * it cannot convert reads null and the rest of the record is kept.
  */
class EnvelopeSpec extends AnyFunSuite {
  private lazy val spark = GraftSpark.spark
  import EnvelopeSpec._

  test("parse keeps from_json's rows and drops on adversarial envelopes") {
    val s = spark
    import s.implicits._
    // an RDD-backed frame: a local Seq would be folded into a
    // LocalRelation by the optimizer and never reach the executed plan
    val raw = spark.sparkContext.parallelize(inputs.map(Option(_)), 3).toDF("value")
    val out = Envelope.parse(raw, payload)
    assert(out.schema.fields.toSeq == Schemas.envelope(payload).fields.toSeq)
    val got = out.collect().toSeq
    assert(got.sortBy(_.toString) == expected.sortBy(_.toString))
    assert(inputs.size - got.size == 14, s"dropped ${inputs.size - got.size}")
  }

  test("parse runs from_json once per row over the stream's record shape") {
    val dir = java.nio.file.Files.createTempDirectory("graft_envelope_plan")
    try {
      val raw = spark.read.schema(FileTopic.recordSchema).parquet(dir.toString)
      val parsed = Envelope.parse(raw)
      assert(total(parsed.queryExecution.optimizedPlan)(jsonToStructs) == 1,
        parsed.queryExecution.optimizedPlan.treeString)
      // the live stream's pre-state plan: parse → toRows → toChangeRecs
      val changes = CdcPipeline.toChangeRecs(Envelope.toRows(parsed), "transaction_id", "ts_ms")
      val plan = changes.queryExecution.optimizedPlan
      assert(total(plan)(jsonToStructs) == 1 && total(plan)(structsToJson) == 1, plan.treeString)
    } finally dir.toFile.delete()
  }

  test("cdc_envelope_apply builds and parses each envelope once per union branch") {
    val plan = SparkEntry.queries("cdc_envelope_apply")(spark, GraftSpark.sfDir)
      .queryExecution.optimizedPlan
    // one path per branch, from its scan to the root: a site above the
    // union serves both branches, one below it only its own
    assert(perPath(plan)(jsonToStructs) == Seq(1, 1), plan.treeString)
    assert(perPath(plan)(structsToJson) == Seq(1, 1), plan.treeString)
  }
}

object EnvelopeSpec {
  val payload: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("note", StringType),
    StructField("amount", DecimalType(10, 2))))

  /** Sites met on each path from a leaf of `plan` up to its root. */
  def perPath(plan: LogicalPlan)(sites: LogicalPlan => Int): Seq[Int] =
    if (plan.children.isEmpty) Seq(sites(plan))
    else plan.children.flatMap(perPath(_)(sites)).map(_ + sites(plan))

  def total(plan: LogicalPlan)(sites: LogicalPlan => Int): Int = plan.collect { case n => sites(n) }.sum

  /** Expressions of one plan node (not its children) that `pf` matches. */
  private def count(node: LogicalPlan)(pf: PartialFunction[Expression, Unit]): Int =
    node.expressions.map(_.collect(pf).size).sum

  def jsonToStructs(node: LogicalPlan): Int = count(node) { case _: JsonToStructs => () }

  /** `to_json` is runtime-replaceable: the optimizer swaps it for an
    * `Invoke` on its evaluator, so count both forms.
    */
  def structsToJson(node: LogicalPlan): Int = count(node) {
    case _: StructsToJson => ()
    case Invoke(Literal(_: StructsToJsonEvaluator, _), _, _, _, _, _, _, _) => ()
  }

  private val deep = 2000
  private val shallow = 20
  private val nested = ("{\"a\":" * shallow) + "1" + ("}" * shallow)

  val inputs: Seq[String] = Seq(
    // escaped quotes, backslash, solidus, control and \u escapes
    """{"op":"c","ts_ms":1,"after":{"id":1,"note":"say \"hi\" \\ \/ é中 😀 \u00e9\u4e2d\ud83d\ude00 \n\t","amount":1.50},"source":{"db":"pg","schema":"public","table":"t","lsn":10,"txId":7}}""",
    """{"op":"d","ts_ms":2,"before":{"id":2,"note":"gone","amount":-2.25}}""",
    // duplicate keys: the last one wins, at the top level and nested
    """{"op":"c","op":"u","ts_ms":3,"after":{"id":3,"id":33,"note":"dup"}}""",
    // lone high and low surrogates
    """{"op":"u","ts_ms":4,"after":{"id":4,"note":"lone \ud800 high"},"before":{"id":4,"note":"lone \udc00 low"}}""",
    // an object where a string is declared keeps its raw text
    s"""{"op":"c","ts_ms":5,"after":{"id":5,"note":$nested}}""",
    // nesting deeper than the parser allows, in an undeclared field
    """{"op":"c","ts_ms":6,"after":{"id":6},"extra":""" + ("[" * deep) + ("]" * deep) + "}",
    // oversized numbers: ts_ms overflows a long, amounts overflow DECIMAL(10,2)
    """{"op":"c","ts_ms":99999999999999999999,"after":{"id":7,"amount":1.00}}""",
    """{"op":"c","ts_ms":8,"after":{"id":8,"amount":123456789012345678901234567890.12}}""",
    """{"op":"c","ts_ms":9,"after":{"id":9,"amount":1e400}}""",
    // truncated records
    """{"op":"c","ts_ms":10,"after":{"id":10,"note":"trunc""",
    """{"op":"c","ts_ms":11,""",
    // no op
    """{"op":null,"ts_ms":12,"after":{"id":12}}""",
    """{"ts_ms":13,"after":{"id":13}}""",
    // JSON null, empty and blank text
    "null",
    "",
    "   ",
    // non-object top levels
    "[1,2]",
    """[{"op":"c","ts_ms":14,"after":{"id":14}}]""",
    "\"just a string\"",
    "42",
    "true",
    // text after the first value is ignored
    """{"op":"c","ts_ms":15,"after":{"id":15}} trailing""",
    // quoted numbers: a long field reads null, a decimal field parses
    """{"op":"u","ts_ms":"16","after":{"id":"16","amount":"3.5"}}""",
    // an array where the image struct is declared
    """{"op":"c","ts_ms":17,"after":[1,2]}""",
    // SQL NULL value
    null)

  private def dec(s: String) = new BigDecimal(s)

  val expected: Seq[Row] = Seq(
    Row(null, Row(1L, "say \"hi\" \\ / é中 😀 \u00e9\u4e2d\ud83d\ude00 \n\t",
      dec("1.50")), "c", 1L,
      Row("pg", "public", "t", 10L, 7L)),
    Row(Row(2L, "gone", dec("-2.25")), null, "d", 2L, null),
    Row(null, Row(33L, "dup", null), "u", 3L, null),
    Row(Row(4L, "lone ? low", null), Row(4L, "lone ? high", null), "u", 4L, null),
    Row(null, Row(5L, nested, null), "c", 5L, null),
    Row(null, Row(7L, null, dec("1.00")), "c", null, null),
    Row(null, Row(8L, null, null), "c", 8L, null),
    Row(null, Row(9L, null, null), "c", 9L, null),
    Row(null, Row(15L, null, null), "c", 15L, null),
    Row(null, Row(null, null, dec("3.50")), "u", null, null),
    Row(null, null, "c", 17L, null))
}
