package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.util.Tables

/** The testdata contract check. When the testdata was once
  * regenerated with events.parquet in TIMESTAMP(MICROS) instead of
  * TIMESTAMP(NANOS), every events query died with the same opaque
  * AnalysisException — 31 red rows that took an artifact diff to trace
  * to one reader. [[graft.util.Tables]] now DECLARES every table's
  * schema instead of inferring it, so a drifted file would no longer
  * fail at read time at all: a vanished column reads as nulls. This
  * spec is what catches drift: it compares the declared contract with
  * Spark's own inference over every testdata scale present, so the next
  * regeneration fails as ONE readable line per table and column.
  *
  * events.ts may be TIMESTAMP(NANOS) or TIMESTAMP(MICROS) on disk —
  * Tables absorbs that (both read as timestamp_ntz), so a NANOS footer
  * is not drift.
  */
class SchemaProbeSpec extends AnyFunSuite {
  import GraftSpark.{spark, sfDir}

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private val sfDirs: Seq[String] =
    Option(new File(sfDir).getParentFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("sf"))
      .map(_.getPath).sorted

  private def file(dir: String, t: String) = s"$dir/$t.parquet"

  /** Run `f` with Spark inferring NANOS timestamps as longs, restoring
    * the session's setting after.
    */
  private def withNanosAsLong[A](f: => A): A = {
    val prior = spark.conf.getOption(NanosAsLong)
    spark.conf.set(NanosAsLong, "true")
    try f finally prior.fold(spark.conf.unset(NanosAsLong))(spark.conf.set(NanosAsLong, _))
  }

  /** The table as Spark's schema inference reads it, with a NANOS
    * events.ts normalised the way Tables normalises it.
    */
  private def inferring(dir: String, t: String): DataFrame = {
    val df = spark.read.parquet(file(dir, t))
    if (t == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else df
  }

  private def columns(s: StructType): Seq[(String, String)] =
    s.fields.map(f => f.name -> f.dataType.simpleString).toSeq

  test("every testdata table reads with the engine-contract schema") {
    assert(sfDirs.nonEmpty, s"no sf* dir beside $sfDir to check")
    val deltas = for (dir <- sfDirs; t <- Tables.all; d <- {
      try {
        val got = columns(withNanosAsLong(inferring(dir, t).schema))
        val want = columns(Tables.schemas(t))
        if (got == want) Nil
        else {
          val missing = want.filterNot(got.contains)
            .map { case (c, ty) => s"$t.$c: declared $ty, file has " +
              got.collectFirst { case (`c`, a) => a }.getOrElse("ABSENT") }
          val extra = got.map(_._1).diff(want.map(_._1))
            .map(c => s"$t.$c: undeclared new column")
          val reordered =
            if (missing.isEmpty && extra.isEmpty)
              Seq(s"$t: columns reordered — file has ${got.map(_._1).mkString(",")}")
            else Nil
          missing ++ extra ++ reordered
        }
      } catch {
        case e: Exception =>
          Seq(s"$t: READ FAILED — ${e.getClass.getSimpleName}: " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString)
      }
    }) yield s"${new File(dir).getName} $d"
    assert(deltas.isEmpty,
      "\nTESTDATA DRIFT — regenerate broke the engine contract:\n  " +
        deltas.mkString("\n  ") +
        "\n(update the contract in graft.util.Tables and FIXTURES.md §B)")
  }

  test("Tables reads every table with its declared schema") {
    Tables.all.foreach { t =>
      assert(columns(Tables(spark, sfDir, t).schema) == columns(Tables.schemas(t)), t)
    }
  }

  test("a declared read returns the same rows as an inferring read (sf0.001)") {
    def fingerprint(df: DataFrame): (Long, BigDecimal) = {
      val r = df.agg(count(lit(1)),
          sum(xxhash64(df.columns.map(col).toIndexedSeq: _*)
            .cast("decimal(38,0)")))
        .head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    Tables.all.foreach { t =>
      val declared = fingerprint(Tables(spark, sfDir, t))
      val inferred = withNanosAsLong(fingerprint(inferring(sfDir, t)))
      assert(declared == inferred, s"$t: declared read $declared, inferring read $inferred")
    }
  }
}
