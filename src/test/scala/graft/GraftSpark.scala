package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for every suite (a SparkContext per suite
  * would serialize the whole run on JVM startup). It is built with the
  * engine's shipped defaults ([[graft.util.Tuning]]), so the suite runs
  * what the mains and the benchmark run.
  */
object GraftSpark {
  lazy val spark: SparkSession = {
    val s = graft.util.Tuning.tuned(SparkSession.builder())
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}
