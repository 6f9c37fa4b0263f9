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

  /** The state store `transformWithState` needs. */
  val rocksDbProvider: (String, String) =
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Runs `body` with the given session confs set, then restores each
    * key's previous value (or unsets it).
    */
  def withConf[T](kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
