package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.util.{FooterSchema, Tables}

/** Dev-only: show how the engine reads the testdata timestamps — the
  * parquet footer's `ts` type, the schemas `Tables` hands to queries,
  * and a few µs-truncated events rows.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(graft.util.Tuning.sqlDefaults.toMap)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    println("EVENTS FOOTER ts: " +
      FooterSchema.parquetSchema(spark, s"$dir/events.parquet").getType(Seq("ts"): _*))
    val orders = Tables(spark, dir, "orders")
    println("ORDERS SCHEMA: " + orders.schema.simpleString)
    val events = Tables(spark, dir, "events")
    println("EVENTS SCHEMA: " + events.schema.simpleString)
    events.select(col("event_id"), col("ts").cast("string").as("ts"))
      .orderBy("event_id").limit(3).collect().foreach(println)
    println(orders.select(min("o_orderdate").cast("string")).collect().toSeq)
    spark.stop()
  }
}
