package org.apache.spark.sql

import org.apache.spark.sql.types.StructType

/** One-method shim for graft's V1 streaming source
  * ([[graft.sources.GraftChangeFeedSource]]): a V1 `Source.getBatch`
  * must return a DataFrame whose logical plan carries
  * `isStreaming = true` (MicroBatchExecution asserts it), and the only
  * way to stamp that onto a computed batch plan is
  * `SparkSession.internalCreateDataFrame(rdd, schema, isStreaming)` —
  * `private[sql]`, hence this file's package. This is the exact
  * construction Spark's own `FileStreamSource` (and Delta's
  * `DeltaSource`, publicly) use for computed per-batch frames; the
  * RDD is the batch plan's `toRdd`, still lazy and fully distributed —
  * nothing materializes on the driver here.
  */
object GraftStreamingFrames {

  def asStreaming(df: DataFrame, schema: StructType): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, schema, isStreaming = true)
  }

  /** The inverse direction, for the streaming SINK: the frame a V1
    * `Sink.addBatch` receives is bound to the engine's
    * IncrementalExecution and refuses `.write` ("write cannot be
    * called on streaming Dataset") — re-wrap its physical RDD as a
    * plain batch frame so the generation publish can run the normal
    * distributed parquet write (the construction FileStreamSink's
    * FileFormatWriter path performs implicitly).
    */
  def asBatch(df: DataFrame): DataFrame = {
    val cdf = df.asInstanceOf[classic.Dataset[Row]]
    cdf.sparkSession.internalCreateDataFrame(
      cdf.queryExecution.toRdd, cdf.schema, isStreaming = false)
  }

  /** A streaming-tagged frame that fails with `msg` only when
    * EXECUTED. MicroBatchExecution re-requests the last COMMITTED
    * batch at every restart purely to restore V1-source state and
    * discards the result — that replay may name generations that have
    * since aged out of retention, and an eager error there would brick
    * every restart whose history was pruned (observed; spec-pinned).
    * A real redelivery of an UNCOMMITTED batch does execute its frame
    * and hits the loud error. Delta's streaming source defers its
    * vacuumed-version errors the same way.
    */
  def deferredError(session: SparkSession, schema: StructType,
                    msg: String): DataFrame = {
    val cs = session.asInstanceOf[classic.SparkSession]
    val rdd = cs.sparkContext.parallelize(Seq(0), 1)
      .mapPartitions[org.apache.spark.sql.catalyst.InternalRow](_ =>
        throw new IllegalStateException(msg))
    cs.internalCreateDataFrame(rdd, schema, isStreaming = true)
  }
}
