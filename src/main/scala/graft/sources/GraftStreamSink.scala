package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, GraftStreamingFrames, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode

/** `df.writeStream.format("graft")` — generation-publishing as a
  * NATIVE streaming sink, the write-side twin of
  * [[GraftChangeFeedSource]]: every micro-batch publishes ONE new
  * generation (Append → [[Compaction.appendGen]]: fresh rows + carried
  * current files; Complete → [[Compaction.writeGen]]: the batch IS the
  * replacement snapshot — the natural sink for a streaming
  * aggregation), so concurrent readers always see a whole snapshot and
  * the change feed / time travel work on streamed tables for free.
  *
  * EFFECTIVELY-ONCE, the reference's O14 contract
  * (transaction_consumer.py:85-103 `INSERT .. ON CONFLICT DO NOTHING`)
  * rebuilt on atomic publishes instead of per-row conflict checks:
  * each publish stamps a `_graft_sink_batch` sidecar INSIDE the
  * generation (batch id + the stream's checkpoint-scoped runId is
  * irrelevant — ids are monotone per checkpoint), and a REDELIVERED
  * batch (crash between sink commit and offset commit) sees
  * `lastBatch >= batchId` and skips — the generation and its batch
  * marker commit atomically, the same ride-inside trick
  * `Materialize.maintainAggregate` uses. [[Compaction.appendGen]]
  * carries the sidecar forward on non-sink appends (an INSERT INTO
  * interleaved between batches), so the dedup memory survives other
  * writers; a crash BEFORE publish leaves only an orphaned claim dir
  * (pruned) and the redelivery re-applies cleanly.
  *
  * Scale: per batch, one distributed parquet write of the batch rows +
  * O(#files) metadata for the carry — the sink never rewrites history
  * in Append mode. Partition columns are rejected (generations are
  * snapshot dirs); Update mode is rejected — keyed upsert semantics
  * live in `CdcPipeline.idempotentParquetUpsert`/`materializeTws`,
  * which know the key.
  */
final class GraftStreamSink(spark: SparkSession, path: String,
                            mode: OutputMode) extends Sink {

  import GraftStreamSink._

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val last = lastBatchOf(fs, main)
    if (last.exists(_ >= batchId)) return // redelivery — already published
    val batch = GraftStreamingFrames.asBatch(data)
    val stamp: Path => Unit = { genDir =>
      val out = fs.create(new Path(genDir, SinkBatchSidecar), true)
      try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    }
    if (mode == OutputMode.Complete())
      Compaction.writeGen(batch, path, beforePublish = stamp)
    else
      Compaction.appendGen(batch, path, beforePublish = stamp)
  }

  override def toString: String = s"GraftStreamSink[$path $mode]"
}

object GraftStreamSink {

  /** Rides INSIDE each generation so state and dedup memory commit
    * atomically with the data (see class doc).
    */
  val SinkBatchSidecar = "_graft_sink_batch"

  private[sources] def lastBatchOf(fs: org.apache.hadoop.fs.FileSystem,
                                   main: Path): Option[Long] = {
    val cur = Compaction.resolve(fs, main)
    val p = new Path(cur, SinkBatchSidecar)
    try {
      val in = fs.open(p)
      // one read() may return fewer bytes than the file holds: a
      // truncated id would let a redelivered batch apply twice
      try new String(in.readAllBytes, "UTF-8").trim.toLongOption
      finally in.close()
    } catch { case _: java.io.IOException => None }
  }
}
