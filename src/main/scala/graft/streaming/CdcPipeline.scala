package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.operators.Materialize

/** Structured-Streaming re-expression of the reference pipeline
  * (SURVEY.md §3): Kafka source/sink, bounded-state dedup, and keyed
  * last-write-wins materialization with delete (tombstone) support.
  *
  * Reference semantics being reproduced:
  *  - keyed at-least-once produce (transaction_producer.py:41-54) →
  *    Kafka sink keyed by transaction_id, checkpointed offsets;
  *  - consumer group + earliest offsets (transaction_consumer.py:7-13) →
  *    `startingOffsets=earliest` + checkpoint dir;
  *  - idempotent PK sink `ON CONFLICT DO NOTHING`
  *    (transaction_consumer.py:85-103) → dropDuplicates* on the key, or
  *    first-write-wins in `foreachBatch`;
  *  - CDC apply of the Debezium envelope → stateful last-write-wins with
  *    deletes (`materializeTws`, on transformWithState).
  */
object CdcPipeline {

  // ----- transport (O8/O11): needs a broker at runtime, plan-only here --
  //
  // Embedded-broker round-trip attempt (2026-08-13, round 5): a live
  // toKafkaRecords → broker → kafkaSource spec needs BOTH
  // spark-sql-kafka-0-10 (the "kafka" DataSource — NOT in
  // /opt/spark/jars, verified `ls | grep -i kafka` → empty) and
  // kafka-clients/an embeddable broker (absent from the offline
  // coursier cache, verified `find ~/.cache/coursier -iname '*kafka*'`
  // → empty). COURSIER_MODE=offline + zero egress means neither can
  // resolve, so the round-trip cannot execute in this sandbox. The
  // executable contract twin remains FileTopic (keyed records, offsets,
  // sidecar-first reservation, crash = gaps-not-dups, checkpoint
  // resume — CdcStreamSpec), and these builders stay plan-only.

  def kafkaSource(spark: SparkSession, brokers: String, subscribe: String,
                  startingOffsets: String = "earliest"): DataFrame =
    spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", subscribe)
      .option("startingOffsets", startingOffsets)
      .load()

  /** Keyed JSON produce — key = transaction_id (producer key choice at
    * transaction_producer.py:44; value is the lossy-stringified row, O7).
    */
  def toKafkaRecords(df: DataFrame, keyCol: String): DataFrame =
    df.select(
      col(keyCol).cast("string").as("key"),
      to_json(struct(df.columns.map(col).toSeq: _*)).as("value"))

  // ----- dedup (O14), state bounded by watermark ------------------------

  /** The reference's PK dedup has unbounded state (a table PK); a stream
    * can't. `dropDuplicatesWithinWatermark` keeps keys only inside the
    * watermark delay — the documented contract: duplicates arriving
    * farther apart than `delay` are not suppressed.
    */
  def dedupWithinWatermark(df: DataFrame, keyCol: String, tsCol: String,
                           delay: String): DataFrame =
    df.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keyCol)

  // ----- stateful CDC materialization ----------------------------------

  /** Generic change record: payload as JSON so one operator serves any
    * schema; `tsMs` orders writes per key (Debezium ts_ms), `seq` breaks
    * ties (e.g. Kafka offset / LSN).
    */
  case class ChangeRec(key: String, tsMs: Long, seq: Long, op: String, json: String)
  case class KeyState(tsMs: Long, seq: Long, op: String, json: String)
  /** Emitted on state change; op "d" is a tombstone for the sink. */
  case class Upsert(key: String, tsMs: Long, op: String, json: String)

  /** Event-time tombstone eviction for [[materializeTws]]: a key whose
    * latest op is a delete keeps its state until the watermark (event
    * time `tsMs` minus `watermarkDelay`) passes delete time + `ttlMs`.
    */
  case class TombstoneTtl(watermarkDelay: String, ttlMs: Long)

  /** Last-write-wins per key, honoring deletes, on Spark 4's
    * `transformWithState`: typed per-key `ValueState` in the RocksDB
    * state store (the session must use `RocksDBStateStoreProvider`;
    * incremental checkpoints, state not bound by executor heap). A
    * change replaces the key's state, and is emitted, only when its
    * `(tsMs, seq)` is strictly newer than the state's, so an identical
    * redelivery in a later batch emits nothing. Within a batch the same
    * comparator picks the key's newest change.
    *
    * With no `tombstoneTtl`, state is one row per key ever seen, kept
    * forever as the reference's sink keeps its rows; the plan has no
    * time mode and no timers.
    *
    * With a `tombstoneTtl`, a delete that wins registers an event-time
    * timer at `max(deleteTs + ttlMs, watermark + 1)`, a newer change
    * that replaces the tombstone deletes it, and an expired timer drops
    * the state row. Without this, a delete-heavy stream's state grows
    * with every key ever deleted. The tombstone must outlive the
    * duplicate-delivery window (the watermark delay): while it lives, a
    * replayed insert with an older ts_ms still loses to it. In this
    * event-time mode Spark drops input rows already behind the
    * watermark, so a replay older than an evicted tombstone cannot
    * re-create the key. A genuinely new insert (ts_ms past the delete)
    * wins whether or not the tombstone is still resident.
    */
  def materializeTws(changes: Dataset[ChangeRec],
                     tombstoneTtl: Option[TombstoneTtl] = None): Dataset[Upsert] = {
    implicit val stringEnc = Encoders.STRING
    implicit val outEnc = Encoders.product[Upsert]
    val timed = tombstoneTtl.fold(changes) { t =>
      changes.withColumn("eventTime", timestamp_millis(col("tsMs")))
        .withWatermark("eventTime", t.watermarkDelay)
        .as[ChangeRec](Encoders.product[ChangeRec])
    }
    timed.groupByKey(_.key)
      .transformWithState(new LwwProcessor(tombstoneTtl.map(_.ttlMs)),
        if (tombstoneTtl.isEmpty) TimeMode.None() else TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** Last-write-wins keyed processor for [[materializeTws]]. Timer calls
    * are made only with a TTL, and only for a key whose state is or
    * becomes a tombstone.
    */
  private class LwwProcessor(tombstoneTtlMs: Option[Long])
    extends StatefulProcessor[String, ChangeRec, Upsert] {
    @transient private var state: ValueState[KeyState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[KeyState](
        "lww", Encoders.product[KeyState], TTLConfig.NONE)

    private def newer(aTs: Long, aSeq: Long, bTs: Long, bSeq: Long): Boolean =
      aTs > bTs || (aTs == bTs && aSeq > bSeq)

    override def handleInputRows(key: String, rows: Iterator[ChangeRec],
                                 timerValues: TimerValues): Iterator[Upsert] = {
      val rec = rows.reduce((a, b) => if (newer(b.tsMs, b.seq, a.tsMs, a.seq)) b else a)
      val cur = if (state.exists()) Some(state.get()) else None
      if (cur.exists(c => !newer(rec.tsMs, rec.seq, c.tsMs, c.seq))) Iterator.empty
      else {
        tombstoneTtlMs.foreach { ttl =>
          if (cur.exists(_.op == "d")) getHandle.listTimers().foreach(getHandle.deleteTimer)
          if (rec.op == "d")
            getHandle.registerTimer(
              math.max(rec.tsMs + ttl, timerValues.getCurrentWatermarkInMs() + 1))
        }
        state.update(KeyState(rec.tsMs, rec.seq, rec.op, rec.json))
        Iterator.single(Upsert(key, rec.tsMs, rec.op, rec.json))
      }
    }

    // the watermark passed deleteTs + ttl: no on-time change can precede
    // the tombstone anymore
    override def handleExpiredTimer(key: String, timerValues: TimerValues,
                                    expiredTimerInfo: ExpiredTimerInfo): Iterator[Upsert] = {
      state.clear()
      Iterator.empty
    }
  }

  /** Adapt an op-tagged flat DataFrame (Envelope.toRows output) to
    * ChangeRec for [[materializeTws]]. A row whose key, `ts_ms` or
    * sequence is null is dropped: `from_json` reads a field it could not
    * convert (say `"ts_ms":"16"`) as null, such a change can be neither
    * keyed nor ordered, and as a ChangeRec it would fail the whole job
    * and stop the stream. This is the reference consumer's skip of a bad
    * message (transaction_consumer.py:77-81).
    */
  def toChangeRecs(rows: DataFrame, keyCol: String, seqCol: String): Dataset[ChangeRec] = {
    implicit val enc = Encoders.product[ChangeRec]
    rows.select(
      col(keyCol).cast("string").as("key"),
      col("ts_ms").cast("long").as("tsMs"),
      col(seqCol).cast("long").as("seq"),
      col("op").cast("string").as("op"),
      to_json(struct(rows.columns.filterNot(Set("op", "ts_ms")).map(col).toSeq: _*)).as("json"))
      .filter(col("key").isNotNull && col("tsMs").isNotNull && col("seq").isNotNull)
      .as[ChangeRec]
  }

  // ----- idempotent batch sink (O14 faithful form) ----------------------

  /** `foreachBatch` upsert emulating `INSERT ... ON CONFLICT DO NOTHING`
    * against a parquet-backed table (stand-in for the JDBC/Delta MERGE a
    * cluster deployment would use): first write for a key wins across
    * batches, which together with Kafka at-least-once gives the
    * reference's effectively-once contract (SURVEY.md §4).
    *
    * Scale design — the sink is a keyed, bucket-pruned MERGE, not a
    * table rewrite. The table is directory-partitioned by
    * `__bucket = pmod(hash(keys), nBuckets)`; a batch
    *  1. computes the (≤ nBuckets, typically few) bucket ids it touches,
    *  2. reads ONLY those partitions of the committed table (partition
    *     pruning at file-listing time — untouched buckets are never
    *     opened),
    *  3. first-write-wins-merges batch against committed rows, and
    *  4. dynamic-partition-overwrites exactly the touched buckets.
    * Per-batch I/O and shuffle are therefore ∝ |batch ∪ its buckets|,
    * not O(table) — the property a delete-heavy 100 TB CDC stream needs.
    * Files in untouched buckets are left byte-identical (asserted in
    * OperatorsSpec).
    *
    * Determinism: across batches, committed rows always win (`__pri` 0
    * vs 1). WITHIN a batch, duplicate keys are resolved by `tieBreak` —
    * a monotone sequence (Kafka offset/LSN) when the caller has one, or
    * the default stable hash of all non-key columns — so a replayed or
    * retried batch commits the same winner as its first attempt (the
    * reference's Postgres sink is deterministic the same way: first
    * arrival wins, and redelivery replays the same order).
    */
  def idempotentParquetUpsert(spark: SparkSession, batch: DataFrame,
                              path: String, keys: Seq[String],
                              nBuckets: Int = 64,
                              tieBreak: Seq[org.apache.spark.sql.Column] = Nil): Unit = {
    val valueCols = batch.columns.filterNot(keys.contains).toSeq
    val tie =
      if (tieBreak.nonEmpty) tieBreak
      // all-columns-are-keys ⇒ same-key rows are identical; no tiebreak
      else if (valueCols.isEmpty) Seq(lit(0))
      else Seq(xxhash64(valueCols.map(col): _*))
    val bucket = pmod(hash(keys.map(col): _*), lit(nBuckets)).cast("int")
    val batchB = batch.withColumn("__bucket", bucket)
    // ≤ nBuckets ints — a bounded driver-side list, needed to prune the
    // committed-table read; NOT a data collect.
    val touched = batchB.select("__bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    // Only a genuinely ABSENT table means "first batch". A read error or
    // a layout mismatch must fail loudly — treating it as absent would
    // let dynamic overwrite replace committed buckets with batch-only
    // winners (silent first-write-wins violation / data loss).
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bucketsMarker = new org.apache.hadoop.fs.Path(path, "_graft_buckets")
    completePendingRecovery(fs, path)
    val existing =
      if (!fs.exists(new org.apache.hadoop.fs.Path(path))) None
      else {
        if (fs.exists(bucketsMarker)) {
          val in = fs.open(bucketsMarker)
          val committed =
            try new String(in.readAllBytes,
              java.nio.charset.StandardCharsets.UTF_8).trim.toInt
            finally in.close()
          require(committed == nBuckets,
            s"sink at $path was bucketed with nBuckets=$committed, " +
              s"got $nBuckets — bucket ids would not line up")
        } else {
          // Marker lost (crash window between the first data write and
          // the first marker write). Directory ids alone CANNOT prove
          // the layout: a table written with fewer buckets (say 8) also
          // satisfies ids.max < 16, but its keys hash to different ids
          // under nBuckets=16 — pruned merges would then miss committed
          // rows in unread buckets (first-write-wins violated, same key
          // landing in two bucket dirs). Recover instead of guessing:
          // re-derive every row's bucket from its keys under the current
          // nBuckets and swap the table atomically, then resume pruning.
          recoverBucketLayout(spark, fs, path, keys, nBuckets)
        }
        val t = spark.read.parquet(path)
        require(t.columns.contains("__bucket"),
          s"existing table at $path is not __bucket-partitioned")
        Some(t.filter(col("__bucket").isin(touched: _*)))
      }
    val all = existing match {
      case Some(e) => e.withColumn("__pri", lit(0))
        .unionByName(batchB.select(e.columns.map(col).toSeq: _*)
          .withColumn("__pri", lit(1)))
      case None => batchB.withColumn("__pri", lit(1))
    }
    val merged = Materialize
      .firstByKey(all, keys :+ "__bucket", col("__pri") +: tie)
      .drop("__pri")
    // dynamic mode replaces only the partitions present in `merged` =
    // the touched buckets; other bucket directories are not rewritten.
    // Repartition on __bucket first: otherwise every shuffle task writes
    // into every touched bucket dir — tasks × buckets small files per
    // batch. One exchange of the (compact) merged rows buys one file per
    // bucket per batch, which is also what keeps the file count sane
    // over a long stream at scale.
    merged.repartition(col("__bucket"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket")
      .parquet(path)
    // (re)write the marker after every batch — heals the crash window
    // between the first data write and the first marker write
    writeBucketsMarker(fs, bucketsMarker, nBuckets)
  }

  /** Finish (or refuse to paper over) a recovery swap interrupted between
    * [[recoverBucketLayout]]'s two renames. Crash states, by rename order
    * (staged fully written + marker → main→retired → staged→main →
    * delete retired):
    *
    *  - main ABSENT, staged complete (marker inside), retired present:
    *    crash between the renames. The staged table IS the committed
    *    table (same rows, re-bucketed) — complete the swap: rename
    *    staged→main, drop retired.
    *  - main present WITH marker, retired present: crash after the swap,
    *    before retired cleanup — drop the leftover.
    *  - main ABSENT with any other sibling state (retired but no usable
    *    staged, or staged but no retired): not a state the recovery
    *    sequence can produce — fail loudly rather than treat the missing
    *    main dir as "first batch", which would silently start a fresh
    *    table and abandon the committed rows sitting in the sibling dir.
    */
  private def completePendingRecovery(fs: org.apache.hadoop.fs.FileSystem,
                                      path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val main = new Path(path)
    val staged = new Path(path + ".__graft_recovery")
    val retired = new Path(path + ".__graft_pre_recovery")
    val stagedComplete =
      fs.exists(staged) && fs.exists(new Path(staged, "_graft_buckets"))
    if (!fs.exists(main)) {
      if (fs.exists(staged) || fs.exists(retired)) {
        if (stagedComplete && fs.exists(retired)) {
          require(fs.rename(staged, main),
            s"recovery completion: rename $staged -> $main failed")
          fs.delete(retired, true)
        } else throw new IllegalStateException(
          s"sink at $path is missing but recovery siblings exist " +
            s"(staged=${fs.exists(staged)} complete=$stagedComplete, " +
            s"retired=${fs.exists(retired)}) — refusing to start a fresh " +
            "table over an interrupted recovery; inspect the sibling dirs")
      } // else: genuinely absent → first batch
    } else if (fs.exists(retired) &&
        fs.exists(new Path(main, "_graft_buckets"))) {
      // swap completed (main carries the marker staged was built with);
      // only the retired-cleanup step was lost
      fs.delete(retired, true)
    }
  }

  private def writeBucketsMarker(fs: org.apache.hadoop.fs.FileSystem,
                                 marker: org.apache.hadoop.fs.Path,
                                 nBuckets: Int): Unit = {
    val out = fs.create(marker, true)
    try out.write(nBuckets.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** One-time unpruned repair of a marker-less sink table: read ALL
    * committed rows (their directory ids are untrusted), recompute
    * `__bucket` from the keys under the CURRENT nBuckets, write the
    * re-bucketed table + marker to a sibling staging dir, and swap it in
    * with directory renames (atomic per rename on HDFS-like stores).
    * Cost is one full table rewrite — paid only in the crash window the
    * marker exists to close, never on the per-batch path. If a crash
    * lands between the two renames, the committed rows survive in BOTH
    * sibling dirs and the next call's [[completePendingRecovery]]
    * finishes the swap (or fails loudly on an unrecognizable state)
    * before anything could mistake the missing main dir for a first
    * batch.
    */
  private def recoverBucketLayout(spark: SparkSession,
                                  fs: org.apache.hadoop.fs.FileSystem,
                                  path: String, keys: Seq[String],
                                  nBuckets: Int): Unit = {
    import org.apache.hadoop.fs.Path
    val main = new Path(path)
    val staged = new Path(path + ".__graft_recovery")
    val retired = new Path(path + ".__graft_pre_recovery")
    require(!fs.exists(retired),
      s"$retired exists — a previous recovery of $path did not complete; " +
        "inspect and remove it before resuming")
    if (fs.exists(staged)) fs.delete(staged, true)
    spark.read.parquet(path).drop("__bucket")
      .withColumn("__bucket",
        pmod(hash(keys.map(col): _*), lit(nBuckets)).cast("int"))
      .repartition(col("__bucket"))
      .write.partitionBy("__bucket").parquet(staged.toString)
    // marker goes INTO the staged dir (underscore-prefixed files are
    // invisible to parquet reads) so the swapped-in table is never
    // observable marker-less again
    writeBucketsMarker(fs, new Path(staged, "_graft_buckets"), nBuckets)
    require(fs.rename(main, retired), s"recovery: rename $main -> $retired failed")
    require(fs.rename(staged, main), s"recovery: rename $staged -> $main failed")
    fs.delete(retired, true)
  }
}
