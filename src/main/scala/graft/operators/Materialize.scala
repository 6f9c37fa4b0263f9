package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Last-write-wins materialization of a keyed change stream (batch form).
  *
  * This is the batch analogue of the reference's idempotent keyed sink:
  * the consumer's `INSERT ... ON CONFLICT (transaction_id) DO NOTHING`
  * (reference transaction_consumer.py:85-103) keeps exactly one row per
  * key; a CDC apply keeps the LATEST row per key and honors deletes.
  *
  * Implemented as `max_by`/`min_by` over a packed struct rather than a
  * `row_number` window: a hash aggregate combines map-side (partial agg
  * before the shuffle, so the exchange carries ≤ one row per key per
  * input partition) and never sorts — at 100 TB that is the difference
  * between shuffling the change log and shuffling the key set. The
  * `order` struct compares lexicographically; callers supply a total
  * order (e.g. ts then a unique seq) so ties cannot make the result
  * nondeterministic.
  */
object Materialize {

  private def pickByKey(df: DataFrame, keys: Seq[String], order: Seq[Column],
                        pick: (Column, Column) => Column): DataFrame = {
    val others = df.columns.filterNot(keys.contains).toSeq
    val agged = df.groupBy(keys.map(col): _*)
      .agg(pick(struct(others.map(col): _*), struct(order: _*)).as("__row"))
    agged.select(df.columns.toSeq.map { c =>
      if (keys.contains(c)) col(c) else col(s"__row.$c").as(c)
    }: _*)
  }

  /** Keep the single latest row per key, `order` compared descending
    * (the caller supplies a total order, e.g. ts then a unique id).
    */
  def latestByKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    pickByKey(df, keys, order, max_by)

  /** First-write-wins — the exact `DO NOTHING` contract of the reference
    * sink: later duplicates of a key are discarded.
    */
  def firstByKey(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame =
    pickByKey(df, keys, order, min_by)

  /** CDC apply: given change rows with an op column ('c'/'u'/'r' upsert,
    * 'd' delete), materialize the current table state — latest op per key
    * wins; keys whose latest op is a delete disappear.
    */
  def applyCdc(changes: DataFrame, keys: Seq[String], order: Seq[Column],
               opCol: String = "op"): DataFrame =
    latestByKey(changes, keys, order).filter(col(opCol) =!= "d")

  /** Incremental maintenance of a grouped COUNT/SUM aggregate from a CDC
    * change log, without ever touching the base table: each change
    * contributes a signed delta (insert ⇒ +after, delete ⇒ -before,
    * update ⇒ after - before) and the maintained aggregate is the sum of
    * deltas — the standard incremental-view-maintenance identity for
    * distributive aggregates.
    *
    * Scale: this is THE reason to maintain aggregates from the stream at
    * 100 TB — the plan is one partial-agg'd shuffle on the group keys
    * over the (small) change batch, versus a full recompute scanning the
    * entire materialized table per refresh. Composes with foreachBatch:
    * apply each micro-batch's delta frame to the stored aggregate by
    * key (spec-verified in OperatorsSpec against a full recompute).
    *
    * `before`/`after` must be the pre-/post-image of the measure (null
    * allowed on the side an op doesn't carry: `before` unused for 'c',
    * `after` unused for 'd'). The measure goes through exact DECIMAL
    * arithmetic so the maintained sum is partition-order independent
    * (same discipline as [[graft.util.Det]]).
    *
    * @param prune drop groups whose maintained count is 0 (a group whose
    *              members were all deleted vanishes, matching a
    *              recompute). Pass `prune = false` when the output is an
    *              INTERMEDIATE per-batch delta that will be merged into a
    *              running aggregate downstream — a single batch's count
    *              delta can legitimately be ≤ 0 (e.g. a delete-only
    *              batch) and must survive to the merge.
    * @param sumAsDouble render `live_sum` as DOUBLE (the query-surface
    *                    default). `false` keeps the exact DECIMAL — what
    *                    a STORED running aggregate must persist, so that
    *                    merging batch after batch never accumulates
    *                    float error or partition-order drift.
    */
  def deltaAggregate(changes: DataFrame, groupKeys: Seq[String],
                     before: Column, after: Column,
                     opCol: String = "op",
                     scale: Int = 2,
                     prune: Boolean = true,
                     sumAsDouble: Boolean = true): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, scale)
    val op = col(opCol)
    val dCnt = when(op === "c", 1).when(op === "d", -1).otherwise(0)
    val dSum = when(op === "c", after.cast(dec))
      .when(op === "d", -before.cast(dec))
      .otherwise(after.cast(dec) - before.cast(dec))
    val agged = changes
      .groupBy(groupKeys.map(col): _*)
      .agg(sum(dCnt).as("live_cnt"), sum(dSum).as("__s"))
    (if (prune) agged.filter(col("live_cnt") > 0) else agged)
      .withColumn("live_sum",
        if (sumAsDouble) col("__s").cast("double") else col("__s").cast(dec))
      .drop("__s")
  }

  /** foreachBatch adapter for incremental view maintenance: merge one
    * micro-batch's CDC deltas into the stored grouped aggregate at
    * `path`. Read the current generation + union the batch delta +
    * re-aggregate + publish the result as the next generation
    * (graft.sources.Compaction.writeGen — readers see old or new state,
    * never a mix, and part-files are never moved under a reader that
    * is still scanning them). Read it with Compaction.readTable. A
    * plain parquet dir already at `path` is converted to the
    * generational layout once (Compaction.toGenerational — run before
    * concurrent readers start).
    *
    * Scale: per batch the work is one shuffle of (batch deltas + current
    * aggregate) on the group keys — the aggregate table has one row per
    * group, orders of magnitude smaller than the base table a recompute
    * would scan. The stored sum stays exact DECIMAL so thousands of
    * merges accumulate zero float error (spec: batch-wise maintenance ≡
    * one-shot recompute, bit for bit).
    *
    * @param batchId streaming micro-batch id (pass foreachBatch's second
    *                argument). Stored in a `_graft_last_batch` sidecar
    *                INSIDE the new generation before it is published —
    *                so "state updated" and "batch recorded" become
    *                visible together — and checked on entry: a
    *                redelivered batch (crash after the publish, before
    *                the checkpoint commit) is skipped instead of
    *                double-applied. Deltas are not naturally idempotent
    *                the way first-write-wins upserts are, so this check
    *                is what makes the maintained aggregate
    *                effectively-once end to end.
    */
  def maintainAggregate(spark: org.apache.spark.sql.SparkSession,
                        path: String, batch: DataFrame, groupKeys: Seq[String],
                        before: Column, after: Column,
                        opCol: String = "op", scale: Int = 2,
                        batchId: Option[Long] = None): Unit = {
    import graft.sources.Compaction
    import org.apache.hadoop.fs.Path
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(main) && Compaction.currentGen(fs, main).isEmpty)
      Compaction.toGenerational(spark, path)
    val exists = Compaction.currentGen(fs, main).isDefined
    val curDir = Compaction.resolve(fs, main)
    val marker = new Path(curDir, "_graft_last_batch")
    batchId.foreach { id =>
      if (exists && fs.exists(marker)) {
        val in = fs.open(marker)
        val last = try new String(in.readAllBytes()).trim.toLong finally in.close()
        if (last >= id) return // already applied — skip the redelivery
      }
    }
    val delta = deltaAggregate(batch, groupKeys, before, after, opCol,
      scale, prune = false, sumAsDouble = false)
    val dec = org.apache.spark.sql.types.DecimalType(38, scale)
    val merged =
      if (!exists) delta.filter(col("live_cnt") > 0)
      else spark.read.parquet(curDir.toString).unionByName(delta)
        .groupBy(groupKeys.map(col): _*)
        .agg(sum(col("live_cnt")).as("live_cnt"),
          sum(col("live_sum")).cast(dec).as("live_sum"))
        .filter(col("live_cnt") > 0)
    // read-snapshot fence: `merged` scans curDir (resolved ABOVE,
    // before the plan was built) — the fence must name THAT
    // generation, so a concurrent publisher landing any time after
    // the resolve fences this publish (FencedWriteException fails
    // the trigger; the stream replays the batch against the winner's
    // state) instead of being silently rolled back
    val readGen =
      if (exists) Compaction.genNumber(curDir.getName) else None
    Compaction.writeGen(merged, path, gen =>
      batchId.foreach { id =>
        val out = fs.create(new Path(gen, "_graft_last_batch"), true)
        try out.write(id.toString.getBytes) finally out.close()
      }, expectGen = readGen)
  }
}
