package graft.util

import org.apache.spark.sql.SparkSession

/** Engine-wide session tuning (round 17, guide §2.2/§2.4): make AQE's
  * partition coalescing reach EVERY post-shuffle stage, including the
  * materialization of operator-owned persists.
  *
  * Why each knob exists — measured on the r17 baseline
  * (bench_r17_baseline.json, steal 0.02%):
  *
  *  - `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`
  *    The dedup/similarity operators persist their shared kernels
  *    (Caches.own) so three consumers pay one shingling. With the
  *    default `false`, a cached plan is compiled WITHOUT AQE, so its
  *    build runs at the raw `spark.sql.shuffle.partitions` fan-out and
  *    every downstream stage inherits that partition count. Measured
  *    (DiagQ, sf0.1): dedup_jaccard ran 267 tasks / 12.96 s task CPU
  *    for a 12.8 MB shuffle — ~40 ms of fixed per-task cost (closure
  *    deser, hadoop-conf gzip, codegen class lookup) dwarfing the
  *    per-byte work; with AQE allowed on the cached plan it is 39
  *    tasks / 3.85 s. The conf defaults to false only because a
  *    cached plan's output partitioning becomes advisory-size-
  *    dependent — no consumer here assumes a cache's partitioning.
  *
  * A second knob — `coalescePartitions.parallelismFirst=false`, the
  * guide-§2.2 "respect the advisory size" setting — was MEASURED AND
  * REVERTED: it cut another ~40% of task CPU on the shingle family
  * (dedup_jaccard 39 → 15 tasks, 3.85 → 2.01 s) but collapsed every
  * compute-DENSE mid-size shuffle to one task (the 46 MB / 6.3 M-row
  * candidate distinct of multimodal_phash_pairs went 32 tasks → 1;
  * wall 1.9 → 6.2 s, same pattern on the phash probes, er_entities,
  * dedup_semantic). Advisory-size coalescing reasons in bytes, and
  * bytes are the wrong proxy for popcount-/parse-dense reduce stages
  * at bench scale; parallelismFirst's deliberate over-split down to
  * `minPartitionSize` is the right default for CPU-bound reducers.
  * (At 100 TB the two settings agree — every real shuffle partition
  * is over the advisory size anyway.)
  *
  * Applied by every engine main (Bench/Verify/EntrySmoke and the dev
  * tools), the perfbench harness and the test session; library
  * embedders get the same defaults from [[tuned(SparkSession.Builder)]].
  * Most keys are runtime SQLConf entries an embedder can override AFTER
  * `getOrCreate()`. Three take effect only when the session is built:
  * `spark.sql.codegen.cache.maxEntries` (a static SQL conf) and the two
  * `spark.hadoop.*` keys (copied into the Hadoop configuration when the
  * SparkContext starts, and Hadoop caches the `file:` FileSystem per JVM
  * under a key that ignores the configuration, so the first instance
  * created wins).
  */
object Tuning {

  val sqlDefaults: Seq[(String, String)] = Seq(
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // Round 18, guide §6 (file listing): Spark launches a DISTRIBUTED
    // listing job (sc.parallelize over the leaf dirs) whenever a scan's
    // root holds more than parallelPartitionDiscovery.threshold
    // (default 32) directories. Every bucket-partitioned index in this
    // engine (64 buckets × ingest segments ≈ 130–260 leaf dirs) trips
    // that on EVERY uncached listing: the r18 job audit of
    // streaming_curate_export found 8 listing jobs × 64 tasks = 512 of
    // its 713 tasks were ParallelCollectionRDD listing work for a few
    // hundred directory stats (DiagQ: tasks 713 → 201, executor
    // deserialize CPU 6.4 s → 0.8 s with the threshold raised). A
    // driver-side sequential listing of ≤1024 dirs is sub-millisecond
    // per dir on any fs with sane metadata latency (local, HDFS); the
    // Spark default targets object-store listings of very wide tables.
    // Tables wider than 1024 partition dirs still get the distributed
    // listing, so the 100 TB path is unchanged — this is a threshold
    // between two implementations of the same listing, never a
    // result-affecting knob.
    "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "1024",
    // Round 18, guide §1.2 "per-task work" / JFR evidence: Spark caches
    // compiled whole-stage-codegen classes in a FIXED 100-entry cache
    // (`StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES`). This engine registers
    // 296 queries × ~5–20 codegen units each, so any multi-query run
    // (the bench's three timed passes, a Verify sweep, a production
    // session serving a query mix) thrashes the cache and re-runs
    // Janino+ASM on every pass — a 12-rep JFR of streaming_curate_export
    // put ~10 % of process CPU in codegen compilation of sources that
    // had already been compiled that session. 4096 entries holds one
    // full suite pass; generated classes are KB-scale, so the cost is
    // a few tens of MB of metaspace. STATIC conf: effective only via
    // the session builder (Tuning.tuned / the mains), never runtime
    // spark.conf.set. Never result-affecting at any scale.
    "spark.sql.codegen.cache.maxEntries" -> "4096",
    // Fork-free `file:` binding (graft.util.LocalFs). Without libhadoop,
    // Hadoop's RawLocalFileSystem forks `chmod` for every file or dir it
    // creates with a permission (offsets/commits WAL entries, RocksDB
    // uploads, sink part files and sidecars, and each one's `.crc`) and
    // forks `readlink` ~4 times per FileContext.rename, which is how
    // Spark's checkpoint manager commits. A JFR recording of one traced
    // 15 s perfbench cdc_stream run (seed 801, 4-core host) counted
    // 2,773 `chmod` and 1,536 `readlink` processes (set-up included);
    // with this binding only Spark's own `rm -rf` is left. Same answers
    // as the stock classes (LocalFsSpec). Both keys are read when the
    // session is built. Never result-affecting.
    "spark.hadoop.fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName,
    // RocksDB changelog checkpointing: each state-store commit writes one
    // changelog file of the batch's updates instead of flushing RocksDB
    // and uploading a full snapshot; the maintenance thread uploads
    // snapshots in the background. Measured together with the binding
    // above, on the same traced run: the state commit p50 fell from
    // 189 ms to 8 ms, walCommit from 31 to 2 ms and the trigger p50 from
    // 678 to 433 ms.
    // Spark reads a checkpoint written either way, so a stream can
    // switch in both directions across a restart (CdcStreamSpec). Never
    // result-affecting; only sessions using RocksDBStateStoreProvider
    // read it.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  def tuned(b: SparkSession.Builder): SparkSession.Builder =
    sqlDefaults.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
}
