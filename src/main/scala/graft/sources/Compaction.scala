package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-file compaction for parquet tables — the housekeeping operator
  * every long-running ingest needs: a streaming sink (or a parallel
  * batch write) emits one file per task per trigger, and after days of
  * micro-batches a table is thousands of KB-sized files whose per-file
  * open/footer cost dominates every scan. Compaction bin-packs them
  * back to ~`targetBytes` outputs.
  *
  * Scale design: the rewrite is one job — scan (file-parallel) →
  * round-robin repartition to `ceil(totalBytes / targetBytes)` tasks →
  * write. No shuffle key means no skew; the exchange carries each row
  * once. At 100 TB compaction runs per partition/bucket (compose with
  * the `__bucket=`/`list=` layouts used by the CDC sink and IVF index —
  * each directory is a self-contained compaction unit), never as one
  * global job, and only directories whose small-file count crosses a
  * threshold are touched.
  *
  * Crash safety (same swap discipline as the CDC sink's recovery —
  * streaming/CdcPipeline.recoverBucketLayout): the compacted copy is
  * staged next to the table, then main→retired, staged→main, retired
  * deleted. Every crash window is recoverable: staged is incomplete
  * (no _SUCCESS) → drop it and rerun; main missing with a complete
  * staged → finish the swap; main missing with only retired → restore
  * retired. Readers see the old or the new table, never a mix.
  */
object Compaction {

  final case class Stats(filesBefore: Int, filesAfter: Int,
                         bytes: Long, rewritten: Boolean)

  private[graft] def stagedPath(p: Path) = new Path(p.getParent, p.getName + ".__graft_compact_staged")
  private[graft] def retiredPath(p: Path) = new Path(p.getParent, p.getName + ".__graft_compact_retired")

  private def dataFiles(fs: org.apache.hadoop.fs.FileSystem, p: Path) =
    fs.listStatus(p).toSeq
      .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
        && !s.getPath.getName.startsWith("."))

  /** Complete or roll back an interrupted previous compaction so the
    * table is readable before we (re)compact. Idempotent.
    */
  private[graft] def recover(fs: org.apache.hadoop.fs.FileSystem, main: Path): Unit = {
    val staged = stagedPath(main); val retired = retiredPath(main)
    val stagedComplete =
      fs.exists(staged) && fs.exists(new Path(staged, "_SUCCESS"))
    if (!fs.exists(main)) {
      if (stagedComplete) {
        // crashed between the two renames — finish the swap
        if (!fs.rename(staged, main))
          sys.error(s"compaction recovery: rename $staged -> $main failed")
      } else if (fs.exists(retired)) {
        // staged incomplete but main already retired (rename order
        // violated only by manual tampering) — restore the original
        if (!fs.rename(retired, main))
          sys.error(s"compaction recovery: rename $retired -> $main failed")
      } else {
        sys.error(s"compaction: $main missing and no recoverable sibling")
      }
    }
    // main exists: any staged/retired leftovers are stale — drop them
    if (fs.exists(staged)) fs.delete(staged, true)
    if (fs.exists(retired)) fs.delete(retired, true)
  }

  /** Compact the parquet table at `path` into ~`targetBytes` files.
    * No-op (rewritten=false) when the table is already at or below the
    * target file count — compaction must be cheap to call repeatedly.
    */
  def compactParquet(spark: SparkSession, path: String,
                     targetBytes: Long = 128L * 1024 * 1024): Stats = {
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, main)
    val files = dataFiles(fs, main)
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    if (files.size <= nOut)
      return Stats(files.size, files.size, bytes, rewritten = false)
    spark.read.parquet(path)
      .repartition(nOut)
      .write.mode("overwrite").parquet(stagedPath(main).toString)
    swapIn(fs, main)
    Stats(files.size, dataFiles(fs, main).size, bytes, rewritten = true)
  }

  /** Swap a fully-written staged dir in for `main` (main→retired,
    * staged→main, retired deleted). Callers must have finished writing
    * the staged dir (with _SUCCESS) first; [[recover]] completes the
    * swap if a crash lands between the renames.
    *
    * NOTE single-writer, no-concurrent-reader discipline: the renames
    * move the underlying part-files, so a reader that already planned
    * its scan against `main` loses its files mid-flight (observed as
    * FAILED_READ_FILE/FileNotFound). Deployments with concurrent
    * readers must use the GENERATIONAL layout below, whose part-file
    * paths are immutable until a full compaction cycle has passed.
    */
  private[graft] def swapIn(fs: org.apache.hadoop.fs.FileSystem, main: Path): Unit = {
    val staged = stagedPath(main); val retired = retiredPath(main)
    if (fs.exists(main) && !fs.rename(main, retired))
      sys.error(s"compaction: rename $main -> $retired failed")
    if (!fs.rename(staged, main))
      sys.error(s"compaction: rename $staged -> $main failed")
    fs.delete(retired, true)
  }

  // ------------------------------------------------------- generational

  /** Generational table layout — the concurrent-reader-safe variant.
    *
    * {{{
    * table/
    *   _graft_gen        <- manifest: name of the current generation dir
    *   g000000041/       <- previous generation (kept one cycle: grace)
    *   g000000042/       <- current generation (immutable once published)
    * }}}
    *
    * Readers resolve the manifest then scan `table/<gen>`; writers
    * write a NEW generation dir, atomically replace the manifest
    * (FileContext rename with OVERWRITE — atomic on HDFS and posix;
    * on object stores the manifest PUT is itself atomic), and prune
    * only generations at least two behind. Because part-files under a
    * published generation are never renamed or deleted until a full
    * compaction cycle later, an in-flight reader that planned its scan
    * any time after the previous publish always finds every file it
    * listed — no transient-retry window at all, unlike [[swapIn]].
    * This is the manifest indirection Iceberg/Delta use, reduced to a
    * single-pointer manifest (one table version, no snapshot history).
    */
  private val ManifestPrefix = "_graft_gen."
  private[sources] val ClaimPrefix = "_graft_claim."
  private[sources] val LeasePrefix = "_graft_lease."
  private[sources] val IntentPrefix = "_graft_intent."

  /** Default lease on an unpublished-but-claimed generation dir before
    * other writers may prune it as a crashed orphan (see [[claimNext]]).
    */
  val DefaultOrphanGraceMs: Long = 15L * 60 * 1000

  /** Thrown when a writer's publish loses the race: a HIGHER generation
    * was published while this writer was producing its own, so its
    * input state is stale. The fence deletes the loser's data dir and
    * claim; the winning generation is untouched. Catch-and-retry (re-read
    * the current generation, recompute, write again) is the correct
    * caller response for state-merging writers like
    * `Materialize.maintainAggregate`.
    */
  final class FencedWriteException(msg: String) extends RuntimeException(msg)

  private[sources] def genName(n: Long): String = f"g$n%09d"

  /** True when `marker` is at least `graceMs` old (absent counts as
    * long-gone) — the single wall-grace clock for marker AND data-dir
    * retention, shared so the two planes cannot silently diverge.
    */
  private[graft] def agedPast(fs: org.apache.hadoop.fs.FileSystem,
                              marker: Path, graceMs: Long): Boolean =
    graceMs <= 0L || {
      try System.currentTimeMillis() - fs.getFileStatus(marker)
        .getModificationTime >= graceMs
      catch { case _: java.io.FileNotFoundException => true }
    }

  /** True when `claim` exists and is younger than `orphanGraceMs` — a
    * live writer's lease; absent or aged counts as dead. Shared by the
    * table and index retention paths.
    */
  private[graft] def liveClaim(fs: org.apache.hadoop.fs.FileSystem,
                               claim: Path, orphanGraceMs: Long): Boolean =
    try fs.exists(claim) && (System.currentTimeMillis() -
      fs.getFileStatus(claim).getModificationTime) < orphanGraceMs
    catch { case _: java.io.FileNotFoundException => false }

  private[graft] def genNumber(name: String): Option[Long] =
    if (name.length == 10 && name.head == 'g' && name.tail.forall(_.isDigit))
      Some(name.tail.toLong)
    else None

  private[sources] def listNums(fs: org.apache.hadoop.fs.FileSystem, main: Path,
                                prefix: String): Seq[Long] =
    if (!fs.exists(main)) Seq.empty
    else fs.listStatus(main).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => genNumber(n.stripPrefix(prefix)))

  /** Reserve the next generation number with an atomic writer claim —
    * the fencing half of the concurrent-writer story. The claim is an
    * exclusive-create of `_graft_claim.g<M>` (namenode-atomic on HDFS;
    * checked create on the local fs) for the first M above every
    * published marker AND every outstanding claim, so two concurrent
    * writers can never target the same generation dir — the silent
    * mid-write clobber mode writeGen used to document is structurally
    * gone. A claim is a LEASE, not a lock: the claimant may still lose
    * the publish race ([[FencedWriteException]]), and a claim whose
    * writer crashed is pruned with its half-written dir once it is
    * older than `orphanGraceMs` ([[pruneDataDirs]]).
    */
  private[graft] def claimNext(fs: org.apache.hadoop.fs.FileSystem,
                               main: Path, writerId: String): Long = {
    fs.mkdirs(main)
    // the claim create uses FsManifestCommit's exclusive-create
    // (hard-link CAS on file:, O_EXCL fallback) — Hadoop's local
    // create(overwrite=false) is check-then-create, and two writers
    // under load really did both "claim" the same generation through
    // that window (caught by the two-writer soak spec), after which
    // they share one data dir and the fenced loser's cleanup deletes
    // the WINNER's published data. Deliberately NOT forIndex(): claims
    // guard DATA DIRS, which live on this filesystem even when an
    // index's markers commit through a registered object-store
    // adapter, and every claim reader (listNums, pruneDataDirs, the
    // lifecycle's tombstone checks) lists the filesystem.
    val mc = new FsManifestCommit(fs, main)
    var attempts = 0
    while (attempts < 64) {
      val m = math.max(
        listNums(fs, main, ManifestPrefix).maxOption.getOrElse(0L),
        listNums(fs, main, ClaimPrefix).maxOption.getOrElse(0L)) + 1
      if (mc.createExclusive(ClaimPrefix + genName(m),
          writerId.getBytes("UTF-8"))) return m
      attempts += 1 // lost the race; rescan
    }
    sys.error(s"claimNext: no claimable generation after 64 attempts at $main")
  }

  // ------------------------------------------------------- leases

  /** Retention leases: a consumer (a committed TrainExport, a
    * long-lived downstream snapshot) pins published generation `gen`
    * PAST the normal two-generation + wall-grace retention by creating
    * a `_graft_lease.<leaseId>` marker whose payload names the
    * generation. [[pruneDataDirs]] and [[publish]]'s marker pruning
    * both consult the lease set and keep a leased generation's dir AND
    * marker until every lease naming it is [[releaseLease]]d — the
    * Iceberg snapshot-ref idea reduced to one marker per holder.
    *
    * PRECEDENCE (the RTBF contract): a lease holds RETENTION pruning
    * only. [[forgetRows]] / [[scrubRetiredGens]] — the erasure path —
    * remain lease-BLIND by design: right-to-be-forgotten overrides
    * every pin, the leased generation's dir is physically scrubbed,
    * and a later pinned read ([[readTableAt]]) or export replay fails
    * loudly with the retention message rather than silently serving
    * the forgotten rows. Leases defer garbage collection; they never
    * veto erasure.
    *
    * Acquire is CAS-idempotent per leaseId (re-acquiring the same
    * (id, gen) succeeds; the same id on a DIFFERENT generation fails
    * loudly), and re-verifies the generation is still readable after
    * the lease lands — closing the race against a concurrent publish
    * whose prune was already past the lease listing.
    */
  /** Lease ids become store object names — the charset guard is a
    * path-traversal guard, enforced on acquire AND release (a '/' in a
    * released id would resolve outside the table root).
    */
  private[sources] def requireLeaseId(leaseId: String): Unit =
    require(leaseId.nonEmpty && leaseId.forall(c => c.isLetterOrDigit ||
        c == '_' || c == '.' || c == '-') && leaseId != "." &&
        leaseId != "..",
      s"leaseId must be [A-Za-z0-9_.-]: '$leaseId'")

  /** RACE CLOSURE (r15): the pruners delete through
    * [[deleteUnlessLeased]]'s announce → re-list → delete protocol,
    * and this acquire re-verifies AFTER its CAS that the generation is
    * still readable AND no live delete-intent names it — together the
    * two sides make "a lease silently pins a pruned generation"
    * impossible (the proof lives on [[deleteUnlessLeased]]). An
    * acquire racing an in-flight delete fails LOUDLY here and releases
    * its marker; re-derive the pin from current state and retry.
    *
    * Re-acquiring the SAME (leaseId, gen) is a PURE NO-OP when no
    * [[LeaseMaxAgeKey]] expiry is configured (createdAt is then
    * meaningless, and re-creating the marker would open a momentary
    * no-lease window a concurrent prune could slip through — the r14
    * ADVICE finding). Under an expiry policy the re-acquire REFRESHES
    * the marker's age (the keep-alive), through
    * [[refreshLeaseMarker]]'s cleanup-race-safe retry loop.
    */
  def acquireLease(spark: SparkSession, path: String, gen: Long,
                   leaseId: String): Unit = {
    requireLeaseId(leaseId)
    val main = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = main.getFileSystem(conf)
    require(fs.exists(new Path(main, ManifestPrefix + genName(gen))) &&
        fs.exists(new Path(main, genName(gen))),
      s"cannot lease generation $gen at $path — not readable " +
        s"(readable: ${generations(spark, path).mkString(",")})")
    val mc = new FsManifestCommit(fs, main)
    val name = LeasePrefix + leaseId
    // `placed` = this call created (or re-created) the marker, so its
    // CAS may have landed after an announced pruner's lease re-list —
    // only then does the intent re-verify below apply. A pure no-op
    // re-acquire (marker pre-existed, no refresh) is covered by
    // continuity: the marker was placed by an earlier CHECKED acquire,
    // and every pruner announcing since re-lists after it exists.
    var placed = mc.createExclusive(name, genName(gen).getBytes("UTF-8"))
    if (!placed) {
      val held = mc.read(name).map(new String(_, "UTF-8"))
      require(held.contains(genName(gen)),
        s"lease '$leaseId' at $path already pins generation " +
          s"${held.getOrElse("?")}, not ${genName(gen)} — release it " +
          "first or use a distinct leaseId per export")
      // refresh ONLY under an expiry policy — see the scaladoc
      if (leaseMaxAgeMs(conf) > 0L) {
        refreshLeaseMarker(mc, name, genName(gen),
          s"lease '$leaseId' at $path")
        placed = true
      }
    }
    // the lease only protects from NOW on — re-verify nothing pruned
    // (or is announcing it will prune: a live intent means a pruner's
    // lease re-list may predate this CAS and its delete can still land)
    if (!fs.exists(new Path(main, ManifestPrefix + genName(gen))) ||
        !fs.exists(new Path(main, genName(gen))) ||
        (placed && liveIntent(mc, genName(gen), intentGraceMs(conf)))) {
      mc.delete(name)
      sys.error(s"generation $gen at $path was pruned (or is being " +
        "pruned) while acquiring the lease — re-derive the pin from " +
        "current state")
    }
  }

  /** Release a retention lease; the generation it pinned re-enters the
    * normal retention rules on the next publish/prune cycle.
    */
  def releaseLease(spark: SparkSession, path: String, leaseId: String): Unit = {
    requireLeaseId(leaseId)
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    new FsManifestCommit(fs, main).delete(LeasePrefix + leaseId)
  }

  /** Optional retention-lease EXPIRY, read from the Hadoop
    * configuration (set `spark.hadoop.graft.lease.max.age.ms` or
    * mutate `sparkContext.hadoopConfiguration`): when > 0, pruning
    * treats any lease older than this as EXPIRED — it stops pinning,
    * so a crashed consumer's orphaned lease frees its generation on
    * the next prune cycle instead of pinning retention forever, and
    * the expired marker itself is cleaned by [[pruneDataDirs]]. 0
    * (default) = leases never expire (the r13 behavior). Live
    * long-running consumers under expiry keep-alive by re-acquiring
    * ([[acquireLease]] refreshes the same (id, gen)). Forget-wins
    * precedence is untouched: RTBF was already lease-blind.
    */
  val LeaseMaxAgeKey = "graft.lease.max.age.ms"

  private[graft] def leaseMaxAgeMs(
      conf: org.apache.hadoop.conf.Configuration): Long =
    conf.getLong(LeaseMaxAgeKey, 0L)

  /** Acquirer-visible delete-intent grace: how long an announced
    * `_graft_intent.*` marker pins lease acquires (and counts as
    * "announced" in [[describe]]) before being treated as a crashed
    * pruner's leftover. Read from the Hadoop configuration like
    * [[LeaseMaxAgeKey]] (set `spark.hadoop.graft.orphan.grace.ms`);
    * default [[DefaultOrphanGraceMs]]. INVARIANT (r15 ADVICE — this is
    * what keeps the lease-vs-prune closure sound): every prune cycle's
    * `orphanGraceMs` must be <= this value, so an intent a cleaner
    * still considers live is NEVER ignored by an acquirer — enforced
    * loudly by [[requirePruneGrace]] at every prune entry point. A
    * deployment running slower prune cycles raises BOTH by setting the
    * conf key and passing the same (or smaller) value to prune.
    */
  val OrphanGraceKey = "graft.orphan.grace.ms"

  private[graft] def intentGraceMs(
      conf: org.apache.hadoop.conf.Configuration): Long =
    conf.getLong(OrphanGraceKey, DefaultOrphanGraceMs)

  /** Enforce the [[OrphanGraceKey]] invariant at a prune entry point. */
  private[graft] def requirePruneGrace(
      conf: org.apache.hadoop.conf.Configuration,
      pruneGraceMs: Long): Unit = {
    val acq = intentGraceMs(conf)
    require(pruneGraceMs <= acq,
      s"orphanGraceMs = $pruneGraceMs exceeds the acquirer-visible " +
        s"intent grace $acq ms ($OrphanGraceKey) — a pruner running " +
        "longer than the acquirer grace re-opens the lease-vs-prune " +
        s"race; set spark.hadoop.$OrphanGraceKey >= orphanGraceMs")
  }

  /** One held retention lease, as the operator-facing listing row.
    * `gen` is None when the payload does not parse as a generation
    * (a foreign or corrupt marker — enumerable, pins nothing).
    */
  final case class Lease(leaseId: String, gen: Option[Long],
                         payload: String, ageMs: Option[Long],
                         expired: Boolean)

  /** Enumerate every retention lease held on `path` — the operability
    * listing (r13 verdict #1): lease id, pinned generation, raw
    * payload, age, and whether the configured [[LeaseMaxAgeKey]]
    * expiry already voids it. Bounded metadata: one listing + one
    * tiny read per lease.
    */
  def listLeases(spark: SparkSession, path: String): Seq[Lease] = {
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mc = new FsManifestCommit(fs, main)
    // read the policy from the SESSION conf, never fs.getConf: the
    // FileSystem cache keys on scheme+ugi and hands back an instance
    // built from whatever Configuration object came FIRST — a stale
    // clone that silently misses later session-conf mutations
    val maxAge = leaseMaxAgeMs(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    mc.list(LeasePrefix).sorted.map { name =>
      val payload = mc.read(name).map(new String(_, "UTF-8")).getOrElse("")
      val age = mc.createdAt(name).map(t => math.max(0L, now - t))
      Lease(name.stripPrefix(LeasePrefix), genNumber(payload), payload,
        age, maxAge > 0 && age.exists(_ >= maxAge))
    }
  }

  /** Generation numbers currently held by at least one LIVE lease
    * (expired leases pin nothing when `maxAgeMs` > 0 — the
    * [[LeaseMaxAgeKey]] policy, threaded by callers from the SESSION
    * conf; see [[listLeases]] for why never fs.getConf). Bounded
    * metadata (one list + one tiny read per lease).
    */
  private[graft] def leasedGens(fs: org.apache.hadoop.fs.FileSystem,
                                main: Path,
                                maxAgeMs: Long = 0L): Set[Long] = {
    val mc = new FsManifestCommit(fs, main)
    val now = System.currentTimeMillis()
    mc.list(LeasePrefix)
      .filter(n => maxAgeMs <= 0 ||
        mc.createdAt(n).forall(t => now - t < maxAgeMs))
      .flatMap(n => mc.read(n))
      .map(new String(_, "UTF-8"))
      .flatMap(genNumber)
      .toSet
  }

  /** True when a LIVE delete-intent (younger than `graceMs` — the
    * acquirer-visible [[OrphanGraceKey]] grace, threaded by callers
    * from the SESSION conf, never hardcoded: r15 ADVICE) names
    * `target` — the pruner's announce phase of [[deleteUnlessLeased]].
    * A stale intent past the grace is a crashed pruner's leftover and
    * pins nothing (same orphan discipline as writer claims).
    */
  private[sources] def liveIntent(mc: ManifestCommit, target: String,
                                  graceMs: Long): Boolean = {
    val now = System.currentTimeMillis()
    mc.list(IntentPrefix + target + ".").exists(n =>
      mc.createdAt(n).forall(t => now - t < graceMs))
  }

  /** Delete crashed pruners' intent leftovers (older than `graceMs`). */
  private[sources] def cleanStaleIntents(mc: ManifestCommit,
                                         graceMs: Long): Unit = {
    val now = System.currentTimeMillis()
    mc.list(IntentPrefix).foreach { n =>
      if (mc.createdAt(n).exists(t => now - t >= graceMs)) mc.delete(n)
    }
  }

  /** Two-phase lease-checked delete — CLOSES the lease-vs-prune race
    * the r14 "second look" only narrowed, without a lock service:
    *  1. ANNOUNCE: create a unique `_graft_intent.<target>.<token>`
    *     marker in the same commit store as the leases;
    *  2. RE-LIST: re-read the lease set AFTER the intent is visible —
    *     held means a lease CAS landed since the caller's snapshot:
    *     abort, keep the target;
    *  3. DELETE the targets, then remove the intent.
    * The acquire side re-verifies AFTER its lease CAS that no live
    * intent names its generation. Interleaving proof: a pruner deletes
    * only when its re-list (step 2) saw no lease, i.e. the lease CAS
    * landed after the re-list — but the intent (created before the
    * re-list) is then still visible at the acquirer's post-CAS
    * re-verify, which fails the acquire LOUDLY and releases the lease;
    * conversely an acquire that succeeded proves every announced
    * pruner's re-list saw the lease and aborted. The one liveness
    * assumption: a pruner finishes (or is declared crashed) within
    * [[DefaultOrphanGraceMs]] — stale intents past that grace are
    * ignored by acquirers and cleaned by the next cycle.
    *
    * `afterRelist` is a test seam (deterministic-interleaving specs
    * inject the racing lease CAS between the re-list and the delete);
    * production callers leave the no-op default.
    */
  private[graft] def deleteUnlessLeased(fs: org.apache.hadoop.fs.FileSystem,
                                        main: Path, gen: Long,
                                        targets: Seq[Path],
                                        leaseMaxAge: Long,
                                        afterRelist: () => Unit = () => ()): Boolean = {
    val mc = new FsManifestCommit(fs, main)
    val name = IntentPrefix + genName(gen) + "." +
      java.util.UUID.randomUUID().toString.take(8)
    if (!mc.createExclusive(name, genName(gen).getBytes("UTF-8")))
      return false // token collision — skip; the next cycle retries
    try {
      val pinned = leasedGens(fs, main, leaseMaxAge)(gen)
      afterRelist()
      if (pinned) false
      else { targets.foreach(p => fs.delete(p, true)); true }
    } finally mc.delete(name)
  }

  /** Refresh an already-held same-(id, payload) lease marker's age —
    * the keep-alive under [[LeaseMaxAgeKey]] expiry. The delete+create
    * pair is not atomic: a concurrent expired-marker cleanup that read
    * the OLD createdAt can delete the just-recreated marker (the r14
    * ADVICE TOCTOU) — so the refresh re-reads after every create and
    * retries when cleanup raced it, failing loudly (never silently
    * lease-less) when the marker keeps vanishing or another holder
    * steals the id for a different pin.
    */
  private[sources] def refreshLeaseMarker(mc: ManifestCommit, name: String,
                                          payload: String, what: String): Unit = {
    var attempts = 0
    while (attempts < 4) {
      attempts += 1
      mc.delete(name)
      val created = mc.createExclusive(name, payload.getBytes("UTF-8"))
      val now = mc.read(name).map(new String(_, "UTF-8"))
      if (now.contains(payload)) return // landed (ours or an equal holder's)
      require(now.isEmpty,
        s"$what was re-acquired for ${now.getOrElse("?")} while " +
          "refreshing — use a distinct leaseId per holder")
      // absent: an expired-marker cleanup deleted it (created or not) —
      // retry the create with a fresh timestamp
      val _ = created
    }
    sys.error(s"$what: lease refresh kept losing to the expired-marker " +
      "cleanup after 4 attempts — raise the expiry or re-acquire")
  }

  /** Operator console for a generational table — generations, writer
    * claims, and retention leases in ONE frame (the companion of
    * [[listLeases]]; r14 operability). One row per marker/dir:
    * `(kind, name, gen, status, files, bytes, age_ms)` —
    *  - kind `generation`: status `current` / `retained` (readable
    *    older publish) / `marker_only` (published but dir pruned —
    *    outside the time-travel window) / `unpublished_dir` (a
    *    writer's work in progress or a crashed orphan);
    *  - kind `claim`: a writer's fencing claim, age since created;
    *  - kind `lease`: a retention hold — `held` or `expired` under
    *    the [[LeaseMaxAgeKey]] policy.
    * Bounded metadata: one listing plus one content summary per
    * RETAINED data dir (never reads data rows) — safe against a
    * production table at any scale.
    */
  def describe(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    def age(p: Path): Option[Long] =
      try Some(math.max(0L, now - fs.getFileStatus(p).getModificationTime))
      catch { case _: java.io.FileNotFoundException => None }
    val pubs = listNums(fs, main, ManifestPrefix).sorted
    val cur = pubs.lastOption
    val dirs = if (!fs.exists(main)) Set.empty[Long]
      else fs.listStatus(main).toSeq.filter(_.isDirectory)
        .flatMap(s => genNumber(s.getPath.getName)).toSet
    val genRows = (pubs ++ dirs.filterNot(pubs.contains)).distinct.sorted.map { g =>
      val hasDir = dirs(g)
      val status =
        if (cur.contains(g)) "current"
        else if (pubs.contains(g) && hasDir) "retained"
        else if (pubs.contains(g)) "marker_only"
        else "unpublished_dir"
      val (files, bytes) =
        if (hasDir) try {
          val cs = fs.getContentSummary(new Path(main, genName(g)))
          (Some(cs.getFileCount), Some(cs.getLength))
        } catch { // pruned between listing and summary — console, not gate
          case _: java.io.FileNotFoundException => (None, None)
        }
        else (None, None)
      ("generation", genName(g), Some(g), status, files, bytes,
        age(new Path(main, ManifestPrefix + genName(g))))
    }
    val claimRows = listNums(fs, main, ClaimPrefix).sorted.map { g =>
      ("claim", genName(g), Some(g), "claimed", None: Option[Long],
        None: Option[Long], age(new Path(main, ClaimPrefix + genName(g))))
    }
    val leaseRows = listLeases(spark, path).map { l =>
      ("lease", l.leaseId, l.gen, if (l.expired) "expired" else "held",
        None: Option[Long], None: Option[Long], l.ageMs)
    }
    // delete intents are normally milliseconds-lived; a visible one is
    // either a prune in flight ("announced") or a crashed pruner's
    // leftover ("stale", ignored by acquirers, cleaned next cycle) —
    // the row that makes the latter diagnosable without fs spelunking
    val intentRows = {
      val mc = new FsManifestCommit(fs, main)
      val grace = intentGraceMs(spark.sparkContext.hadoopConfiguration)
      mc.list(IntentPrefix).sorted.map { n =>
        val body = n.stripPrefix(IntentPrefix)
        val a = mc.createdAt(n).map(t => math.max(0L, now - t))
        ("intent", body, genNumber(body.takeWhile(_ != '.')),
          if (a.forall(_ < grace)) "announced" else "stale",
          None: Option[Long], None: Option[Long], a)
      }
    }
    import spark.implicits._
    (genRows ++ claimRows ++ leaseRows ++ intentRows)
      .toDF("kind", "name", "gen", "status", "files", "bytes", "age_ms")
  }

  /** Prune data dirs under the generational grace rules. Published
    * generations: keep the two most recently PUBLISHED (rank-based, not
    * number-based — claims can leave gaps in the numbering, and a
    * number-based `curN − 2` would prune the just-retired generation
    * across a gap). Unpublished dirs ABOVE the current generation are a
    * live writer's work in progress if their claim is younger than
    * `orphanGraceMs`, a crashed writer's orphan otherwise (claim absent
    * or expired) — only the latter are deleted, closing the
    * concurrent-writeGen destruction window compactGen's old
    * uncondition prune had. Unpublished fenced leftovers BELOW current
    * age out when they fall under the grace floor.
    *
    * `readerGraceMs` adds a WALL-TIME retention floor on top of the
    * cycle-counted grace: a dir below the grace floor is only deleted
    * once the second-newest marker (the moment the dir left the kept
    * window, conservatively) is at least that old. The cycle grace
    * alone guarantees an in-flight reader a full publish cycle — which
    * is plenty under one paced writer but is NO wall-time guarantee
    * under concurrent writers, whose publishes can land microseconds
    * apart. Set it to comfortably exceed the longest reader scan
    * (the Delta/Iceberg snapshot-retention knob, reduced to one
    * number); retention under constant churn is bounded by churn rate ×
    * readerGraceMs extra dirs. Default 0 keeps the pure cycle behavior
    * for single-writer deployments.
    */
  private[graft] def pruneDataDirs(fs: org.apache.hadoop.fs.FileSystem,
                                   main: Path, orphanGraceMs: Long,
                                   readerGraceMs: Long = 0L,
                                   leaseMaxAge: Long = 0L): Unit = {
    val pubs = listNums(fs, main, ManifestPrefix).sorted.reverse
    if (pubs.isEmpty) return
    val curN = pubs.head
    val graceFloor = pubs.take(2).last
    val retiredLongAgo = agedPast(fs,
      new Path(main, ManifestPrefix + genName(graceFloor)), readerGraceMs)
    val leased = leasedGens(fs, main, leaseMaxAge) // retention holds; RTBF ignores
    val mc = new FsManifestCommit(fs, main)
    // clean EXPIRED lease markers (maxAge enabled only): leasedGens
    // already ignores them, but the dead marker would otherwise block
    // its leaseId forever and clutter listLeases
    if (leaseMaxAge > 0) {
      val now = System.currentTimeMillis()
      mc.list(LeasePrefix).foreach { n =>
        if (mc.createdAt(n).exists(t => now - t >= leaseMaxAge)) mc.delete(n)
      }
    }
    // crashed pruners' delete-intent leftovers age out on the same
    // orphan grace as writer claims
    cleanStaleIntents(mc, orphanGraceMs)
    fs.listStatus(main).toSeq.filter(_.isDirectory).foreach { s =>
      genNumber(s.getPath.getName).foreach { nn =>
        if (nn < graceFloor) {
          // the `leased` snapshot is the cheap first look; the actual
          // delete runs the announce → re-list → delete protocol that
          // closes the race against a concurrent acquire (see
          // [[deleteUnlessLeased]] — this replaces the r14 lazy
          // "second look", whose one-snapshot-per-pass reuse the r14
          // ADVICE flagged)
          if (retiredLongAgo && !leased(nn))
            deleteUnlessLeased(fs, main, nn, Seq(s.getPath), leaseMaxAge) }
        else if (nn > curN) {
          val live = liveClaim(fs,
            new Path(main, ClaimPrefix + genName(nn)), orphanGraceMs)
          // delete the dir but KEEP the expired claim as a tombstone:
          // deleting it would let claimNext REUSE the number, and a
          // resurrected writer (paused past its lease, write job still
          // in flight) could then clobber the republished dir at the
          // file level before its publish is fenced. The tombstone
          // keeps numbering monotonic; publish prunes it once a
          // published generation supersedes it (after which claimNext
          // starts above that publish and can never hand the number
          // out again).
          if (!live) fs.delete(s.getPath, true)
        }
      }
    }
  }

  /** Current generation dir name, if `main` is generational.
    *
    * The manifest is NOT a single overwritten pointer file: on a
    * checksummed FileSystem an overwrite-rename moves the data file and
    * its .crc sidecar as two separate renames, and a reader between
    * them sees new bytes with the old checksum (ChecksumException —
    * observed under churn). Instead each publish CREATES an immutable
    * `_graft_gen.g<N>` marker (rename-no-overwrite of a fully-written
    * temp: the name transitions absent → complete, never stale) and
    * readers take the highest N from a directory listing. Old markers
    * are pruned on the same two-generation grace as the data dirs.
    */
  private[graft] def currentGen(fs: org.apache.hadoop.fs.FileSystem,
                                main: Path): Option[String] =
    listNums(fs, main, ManifestPrefix).maxOption.map(genName)

  /** The path readers should scan: `main/<gen>` for a generational
    * table, `main` itself for a flat one.
    */
  def resolve(fs: org.apache.hadoop.fs.FileSystem, main: Path): Path =
    currentGen(fs, main).map(new Path(main, _)).getOrElse(main)

  /** Read the table at `path`, generational or flat, with the schema
    * taken from one footer on the driver ([[graft.util.FooterSchema]]).
    */
  def readTable(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.util.FooterSchema.read(spark, resolve(fs, main).toString)
  }

  /** Published generations whose data dirs are still present — the
    * time-travel window. Retention is what [[pruneDataDirs]] leaves
    * behind: the two most recently PUBLISHED generations (rank grace),
    * widened by `readerGraceMs` wall-time where configured — the same
    * snapshot-retention story Delta/Iceberg expose, reduced to one
    * list. An unpublished claim dir is a write in flight, not a
    * version, and never appears here.
    */
  def generations(spark: SparkSession, path: String): Seq[Long] = {
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listNums(fs, main, ManifestPrefix).sorted
      .filter(n => fs.exists(new Path(main, genName(n))))
  }

  /** Readable generations with their PUBLISH times (ms since epoch) —
    * what `TIMESTAMP AS OF` resolves against
    * ([[GraftCatalog.loadTable]]). The instant comes from the marker
    * PAYLOAD (`publishedAtMs=` line, written at publish — r16 verdict
    * #4): the marker file's mtime is rename-committed once on this FS,
    * but a restore/copy/rsync of the table root rewrites every mtime
    * and would silently shift every timestamp-travel answer, while the
    * payload survives any byte-preserving move. Markers published
    * before the payload carried the instant fall back to mtime (legacy
    * only). Same retention filter as [[generations]].
    */
  private[sources] def generationsWithPublishTimes(
      spark: SparkSession, path: String): Seq[(Long, Long)] = {
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    listNums(fs, main, ManifestPrefix).sorted
      .filter(n => fs.exists(new Path(main, genName(n))))
      .map(n => n -> publishInstant(fs, main, n))
  }

  private val PublishedAtKey = "publishedAtMs="

  /** The instant generation `n` was published: the marker payload's
    * `publishedAtMs=` line, mtime fallback for pre-payload markers.
    * One small-file open per retained generation — driver metadata,
    * never data-sized.
    */
  private[sources] def publishInstant(fs: org.apache.hadoop.fs.FileSystem,
                                      main: Path, n: Long): Long = {
    val p = new Path(main, ManifestPrefix + genName(n))
    val fromPayload =
      try {
        val in = fs.open(p)
        val text = try new String(in.readAllBytes, "UTF-8") finally in.close()
        text.linesIterator
          .find(_.startsWith(PublishedAtKey))
          .flatMap(l => l.stripPrefix(PublishedAtKey).trim.toLongOption)
      } catch { case _: java.io.IOException => None }
    fromPayload.getOrElse(fs.getFileStatus(p).getModificationTime)
  }

  /** Time travel: read the table as of published generation `gen`.
    * Generation numbers come from [[generations]]; reading a number
    * that was never published (an in-flight or fenced writer's dir
    * could transiently exist) or whose data dir is already pruned
    * fails loudly — a silent fallback to current would be a wrong
    * answer, not a degraded one.
    */
  def readTableAt(spark: SparkSession, path: String,
                  gen: Long): org.apache.spark.sql.DataFrame = {
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a pruned generation loses marker AND dir on the same grace, so
    // "never published" and "aged out" are indistinguishable here —
    // one message covers both
    require(fs.exists(new Path(main, ManifestPrefix + genName(gen))) &&
        fs.exists(new Path(main, genName(gen))),
      s"generation $gen at $path is not readable — never published, " +
        "in flight, or outside the retention window (readable: " +
        s"${generations(spark, path).mkString(",")})")
    graft.util.FooterSchema.read(spark, new Path(main, genName(gen)).toString)
  }

  /** The change feed BETWEEN two published generations — the inverse
    * of envelope apply: one full outer join on the key columns emits
    * Debezium-shaped rows (`op` ∈ c/u/d, `before`/`after` structs of
    * every non-key column) that a downstream consumer replays to move
    * from `genA`'s state to `genB`'s. Rows equal on every column are
    * omitted (a change feed carries changes, not state). This is what
    * turns the retention window into a CDC source: any reader that can
    * see two snapshots can emit the log between them, without the
    * writer having captured one.
    *
    * Scale: one key-partitioned shuffle of both generations; struct
    * compare is codegen'd columnar equality, no per-column jobs.
    */
  def generationDiff(spark: SparkSession, path: String,
                     genA: Long, genB: Long,
                     keyCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val a = readTableAt(spark, path, genA)
    val b = readTableAt(spark, path, genB)
    val valCols = a.columns.filterNot(keyCols.contains).toSeq
    def pack(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.select((keyCols.map(col) :+ struct(valCols.map(col): _*).as(tag)): _*)
    pack(a, "before").join(pack(b, "after"), keyCols, "full_outer")
      .withColumn("op",
        when(col("before").isNull, "c")
          .when(col("after").isNull, "d")
          .when(col("before") =!= col("after"), "u"))
      .filter(col("op").isNotNull)
  }

  // --------------------------------------------------------- change feed

  /** One step of the cursor-tailed change feed: the half-open window
    * (`fromGen`, `toGen`] this consumer should process — `fromGen` =
    * None is the initial snapshot (every current row as a create).
    */
  final case class FeedStep(fromGen: Option[Long], toGen: Long,
                            changes: org.apache.spark.sql.DataFrame)

  private val FeedCursorPrefix = "_graft_feed_cursor."

  /** Consumer-group ids namespace cursors inside one cursorDir (the
    * Kafka group.id story): letters/digits/underscore/dash only, so a
    * group can never collide with the marker-name grammar.
    */
  private def requireGroup(group: String): Unit =
    require(group.nonEmpty && group.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '-'),
      s"feed consumer group '$group' — use letters, digits, '_', '-'")

  /** Cursor markers are keyed by the generation the step DEPARTS from:
    * `_graft_feed_cursor.<group>.from.g<from>` with payload = the
    * generation advanced TO. Keying by `from` (not `to`) is what makes
    * the advance a real CAS: two consumers that both read cursor ==
    * `from` but computed different `to`s (a publish landed between
    * their polls) now contend on ONE marker name, so exactly one wins —
    * with `to`-keyed names both would "succeed" and the window would be
    * delivered twice. The initial snapshot departs from the g0
    * sentinel (generations start at 1).
    */
  private[graft] def cursorMarkerName(group: String, from: Option[Long]): String =
    s"$FeedCursorPrefix$group.from.${genName(from.getOrElse(0L))}"

  /** Current cursor of `group`: the payload (`to`) of the marker with
    * the highest `from`. Legacy single-group markers
    * (`_graft_feed_cursor.g<to>`, pre-group format) are read as the
    * default group's cursor when no new-format marker exists.
    */
  private def feedCursorOf(mc: ManifestCommit, group: String): Option[Long] = {
    val prefix = s"$FeedCursorPrefix$group.from."
    val froms = mc.list(prefix).flatMap(n => genNumber(n.stripPrefix(prefix)))
    froms.maxOption match {
      case Some(maxFrom) =>
        val name = s"$prefix${genName(maxFrom)}"
        // local hard-link creates land with their full payload; the
        // HDFS create→write→close branch has a transient empty-payload
        // window — bounded retry, then loud (a cursor with no target is
        // a broken chain, not a position)
        var attempt = 0
        while (attempt < 20) {
          mc.read(name).map(b => new String(b, "UTF-8").trim)
            .flatMap(genNumber) match {
            case Some(to) => return Some(to)
            case None => attempt += 1; Thread.sleep(5L)
          }
        }
        sys.error(s"feed cursor marker $name has no readable target " +
          s"generation in its payload (${mc.describe}) — cursor chain corrupt")
      case None if group == DefaultFeedGroup =>
        mc.list(FeedCursorPrefix)
          .flatMap(n => genNumber(n.stripPrefix(FeedCursorPrefix))).maxOption
      case None => None
    }
  }

  val DefaultFeedGroup = "default"

  /** The DURABLE-CURSOR change feed — [[generationDiff]] turned into a
    * tailable CDC source, the consumer-offset story the reference's
    * Kafka consumer gets for free from its broker, rebuilt on the
    * generational layout with nothing but the manifest store:
    *
    *  - first call (no cursor at `cursorDir`): the INITIAL SNAPSHOT —
    *    every current row as `op = 'c'` (`before` null), the Debezium
    *    snapshot convention, `toGen` = the current generation;
    *  - subsequent calls: the Debezium-shaped diff (op c/u/d,
    *    before/after) between the cursor generation and current —
    *    exactly what a downstream replays to catch up;
    *  - nothing new published since the cursor: `None` (poll again
    *    later);
    *  - the cursor generation fell OUT OF RETENTION (the consumer
    *    lagged more than two publishes + grace): fails LOUDLY with
    *    re-snapshot guidance — a silent full-diff against the oldest
    *    retained generation would replay creates the consumer already
    *    has. Pin the cursor generation with [[acquireLease]] when the
    *    consumer's poll interval can exceed the publish cadence.
    *
    * DELIVERY CONTRACT (at-least-once, idempotent): process the
    * returned frame keyed by `toGen` (a dynamic partition overwrite on
    * a `gen=` column makes redelivery bit-identical), THEN call
    * [[advanceFeedCursor]] with the step's exact window. A crash
    * between the two re-delivers the SAME window on the next call.
    * One consumer per cursorDir; a second consumer fails the advance
    * loudly (exclusive-create markers), never silently double-feeds.
    *
    * Scale: a feed step costs one marker listing plus one
    * key-partitioned diff join of two retained generations — the same
    * shape as [[generationDiff]]; the cursor is O(1) metadata.
    */
  def changeFeedNext(spark: SparkSession, path: String, cursorDir: String,
                     keyCols: Seq[String],
                     group: String = DefaultFeedGroup): Option[FeedStep] = {
    require(keyCols.nonEmpty, "changeFeedNext needs key columns")
    requireGroup(group)
    val gens = generations(spark, path)
    require(gens.nonEmpty,
      s"$path is not a generational graft table — nothing to feed")
    val cur = gens.max
    val cdir = new Path(cursorDir)
    val fs = cdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val from = if (fs.exists(cdir))
      feedCursorOf(new FsManifestCommit(fs, cdir), group) else None
    from match {
      case Some(f) if f == cur => None
      case Some(f) =>
        require(f < cur,
          s"feed cursor at $cursorDir is at generation $f, AHEAD of " +
            s"$path's current $cur — cursor and table mismatched?")
        require(gens.contains(f),
          s"feed cursor at $cursorDir points at generation $f of $path, " +
            s"which left the retention window (readable: " +
            s"${gens.mkString(",")}) — the consumer fell behind; " +
            "delete the cursor dir and re-snapshot (or lease the " +
            "cursor generation to widen retention)")
        Some(FeedStep(Some(f), cur,
          generationDiff(spark, path, f, cur, keyCols)))
      case None =>
        Some(FeedStep(None, cur, feedSnapshot(spark, path, cur, keyCols)))
    }
  }

  /** The initial-snapshot frame of generation `gen` in the feed shape
    * (keys…, before = null, after, op = 'c') — the Debezium snapshot
    * convention, shared by [[changeFeedNext]] and the streaming source
    * ([[GraftChangeFeedSource]]).
    */
  private[graft] def feedSnapshot(spark: SparkSession, path: String,
                                  gen: Long, keyCols: Seq[String]
                                 ): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val snap = readTableAt(spark, path, gen)
    val valCols = snap.columns.filterNot(keyCols.contains).toSeq
    val packed = snap.select(
      (keyCols.map(col) :+ struct(valCols.map(col): _*).as("after")): _*)
    val afterType = packed.schema("after").dataType
    packed
      .withColumn("before", lit(null).cast(afterType))
      .withColumn("op", lit("c"))
      .select((keyCols.map(col) ++
        Seq(col("before"), col("after"), col("op"))): _*)
  }

  /** The feed-frame schema for `path` keyed by `keyCols`, derived from
    * the CURRENT generation's schema with every field nullable (outer
    * joins and the snapshot's null `before` make nullability the
    * frame's property, not the table's). The streaming source declares
    * this schema once at stream start; per-batch frames bind to it.
    */
  private[graft] def feedSchema(spark: SparkSession, path: String,
                                keyCols: Seq[String]
                               ): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val snap = readTable(spark, path).schema
    val missing = keyCols.filterNot(k => snap.fieldNames.contains(k))
    require(missing.isEmpty,
      s"key column(s) ${missing.mkString(",")} not in $path's schema " +
        s"(${snap.fieldNames.mkString(",")})")
    val valStruct = StructType(snap.fields
      .filterNot(f => keyCols.contains(f.name))
      .map(f => f.copy(nullable = true)).toIndexedSeq)
    StructType(
      keyCols.map(k => snap(k).copy(nullable = true)) ++ Seq(
        StructField("before", valStruct),
        StructField("after", valStruct),
        StructField("op", StringType)))
  }

  /** Commit a processed [[FeedStep]]'s window for `group`: the cursor
    * moves `expectFrom` → `to` via an exclusive create of the
    * FROM-KEYED marker ([[cursorMarkerName]]) — two consumers of one
    * group racing the same departure generation contend on one marker
    * name and exactly one wins, LOUDLY, even when they computed
    * different `to`s (the duplicate-window race a `to`-keyed marker
    * left open). Distinct groups never contend: each is its own CAS
    * chain over the same cursorDir. Superseded markers of the group
    * (and, for the default group, pre-group legacy markers) are
    * pruned. Call strictly AFTER the step's output landed.
    */
  def advanceFeedCursor(spark: SparkSession, cursorDir: String,
                        expectFrom: Option[Long], to: Long,
                        group: String = DefaultFeedGroup): Unit = {
    requireGroup(group)
    val cdir = new Path(cursorDir)
    val fs = cdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(cdir)
    val mc = new FsManifestCommit(fs, cdir)
    val cur = feedCursorOf(mc, group)
    require(cur == expectFrom,
      s"feed cursor '$group' at $cursorDir is at " +
        s"${cur.fold("<none>")(genName)}, " +
        s"not ${expectFrom.fold("<none>")(genName)} — a second consumer " +
        "advanced it; this step's window is stale")
    require(expectFrom.forall(_ < to),
      s"cursor can only advance: ${expectFrom.get} -> $to")
    require(mc.createExclusive(cursorMarkerName(group, expectFrom),
        genName(to).getBytes("UTF-8")),
      s"concurrent advance of feed cursor '$group' from " +
        s"${genName(expectFrom.getOrElse(0L))} at $cursorDir lost the " +
        "exclusive create — two consumers share this group's cursor")
    val fromN = expectFrom.getOrElse(0L)
    val groupPrefix = s"$FeedCursorPrefix$group.from."
    mc.list(groupPrefix).foreach { n =>
      if (genNumber(n.stripPrefix(groupPrefix)).exists(_ < fromN))
        mc.delete(n)
    }
    if (group == DefaultFeedGroup)
      mc.list(FeedCursorPrefix)
        .filter(n => genNumber(n.stripPrefix(FeedCursorPrefix)).isDefined)
        .foreach(mc.delete) // legacy pre-group markers, superseded
  }

  /** Atomically publish `gen` as the current generation: FENCE (reject
    * a non-monotonic publish — see below), create the generation's
    * immutable marker file, then prune markers and claims superseded by
    * the rank-based two-generation grace.
    *
    * Fencing: if any marker ≥ `gen` already exists, another writer
    * published while this one was producing `gen`, so `gen` was derived
    * from stale state. The loser's data dir and claim are deleted and
    * [[FencedWriteException]] is thrown; readers (who take the MAX
    * marker) never saw the stale generation. The check-then-create has
    * a benign race: a winner publishing between this writer's check and
    * marker-create leaves a lower-numbered marker behind, which is
    * invisible to readers (max wins) and pruned on the next publish.
    */
  private[graft] def publish(fs: org.apache.hadoop.fs.FileSystem,
                             conf: org.apache.hadoop.conf.Configuration,
                             main: Path, gen: String,
                             readerGraceMs: Long = 0L,
                             expectCur: Option[Long] = None): Unit = {
    val n = genNumber(gen).getOrElse(sys.error(s"bad generation name $gen"))
    val curMax = listNums(fs, main, ManifestPrefix).maxOption.getOrElse(0L)
    // Two fences. The monotonic one (curMax >= n) catches a writer a
    // CONCURRENT publish already numbered past. `expectCur` is the
    // read-snapshot fence for read-modify-write publishers (forgetRows,
    // compactGen, maintainAggregate): a writer whose CLAIM number is
    // higher but whose INPUT predates an interleaved publish passes the
    // monotonic check and would silently roll that publish back — for a
    // forget, resurrecting the victims AFTER the RTBF call returned
    // success. Such writers record the generation they read and lose
    // here unless it is still current.
    if (curMax >= n || expectCur.exists(_ != curMax)) {
      fs.delete(new Path(main, gen), true)
      fs.delete(new Path(main, ClaimPrefix + gen), false)
      throw new FencedWriteException(
        s"publish of $gen fenced: expected current generation " +
          s"${expectCur.fold(s"< $n")(e => genName(e))} but found " +
          s"${genName(curMax)} at $main — stale writer loses, " +
          "re-read current state and retry")
    }
    val tmp = new Path(main, s".${ManifestPrefix}$gen.tmp")
    val out = fs.create(tmp, true)
    // payload carries the publish instant (generationsWithPublishTimes
    // prefers it over the restore-fragile file mtime)
    try out.write(
      s"$gen\n$PublishedAtKey${System.currentTimeMillis()}".getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new Path(main, ManifestPrefix + gen)))
      sys.error(s"compaction: publishing manifest for $gen failed")
    // rank-based marker grace (keep the two most recent published),
    // widened by the same wall-time readerGraceMs as pruneDataDirs —
    // markers and data dirs must expire TOGETHER, or a wall-grace
    // retention (a pinned export's generation) loses its marker two
    // publishes in while its dir is still protected, and readTableAt
    // reports it unreadable with the data sitting right there.
    // Claims ≤ n are dead — fulfilled by this publish, or fenced (a
    // live writer's claim is always above the current maximum marker)
    val graceFloor = listNums(fs, main, ManifestPrefix)
      .sorted.reverse.take(2).last
    val retiredLongAgo = agedPast(fs,
      new Path(main, ManifestPrefix + genName(graceFloor)), readerGraceMs)
    val leased = leasedGens(fs, main, leaseMaxAgeMs(conf)) // markers and dirs expire together
    fs.listStatus(main).toSeq.map(_.getPath).foreach { p =>
      val name = p.getName
      if (name.startsWith(ManifestPrefix))
        genNumber(name.stripPrefix(ManifestPrefix)) match {
          case Some(m) if m < graceFloor && retiredLongAgo && !leased(m) =>
            // markers and dirs expire together — and both delete
            // through the announce→re-list→delete protocol, so a lease
            // CAS racing this publish keeps marker AND dir
            deleteUnlessLeased(fs, main, m, Seq(p), leaseMaxAgeMs(conf))
          case _ => ()
        }
      else if (name.startsWith(ClaimPrefix))
        genNumber(name.stripPrefix(ClaimPrefix)) match {
          case Some(m) if m <= n => fs.delete(p, false)
          case _ => ()
        }
    }
  }

  /** Convert a flat parquet dir into a generational one (run once,
    * before concurrent readers start — the one-time file moves have the
    * same reader hazard as [[swapIn]]).
    */
  def toGenerational(spark: SparkSession, path: String): Unit = {
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (currentGen(fs, main).isDefined) return
    val g1 = new Path(main, genName(1L))
    fs.mkdirs(g1)
    // move DIRECTORIES too: a flat table written with partitionBy keeps
    // all data under key=.../part-* subdirs with no top-level files —
    // a file-only move published an EMPTY g1 and readers silently saw
    // zero rows while the real data sat unreferenced at the root
    fs.listStatus(main).toSeq.foreach { s =>
      val nm = s.getPath.getName
      val keep = nm == genName(1L) || nm.startsWith(ManifestPrefix) ||
        nm.startsWith(ClaimPrefix) || nm.startsWith(".") ||
        (s.isDirectory && genNumber(nm).isDefined)
      if (!keep && !fs.rename(s.getPath, new Path(g1, nm)))
        sys.error(s"toGenerational: rename ${s.getPath} failed")
    }
    publish(fs, spark.sparkContext.hadoopConfiguration, main, genName(1L))
  }

  /** Copy the non-data underscore sidecars of generation `from` into
    * generation `to` (skipping names the write already produced there,
    * i.e. `_SUCCESS`). A generation is more than its parquet rows:
    * Materialize.maintainAggregate rides its `_graft_last_batch`
    * redelivery marker INSIDE each generation so "state" and "last
    * applied batch" commit atomically — a rewrite that dropped the
    * marker would let a redelivered batch re-apply and double-count.
    * Every generation-from-generation rewrite must call this before
    * [[publish]].
    */
  private def carrySidecars(fs: org.apache.hadoop.fs.FileSystem,
                            conf: org.apache.hadoop.conf.Configuration,
                            from: Path, to: Path): Unit =
    fs.listStatus(from).toSeq
      .filter(s => s.isFile && s.getPath.getName.startsWith("_")
        && !fs.exists(new Path(to, s.getPath.getName)))
      .foreach { s =>
        org.apache.hadoop.fs.FileUtil.copy(
          fs, s.getPath, fs, new Path(to, s.getPath.getName),
          false /* deleteSource */, conf)
      }

  /** Compact a generational table. One job: scan current gen →
    * round-robin repartition → write gen N+1 (carrying forward the
    * current gen's underscore sidecars — see [[carrySidecars]]) →
    * atomic manifest swap → prune generations ≤ N−1 plus any orphaned
    * unpublished dirs (a crashed writer's half-written gen: manifest
    * never moved, so it is invisible to readers and safe to drop). The
    * just-retired gen N survives until the NEXT compaction — the
    * reader grace period is a full compaction cycle.
    *
    * CONCURRENT WRITERS, FENCED: the output generation is reserved via
    * [[claimNext]] (two writers can never target the same dir), the
    * publish rejects non-monotonic generations
    * ([[FencedWriteException]] — if ingest published while this
    * compaction ran, the compacted rewrite is stale and loses), and
    * orphan pruning spares unpublished dirs whose claim is younger than
    * `orphanGraceMs` (a live writer's work in progress; crashed claims
    * age out). Losing a compaction race costs only the wasted rewrite —
    * retry whenever; serializing compaction with ingest (same
    * foreachBatch loop) remains the efficient deployment, it is just no
    * longer a SAFETY requirement.
    */
  def compactGen(spark: SparkSession, path: String,
                 targetBytes: Long = 128L * 1024 * 1024,
                 orphanGraceMs: Long = DefaultOrphanGraceMs,
                 readerGraceMs: Long = 0L): Stats = {
    val main = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    requirePruneGrace(conf, orphanGraceMs)
    val fs = main.getFileSystem(conf)
    if (currentGen(fs, main).isEmpty) toGenerational(spark, path)
    val cur = currentGen(fs, main).get
    val curDir = new Path(main, cur)
    pruneDataDirs(fs, main, orphanGraceMs, readerGraceMs, leaseMaxAgeMs(conf))
    val files = dataFiles(fs, curDir)
    val bytes = files.map(_.getLen).sum
    val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    if (files.size <= nOut)
      return Stats(files.size, files.size, bytes, rewritten = false)
    val next = genName(claimNext(fs, main, s"compactGen@${spark.sparkContext.applicationId}"))
    spark.read.parquet(curDir.toString)
      .repartition(nOut)
      .write.mode("overwrite").parquet(new Path(main, next).toString)
    carrySidecars(fs, conf, curDir, new Path(main, next))
    // read-snapshot fence: this rewrite was derived from `cur` — an
    // ingest publishing mid-compaction must fence it (the retry costs
    // one wasted rewrite; losing the ingest's rows would be silent)
    publish(fs, conf, main, next, readerGraceMs, genNumber(cur))
    pruneDataDirs(fs, main, orphanGraceMs, readerGraceMs, leaseMaxAgeMs(conf))
    Stats(files.size, dataFiles(fs, new Path(main, next)).size, bytes,
      rewritten = true)
  }

  /** Write `df` as the next generation of a generational table (the
    * ingest-side counterpart of [[compactGen]] — any full-table rewrite
    * goes through the same publish/prune cycle). `beforePublish` runs
    * against the fully-written but not-yet-visible generation dir —
    * sidecars written there (e.g. Materialize's redelivery marker)
    * become visible ATOMICALLY with the data they describe. Sidecars
    * are NOT carried forward from the previous generation here: the new
    * df plus whatever `beforePublish` writes IS the new table state,
    * and a stale marker surviving a state replacement would be wrong
    * (contrast [[compactGen]], whose rewrite preserves state and so
    * must preserve the sidecars describing it).
    *
    * CONCURRENT WRITERS, FENCED: the target generation is reserved via
    * [[claimNext]] — two concurrent writeGen calls get DISTINCT dirs,
    * so the old silent mid-write clobber is structurally impossible —
    * and the publish rejects non-monotonic generations: if another
    * writer published first, this writer's df was derived from stale
    * state and [[FencedWriteException]] fires after its artifacts are
    * cleaned up. State-merging callers (Materialize.maintainAggregate)
    * should catch it, re-read the current generation, recompute, and
    * retry; last-publisher-wins callers may ignore the loser entirely.
    */
  /** Right-to-be-forgotten on a generational TABLE — the CDC-side twin
    * of [[IndexLifecycle.forgetViaRebuild]]: publish a new generation
    * holding the current rows MINUS what `victim` matches (readers only
    * ever resolve a full generation — old or new, never partial), then
    * physically SCRUB every retired generation dir, because the normal
    * two-generation reader grace is exactly wrong for forgotten data:
    * it keeps the victims' bytes on disk and [[readTableAt]] serving
    * them. After the scrub, time travel to pre-forget generations
    * fails loudly ([[readTableAt]]'s retention message) — the point of
    * an erasure. A concurrent publisher fences the rewrite
    * ([[FencedWriteException]]); the forget re-reads the winner's
    * state and retries, so the returned count is the surviving
    * attempt's. `readerGraceMs` defers only the SCRUB (the logical
    * erasure is complete once the new generation publishes); pass the
    * same discipline as your other writes and call again (or rely on
    * the next forget) to finish physical erasure under long scans.
    */
  def forgetRows(spark: SparkSession, path: String,
                 victim: org.apache.spark.sql.Column,
                 orphanGraceMs: Long = DefaultOrphanGraceMs,
                 readerGraceMs: Long = 0L): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit, not}
    requirePruneGrace(spark.sparkContext.hadoopConfiguration, orphanGraceMs)
    val hit = coalesce(victim, lit(false))
    var attempts = 0
    while (attempts < 8) {
      attempts += 1
      // pin the read to a NAMED generation and fence the publish on it:
      // a concurrent writer whose claim lands above ours but whose input
      // also predates our publish must not be able to roll the forget
      // back (victims resurrected after the RTBF call returned) — and
      // symmetrically, our forget must not roll back a publish that
      // landed after this read
      val curGen = generations(spark, path).maxOption
      val cur = curGen.fold(readTable(spark, path))(g =>
        readTableAt(spark, path, g))
      val removed = cur.filter(hit).count()
      try {
        writeGen(cur.filter(not(hit)), path,
          orphanGraceMs = orphanGraceMs, readerGraceMs = readerGraceMs,
          expectGen = curGen)
        scrubRetiredGens(spark, path, orphanGraceMs, readerGraceMs)
        return removed
      } catch {
        case _: FencedWriteException => () // stale read — re-derive
      }
    }
    sys.error(s"forgetRows: fenced 8 times at $path — a writer is " +
      "publishing faster than the forget can re-derive; quiesce it")
  }

  /** Delete every gen dir STRICTLY below the current generation —
    * [[pruneDataDirs]] minus its two-generation reader-grace floor,
    * for the erasure path only. In-flight dirs ABOVE current keep
    * their live-claim protection; `readerGraceMs` (measured from the
    * current generation's marker) skips the scrub entirely when the
    * window is still open (returns false — call again after).
    * Deliberately lease-BLIND ([[acquireLease]]'s precedence contract):
    * RTBF erasure overrides every retention lease — the leased
    * generation's rows are physically gone and its pinned reads fail
    * loudly from then on.
    */
  def scrubRetiredGens(spark: SparkSession, path: String,
                       orphanGraceMs: Long = DefaultOrphanGraceMs,
                       readerGraceMs: Long = 0L): Boolean = {
    val main = new Path(path)
    requirePruneGrace(spark.sparkContext.hadoopConfiguration, orphanGraceMs)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pubs = listNums(fs, main, ManifestPrefix).sorted.reverse
    if (pubs.isEmpty) return true
    val curN = pubs.head
    if (readerGraceMs > 0L && {
        try System.currentTimeMillis() - fs.getFileStatus(
          new Path(main, ManifestPrefix + genName(curN)))
          .getModificationTime < readerGraceMs
        catch { case _: java.io.FileNotFoundException => false }
      }) return false
    fs.listStatus(main).toSeq.filter(_.isDirectory).foreach { s =>
      genNumber(s.getPath.getName).foreach { nn =>
        if (nn < curN) fs.delete(s.getPath, true)
      }
    }
    true
  }

  def writeGen(df: org.apache.spark.sql.DataFrame, path: String,
               beforePublish: Path => Unit = _ => (),
               orphanGraceMs: Long = DefaultOrphanGraceMs,
               readerGraceMs: Long = 0L,
               expectGen: Option[Long] = None): Unit = {
    val spark = df.sparkSession
    val main = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    requirePruneGrace(conf, orphanGraceMs)
    val fs = main.getFileSystem(conf)
    val next = genName(claimNext(fs, main, s"writeGen@${spark.sparkContext.applicationId}"))
    df.write.mode("overwrite").parquet(new Path(main, next).toString)
    beforePublish(new Path(main, next))
    publish(fs, conf, main, next, readerGraceMs, expectGen)
    // rank-based two-generation reader grace (a reader that resolved
    // two publishes ago may still be scanning), crashed-claim expiry,
    // optional wall-time retention for concurrent-writer deployments
    pruneDataDirs(fs, main, orphanGraceMs, readerGraceMs, leaseMaxAgeMs(conf))
  }

  /** APPEND `df` to a generational table as a new generation — the
    * `INSERT INTO` primitive behind the DSv2/catalog write face.
    *
    * Snapshot-per-directory makes the naive append (read current ∪ new
    * → writeGen) O(table) per insert; this one is O(new data): the new
    * rows are written as fresh parquet files into the claimed
    * generation dir, the current generation's DATA files are carried
    * forward by hard link on link-capable stores (`file:` — one
    * metadata op per file, no bytes move) or FileUtil.copy elsewhere,
    * and the publish is fenced on the generation the append READ
    * (`expectCur` — a concurrent publish between the read and this
    * publish would otherwise be silently rolled back). On an object
    * store the carry-forward maps to server-side copy; a
    * manifest-of-files layer (Iceberg's move) would make it O(1) —
    * documented trade-off of keeping the one-pointer manifest.
    *
    * - Empty/absent root: the append bootstraps generation 1
    *   ([[writeGen]]).
    * - Flat non-generational dir with data: LOUD error — publishing g1
    *   beside unreferenced flat files would silently hide them; run
    *   [[toGenerational]] first.
    * - Partitioned current generation (subdirectories): falls back to
    *   the rewrite path (union → writeGen) so partition discovery never
    *   sees a mixed flat+partitioned dir.
    * - Schema: new rows must carry exactly the table's columns with the
    *   same types (order-free; nullability-free) — parquet reads
    *   resolve columns by name per file, so carried and fresh files
    *   interleave safely.
    *
    * Concurrency: claim fencing + `expectCur` keep the two-writer story
    * identical to [[writeGen]] — one of two concurrent appends loses
    * with [[FencedWriteException]] and retries on the new current.
    */
  def appendGen(df: org.apache.spark.sql.DataFrame, path: String,
                orphanGraceMs: Long = DefaultOrphanGraceMs,
                readerGraceMs: Long = 0L,
                beforePublish: Path => Unit = _ => ()): Unit = {
    val spark = df.sparkSession
    val main = new Path(path)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = main.getFileSystem(conf)
    listNums(fs, main, ManifestPrefix).maxOption match {
      case None =>
        val flatData = fs.exists(main) && fs.listStatus(main).exists { s =>
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        require(!flatData,
          s"appendGen: $path holds flat (non-generational) data — " +
            "publishing a generation beside it would silently hide it " +
            "from readers; run Compaction.toGenerational first")
        writeGen(df, path, beforePublish = beforePublish,
          orphanGraceMs = orphanGraceMs, readerGraceMs = readerGraceMs)
      case Some(cur) =>
        val curDir = new Path(main, genName(cur))
        val curDf = readTableAt(spark, path, cur)
        val want = curDf.schema.fields
          .map(f => f.name -> f.dataType.sql).toMap
        val got = df.schema.fields
          .map(f => f.name -> f.dataType.sql).toMap
        require(want == got,
          s"appendGen: schema mismatch at $path — table has " +
            s"${curDf.schema.simpleString}, append has " +
            s"${df.schema.simpleString}")
        if (fs.listStatus(curDir).exists(s => s.isDirectory &&
            !s.getPath.getName.startsWith("."))) {
          // partitioned snapshot: rewrite, don't mix layouts; the
          // rewrite must carry state sidecars like the linked path does
          writeGen(curDf.unionByName(df), path,
            beforePublish = { next =>
              carrySidecars(fs, conf, curDir, next); beforePublish(next)
            },
            orphanGraceMs = orphanGraceMs, readerGraceMs = readerGraceMs,
            expectGen = Some(cur))
        } else {
          requirePruneGrace(conf, orphanGraceMs)
          val next = genName(claimNext(fs, main,
            s"appendGen@${spark.sparkContext.applicationId}"))
          val nextDir = new Path(main, next)
          df.select(curDf.columns.map(org.apache.spark.sql.functions.col)
              .toIndexedSeq: _*)
            .write.mode("overwrite").parquet(nextDir.toString)
          carryDataFiles(fs, conf, curDir, nextDir)
          // an append PRESERVES table state: underscore sidecars
          // (Materialize's _graft_last_batch, the stream sink's batch
          // marker) describe state the new generation still holds —
          // dropping them would let a redelivered batch re-apply
          // (carrySidecars skips names the write produced, i.e.
          // _SUCCESS; beforePublish may then overwrite its own)
          carrySidecars(fs, conf, curDir, nextDir)
          beforePublish(nextDir)
          publish(fs, conf, main, next, readerGraceMs, Some(cur))
          pruneDataDirs(fs, main, orphanGraceMs, readerGraceMs,
            leaseMaxAgeMs(conf))
        }
    }
  }

  /** Carry generation `from`'s data files into `to`: hard links on the
    * local scheme (the kernel refuses a clobber — carried names can
    * never overwrite the fresh write's part files), byte copy
    * elsewhere. Underscore/dot sidecars stay behind — the fresh write
    * produced its own `_SUCCESS`, and state sidecars ride
    * [[carrySidecars]] only on rewrite paths that preserve them
    * deliberately.
    */
  private def carryDataFiles(fs: org.apache.hadoop.fs.FileSystem,
                             conf: org.apache.hadoop.conf.Configuration,
                             from: Path, to: Path): Unit = {
    val linkable = fs.getScheme == "file"
    fs.listStatus(from).toSeq.filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.foreach { s =>
      val dest = new Path(to, s.getPath.getName)
      require(!fs.exists(dest),
        s"appendGen: carried file ${s.getPath.getName} collides with a " +
          s"fresh part file in $to — aborting before clobber")
      val linked = linkable && {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(dest.toUri.getPath),
            java.nio.file.Paths.get(s.getPath.toUri.getPath))
          true
        } catch { case _: java.io.IOException |
                       _: UnsupportedOperationException => false }
      }
      if (!linked)
        org.apache.hadoop.fs.FileUtil.copy(fs, s.getPath, fs, dest,
          false /* deleteSource */, conf)
    }
  }
}
