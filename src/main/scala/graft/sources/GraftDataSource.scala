package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{DataSource, FileFormat}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.util.FooterSchema

/** `spark.read.format("graft")` — the DSv2 face of the generational
  * table layout (r15 verdict #1): until now generations, time travel,
  * and pinned reads were reachable only through the
  * [[Compaction.readTable]]/[[Compaction.readTableAt]] Scala API, so
  * SQL and DataFrame-reader users got nothing. This source is the
  * MANIFEST-RESOLUTION layer and nothing more: it resolves the graft
  * table root (+ optional time-travel option) to the one immutable
  * generation directory a reader should scan, then delegates the
  * entire scan to Spark's built-in parquet DSv2 table — schema
  * inference, vectorized reading, filter pushdown, column pruning,
  * and partition pruning are the battle-tested parquet paths, not a
  * re-implementation (GraftDataSourceSpec asserts PushedFilters /
  * PartitionFilters / ReadSchema survive the indirection verbatim).
  *
  * Options:
  *  - `generation` — pin an exact published generation (the
  *    [[Compaction.readTableAt]] contract: a number outside the
  *    retention window fails LOUDLY at resolution, never a silent
  *    fallback to current);
  *  - `asOfGen` — the highest published generation <= the given
  *    number (snapshot-floor semantics; loud when nothing qualifies);
  *  - neither — the current generation ([[Compaction.resolve]]; a
  *    flat non-generational directory reads as plain parquet, so
  *    `format("graft")` is safe on both layouts).
  *
  * Deliberately a PLAIN [[TableProvider]], NOT a `FileDataSourceV2`:
  * Spark special-cases `FileDataSourceV2` on every V1 code path
  * (`DataSource.providingClass` maps the class straight to its
  * fallback `FileFormat`, and `DataFrameWriter` filters such
  * providers out of the V2 write path) — as a `FileDataSourceV2`
  * this source's SQL face would be bypassed for a raw parquet scan
  * of the table ROOT, and `df.write.format("graft")` would SILENTLY
  * land loose parquet files next to the generation dirs (observed
  * before this design; the spec pins both). As a plain provider the
  * V1 paths resolve through [[RelationProvider]] below and writes
  * fail loudly on both engines' routes.
  *
  * WRITES publish GENERATIONS, never touch files in place (r16
  * verdict #1): `INSERT INTO` / `df.writeTo(...).append()` /
  * `df.write.format("graft").mode("append")` map to
  * [[Compaction.appendGen]] (new generation = carried-forward current
  * files + the fresh rows, publish fenced on the read generation);
  * `INSERT OVERWRITE` / mode("overwrite") map to
  * [[Compaction.writeGen]] (the replacement snapshot). Both go through
  * the V1 write fallback ([[org.apache.spark.sql.connector.write.V1Write]]
  * → [[InsertableRelation]]) because the publish is a driver-side
  * atomic manifest commit over an already-written DataFrame — exactly
  * the InsertableRelation contract; the data path underneath is still
  * a fully distributed parquet write. Mutating a RESOLVED generation
  * dir stays impossible: a PINNED table (`generation` / `asOfGen` /
  * `VERSION AS OF` / `TIMESTAMP AS OF`) carries no write capability
  * and an insert on it fails analysis — a write into a published
  * snapshot under concurrent readers would break every
  * retention/lease/RTBF invariant.
  *
  * SQL users: `CREATE TEMPORARY VIEW t USING graft OPTIONS (path
  * '...', generation '...')` resolves through the V1
  * [[RelationProvider]] face — the same resolution, then the plain
  * parquet relation (pushdown intact; spec-asserted). Direct
  * SQL-on-file (`FROM graft.`/path``) is a PLATFORM restriction:
  * Spark's ResolveSQLOnFile only accepts FileFormat-backed sources,
  * so it fails with a loud UNSUPPORTED_DATASOURCE analysis error
  * (spec-pinned) — never a silent root scan.
  *
  * Scale: resolution is one directory listing of manifest markers —
  * O(retained generations) metadata on the driver, nothing
  * data-sized; the scan itself plans/executes exactly as
  * `spark.read.parquet(<resolved dir>)` would at any table size.
  */
class GraftDataSource extends TableProvider with DataSourceRegister
    with RelationProvider with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  import GraftDataSource._

  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graftTable(options, None).schema()

  override def inferPartitioning(options: CaseInsensitiveStringMap): Array[Transform] =
    graftTable(options, None).partitioning()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    graftTable(new CaseInsensitiveStringMap(properties), Option(schema))

  /** One unpinned read resolves the current generation ONCE per
    * provider instance: inferSchema / inferPartitioning / getTable are
    * three separate calls on Spark's side, and re-resolving in each
    * would let a writeGen landing between them pair generation N's
    * inferred schema with a scan of N+1. The footer schema of the
    * resolved dirs is memoized with them for the same reason, so the
    * schema inferSchema reports is the one getTable scans with. Spark
    * instantiates a fresh provider per read, so the memo's lifetime is
    * exactly one load.
    */
  @volatile private var resolutionMemo: Option[Resolution] = None

  private def graftTable(options: CaseInsensitiveStringMap,
                         schema: Option[StructType]): Table = {
    val spark = SparkSession.active
    val paths = pathsOf(options)
    require(paths.nonEmpty,
      "graft: no path given — load(<table root>) or option(\"path\", ...)")
    val pin = genOptions(Option(options.get(GenerationOption)),
      Option(options.get(AsOfGenOption)))
    val readerOptions = withoutResolutionKeys(options)
    val key = (paths, pin)
    val res = resolutionMemo match {
      case Some(r) if r.key == key => r
      case _ =>
        val r = new Resolution(key, paths.map(p => resolveGenDir(spark, p, pin)),
          readerOptions)
        resolutionMemo = Some(r)
        r
    }
    val writable = pin == ((None, None)) && paths.lengthCompare(1) == 0
    if (writable && schema.isEmpty && isEmptyRoot(spark, paths.head))
      new GraftBootstrapTable(s"graft ${paths.head}", paths.head)
    else if (writable)
      new GraftWritableTable(s"graft ${paths.mkString(",")}", spark,
        readerOptions, res.dirs, schema.orElse(res.footerSchema),
        classOf[ParquetFileFormat], paths.head)
    else
      new GraftReadOnlyTable(s"graft ${paths.mkString(",")}", spark,
        readerOptions, res.dirs, schema.orElse(res.footerSchema),
        classOf[ParquetFileFormat])
  }

  /** The V1 face: SQL-on-file (`FROM graft.`path``) and
    * `CREATE [TEMP] VIEW/TABLE ... USING graft` resolve relations
    * through this interface — same generation resolution, then the
    * built-in parquet relation over the resolved dir.
    */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val lower = parameters.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path = lower.getOrElse("path",
      sys.error("graft: OPTIONS must carry 'path' (the table root)"))
    val pin = genOptions(
      lower.get(GenerationOption.toLowerCase(java.util.Locale.ROOT)),
      lower.get(AsOfGenOption.toLowerCase(java.util.Locale.ROOT)))
    val passThrough = parameters.filterNot { case (k, _) =>
      val lk = k.toLowerCase(java.util.Locale.ROOT)
      ResolutionKeys(lk)
    }
    val dir = resolveGenDir(spark, path, pin)
    DataSource(spark, className = "parquet", paths = Seq(dir),
      userSpecifiedSchema = FooterSchema.of(spark, Seq(dir), passThrough),
      options = passThrough).resolveRelation()
  }

  /** The STREAMING read face: `spark.readStream.format("graft")
    * .option("keyColumns", "k1,k2").load(root)` tails the table's
    * change feed — see [[GraftChangeFeedSource]] for the offset ==
    * generation mapping. `keyColumns` is required (the diff join's
    * key); time-travel pins are meaningless on a stream and rejected.
    */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val (path, keyCols) = streamParams(parameters)
    require(schema.isEmpty,
      "graft streaming: the feed schema derives from the table — drop " +
        ".schema(...)")
    (s"graft-feed:$path",
      Compaction.feedSchema(sqlContext.sparkSession, path, keyCols))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    val (path, keyCols) = streamParams(parameters)
    new GraftChangeFeedSource(sqlContext, path, keyCols)
  }

  /** The STREAMING write face: `df.writeStream.format("graft")
    * .outputMode("append"|"complete").start(root)` — one generation
    * per micro-batch, effectively-once via the in-generation batch
    * sidecar ([[GraftStreamSink]]).
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val lower = parameters.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path = lower.getOrElse("path",
      sys.error("graft streaming sink: start(<table root>) or " +
        "option(\"path\", ...)"))
    require(partitionColumns.isEmpty,
      "graft streaming sink: partitionBy is not supported — a " +
        "generation is one snapshot directory")
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Update(),
      "graft streaming sink: Update mode needs keyed upsert semantics — " +
        "use CdcPipeline.idempotentParquetUpsert in foreachBatch, or " +
        "CdcPipeline.materializeTws upstream (they know the key); " +
        "Append publishes each batch as a new generation, Complete " +
        "publishes it as the replacement snapshot")
    new GraftStreamSink(sqlContext.sparkSession, path, outputMode)
  }

  private def streamParams(parameters: Map[String, String]): (String, Seq[String]) = {
    val lower = parameters.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path = lower.getOrElse("path",
      sys.error("graft streaming: load(<table root>) or option(\"path\", ...)"))
    require(!lower.contains(GenerationOption.toLowerCase(java.util.Locale.ROOT))
        && !lower.contains(AsOfGenOption.toLowerCase(java.util.Locale.ROOT)),
      "graft streaming: generation/asOfGen pins do not apply to a " +
        "stream — the feed replays from the checkpointed offset")
    val keyCols = lower.getOrElse("keycolumns",
        sys.error("graft streaming: option 'keyColumns' (comma-separated " +
          "key columns of the diff join) is required"))
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    require(keyCols.nonEmpty, "graft streaming: 'keyColumns' is empty")
    (path, keyCols)
  }

  /** The V1 write face (`df.write.format("graft").mode(...)`): the
    * same generation-publishing semantics as the DSv2 write builder —
    * never loose part-files in a table root (what the
    * FileDataSourceV2 fallback silently did; spec pins it).
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val lower = parameters.map { case (k, v) =>
      k.toLowerCase(java.util.Locale.ROOT) -> v }
    val path = lower.getOrElse("path",
      sys.error("graft: writes need option 'path' (the table root)"))
    require(!lower.contains(GenerationOption.toLowerCase(java.util.Locale.ROOT))
        && !lower.contains(AsOfGenOption.toLowerCase(java.util.Locale.ROOT)),
      "graft: a pinned snapshot (generation/asOfGen) cannot be written — " +
        "published generations are immutable; write the table root")
    val exists = !isEmptyRoot(spark, path)
    mode match {
      case SaveMode.Append => Compaction.appendGen(data, path)
      case SaveMode.Overwrite =>
        requireNotFlatData(spark, path)
        Compaction.writeGen(data, path)
      case SaveMode.ErrorIfExists =>
        require(!exists, s"graft table at $path already exists " +
          "(SaveMode.ErrorIfExists)")
        Compaction.writeGen(data, path)
      case SaveMode.Ignore =>
        if (!exists) Compaction.writeGen(data, path)
    }
    createRelation(sqlContext, parameters)
  }
}

/** One load's resolved generation dirs; the footer schema is read at
  * most once, and only when no schema was given.
  */
private[sources] final class Resolution(
    val key: (Seq[String], (Option[Long], Option[Long])),
    val dirs: Seq[String], readerOptions: CaseInsensitiveStringMap) {
  lazy val footerSchema: Option[StructType] =
    FooterSchema.of(SparkSession.active, dirs,
      readerOptions.asCaseSensitiveMap().asScala.toMap)
}

object GraftDataSource {
  /** Option: exact published generation to read (readTableAt). */
  val GenerationOption = "generation"
  /** Option: highest published generation <= this number. */
  val AsOfGenOption = "asOfGen"

  private[sources] val ReadOnlyMessage =
    "this graft table reference is READ-ONLY: a pinned snapshot " +
      "(generation/asOfGen/VERSION AS OF/TIMESTAMP AS OF) is an " +
      "immutable published generation. Write the table ROOT instead — " +
      "INSERT INTO / df.writeTo(...).append() / df.write.format(" +
      "\"graft\") publish a NEW generation (Compaction.appendGen/" +
      "writeGen underneath); a write into a resolved generation dir " +
      "would mutate a published snapshot under concurrent readers"

  /** No generations published AND no visible files — a fresh root an
    * INSERT may bootstrap (generation 1).
    */
  private[sources] def isEmptyRoot(spark: SparkSession, path: String): Boolean = {
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    !fs.exists(main) || !fs.listStatus(main).exists { s =>
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** A flat parquet dir (data, no generations) must not be silently
    * shadowed by publishing g1 beside it — appendGen guards itself;
    * this is the same guard for the overwrite routes.
    */
  private[sources] def requireNotFlatData(spark: SparkSession,
                                          path: String): Unit = {
    val hasGens = Compaction.generations(spark, path).nonEmpty
    require(hasGens || isEmptyRoot(spark, path),
      s"graft: $path holds flat (non-generational) data — publishing a " +
        "generation beside it would silently hide it from readers; run " +
        "Compaction.toGenerational first")
  }

  private val ResolutionKeys: Set[String] = Set("path", "paths",
    GenerationOption.toLowerCase(java.util.Locale.ROOT),
    AsOfGenOption.toLowerCase(java.util.Locale.ROOT))

  /** `load(a, b)` arrives as a JSON-encoded `paths` array plus the
    * single `path` option — the same contract the built-in file
    * sources parse.
    */
  private def pathsOf(options: CaseInsensitiveStringMap): Seq[String] = {
    val many = Option(options.get("paths")).map { json =>
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      om.readValue(json, classOf[Array[String]]).toSeq
    }.getOrElse(Seq.empty)
    many ++ Option(options.get("path")).toSeq
  }

  private def withoutResolutionKeys(options: CaseInsensitiveStringMap): CaseInsensitiveStringMap = {
    val m = new java.util.HashMap[String, String]()
    options.entrySet().forEach { e =>
      if (!ResolutionKeys(e.getKey)) m.put(e.getKey, e.getValue)
    }
    new CaseInsensitiveStringMap(m)
  }

  private[sources] def genOptions(gen: Option[String],
                                  asOf: Option[String]): (Option[Long], Option[Long]) = {
    def num(name: String, v: String): Long =
      try v.toLong catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"graft: option '$name' must be a generation number, got '$v'")
      }
    require(gen.isEmpty || asOf.isEmpty,
      s"graft: set at most one of '$GenerationOption' / '$AsOfGenOption'")
    (gen.map(num(GenerationOption, _)), asOf.map(num(AsOfGenOption, _)))
  }

  /** Resolve the directory a scan should read: the pinned, the
    * as-of-floored, or the current generation — with
    * [[Compaction.readTableAt]]'s loud-not-silent retention contract.
    */
  private[sources] def resolveGenDir(spark: SparkSession, path: String,
                                     pin: (Option[Long], Option[Long])): String = {
    val main = new Path(path)
    val fs = main.getFileSystem(spark.sparkContext.hadoopConfiguration)
    pin match {
      case (Some(g), _) =>
        val gens = Compaction.generations(spark, path)
        require(gens.contains(g),
          s"generation $g at $path is not readable — never published, " +
            "in flight, or outside the retention window (readable: " +
            s"${gens.mkString(",")})")
        new Path(main, Compaction.genName(g)).toString
      case (None, Some(a)) =>
        val gens = Compaction.generations(spark, path)
        require(gens.nonEmpty,
          s"$path is not a generational graft table (no published " +
            s"generations) — '$AsOfGenOption' has nothing to resolve")
        val ok = gens.filter(_ <= a)
        require(ok.nonEmpty,
          s"no published generation <= $a at $path (readable: " +
            s"${gens.mkString(",")})")
        new Path(main, Compaction.genName(ok.max)).toString
      case _ =>
        Compaction.resolve(fs, main).toString
    }
  }
}

/** The resolved-generation table: DELEGATES every read-side method to
  * the built-in parquet DSv2 table (scan/pushdown/pruning untouched)
  * while being structurally read-only. Deliberately a WRAPPER, not a
  * `ParquetTable` subclass: Spark's `FallBackFileSourceV2` analyzer
  * rule rewrites ANY insert on a `FileTable` into a V1
  * InsertIntoHadoopFsRelationCommand on the table's paths — bypassing
  * `newWriteBuilder` entirely, so a subclass's throwing override never
  * runs and an `INSERT INTO` SILENTLY lands part-files inside a
  * published generation dir (observed; spec pins it). As a plain
  * `SupportsRead` table, batch inserts fail analysis loudly (no
  * BATCH_WRITE capability) and `df.write.format("graft")` falls to the
  * V1 route, where [[GraftDataSource.createRelation]] throws.
  */
private[sources] class GraftReadOnlyTable(
    tableName: String, spark: SparkSession,
    options: CaseInsensitiveStringMap,
    paths: Seq[String], userSpecifiedSchema: Option[StructType],
    fallback: Class[_ <: FileFormat])
  extends org.apache.spark.sql.connector.catalog.Table
  with org.apache.spark.sql.connector.catalog.SupportsRead {

  private val delegate = ParquetTable(tableName, spark, options, paths,
    userSpecifiedSchema, fallback)

  override def name(): String = tableName
  override def schema(): StructType = delegate.schema
  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    delegate.partitioning()
  override def properties(): java.util.Map[String, String] =
    delegate.properties()
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ)
  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): org.apache.spark.sql.connector.read.ScanBuilder =
    delegate.newScanBuilder(caseInsensitiveStringMap)
}

/** An UNPINNED table reference: reads exactly like
  * [[GraftReadOnlyTable]] (same delegate, same pushdown), plus the
  * generation-publishing write path. The write is declared
  * `V1_BATCH_WRITE`: the fallback exec hands the fully-analyzed input
  * as one DataFrame on the driver, which is precisely what an atomic
  * publish needs (the parquet write inside appendGen/writeGen is still
  * distributed); a native `BatchWrite` would re-implement the parquet
  * committer only to re-serialize commit coordination this layer
  * already owns. TRUNCATE makes `INSERT OVERWRITE` the
  * replace-snapshot route.
  *
  * Concurrency story (spec-pinned): a reader concurrent with an INSERT
  * sees old-or-new generation atomically (manifest marker), and two
  * concurrent INSERTs publish one winner — the loser's appendGen is
  * fenced on the generation it read ([[Compaction.FencedWriteException]]).
  */
private[sources] class GraftWritableTable(
    tableName: String, spark: SparkSession,
    options: CaseInsensitiveStringMap,
    paths: Seq[String], userSpecifiedSchema: Option[StructType],
    fallback: Class[_ <: FileFormat], tableRoot: String)
  extends GraftReadOnlyTable(tableName, spark, options, paths,
    userSpecifiedSchema, fallback)
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ,
      org.apache.spark.sql.connector.catalog.TableCapability.V1_BATCH_WRITE,
      org.apache.spark.sql.connector.catalog.TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(tableRoot)
}

/** A fresh root (no generations, no visible files): schema-less and
  * scan-less, but writable — the first INSERT/append bootstraps
  * generation 1. `ACCEPT_ANY_SCHEMA` skips output-column resolution
  * against the (empty) table schema; the write itself defines it.
  */
private[sources] class GraftBootstrapTable(tableName: String,
                                           tableRoot: String)
  extends org.apache.spark.sql.connector.catalog.Table
  with org.apache.spark.sql.connector.catalog.SupportsWrite {

  override def name(): String = tableName
  override def schema(): StructType = new StructType()
  override def capabilities(): java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.V1_BATCH_WRITE,
      org.apache.spark.sql.connector.catalog.TableCapability.TRUNCATE,
      org.apache.spark.sql.connector.catalog.TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(tableRoot)
}

/** Append → [[Compaction.appendGen]]; truncate (INSERT OVERWRITE /
  * SaveMode.Overwrite through V2) → [[Compaction.writeGen]] of the
  * replacement snapshot. Stateless beyond the flag: the publish's
  * atomicity/fencing live in Compaction, not here.
  */
private[sources] class GraftWriteBuilder(tableRoot: String)
  extends WriteBuilder
  with org.apache.spark.sql.connector.write.SupportsTruncate {

  private var replaceSnapshot = false

  override def truncate(): WriteBuilder = { replaceSnapshot = true; this }

  override def build(): org.apache.spark.sql.connector.write.Write =
    new org.apache.spark.sql.connector.write.V1Write {
      override def toInsertableRelation: org.apache.spark.sql.sources.InsertableRelation =
        new org.apache.spark.sql.sources.InsertableRelation {
          override def insert(data: DataFrame, overwrite: Boolean): Unit =
            if (replaceSnapshot || overwrite) {
              GraftDataSource.requireNotFlatData(data.sparkSession, tableRoot)
              Compaction.writeGen(data, tableRoot)
            } else Compaction.appendGen(data, tableRoot)
        }
    }
}
