package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The CATALOG face of generational graft tables — what turns the
  * [[GraftDataSource]] reader options into STANDARD SQL time travel:
  *
  * {{{
  * SET spark.sql.catalog.graft = graft.sources.GraftCatalog
  * SELECT * FROM graft.`/data/events`                        -- current
  * SELECT * FROM graft.`/data/events` VERSION AS OF 41       -- readTableAt
  * SELECT * FROM graft.`/data/events` TIMESTAMP AS OF '2026-08-01 00:00:00'
  * }}}
  *
  * Tables are addressed BY PATH (one backtick-quoted identifier, no
  * namespaces): the generational layout is path-rooted and carries its
  * own manifest, so a name service would only duplicate state the
  * table already owns — the same design as Delta's path tables.
  *
  * - `VERSION AS OF g` resolves through the exact-pin contract
  *   ([[Compaction.readTableAt]]'s loud retention errors);
  * - `TIMESTAMP AS OF t` resolves to the newest generation whose
  *   PUBLISH instant (the manifest marker's mtime — rename-committed
  *   once, never rewritten) is <= t, i.e. the snapshot a reader at
  *   that wall-clock would have seen; a timestamp before the first
  *   retained publish fails loudly naming the readable window;
  * - an UNPINNED reference is the same [[GraftWritableTable]] the
  *   reader face builds — pushdown/pruning intact, and `INSERT INTO`
  *   / `INSERT OVERWRITE` / `df.writeTo` publish a NEW generation
  *   ([[Compaction.appendGen]]/[[Compaction.writeGen]]); a fresh root
  *   is bootstrap-writable (the first INSERT creates generation 1).
  *   PINNED references (either time-travel clause) carry no write
  *   capability. createTable / alterTable / dropTable stay closed:
  *   the table IS its directory, so DDL is directory management.
  *
  * Scale: catalog resolution is one marker listing (O(retained
  * generations) driver metadata); nothing else changes vs the reader.
  */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = "graft"

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
  }

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String = {
    require(ident.namespace.isEmpty,
      s"graft tables are addressed by path — SELECT ... FROM " +
        s"$catalogName.`/abs/path/to/table` (got namespace " +
        s"${ident.namespace.mkString(".")})")
    ident.name
  }

  private def tableFor(path: String,
                       pin: (Option[Long], Option[Long])): Table = {
    val spark = SparkSession.active
    if (pin == ((None, None))) {
      // unpinned: writable — INSERT INTO publishes a new generation;
      // a fresh root is bootstrap-writable (first INSERT creates g1)
      if (GraftDataSource.isEmptyRoot(spark, path))
        new GraftBootstrapTable(s"$catalogName $path", path)
      else {
        val dir = GraftDataSource.resolveGenDir(spark, path, pin)
        new GraftWritableTable(s"$catalogName $path", spark,
          CaseInsensitiveStringMap.empty(), Seq(dir),
          graft.util.FooterSchema.of(spark, Seq(dir)),
          classOf[ParquetFileFormat], path)
      }
    } else {
      val dir = GraftDataSource.resolveGenDir(spark, path, pin)
      new GraftReadOnlyTable(s"$catalogName $path", spark,
        CaseInsensitiveStringMap.empty(), Seq(dir),
        graft.util.FooterSchema.of(spark, Seq(dir)),
        classOf[ParquetFileFormat])
    }
  }

  // Resolution failures (retention, not-a-generation, bad pins)
  // deliberately propagate with their own loud messages rather than
  // being folded into NoSuchTableException — "generation 3 is outside
  // the retention window (readable: 4,5)" is the diagnosis; a generic
  // TABLE_OR_VIEW_NOT_FOUND would bury it one cause deep.

  override def loadTable(ident: Identifier): Table =
    tableFor(pathOf(ident), (None, None))

  /** `VERSION AS OF <g>` — the exact generation pin. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val g = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft VERSION AS OF takes a generation number, got '$version' " +
          s"(readable: ${Compaction.generations(SparkSession.active,
            pathOf(ident)).mkString(",")})")
    }
    tableFor(pathOf(ident), (Some(g), None))
  }

  /** `TIMESTAMP AS OF <t>` (`t` arrives as µs since epoch) — the
    * newest generation published at or before `t`.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
      val spark = SparkSession.active
      val path = pathOf(ident)
      val tsMs = timestamp / 1000L
      val gens = Compaction.generationsWithPublishTimes(spark, path)
      require(gens.nonEmpty,
        s"$path is not a generational graft table (no published " +
          "generations) — TIMESTAMP AS OF has nothing to resolve")
      val at = gens.filter(_._2 <= tsMs)
      require(at.nonEmpty,
        s"no generation of $path was published at or before " +
          s"${java.time.Instant.ofEpochMilli(tsMs)} (readable window: " +
          gens.map { case (g, t) =>
            s"g$g@${java.time.Instant.ofEpochMilli(t)}" }.mkString(",") +
          ") — the requested snapshot predates retention")
      tableFor(path, (Some(at.maxBy(_._2)._1), None))
  }

  // Only RESOLUTION failures mean "no table" (bad namespace, retention
  // messages — both IllegalArgumentException here); an IO error during
  // the manifest listing must propagate, not misreport an existing
  // table as absent.
  override def tableExists(ident: Identifier): Boolean =
    try { loadTable(ident); true }
    catch { case _: IllegalArgumentException => false }

  /** Path-addressed: there is no namespace to enumerate. */
  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: java.util.Map[String, String]): Table =
    throw new UnsupportedOperationException(GraftDataSource.ReadOnlyMessage)

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(GraftDataSource.ReadOnlyMessage)

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "graft tables are dropped by deleting the table root (or via " +
        "Compaction.forgetRows for row-level RTBF) — the catalog is a " +
        "read-only face")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft tables are path-addressed — move the directory")
}
