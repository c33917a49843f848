package graft.sql

import graft.core.CompactionError
import graft.io.FileIO
import graft.sinks.GraftBatchWrite
import graft.streaming.{GraftTable, GraftTableSource}
import graft.txn.{FileTableCatalog, SchemaEvolution, SchemaOp, TableSnapshot}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{sources => f}

import java.util
import scala.jdk.CollectionConverters._

/** Spark SQL catalog plugin over a warehouse of graft tables — the last
  * mile that makes the engine usable from PURE SQL:
  *
  * {{{
  *   spark.sql.catalog.g           = graft.sql.GraftCatalog
  *   spark.sql.catalog.g.warehouse = /data/warehouse
  *
  *   CREATE TABLE g.db.t (id BIGINT, name STRING)
  *   INSERT INTO g.db.t SELECT ...        -- DSv2 rolling append + CAS
  *   SELECT * FROM g.db.t WHERE id < 10   -- MoR read, file pruning
  *   SELECT * FROM g.db.t VERSION AS OF 3 -- time travel
  *   DELETE FROM g.db.t WHERE id % 2 = 0  -- position-delete commit
  *   ALTER TABLE g.db.t RENAME COLUMN name TO label
  *   DROP TABLE g.db.t
  * }}}
  *
  * Layout: `<warehouse>/<namespace...>/<table>/` — a directory is a
  * table iff it holds committed graft metadata, otherwise it is a
  * namespace. CREATE TABLE commits a bootstrap snapshot CARRYING the
  * declared schema (as schema history v1), so reads/writes against an
  * empty table resolve columns before any data lands and appends are
  * name-checked from the first row. ALTER TABLE maps add/rename/drop
  * column straight onto [[SchemaEvolution.evolve]] (same id-based
  * reconciliation the API path uses).
  *
  * DELETE FROM is merge-on-read: see [[GraftTable.deleteWhere]] — it
  * reads the matching live rows' `_file`/`_pos` from a pinned scan of
  * the predicate and commits them as position deletes, cost
  * proportional to the pruned scan, no data-file rewrite and no
  * shuffle, evolved tables included; the next compaction folds them in.
  */
object GraftCatalog {
  /** Spark-managed bookkeeping keys that must not leak into snapshot
    * properties as if they were user TBLPROPERTIES. */
  val ReservedProps: Set[String] =
    Set("provider", "location", "owner", "comment", "external",
      "option.path", "path")

  /** Snapshot-property prefix for named refs (tags): `graft.ref.<name>`
    * holds the pinned version. Expiration keeps tagged versions. */
  val RefPropPrefix = "graft.ref."

  /** Keys a user may not touch through ALTER TABLE SET/UNSET
    * TBLPROPERTIES: the partition spec addresses the physical file
    * layout (changing `bucket:4` to `bucket:8` would make pruning
    * silently drop matching files), and `graft.ref.*` tags are managed
    * by the create_tag/drop_tag procedures. */
  private[sql] def guardedProp(key: String): Boolean =
    key == graft.core.PartitionSpecCodec.Property ||
      key == graft.core.PartitionSpecCodec.IdProperty ||
      key == graft.core.PartitionSpecCodec.HistoryProperty ||
      key.startsWith(RefPropPrefix) ||
      // WAP bookkeeping (NOT the user-facing enable switch): forging
      // the published map or a staged marker would corrupt publish /
      // expiry decisions
      key == graft.txn.Wap.IdProp ||
      key == graft.txn.Wap.ParentProp ||
      key == graft.txn.Wap.PublishedProp ||
      key == graft.txn.Wap.DiscardedProp ||
      // branch registry/markers: managed by the branch procedures —
      // forging the registry or a floor would resurrect or orphan
      // branch chains
      key == graft.txn.Branch.NameProp ||
      key == graft.txn.Branch.ParentProp ||
      key == graft.txn.Branch.RefsProp ||
      key == graft.txn.Branch.ClosedProp ||
      // the MV registry is managed by the create/drop procedures —
      // forging it could silently disable (or misdirect) substitution
      key == graft.mv.MaterializedView.RegisteredProp

  /** `graft.deletes.format` allowlist — an unknown value would silently
    * fall back to parquet at write time, so refuse it up front. Both
    * formats coexist at read, so switching is always safe. */
  private[sql] def validateDeletesFormat(v: String): Unit =
    if (v != "parquet" && v != "dv")
      throw CompactionError.Config(
        s"unknown ${graft.sinks.GraftDeltaBatchWrite.DeletesFormatProp} " +
          s"'$v' (parquet | dv)")

  /** A table definition validated but not yet committed — everything a
    * bootstrap commit needs, shared by plain CREATE TABLE and the atomic
    * CTAS/RTAS staging path ([[GraftStagedTable]]). */
  final case class StagedPlan(
      dir: String,
      schema: StructType,
      spec: Seq[graft.core.PartitionTransform],
      fields: Seq[graft.core.SchemaField],
      userProps: Map[String, String]) {
    /** Bootstrap snapshot (version 1, schema history v1) carrying
      * `entries` as the table's initial file set — Nil for plain
      * CREATE TABLE, the staged write's published files for CTAS. */
    def bootstrap(entries: Seq[graft.txn.FileEntry]): TableSnapshot =
      TableSnapshot(1, 1,
        if (entries.isEmpty) 0L else 1L,
        entries.map(_.copy(sequenceNumber = 1L, schemaId = 1L, specId = 0L)),
        schemas = Seq(graft.core.TableSchema(1, fields.toIndexedSeq)),
        committedAtMs = System.currentTimeMillis(),
        properties = userProps)
  }

  /** `PARTITIONED BY` clause element → engine transform. Matched on the
    * connector expression's generic (name, arguments) form, which is
    * stable across Spark's parser variants. */
  private[sql] def toGraftTransform(t: Transform,
      schema: StructType): graft.core.PartitionTransform = {
    import org.apache.spark.sql.connector.expressions.{Expression, Literal, NamedReference}
    def colOf(e: Expression): Option[String] = e match {
      case f: NamedReference if f.fieldNames.length == 1 => Some(f.fieldNames.head)
      case _ => None
    }
    def intOf(e: Expression): Option[Int] = e match {
      case l: Literal[_] => l.value match {
        case i: java.lang.Integer => Some(i.intValue)
        case i: java.lang.Long    => Some(i.intValue)
        case _                    => None
      }
      case _ => None
    }
    val args = t.arguments().toSeq
    val out = t.name() match {
      case "identity" =>
        graft.core.IdentityTransform(args.flatMap(colOf).headOption.getOrElse(
          throw CompactionError.Config(s"bad identity partition: $t")))
      case "bucket" =>
        graft.core.BucketTransform(
          args.flatMap(intOf).headOption.getOrElse(
            throw CompactionError.Config(s"bucket needs a count: $t")),
          args.flatMap(colOf).headOption.getOrElse(
            throw CompactionError.Config(s"bucket needs a column: $t")))
      case "truncate" =>
        graft.core.TruncateTransform(
          args.flatMap(intOf).headOption.getOrElse(
            throw CompactionError.Config(s"truncate needs a width: $t")),
          args.flatMap(colOf).headOption.getOrElse(
            throw CompactionError.Config(s"truncate needs a column: $t")))
      case "days" | "day" =>
        graft.core.DayTransform(args.flatMap(colOf).headOption.getOrElse(
          throw CompactionError.Config(s"bad day partition: $t")))
      case other => throw CompactionError.Config(
        s"unsupported partition transform '$other' " +
          "(identity | bucket(n, col) | truncate(w, col) | days(col))")
    }
    val fld = schema.fields.find(_.name == out.source).getOrElse(
      throw CompactionError.Config(
        s"partition source column '${out.source}' is not in the table schema"))
    out.expr(fld.dataType) // type-check the transform now, not at first INSERT
    // tighter envelope than expr(): the row-level eval/render twins and
    // Spark's directory rendering must agree BIT-FOR-BIT across the
    // DSv2 and compaction layouts, which holds only for these types
    // (e.g. identity/bucket over TIMESTAMP renders micros on one path
    // and a formatted date-time on the other — use days(ts) instead)
    import org.apache.spark.sql.types._
    val ok = out match {
      case _: graft.core.DayTransform => true // expr() already gated
      case _: graft.core.TruncateTransform =>
        Set[DataType](StringType, LongType, IntegerType)(fld.dataType)
      case _ => Set[DataType](StringType, LongType, IntegerType,
        ShortType, DateType, BooleanType)(fld.dataType)
    }
    if (!ok) throw CompactionError.Config(
      s"partition transform over ${out.source}: ${fld.dataType.simpleString} " +
        "is not supported (integral, string, date, boolean; use days() for timestamps)")
    out
  }
}

final class GraftCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with FunctionCatalog with ViewCatalog
    with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _
  private var snapCatalog: graft.txn.TableCatalog = FileTableCatalog

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw CompactionError.Config(
        s"graft catalog '$name' requires spark.sql.catalog.$name.warehouse")
    ).stripSuffix("/")
    // format=iceberg backs every table with the Iceberg v2 metadata
    // writer (schema history, per-file ids, and commit timestamps
    // round-trip through the format), so the SQL surface produces
    // tables a real Iceberg client can read
    snapCatalog = Option(options.get("format")).map(_.toLowerCase) match {
      case None | Some("graft")  => FileTableCatalog
      case Some("iceberg")       => graft.txn.IcebergTableCatalog
      case Some(other) => throw CompactionError.Config(
        s"unknown graft catalog format '$other' (graft | iceberg)")
    }
    FileIO.mkdirs(warehouse)
  }

  override def name(): String = catalogName

  /** DDL-level column DEFAULT support (CREATE TABLE ... DEFAULT v,
    * ALTER TABLE ADD COLUMN ... DEFAULT v, ALTER COLUMN SET/DROP
    * DEFAULT): Spark gates the syntax on this capability; the engine
    * stores defaults in the schema history (Iceberg v3
    * initial/write-default model, [[graft.core.ColumnDefaults]]). */
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCatalogCapability
        .SUPPORT_COLUMN_DEFAULT_VALUE)

  private def dirOf(parts: Seq[String]): String =
    (warehouse +: parts).mkString("/")
  private def tableDir(ident: Identifier): String =
    dirOf(ident.namespace.toIndexedSeq :+ ident.name)
  private def isTable(dir: String): Boolean =
    snapCatalog.load(dir).isDefined

  // ---- views ------------------------------------------------------------
  // Persisted SQL views (the Iceberg view-spec model, GraftViews):
  // CREATE/REPLACE/ALTER/DROP/RENAME VIEW + SELECT through the view —
  // metadata-only, versioned, CAS-committed. A view and a table cannot
  // share an identifier (both creation paths refuse the collision).

  private def isView(dir: String): Boolean = GraftViews.exists(dir)

  override def listViews(ns: String*): Array[Identifier] = {
    val nsArr = ns.toArray
    if (nsArr.nonEmpty && !namespaceExists(nsArr))
      throw new NoSuchNamespaceException(nsArr)
    FileIO.listDirectories(dirOf(nsArr.toIndexedSeq))
      .filter(isView)
      .map(d => Identifier.of(nsArr, d.substring(d.lastIndexOf('/') + 1)))
      .sortBy(_.name)
      .toArray
  }

  override def viewExists(ident: Identifier): Boolean =
    isView(tableDir(ident))

  override def loadView(ident: Identifier): View = {
    val doc = GraftViews.load(tableDir(ident)).getOrElse(
      throw new NoSuchViewException(ident))
    new GraftView(ident, doc)
  }

  private def viewVersionOf(versionId: Long,
      info: ViewInfo): GraftViews.ViewVersion =
    GraftViews.ViewVersion(
      versionId = versionId,
      timestampMs = System.currentTimeMillis(),
      sql = info.sql,
      dialect = "spark",
      schemaJson = info.schema.json,
      currentCatalog = Option(info.currentCatalog).getOrElse(catalogName),
      currentNamespace =
        Option(info.currentNamespace).map(_.toIndexedSeq).getOrElse(Nil),
      queryColumnNames =
        Option(info.queryColumnNames).map(_.toIndexedSeq).getOrElse(Nil),
      columnAliases =
        Option(info.columnAliases).map(_.toIndexedSeq).getOrElse(Nil),
      columnComments =
        Option(info.columnComments).map(_.toIndexedSeq).getOrElse(Nil))

  override def createView(info: ViewInfo): View = {
    val dir = tableDir(info.ident)
    if (isTable(dir)) throw CompactionError.Config(
      s"cannot CREATE VIEW ${info.ident}: a table with that name exists")
    if (isView(dir)) throw new ViewAlreadyExistsException(info.ident)
    val doc = GraftViews.ViewDoc(
      viewUuid = java.util.UUID.randomUUID().toString,
      formatVersion = 1,
      currentVersionId = 1L,
      versions = Seq(viewVersionOf(1L, info)),
      properties =
        Option(info.properties).map(_.asScala.toMap).getOrElse(Map.empty))
    GraftViews.commit(dir, 1L, doc) // CAS: a racing CREATE loses cleanly
    new GraftView(info.ident, doc)
  }

  override def replaceView(info: ViewInfo, orCreate: Boolean): View = {
    val dir = tableDir(info.ident)
    if (isTable(dir)) throw CompactionError.Config(
      s"cannot REPLACE VIEW ${info.ident}: a table with that name exists")
    GraftViews.load(dir) match {
      case None =>
        if (!orCreate) throw new NoSuchViewException(info.ident)
        createView(info)
      case Some(cur) =>
        // a REPLACE is a NEW view version appended to the history (the
        // spec's view-version model: prior versions stay resolvable)
        val nextId = cur.versions.map(_.versionId).max + 1
        val doc = cur.copy(
          currentVersionId = nextId,
          versions = cur.versions :+ viewVersionOf(nextId, info),
          properties =
            Option(info.properties).map(_.asScala.toMap).getOrElse(Map.empty))
        GraftViews.commit(dir, nextMetaNumber(dir, info.ident), doc)
        new GraftView(info.ident, doc)
    }
  }

  /** The next view metadata number — re-listed AFTER the load, so a
    * concurrent DROP that emptied the directory surfaces as a clean
    * NoSuchViewException instead of an empty-`max` crash. */
  private def nextMetaNumber(dir: String, ident: Identifier): Long = {
    val nums = GraftViews.metaNumbers(dir)
    if (nums.isEmpty) throw new NoSuchViewException(ident)
    nums.max + 1
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val dir = tableDir(ident)
    val cur = GraftViews.load(dir).getOrElse(
      throw new NoSuchViewException(ident))
    val props = changes.foldLeft(cur.properties) {
      case (acc, s: ViewChange.SetProperty)    => acc + (s.property -> s.value)
      case (acc, r: ViewChange.RemoveProperty) => acc - r.property
      case (_, other) => throw CompactionError.Config(
        s"unsupported ALTER VIEW change for a graft view: $other")
    }
    val doc = cur.copy(properties = props)
    GraftViews.commit(dir, nextMetaNumber(dir, ident), doc)
    new GraftView(ident, doc)
  }

  override def dropView(ident: Identifier): Boolean =
    GraftViews.drop(tableDir(ident))

  override def renameView(from: Identifier, to: Identifier): Unit = {
    val fromDir = tableDir(from)
    val toDir = tableDir(to)
    if (!isView(fromDir)) throw new NoSuchViewException(from)
    if (isView(toDir)) throw new ViewAlreadyExistsException(to)
    if (isTable(toDir)) throw CompactionError.Config(
      s"cannot RENAME VIEW to $to: a table with that name exists")
    // views are metadata-only (no absolute data paths), so a rename is
    // a directory move — the operation tables must refuse
    FileIO.mkdirs(toDir)
    if (!FileIO.rename(GraftViews.metaDir(fromDir), GraftViews.metaDir(toDir)))
      throw CompactionError.Config(
        s"rename view $from -> $to failed (concurrent rename?)")
  }

  // ---- tables -----------------------------------------------------------

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val dir = dirOf(ns.toIndexedSeq)
    if (ns.nonEmpty && !namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    FileIO.listDirectories(dir)
      .filter(isTable)
      .map(d => Identifier.of(ns, d.substring(d.lastIndexOf('/') + 1)))
      .sortBy(_.name)
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = isTable(tableDir(ident))

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (isTable(dir))
      return new GraftTable(dir,
        GraftTableSource.tableSchema(dir, snapCatalog),
        acceptAnySchema = false, catalog = snapCatalog)
    // inspection tables, the Iceberg pattern: `db.t.files` resolves with
    // the TABLE as the namespace tail and the metadata kind as the name
    if (ident.namespace.nonEmpty && GraftMetadataTable.Kinds(ident.name)) {
      val parentDir = dirOf(ident.namespace.toIndexedSeq)
      if (isTable(parentDir))
        return GraftMetadataTable(parentDir, ident.name, snapCatalog)
    }
    throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF <v>` — pin the scan to a retained snapshot. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    // a snapshot number, a named TAG (`CALL g.system.create_tag`, pinned
    // under `graft.ref.<name>`), `wap:<id>` — the AUDIT read of a
    // WAP-staged snapshot (graft.txn.Wap) before it is published — or
    // `branch:<name>`, the branch HEAD (graft.txn.Branch)
    val v = version.toLongOption.getOrElse {
      if (version.startsWith("wap:")) {
        val id = version.stripPrefix("wap:")
        graft.txn.Wap.findStaged(snapCatalog, dir,
            snapCatalog.loadOrThrow(dir), id)
          .map(_.version)
          .getOrElse(throw CompactionError.Config(
            s"no unpublished staged snapshot with wap id '$id' on ${ident.name}"))
      } else if (version.startsWith("branch:")) {
        graft.txn.Branch.head(snapCatalog, dir,
          version.stripPrefix("branch:")).version
      } else snapCatalog.loadOrThrow(dir).properties
        .get(s"${GraftCatalog.RefPropPrefix}$version")
        .flatMap(_.toLongOption)
        .getOrElse(throw CompactionError.Config(
          s"'$version' is neither a snapshot number nor a tag of ${ident.name}"))
    }
    new GraftTable(dir,
      GraftTableSource.tableSchema(dir, snapCatalog, asOfVersion = Some(v)),
      pinnedVersion = Some(v), acceptAnySchema = false, catalog = snapCatalog)
  }

  /** `TIMESTAMP AS OF <t>` (micros since epoch, per the DSv2 contract) —
    * resolve to the newest retained snapshot committed at or before the
    * timestamp. Snapshots predating the commit-time stamp deserialize
    * with time 0 and so resolve for any timestamp (treated as oldest). */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val tsMs = timestampMicros / 1000L
    val v = snapCatalog.versions(dir).reverse
      .flatMap(snapCatalog.loadVersion(dir, _))
      // WAP-staged and branch snapshots are outside main history — a
      // timestamp read must never surface unaudited/unpublished rows
      .filterNot(graft.txn.Branch.isOutOfMain)
      .find(_.committedAtMs <= tsMs)
      .map(_.version)
      .getOrElse(throw CompactionError.Config(
        s"no snapshot of ${ident.name} at or before timestamp " +
          s"${tsMs}ms (oldest retained is newer, or all expired)"))
    new GraftTable(dir,
      GraftTableSource.tableSchema(dir, snapCatalog, asOfVersion = Some(v)),
      pinnedVersion = Some(v), acceptAnySchema = false, catalog = snapCatalog)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val plan = stagePlan(ident, schema, partitions, properties)
    if (isTable(plan.dir)) throw new TableAlreadyExistsException(ident)
    snapCatalog.commitCas(plan.dir, plan.bootstrap(Nil))
    new GraftTable(plan.dir, GraftTableSource.tableSchema(plan.dir, snapCatalog),
      acceptAnySchema = false, catalog = snapCatalog)
  }

  /** The validated, not-yet-committed shape of a table definition —
    * shared by plain CREATE TABLE (commits the bootstrap immediately)
    * and the atomic CTAS/RTAS staging path ([[GraftStagedTable]], which
    * commits only at `commitStagedChanges`). */
  private[sql] def stagePlan(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): GraftCatalog.StagedPlan = {
    schema.fields.foreach { fld =>
      if (!GraftBatchWrite.supportedType(fld.dataType))
        throw CompactionError.Config(
          s"graft tables hold primitive and array/struct/map columns; " +
            s"${fld.name}: ${fld.dataType} is not supported")
    }
    // PARTITIONED BY → the engine's fanout transforms (reference S8):
    // identity / bucket(n) / truncate(w) / days. The spec rides a
    // snapshot property; INSERTs fan out per partition value.
    val spec: Seq[graft.core.PartitionTransform] = partitions.toSeq.map { t =>
      GraftCatalog.toGraftTransform(t, schema)
    }
    val dir = tableDir(ident)
    if (isView(dir)) throw CompactionError.Config(
      s"cannot CREATE TABLE $ident: a view with that name exists")
    // bootstrap snapshot CARRIES the declared schema as history v1, so
    // the empty table already resolves columns and appends name-check
    val fields = schema.fields.zipWithIndex.map { case (fld, i) =>
      // CREATE-time DEFAULT = write-default only: no pre-existing files
      // can ever lack this column, so no initial-default is needed
      val wd = if (fld.metadata.contains(
          org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .CURRENT_DEFAULT_COLUMN_METADATA_KEY))
        Some(graft.core.ColumnDefaults.canonicalize(
          fld.metadata.getString(
            org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
              .CURRENT_DEFAULT_COLUMN_METADATA_KEY),
          fld.dataType.sql))
      else None
      graft.core.SchemaField(i + 1, fld.name, fld.dataType.sql,
        writeDefault = wd)
    }
    // user TBLPROPERTIES ride the snapshot (e.g. graft.rowlevel.mode);
    // Spark's reserved bookkeeping keys stay out of the table
    Option(properties.get(graft.core.WriteOrderCodec.Property)).foreach { v =>
      graft.core.WriteOrderCodec.validate(
        graft.core.WriteOrderCodec.decode(v), schema.fieldNames.toSet)
    }
    Option(properties.get(graft.sinks.GraftDeltaBatchWrite.DeletesFormatProp))
      .foreach(GraftCatalog.validateDeletesFormat)
    Option(properties.get(graft.core.BloomColumns.Property))
      .foreach(graft.core.BloomColumns.validate(_, schema.fieldNames.toSet))
    val userProps = (properties.asScala.toMap -- GraftCatalog.ReservedProps) ++
      (if (spec.isEmpty) Map.empty[String, String]
       else Map(graft.core.PartitionSpecCodec.Property ->
         graft.core.PartitionSpecCodec.encode(spec)))
    GraftCatalog.StagedPlan(dir, schema, spec, fields.toIndexedSeq, userProps)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog) -------------------------
  // Spark plans `CREATE TABLE … AS SELECT` / `[CREATE OR] REPLACE TABLE
  // [AS SELECT]` through these when the catalog stages: the returned
  // table buffers its written files driver-side and nothing reaches the
  // snapshot chain until `commitStagedChanges` lands ONE CAS commit —
  // a failed CTAS leaves no table, a failed RTAS leaves the old table
  // untouched ([[GraftStagedTable]]).

  private def requirePlainTable(ident: Identifier, info: TableInfo): Unit =
    if (info.constraints() != null && info.constraints().nonEmpty)
      throw CompactionError.Config(
        "graft tables declare CHECK constraints through the " +
          "'graft.constraints' table property, not constraint DDL")

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable = {
    requirePlainTable(ident, info)
    val plan = stagePlan(ident, info.schema(), info.partitions(), info.properties())
    if (isTable(plan.dir)) throw new TableAlreadyExistsException(ident)
    new GraftStagedTable(ident, plan, snapCatalog, GraftStagedTable.Create)
  }

  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable = {
    requirePlainTable(ident, info)
    val plan = stagePlan(ident, info.schema(), info.partitions(), info.properties())
    val cur = snapCatalog.load(plan.dir).getOrElse(
      throw new NoSuchTableException(ident))
    new GraftStagedTable(ident, plan, snapCatalog,
      GraftStagedTable.Replace(cur.version, cur.schemaId))
  }

  override def stageCreateOrReplace(ident: Identifier,
      info: TableInfo): StagedTable = {
    requirePlainTable(ident, info)
    val plan = stagePlan(ident, info.schema(), info.partitions(), info.properties())
    snapCatalog.load(plan.dir) match {
      case Some(cur) => new GraftStagedTable(ident, plan, snapCatalog,
        GraftStagedTable.Replace(cur.version, cur.schemaId))
      case None => new GraftStagedTable(ident, plan, snapCatalog,
        GraftStagedTable.Create)
    }
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = tableDir(ident)
    if (!isTable(dir)) throw new NoSuchTableException(ident)
    val setProps = changes.collect {
      case s: TableChange.SetProperty => s.property -> s.value
    }.toMap
    val unsetProps = changes.collect {
      case r: TableChange.RemoveProperty => r.property
    }.toSet
    // the partition spec and ref tags are layout/engine state, not user
    // metadata: a SET that rewrites `graft.partition-spec` would change
    // the pruning arithmetic under existing fanout files → wrong results
    (setProps.keysIterator ++ unsetProps.iterator)
      .find(GraftCatalog.guardedProp).foreach { k =>
        throw CompactionError.Config(
          s"table property '$k' is engine-managed and cannot be set or " +
            "unset via ALTER TABLE; use the partition/tag procedures")
      }
    setProps.get(graft.sinks.GraftDeltaBatchWrite.DeletesFormatProp)
      .foreach(GraftCatalog.validateDeletesFormat)
    setProps.get(graft.core.BloomColumns.Property).foreach { raw =>
      graft.core.BloomColumns.validate(raw,
        GraftTableSource.tableSchema(dir, snapCatalog).fieldNames.toSet)
    }
    val ops: Seq[SchemaOp] = changes.collect {
      case a: TableChange.AddColumn if a.fieldNames.length == 1 =>
        // DEFAULT rides the change as an analyzer-evaluated literal —
        // store its canonical SQL text (validated again by evolve)
        SchemaOp.Add(a.fieldNames.head, a.dataType.sql,
          default = Option(a.defaultValue()).map { dv =>
            val l = dv.getValue
            org.apache.spark.sql.catalyst.expressions
              .Literal(l.value(), l.dataType()).sql
          })
      case u: TableChange.UpdateColumnDefaultValue if u.fieldNames.length == 1 =>
        // ALTER COLUMN SET/DROP DEFAULT → write-default only (the
        // initial-default is frozen); DROP arrives as an empty default
        SchemaOp.SetDefault(u.fieldNames.head,
          Option(u.newCurrentDefault()).map(_.getSql).filter(s =>
            s != null && s.nonEmpty))
      case r: TableChange.RenameColumn if r.fieldNames.length == 1 =>
        SchemaOp.Rename(r.fieldNames.head, r.newName)
      case t: TableChange.UpdateColumnType if t.fieldNames.length == 1 =>
        SchemaOp.Widen(t.fieldNames.head, t.newDataType.sql)
      case d: TableChange.DeleteColumn if d.fieldNames.length == 1 =>
        SchemaOp.Drop(d.fieldNames.head)
      case other: TableChange
        if !other.isInstanceOf[TableChange.SetProperty] &&
          !other.isInstanceOf[TableChange.RemoveProperty] =>
        throw CompactionError.Config(
          s"unsupported ALTER TABLE change for a graft table: $other")
    }.toSeq
    // a partition SOURCE column cannot be renamed or dropped: the spec
    // addresses it by name and every writer would break — refuse, the
    // same line Iceberg draws until the spec itself is evolved
    val specSources = graft.core.PartitionSpecCodec
      .of(snapCatalog.load(dir)).map(_.source).toSet
    ops.collect {
      case SchemaOp.Rename(from, _) if specSources(from) => from
      case SchemaOp.Drop(name) if specSources(name)      => name
      // the transform arithmetic is typed (bucket hashing, bound
      // rendering) — widening a source under existing fanout files is
      // refused the same way rename/drop are
      case SchemaOp.Widen(name, _) if specSources(name)  => name
    }.headOption.foreach { c =>
      throw CompactionError.Config(
        s"column '$c' is a partition source (PARTITIONED BY); renaming, " +
          "dropping, or retyping it would orphan the partition spec")
    }
    // a declared write-order column is addressed by name the same way:
    // refuse rename/drop while the order references it (unset or re-SET
    // graft.write-order first), and validate a newly SET order against
    // the schema this ALTER produces
    val orderCols = graft.core.WriteOrderCodec
      .of(snapCatalog.load(dir)).map(_.column).toSet
    if (!setProps.contains(graft.core.WriteOrderCodec.Property) &&
        !unsetProps.contains(graft.core.WriteOrderCodec.Property))
      ops.collect {
        case SchemaOp.Rename(from, _) if orderCols(from) => from
        case SchemaOp.Drop(name) if orderCols(name)      => name
        case SchemaOp.Widen(name, _) if orderCols(name)  => name
      }.headOption.foreach { c =>
        throw CompactionError.Config(
          s"column '$c' is named by graft.write-order; unset or re-set " +
            "the property in the same ALTER to rename, drop, or retype it")
      }
    setProps.get(graft.core.WriteOrderCodec.Property).foreach { v =>
      val after = GraftTableSource.tableSchema(dir, snapCatalog).fieldNames.toSet
      val renamed = ops.collect { case SchemaOp.Rename(_, to) => to }
      val dropped = ops.collect { case SchemaOp.Drop(n) => n }
      val added = ops.collect { case SchemaOp.Add(n, _, _) => n }
      graft.core.WriteOrderCodec.validate(
        graft.core.WriteOrderCodec.decode(v),
        after -- dropped -- ops.collect { case SchemaOp.Rename(from, _) => from } ++
          renamed ++ added)
    }
    if (ops.nonEmpty) SchemaEvolution.evolve(dir, ops, catalog = snapCatalog)
    if (setProps.nonEmpty || unsetProps.nonEmpty) {
      // property-only commit: a fresh version, files untouched. Unlike
      // CREATE (where Spark injects bookkeeping keys), an ALTER SET is
      // the user's explicit intent — nothing is filtered.
      val cur = snapCatalog.loadOrThrow(dir)
      new graft.txn.CommitManager(dir, graft.core.RetryConfig(),
        catalog = snapCatalog).setTableProperties(
        setProps, unsetProps, expectedSchemaId = cur.schemaId)
    }
    loadTable(ident)
  }

  // ---- procedures (CALL g.system.<proc>) --------------------------------

  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (!ident.namespace.sameElements(Array("system")))
      throw CompactionError.Config(
        s"procedures live in the 'system' namespace, got " +
          s"${ident.namespace.mkString(".")}.${ident.name}")
    // the `table` argument is '<ns>.<name>' relative to THIS catalog
    GraftProcedures.load(ident.name,
      t => dirOf(t.split('.').toIndexedSeq), snapCatalog, catalogName)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.Names.map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def dropTable(ident: Identifier): Boolean = {
    val dir = tableDir(ident)
    // DROP TABLE on a MATERIALIZED VIEW is legal (the view IS a table);
    // a star view holds a pin tag on its dimension that must not
    // outlive it — expire_snapshots protects tag targets forever, so a
    // leaked pin retains dim history with no view left to justify it.
    // Best-effort, like drop_materialized_view's cleanup.
    try snapCatalog.load(dir).foreach { snap =>
      snap.properties.get(graft.mv.MaterializedView.SpecProp).foreach(raw =>
        graft.mv.MaterializedView.releaseDimPin(dir,
          graft.mv.MaterializedView.decodeSpec(raw), snapCatalog))
    } catch { case _: Throwable => () }
    // a re-created table at this path restarts version numbers — stale
    // per-version caches keyed by (path, version) must not survive.
    // Invalidate BEFORE and AFTER the delete: a concurrent reader
    // between the steps can re-populate from still-existing metadata.
    graft.txn.IcebergTableCatalog.invalidateTable(dir)
    val dropped = isTable(dir) && FileIO.deleteRecursive(dir)
    graft.txn.IcebergTableCatalog.invalidateTable(dir)
    dropped
  }

  /** Refused, deliberately: graft snapshots (and the file_path column
    * inside committed position-delete files) address data by ABSOLUTE
    * path, so a directory move would orphan every reference — the same
    * reason Iceberg's HadoopCatalog refuses rename. A service-backed
    * catalog that maps names to locations would support this for free
    * behind the same seam. */
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "graft's path-addressed catalog cannot rename tables: snapshot and " +
        "position-delete file references are absolute paths")

  // ---- namespaces -------------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    FileIO.listDirectories(warehouse)
      .filterNot(isTable)
      .map(d => Array(d.substring(d.lastIndexOf('/') + 1)))
      .sortBy(_.head)
      .toArray

  override def listNamespaces(ns: Array[String]): Array[Array[String]] =
    if (ns.isEmpty) listNamespaces()
    else {
      // a TABLE's directory is not a namespace — listing it would
      // surface the table's internal data/ and metadata/ dirs
      if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
      FileIO.listDirectories(dirOf(ns.toIndexedSeq))
        .filterNot(isTable)
        .map(d => ns :+ d.substring(d.lastIndexOf('/') + 1))
        .sortBy(_.last)
        .toArray
    }

  override def namespaceExists(ns: Array[String]): Boolean =
    ns.isEmpty || (FileIO.exists(dirOf(ns.toIndexedSeq)) && !isTable(dirOf(ns.toIndexedSeq)))

  override def loadNamespaceMetadata(ns: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    util.Collections.emptyMap()
  }

  override def createNamespace(ns: Array[String],
      metadata: util.Map[String, String]): Unit =
    FileIO.mkdirs(dirOf(ns.toIndexedSeq))

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw CompactionError.Config("graft namespaces carry no metadata to alter")

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    val dir = dirOf(ns.toIndexedSeq)
    if (!namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    if (!cascade && (listTables(ns).nonEmpty || listNamespaces(ns).nonEmpty))
      throw new org.apache.spark.sql.catalyst.analysis.NonEmptyNamespaceException(ns)
    // cascade deletes every table under the namespace — same stale
    // per-version cache concern as dropTable, by prefix
    graft.txn.IcebergTableCatalog.invalidatePrefix(dir)
    val dropped = FileIO.deleteRecursive(dir)
    graft.txn.IcebergTableCatalog.invalidatePrefix(dir)
    dropped
  }

  // --- FunctionCatalog: the partition-transform functions Catalyst
  // resolves when a scan reports transform-clustered partitioning
  // (storage-partitioned joins load `bucket` through here and compare
  // both sides by its canonical name). Resolution passes
  // Identifier.of(Array.empty, name), so functions live at the root.
  override def listFunctions(ns: Array[String]): Array[Identifier] = {
    if (ns.nonEmpty && !namespaceExists(ns)) throw new NoSuchNamespaceException(ns)
    if (ns.nonEmpty) Array.empty
    else GraftV2Functions.names.map(Identifier.of(Array.empty[String], _)).toArray
  }

  override def loadFunction(ident: Identifier): functions.UnboundFunction = {
    if (ident.namespace.nonEmpty)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    GraftV2Functions.load(ident.name).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
  }
}

/** `sources.Filter` → `Column` translation for DELETE FROM (and any
  * other surface that needs to run a pushed filter as a plan). None =
  * untranslatable, the caller must refuse rather than under-delete. */
object Filters {
  def toColumn(flt: f.Filter): Option[Column] = flt match {
    case f.EqualTo(a, v)            => Some(col(a) === lit(v))
    case f.EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case f.GreaterThan(a, v)        => Some(col(a) > lit(v))
    case f.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case f.LessThan(a, v)           => Some(col(a) < lit(v))
    case f.LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case f.In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case f.IsNull(a)                => Some(col(a).isNull)
    case f.IsNotNull(a)             => Some(col(a).isNotNull)
    case f.StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case f.StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case f.StringContains(a, v)     => Some(col(a).contains(v))
    case f.AlwaysTrue()             => Some(lit(true))
    case f.AlwaysFalse()            => Some(lit(false))
    case f.And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case f.Or(l, r)  => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case f.Not(c)    => toColumn(c).map(!_)
    case _           => None
  }
}
