package graft.txn

import graft.core._
import graft.io.FileIO

/** Iceberg-model schema evolution over the engine's table format: field
  * IDS are the stable identity, names are labels, and NO data file is
  * ever rewritten by a schema change — readers reconcile every file to
  * the current schema by id ([[graft.plans.SchemaReconcile]]), and
  * compaction migrates old-layout files as a side effect of rewriting.
  * (The reference scopes schema evolution out, README.md:45-58; this is
  * deliberate extension surface.)
  *
  * Supported operations (the metadata-only core of the Iceberg set):
  *  - [[SchemaOp.Add]]    — new column (fresh field id), null for
  *    every pre-existing row;
  *  - [[SchemaOp.Rename]] — same field id, new label; old files keep
  *    their physical name and are mapped on read;
  *  - [[SchemaOp.Drop]]   — field id removed from the current schema;
  *    old files' data for it is simply no longer projected.
  */
sealed trait SchemaOp
object SchemaOp {
  /** `dataType` is a Spark DDL type string (`bigint`, `string`, ...).
    * `default`, when given, is a Spark SQL literal: it becomes BOTH the
    * column's frozen initial-default (what pre-existing rows read —
    * Iceberg v3 `initial-default`) and its write-default (what an
    * INSERT omitting the column writes). */
  final case class Add(name: String, dataType: String,
      default: Option[String] = None) extends SchemaOp
  final case class Rename(from: String, to: String) extends SchemaOp
  final case class Drop(name: String) extends SchemaOp
  /** ALTER COLUMN SET/DROP DEFAULT: changes the WRITE default only —
    * the initial-default is frozen at add time (pre-existing rows must
    * read the same value forever). `default = None` drops it. */
  final case class SetDefault(name: String,
      default: Option[String]) extends SchemaOp
  /** ALTER COLUMN ... TYPE: Iceberg's legal type promotions only —
    * int → bigint, float → double, decimal(p,s) → decimal(p',s) with
    * p' ≥ p. Old files keep their narrow physical encoding; readers
    * widen value-wise (lossless by construction), and defaults
    * re-canonicalize under the new type. */
  final case class Widen(name: String, newType: String) extends SchemaOp
}

object SchemaEvolution {

  /** Apply `ops` to the table's current schema and commit the new schema
    * version (CAS loop, schema-drift guarded). A table without a schema
    * history gets one bootstrapped first: field ids 1..n in the column
    * order of the newest data file's parquet footer.
    *
    * Guards (all fail the evolve, never corrupt the table):
    *  - add of an existing name / rename-from a missing name /
    *    rename-to an existing name / drop of a missing name;
    *  - drop of a column any LIVE equality-delete file keys on — the
    *    delete could no longer be applied and deleted rows would
    *    resurrect.
    */
  def evolve(
      tableDir: String,
      ops: Seq[SchemaOp],
      retry: RetryConfig = RetryConfig(),
      catalog: TableCatalog = FileTableCatalog
  ): TableSnapshot = {
    require(ops.nonEmpty, "no schema operations given")
    // capability probe BEFORE any commit: a catalog that cannot persist
    // the schema history would otherwise accept the evolve commit and
    // only fail on the post-commit verification, stranding a
    // half-evolved snapshot in the table history
    if (!catalog.persistsSchemaHistory)
      throw CompactionError.Config(
        s"catalog ${catalog.getClass.getSimpleName} does not persist " +
          "schema history; schema evolution requires the engine-native " +
          "table format")
    val cur = catalog.loadOrThrow(tableDir)
    val base: TableSchema = cur.currentSchema.getOrElse(bootstrapSchema(cur))

    var fields = base.fields
    var dropped = Map.empty[Int, String] // field id -> dropped name
    def names = fields.map(_.name).toSet
    ops.foreach {
      case SchemaOp.Add(name, dataType, default) =>
        if (names(name)) throw CompactionError.Config(
          s"add column: '$name' already exists")
        // parse eagerly so a bad DDL string fails the evolve, not a read
        try org.apache.spark.sql.types.DataType.fromDDL(dataType)
        catch {
          case e: Exception => throw CompactionError.Config(
            s"add column '$name': invalid Spark DDL type '$dataType' (${e.getMessage})")
        }
        // default validated + canonicalized NOW (loud DDL-time failure);
        // the canonical text becomes both the frozen initial-default and
        // the mutable write-default
        val canon = default.map(ColumnDefaults.canonicalize(_, dataType))
        val nextId = (0 +: fields.map(_.id)).max + 1
        fields = fields :+ SchemaField(nextId, name, dataType,
          initialDefault = canon, writeDefault = canon)
      case SchemaOp.SetDefault(name, default) =>
        val f = fields.find(_.name == name).getOrElse(
          throw CompactionError.Config(
            s"set default: column '$name' does not exist"))
        val canon = default.map(ColumnDefaults.canonicalize(_, f.dataType))
        fields = fields.map(x =>
          if (x.id == f.id) x.copy(writeDefault = canon) else x)
      case SchemaOp.Widen(name, newType) =>
        val f = fields.find(_.name == name).getOrElse(
          throw CompactionError.Config(
            s"widen column: '$name' does not exist"))
        import org.apache.spark.sql.types._
        val (from, to) =
          try (DataType.fromDDL(f.dataType), DataType.fromDDL(newType))
          catch {
            case e: Exception => throw CompactionError.Config(
              s"widen column '$name': invalid type (${e.getMessage})")
          }
        val legal = (from, to) match {
          case (IntegerType, LongType)  => true
          case (FloatType, DoubleType)  => true
          case (a: DecimalType, b: DecimalType) =>
            a.scale == b.scale && b.precision >= a.precision
          case _ => false
        }
        if (!legal) throw CompactionError.Config(
          s"widen column '$name': ${f.dataType} -> $newType is not a legal " +
            "promotion (int->bigint, float->double, decimal precision widening)")
        // defaults re-canonicalize so their stored text matches the new
        // type (a bigint column must not carry an int-typed literal)
        fields = fields.map(x =>
          if (x.id != f.id) x
          else x.copy(dataType = newType,
            initialDefault =
              x.initialDefault.map(ColumnDefaults.canonicalize(_, newType)),
            writeDefault =
              x.writeDefault.map(ColumnDefaults.canonicalize(_, newType))))
      case SchemaOp.Rename(from, to) =>
        if (!names(from)) throw CompactionError.Config(
          s"rename column: '$from' does not exist")
        if (names(to)) throw CompactionError.Config(
          s"rename column: target '$to' already exists")
        fields = fields.map(f => if (f.name == from) f.copy(name = to) else f)
      case SchemaOp.Drop(name) =>
        if (!names(name)) throw CompactionError.Config(
          s"drop column: '$name' does not exist")
        val dropId = fields.find(_.name == name).get.id
        dropped += dropId -> name
        fields = fields.filterNot(_.id == dropId)
    }
    // a live eq-delete keyed (under ITS schema) on a dropped field id
    // becomes unapplicable — deleted rows would resurrect. Checked here
    // for a fast, cheap failure AND re-checked against every commit
    // attempt's reloaded snapshot (a concurrent appendEqualityDeletes
    // does not change the schema id, so the drift guard alone would let
    // the drop race past it).
    def guardDroppedEqKeys(snap: TableSnapshot): Unit =
      if (dropped.nonEmpty) {
        val schemaById = (snap.schemas :+ base).map(s => s.schemaId -> s).toMap
        snap.files.filter(_.content == "equality-deletes").foreach { d =>
          val ds = schemaById.getOrElse(
            if (d.schemaId >= 0) d.schemaId else base.schemaId, base)
          d.equalityIds.flatMap(n => ds.idByName.get(n)).find(dropped.contains)
            .foreach { id =>
              throw CompactionError.Config(
                s"drop column: '${dropped(id)}' is an equality-delete key of " +
                  s"live delete file ${d.path}; compact first")
            }
        }
      }
    guardDroppedEqKeys(cur)
    if (fields.isEmpty) throw CompactionError.Config(
      "schema evolution would drop every column")

    val history = if (cur.schemas.exists(_.schemaId == base.schemaId))
      cur.schemas else cur.schemas :+ base
    val newId = (history.map(_.schemaId) :+ cur.schemaId).max + 1
    val committed = new CommitManager(tableDir, retry, catalog = catalog)
      .evolveSchema(cur.schemaId, newId,
        history :+ TableSchema(newId, fields),
        validate = guardDroppedEqKeys)

    // backstop for catalogs that DECLARE history support but drop it on
    // the round-trip — every later read would silently treat old files
    // as current-schema, so fail loudly instead
    val reloaded = catalog.loadOrThrow(tableDir)
    if (!reloaded.schemas.exists(_.schemaId == newId))
      throw CompactionError.Config(
        s"catalog ${catalog.getClass.getSimpleName} does not persist " +
          "schema history; schema evolution requires the engine-native " +
          "table format")
    committed
  }

  /** The NEWEST data file of a snapshot — the schema source of a
    * history-less table (all its files share one physical schema by
    * construction). */
  def newestDataFile(snap: TableSnapshot): Option[FileEntry] =
    snap.files.filter(_.content == "data")
      .sortBy(f => (f.sequenceNumber, f.path)).lastOption

  /** Bootstrap a schema for a pre-evolution table: field ids 1..n in the
    * column order of the NEWEST data file's parquet footer. */
  def bootstrapSchema(snap: TableSnapshot): TableSchema = {
    val newest = newestDataFile(snap).getOrElse(
      throw CompactionError.Config(
        "cannot bootstrap a schema for a table with no data files; " +
          "append data before evolving"))
    TableSchema(snap.schemaId, footerFields(newest.path))
  }

  /** A parquet footer as the Spark schema Spark's own parquet reader
    * derives from it (`ParquetToSparkSchemaConverter`) — flat and nested
    * columns alike. The converter runs under Spark's DEFAULT conf, not
    * the caller's session: a table's schema (which [[bootstrapSchema]]
    * persists) must not change with `binaryAsString`,
    * `inferTimestampNTZ.enabled` or any other session read setting. */
  def footerSchema(path: String): org.apache.spark.sql.types.StructType = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), FileIO.hadoopConf)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    val msg = try reader.getFooter.getFileMetaData.getSchema finally reader.close()
    new org.apache.spark.sql.execution.datasources.parquet
      .ParquetToSparkSchemaConverter(new org.apache.spark.sql.internal.SQLConf)
      .convert(msg)
  }

  /** A parquet footer's columns as (id, name, Spark DDL type), ids 1..n
    * in file order. Flat schemas only: schema evolution moves whole
    * top-level columns. */
  def footerFields(path: String): Seq[SchemaField] =
    footerSchema(path).fields.toSeq.zipWithIndex.map { case (f, i) =>
      f.dataType match {
        case _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.ArrayType |
             _: org.apache.spark.sql.types.MapType =>
          throw CompactionError.Config(
            s"schema evolution supports flat schemas only; column ${f.name} " +
              s"of $path is a group type")
        case dt => SchemaField(i + 1, f.name, dt.catalogString)
      }
    }
}
