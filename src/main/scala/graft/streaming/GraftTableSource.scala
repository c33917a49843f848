package graft.streaming

import graft.core.CompactionError
import graft.txn.{FileTableCatalog, SchemaEvolution, TableCatalog, TableSnapshot}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsDelete, SupportsMetadataColumns, SupportsRead, SupportsRowLevelOperations, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.util
import scala.jdk.CollectionConverters._

/** Structured Streaming source over a graft table: an incremental TAIL
  * of committed appends — `spark.readStream.format("graft").load(dir)`.
  *
  * Offsets are SNAPSHOT VERSIONS (the natural changelog of the table's
  * CAS commit line): a microbatch (v₁, v₂] emits exactly the rows of
  * data files APPENDED by commits v₁+1..v₂. Snapshot atomicity carries
  * over — a file is visible to the stream only once its commit landed,
  * so the tail never reads a torn write (the raw data directory is NOT
  * watched; uncommitted files are invisible by construction).
  *
  * Commit classification per version step:
  *  - appended data files (sequence number ABOVE the previous snapshot's
  *    last) → emitted;
  *  - rewrite output (files added at a retained STARTING sequence
  *    number — compaction) → skipped silently: a rewrite adds no logical
  *    rows, so skipping is exactness, not loss;
  *  - delete commits (equality/position delete files) → the table
  *    stopped being an append log; FAIL by default, emit-nothing with
  *    `skipDeletes=true` (Iceberg's streaming read draws the same line
  *    with skip-delete-snapshots).
  *
  * Options: `startingVersion` (default 1 = everything ever appended;
  * `latest` = only commits after stream start), `skipDeletes`.
  *
  * Scale: planning walks snapshot metadata only (no file IO); each
  * appended file becomes one input partition, so read parallelism is
  * the append fan-out. Files decode through Spark's parquet reader
  * ([[graft.sources.SparkFileReader]]), by column name.
  */
class GraftTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  override def supportsExternalMetadata(): Boolean = true

  private def dir(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw CompactionError.Config("graft source requires .load(<tableDir>)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val s = GraftTableSource.tableSchema(dir(options))
    if (options.getBoolean("changelog", false)) ChangelogStream.withMeta(s)
    else s
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val d = Option(properties.get("path")).getOrElse(
      throw CompactionError.Config("graft source requires .load(<tableDir>)"))
    new GraftTable(d, schema)
  }
}

object GraftTableSource {
  /** Read schema, resolved in order: the snapshot's CURRENT schema (an
    * evolved table's source of truth) → the newest data file's footer,
    * as Spark's parquet reader sees it → empty for a bootstrap table
    * with no data yet (a scan of it is a correct empty result; the
    * first append defines the schema). */
  def tableSchema(tableDir: String, catalog: TableCatalog = FileTableCatalog,
      asOfVersion: Option[Long] = None): StructType =
    schemaOf(graft.sources.TableReader.snapshot(tableDir, asOfVersion, catalog))

  /** [[tableSchema]] of an already-loaded snapshot. */
  def schemaOf(snap: TableSnapshot): StructType = snap.currentSchema match {
    case None =>
      SchemaEvolution.newestDataFile(snap).fold(new StructType())(f =>
        StructType(SchemaEvolution.footerSchema(f.path).fields
          .map(_.copy(nullable = true))))
    case Some(s) => StructType(s.fields.map { f =>
      val base = StructField(f.name, DataType.fromDDL(f.dataType), nullable = true)
      if (f.writeDefault.isEmpty && f.initialDefault.isEmpty) base
      else {
        // surface defaults to Spark's analyzer: CURRENT_DEFAULT drives
        // INSERTs that omit the column (and the DEFAULT keyword);
        // EXISTS_DEFAULT is what pre-existing rows read — exactly the
        // frozen initial-default, or NULL when the column gained its
        // default only later (ALTER COLUMN SET DEFAULT must NOT
        // retroactively change what old files read). The engine's own
        // readers fill it; the metadata keeps any Spark component that
        // consults EXISTS_DEFAULT consistent with them.
        import org.apache.spark.sql.catalyst.util.ResolveDefaultColumns._
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
        f.writeDefault.foreach(
          mb.putString(CURRENT_DEFAULT_COLUMN_METADATA_KEY, _))
        mb.putString(EXISTS_DEFAULT_COLUMN_METADATA_KEY,
          f.initialDefault.getOrElse("NULL"))
        base.copy(metadata = mb.build())
      }
    })
  }
}

/** The graft table as a full DSv2 table: batch MoR read
  * ([[graft.sources.GraftScan]]), streaming tail
  * ([[GraftMicroBatchStream]]), and batch append
  * ([[graft.sinks.GraftWriteBuilder]]). ACCEPT_ANY_SCHEMA delegates
  * write-schema validation to the write builder's by-NAME check (the
  * engine's append contract) instead of Spark's positional resolution. */
final class GraftTable(tableDir: String, tblSchema: StructType,
    pinnedVersion: Option[Long] = None,
    /** Path-based uses (format("graft")) accept any write schema and
      * validate by NAME in the write builder — the first append to an
      * empty table defines the schema. Catalog-resolved tables
      * ([[graft.sql.GraftCatalog]]) turn this OFF so Spark applies
      * standard INSERT resolution (positional VALUES get renamed to the
      * declared columns, mismatched arity fails in analysis). */
    acceptAnySchema: Boolean = true,
    /** Where snapshots live. The path-based provider always uses the
      * metadata-JSON catalog; [[graft.sql.GraftCatalog]] injects the
      * Iceberg-format catalog for `format=iceberg` warehouses. */
    catalog: TableCatalog = FileTableCatalog,
    /** ALREADY-TRANSFORMED partition-value pruning (partition FIELD name
      * → allowed rendered values), applied by the scan before any other
      * pruning ([[graft.sources.PartitionPruning.pruneByFieldValues]]).
      * Purely an IO optimization: the caller guarantees the rows it
      * consumes can only live in the named partitions. */
    partitionFieldCandidates: Map[String, Set[String]] = Map.empty,
    /** When set, the table holds only these data files of its snapshot
      * (every delete file still applies): a file-group read such as a
      * compaction's input. Unlike a filter this skips no row inside a
      * scoped file, and every consumer of the file set — pruning,
      * metadata COUNT(*)/MIN/MAX, statistics, LIMIT truncation — sees
      * the scoped files only ([[graft.sources.GraftBatchScan.scopedSnapshot]]). */
    dataFileScope: Option[Set[String]] = None)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsMetadataColumns with SupportsRowLevelOperations {
  /** The table's directory — the identity the materialized-view
    * rewrite matches scans against ([[graft.mv.MaterializedViewRewrite]]). */
  private[graft] def dir: String = tableDir
  /** The snapshot catalog this table resolves through — the rewrite
    * must load the VIEW with the same one (an iceberg-format view has
    * no metadata-JSON for the file catalog to find). */
  private[graft] def tableCatalog: TableCatalog = catalog
  /** Time-travel/branch pin, if any — a pinned scan must NEVER be
    * substituted by a current-state view. */
  private[graft] def pinned: Option[Long] = pinnedVersion
  override def name(): String =
    s"graft.`$tableDir`${pinnedVersion.fold("")(v => s"@v$v")}"
  override def schema(): StructType = tblSchema
  override def capabilities(): util.Set[TableCapability] = {
    val base: Set[TableCapability] =
      Set(TableCapability.BATCH_READ,
        TableCapability.MICRO_BATCH_READ,
        TableCapability.BATCH_WRITE,
        TableCapability.STREAMING_WRITE,
        TableCapability.OVERWRITE_DYNAMIC,
        // INSERT OVERWRITE TABLE: the write builder's truncate() swaps
        // the whole file set atomically (SupportsTruncate)
        TableCapability.TRUNCATE)
    (if (acceptAnySchema) base + TableCapability.ACCEPT_ANY_SCHEMA else base).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val startingVersion = Option(options.get("startingVersion")).getOrElse("1")
    val skipDeletes = options.getBoolean("skipDeletes", false)
    def longOption(name: String): Option[Long] = Option(options.get(name)).map(v =>
      v.trim.toLongOption.getOrElse(throw CompactionError.Config(
        s"read option $name must be a whole number, got '$v'")))
    val asOfVersion = longOption("asOfVersion").orElse(pinnedVersion)
    val splitTarget = longOption("splitTargetBytes")
      .getOrElse(graft.sources.GraftBatchScan.DefaultSplitTargetBytes)
    val vectorized = options.getBoolean("vectorizedRead", true)
    // changelog mode ([[ChangelogStream]]): the scan schema gains the
    // change-type/commit-version meta columns (idempotent — a
    // provider-inferred schema already carries them)
    val changelog = options.getBoolean("changelog", false)
    val scanSchema =
      if (changelog) ChangelogStream.withMeta(ChangelogStream.baseSchema(tblSchema))
      else tblSchema
    new graft.sources.GraftScanBuilder(tableDir, scanSchema, asOfVersion,
      catalog, startingVersion, skipDeletes,
      splitTargetBytes = splitTarget, vectorizedRead = vectorized,
      changelog = changelog, partitionFieldCandidates = partitionFieldCandidates,
      dataFileScope = dataFileScope)
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    if (pinnedVersion.nonEmpty) throw CompactionError.Config(
      "cannot write to a VERSION AS OF read of a graft table")
    new graft.sinks.GraftWriteBuilder(tableDir, info, catalog)
  }

  /** Snapshot-carried table properties, surfaced to SQL
    * (`SHOW TBLPROPERTIES` / `DESCRIBE TABLE EXTENDED`). */
  override def properties(): util.Map[String, String] =
    catalog.load(tableDir)
      .map(s => s.properties.asJava)
      .getOrElse(java.util.Collections.emptyMap[String, String]())

  /** Declared partition transforms (`PARTITIONED BY`), surfaced to SQL
    * (`DESCRIBE` / `SHOW CREATE TABLE`). Writes fan out per partition
    * value ([[graft.sinks.GraftFanoutDataWriter]]). */
  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    graft.core.PartitionSpecCodec.of(catalog.load(tableDir))
      .map {
        case graft.core.IdentityTransform(c)    => Expressions.identity(c)
        case graft.core.BucketTransform(n, c)   => Expressions.bucket(n, c)
        case graft.core.TruncateTransform(w, c) =>
          Expressions.apply("truncate",
            Expressions.literal(Int.box(w)), Expressions.column(c))
        case graft.core.DayTransform(c)         => Expressions.days(c)
      }.toArray
  }

  /** `_file` metadata column: each row's physical data file — the
    * grouping handle for copy-on-write row-level operations and a
    * lineage-debugging aid (`SELECT _file, count(*) ... GROUP BY 1`). */
  override def metadataColumns(): Array[MetadataColumn] = Array(
    new MetadataColumn {
      override def name(): String = graft.sources.GraftBatchScan.FileColumn
      override def dataType(): org.apache.spark.sql.types.DataType = StringType
      override def isNullable: Boolean = false
      override def comment(): String = "physical data file holding the row"
    },
    new MetadataColumn {
      override def name(): String = graft.sources.GraftBatchScan.PosColumn
      override def dataType(): org.apache.spark.sql.types.DataType = LongType
      override def isNullable: Boolean = false
      override def comment(): String =
        "file-absolute row ordinal (position-delete addressing)"
    })

  /** SQL `UPDATE` / `MERGE INTO` / untranslatable `DELETE`, in the
    * table's configured mode (`graft.rowlevel.mode` table property):
    * group-based copy-on-write rewrites whole affected files
    * ([[graft.sinks.GraftRowLevelOperation]], the default), while
    * `merge-on-read` writes only position deletes + new rows
    * ([[graft.sinks.GraftDeltaOperation]]) and leaves folding to the
    * read path / compaction. Translatable DELETEs still take the
    * cheaper metadata path ([[deleteWhere]]) via Spark's optimizer. */
  override def newRowLevelOperationBuilder(
      info: RowLevelOperationInfo): RowLevelOperationBuilder = {
    if (pinnedVersion.nonEmpty) throw CompactionError.Config(
      "cannot modify a VERSION AS OF read of a graft table")
    val mode = catalog.load(tableDir)
      .flatMap(_.properties.get(GraftTable.RowLevelModeProp))
      .getOrElse("copy-on-write")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation = mode match {
        case "merge-on-read" =>
          new graft.sinks.GraftDeltaOperation(tableDir, tblSchema,
            info.command(), catalog)
        case "copy-on-write" =>
          new graft.sinks.GraftRowLevelOperation(tableDir, tblSchema,
            info.command(), catalog)
        case other => throw CompactionError.Config(
          s"unknown ${GraftTable.RowLevelModeProp} '$other' " +
            "(copy-on-write | merge-on-read)")
      }
    }
  }

  /** `DELETE FROM` as a merge-on-read commit: read the predicate through
    * a DSv2 scan pinned to the current snapshot, take the matching rows'
    * `_file`/`_pos`, and append them as a position-delete file — cost
    * proportional to the matching scan, no data-file rewrite, no join
    * and no shuffle. Spark pushes the predicate into the scan, so
    * partition, bound and row-group pruning apply; the scan applies every
    * delete file, so already-dead rows are never re-deleted; and it reads
    * older file layouts by field id, so evolved tables take this path
    * too. The next compaction (full or delete-conversion) folds the
    * backlog. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    pinnedVersion.isEmpty && filters.forall(graft.sql.Filters.toColumn(_).isDefined) &&
      // deletion-vector tables route through the delta row-level path
      // (same scan cost) — this direct path only emits parquet deletes
      !catalog.load(tableDir).exists(
        _.properties.get(graft.sinks.GraftDeltaBatchWrite.DeletesFormatProp)
          .contains("dv"))

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    // same refusal as the row-level path: deletes are relative to the
    // current snapshot, not a cherry-pickable append
    graft.sinks.GraftBatchWrite.activeWapId().foreach { id =>
      throw CompactionError.Config(
        s"session ${graft.txn.Wap.SessionConf}='$id' is set: DELETE FROM " +
          "cannot be WAP-staged; unset the wap id to delete from the live table")
    }
    graft.sinks.GraftBatchWrite.activeBranch().foreach { b =>
      throw CompactionError.Config(
        s"session ${graft.txn.Branch.SessionConf}='$b' is set: DELETE FROM " +
          "cannot target a branch; unset the branch to delete from the live table")
    }
    import graft.sources.GraftBatchScan.{DefaultSplitTargetBytes, FileColumn, PosColumn}
    import org.apache.spark.sql.functions.col
    val cond = filters.flatMap(graft.sql.Filters.toColumn(_)).reduceOption(_ && _)
    graft.sources.TableReader.readOption(org.apache.spark.sql.SparkSession.active,
        tableDir, catalog = catalog, filter = cond).foreach { df =>
      // ONE pruning decision serves the read and the pin set: the files
      // the scan planned are the only ones the positions can reference,
      // and pinning them aborts the delete if a concurrent compaction
      // rewrote one (committing would orphan the references and silently
      // resurrect the rows); files it pruned stay unpinned, so unrelated
      // concurrent rewrites cause no false aborts
      val planned = graft.sources.TableReader.plannedDataEntries(df)
      // every task with a match writes one delete file, and a scan task
      // reads one file or one row-group split: pack a small-file backlog
      // into split-target-sized tasks (a narrow coalesce, no shuffle)
      val tasks = (planned.map(_.sizeBytes).sum + DefaultSplitTargetBytes - 1) /
        DefaultSplitTargetBytes
      val positions = df
        .select(col(FileColumn).as("file_path"), col(PosColumn).as("pos"))
        .coalesce(math.max(1L, tasks).toInt)
        // the sort stays within a task (no shuffle) and lands SORTED
        // delete files: row-group stats then let readers skip other
        // files' positions
        .sortWithinPartitions(col("file_path"), col("pos"))
      // commits nothing when no position matched
      graft.txn.TableWrites.appendPositionDeletes(tableDir, positions,
        catalog = catalog, requiredDataPaths = planned.map(_.path).toSet)
    }
  }
}

object GraftTable {
  /** Table property selecting the row-level operation strategy:
    * `copy-on-write` (default — rewrite affected files) or
    * `merge-on-read` (position deletes + appends, folded at read). */
  val RowLevelModeProp = "graft.rowlevel.mode"
}

/** Version offset in the table's commit line. */
final case class GraftOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

final class GraftMicroBatchStream(
    tableDir: String,
    schema: StructType,
    startingVersion: String,
    skipDeletes: Boolean,
    catalog: TableCatalog = FileTableCatalog,
    /** Emit per-commit change rows instead of the append tail
      * ([[ChangelogStream]]); `schema` then carries the meta columns. */
    changelog: Boolean = false
) extends MicroBatchStream {

  override def initialOffset(): Offset = {
    val cur = catalog.loadOrThrow(tableDir)
    startingVersion.trim.toLowerCase match {
      case "latest" => GraftOffset(cur.version)
      case v =>
        val n = v.toLongOption.getOrElse(throw CompactionError.Config(
          s"startingVersion must be a version number or 'latest', got '$v'"))
        GraftOffset(n)
    }
  }

  override def latestOffset(): Offset =
    GraftOffset(catalog.loadOrThrow(tableDir).version)

  override def deserializeOffset(json: String): Offset =
    GraftOffset(json.trim.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].version
    val to = end.asInstanceOf[GraftOffset].version
    if (to <= from) return Array.empty

    def snap(v: Long): TableSnapshot =
      catalog.loadVersion(tableDir, v).getOrElse(throw CompactionError.Config(
        s"snapshot v$v was expired while the stream still needed it " +
          s"(under $tableDir); restart from a retained version"))

    // WAP-staged snapshots interleave with main-lineage versions on the
    // same number line but are NOT commits of this table's visible
    // history — a tail must not surface unaudited rows (they arrive as
    // a normal append when published). Offsets themselves are always
    // main versions (latestOffset resolves through the staged-skipping
    // load). The RANGE ENDPOINTS must still exist (losing the base or
    // end would silently drop their adds), but an INTERIOR version that
    // is staged — or already reaped (an expired discard tombstone, or
    // an expired main version) — simply drops out of the walk: diffing
    // across the gap still yields every net-added file, and a rewrite
    // output inside the gap keeps its RETAINED sequence number, so the
    // seq guard below emits its rows exactly once either way.
    val lineage = snap(from) +:
      ((from + 1) until to).flatMap(catalog.loadVersion(tableDir, _))
        .filterNot(graft.txn.Branch.isOutOfMain) :+ snap(to)

    lineage.sliding(2).filter(_.size == 2).flatMap { pair =>
      val prev = pair(0)
      val curr = pair(1)
      if (changelog) ChangelogStream.planStep(prev, curr)
      else {
        val prevPaths = prev.files.map(_.path).toSet
        val added = curr.files.filterNot(f => prevPaths.contains(f.path))
        val deletes = added.filter(_.content != "data")
        if (deletes.nonEmpty && !skipDeletes)
          throw CompactionError.Config(
            s"commit v${curr.version} added ${deletes.size} delete file(s); the " +
              "table is not an append log over this interval. Set skipDeletes=" +
              "true to tail appends only, or consume TableReader.changes() batches")
        added
          .filter(_.content == "data")
          // rewrite outputs re-add EXISTING rows at a retained sequence
          // number; a tail must not emit them twice
          .filter(_.sequenceNumber > prev.lastSequenceNumber)
          .map(f => GraftInputPartition(f.path): InputPartition)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    if (changelog)
      new ChangelogReaderFactory(schema, graft.sources.SparkFileReader())
    else new GraftReaderFactory(schema, graft.sources.SparkFileReader())

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class GraftInputPartition(path: String) extends InputPartition

final class GraftReaderFactory(schema: StructType,
    files: graft.sources.SparkFileReader) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val path = partition.asInstanceOf[GraftInputPartition].path
    new FileRowsReader(files, _.rows(path, schema))
  }
}
