package graft.core

import org.apache.spark.sql.types.StructType

/** File content classification, matching Iceberg manifest-entry content
  * (reference: core/src/compaction/mod.rs:363-392 partitions entries into
  * data / position-delete / equality-delete). */
sealed trait FileContent
object FileContent {
  case object Data extends FileContent
  case object PositionDeletes extends FileContent
  case object EqualityDeletes extends FileContent
  /** Iceberg-v3-style deletion vector: a roaring bitmap of dead ordinals
    * for exactly one data file, stored as a blob inside a Puffin
    * container ([[graft.io.Puffin]]). Semantically a position delete;
    * physically a ranged-read bitmap instead of a parquet table. */
  case object DeletionVectors extends FileContent
}

/** Unit of scan work — one physical file (or byte-range of one).
  *
  * Mirrors the reference's FileScanTask struct
  * (core/src/executor/datafusion/iceberg_file_task_scan.rs:446-462):
  * {length, start, record_count, data_file_path, content, format, schema,
  * project_field_ids, predicate, deletes, sequence_number, equality_ids,
  * file_size_in_bytes}. In the Spark build a task drives a per-file
  * `spark.read.parquet(path)`; `lengthBytes` feeds the byte-balanced
  * bin-packing (X1).
  */
final case class FileScanTask(
    filePath: String,
    content: FileContent,
    /** Byte length of THIS task's range — the whole file when `start` is 0
      * and the file was not split. */
    lengthBytes: Long,
    /** Byte offset where this task's range begins (reference task model
      * carries {start, length} so one oversized data file can split into
      * multiple tasks, iceberg_file_task_scan.rs:446-462). */
    start: Long = 0L,
    recordCount: Long = -1L,
    /** Iceberg data sequence number of the file (drives eq-delete
      * applicability: data.seq < delete.seq). */
    sequenceNumber: Long = 0L,
    /** For equality-delete files: the user columns forming the delete key.
      * Empty for data / position-delete files. An eq-delete file with an
      * EMPTY key list degenerates to seq-only semantics ("delete everything
      * older") — reference datafusion_processor.rs:371-375. */
    equalityIds: Seq[String] = Nil,
    /** Schema id the file was WRITTEN under (Iceberg model: readers
      * resolve columns by field id through the schema history, so renames
      * and adds never rewrite data). -1 = table has no schema history;
      * the file's physical names ARE the current names. */
    schemaId: Long = -1L,
    /** Deletion-vector tasks only: the single data file whose ordinals
      * the vector kills, and the blob's byte address inside the Puffin
      * container (`filePath`). */
    referencedDataFile: Option[String] = None,
    contentOffset: Long = 0L,
    contentSizeBytes: Long = 0L
)

/** One field of a table schema version — Iceberg's `{id, name, type}`
  * model: the FIELD ID is the stable identity; names are labels that
  * rename without touching data. `dataType` is a Spark DDL type string
  * (`bigint`, `string`, ...), castable via `Column.cast`.
  *
  * Defaults (the Iceberg v3 `initial-default` / `write-default` model),
  * stored as CANONICAL Spark SQL literal text ([[ColumnDefaults]]):
  *  - `initialDefault` — the value READ for rows of files written
  *    before the column existed (frozen at ADD COLUMN time, never
  *    changes: pre-existing rows must read the same value forever);
  *  - `writeDefault` — the value an INSERT that omits the column
  *    writes (surfaced to Spark as the column's CURRENT default;
  *    mutable via ALTER COLUMN SET/DROP DEFAULT). */
final case class SchemaField(id: Int, name: String, dataType: String,
    initialDefault: Option[String] = None,
    writeDefault: Option[String] = None)

/** One schema version in a table's schema history. Files record which
  * schemaId they were written under; readers reconcile every file to the
  * CURRENT schema by field id (rename = same id/new name, add = id absent
  * from old schema → null, drop = id absent from current → excluded). */
final case class TableSchema(schemaId: Long, fields: Seq[SchemaField]) {
  def fieldById: Map[Int, SchemaField] = fields.map(f => f.id -> f).toMap
  def idByName: Map[String, Int] = fields.map(f => f.name -> f.id).toMap
}

/** The planned inputs of one compaction, split by content
  * (reference: core/src/executor/mod.rs:47-61 InputFileScanTasks). */
final case class InputFileScanTasks(
    dataFiles: Seq[FileScanTask],
    positionDeleteFiles: Seq[FileScanTask],
    equalityDeleteFiles: Seq[FileScanTask]
) {
  def inputTotalBytes: Long =
    (dataFiles ++ positionDeleteFiles ++ equalityDeleteFiles)
      .map(_.lengthBytes).sum
}

/** What the executor is asked to do
  * (reference: core/src/executor/mod.rs:38-45 RewriteFilesRequest — bare
  * tasks + IO + config + schema, deliberately decoupled from the catalog). */
final case class RewriteFilesRequest(
    tasks: InputFileScanTasks,
    schema: StructType,
    config: CompactionConfig,
    outputDir: String,
    /** Schema history + current schema id of the source table, when it
      * has one. A compaction over files written under older schemas
      * reconciles them to the current schema while rewriting — the
      * rewrite MIGRATES old-layout files, exactly like Iceberg's
      * rewrite_data_files on an evolved table. */
    schemas: Seq[TableSchema] = Nil,
    currentSchemaId: Long = -1L,
    /** The table snapshot `tasks` were planned from. The Spark executor
      * reads the data files' live rows through a scan pinned to it
      * ([[graft.compaction.SparkCompactionExecutor.groupRows]]). */
    source: Option[SnapshotRef] = None
)

/** One committed snapshot of one table: where it lives, its version and
  * the catalog that resolves it. */
final case class SnapshotRef(tableDir: String, version: Long,
    catalog: graft.txn.TableCatalog)

/** Metadata of one written data file. */
final case class DataFileMeta(
    filePath: String,
    fileSizeBytes: Long,
    recordCount: Long,
    sequenceNumber: Long
)

/** Executor result (reference: core/src/executor/mod.rs:63-75). */
final case class RewriteFilesResponse(
    dataFiles: Seq[DataFileMeta],
    stat: RewriteFilesStat
)

/** Rewrite statistics (reference: core/src/compaction/mod.rs RewriteFilesStat,
  * recorded into metrics at :296-324).
  *
  * `rewrittenFilesCount` follows the reference's input-file accounting
  * (executor/mod.rs:56-60): the data files plus the position/equality
  * delete files (incl. deletion vectors) the rewrite consumed.
  * `removedDeleteFilesCount` is an extension field: delete files and
  * dead DVs actually REMOVED by the commit — distinct from the input
  * count because an incremental rewrite consumes delete files but
  * retains them for the untouched data files. */
final case class RewriteFilesStat(
    rewrittenFilesCount: Long = 0L,
    addedFilesCount: Long = 0L,
    rewrittenBytes: Long = 0L,
    failedDataFilesCount: Long = 0L,
    removedDeleteFilesCount: Long = 0L
)
