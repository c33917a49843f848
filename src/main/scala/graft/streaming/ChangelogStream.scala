package graft.streaming

import graft.core.CompactionError
import graft.txn.{FileEntry, TableSnapshot}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING CDC over a graft table — `readStream.format("graft")
  * .option("changelog", true)`: each microbatch `(v₁, v₂]` emits the
  * per-commit row changes as `table columns + _change_type
  * (insert|delete) + _commit_version`, planned entirely from snapshot
  * metadata (one input partition per changed file; no shuffle, no
  * driver-side row materialization):
  *
  *  - fresh data files → `insert` rows;
  *  - equality-delete files → one `delete` row per KEY (key columns
  *    set, the rest null — the Flink-CDC delete-by-key shape; a key
  *    that matched nothing still surfaces, which idempotent keyed
  *    consumers absorb);
  *  - position-delete files / deletion vectors → full `delete` rows
  *    read back from the referenced data file at the deleted ordinals;
  *  - truncate/overwrite commits → full-row `delete`s of the removed
  *    files, then `insert`s of the new ones (copy-on-write row-level
  *    commits surface the same way: rewrite amplification, exactly like
  *    other CDC feeds without per-commit change files);
  *  - compaction rewrites and delete-layout conversions → recognized by
  *    their commit shape (outputs at retained sequence numbers; delete
  *    files swapped with no data change) and emit NOTHING.
  *
  * Exactness line: the stream is exact for append / upsert / row-level
  * delete / clean-overwrite histories — the CDC shapes — and REFUSES
  * the one case file-level planning cannot attribute exactly (removing
  * data files that older delete files already applied to, e.g. INSERT
  * OVERWRITE after merge-on-read deletes). A physical-position delete
  * over a row an earlier key-delete already removed re-emits that row's
  * delete; multiset-exact attribution for those histories is the batch
  * [[graft.sources.TableReader.changelog]].
  */
object ChangelogStream {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  val metaFields: Seq[StructField] = Seq(
    StructField(ChangeTypeCol, StringType, nullable = false),
    StructField(CommitVersionCol, LongType, nullable = false))

  def withMeta(schema: StructType): StructType =
    StructType(schema.fields.toSeq ++ metaFields)

  /** The table columns of a changelog read schema (meta stripped). */
  def baseSchema(full: StructType): StructType =
    StructType(full.fields.filterNot(f =>
      f.name == ChangeTypeCol || f.name == CommitVersionCol))

  /** Plan one lineage STEP (prev → curr) into change partitions. */
  def planStep(prev: TableSnapshot, curr: TableSnapshot): Seq[InputPartition] = {
    val v = curr.version
    // shared commit-shape derivation ([[graft.txn.CommitShape]]):
    // row-preserving steps (compaction rewrites, delete-layout
    // conversions) emit nothing — the SAME classification the batch
    // changelog and the .snapshots operation column use
    val d = graft.txn.CommitShape.diff(prev, curr)
    if (d.isRowPreserving) return Nil
    val removedData = d.removedData
    val addedDeletes = d.addedDeletes

    val out = Seq.newBuilder[InputPartition]
    d.freshData.foreach(f => out += ChangeFilePartition(f.path, "insert", v))
    if (removedData.nonEmpty) {
      // full-file delete emission is exact only when no RETAINED delete
      // file had already removed rows of these files
      def applied(del: FileEntry): Boolean = del.content match {
        case "equality-deletes" =>
          removedData.exists(_.sequenceNumber < del.sequenceNumber)
        case "deletion-vectors" =>
          del.referencedDataFile.exists(p => removedData.exists(_.path == p))
        case _ => // position-deletes: targets live inside the file — be
          // conservative rather than read it at planning time
          removedData.nonEmpty
      }
      if (prev.files.exists(del => del.content != "data" && applied(del)))
        throw CompactionError.Config(
          s"commit v$v removed data files that older delete files applied " +
            "to; file-level streaming cannot attribute those rows exactly " +
            "— consume TableReader.changelog() for this interval")
      removedData.foreach(f => out += ChangeFilePartition(f.path, "delete", v))
    }
    addedDeletes.foreach {
      case eq if eq.content == "equality-deletes" =>
        out += ChangeFilePartition(eq.path, "delete", v)
      case pd if pd.content == "position-deletes" =>
        out += PosDeleteChangePartition(pd.path, v)
      case dv if dv.content == "deletion-vectors" =>
        out += DvChangePartition(dv.path, dv.contentOffset, dv.contentSizeBytes,
          dv.referencedDataFile.getOrElse(throw CompactionError.Config(
            s"deletion vector ${dv.path} carries no referenced data file")), v)
      case other => throw CompactionError.Config(
        s"unknown delete content ${other.content} (${other.path})")
    }
    out.result()
  }

  /** Change-row materializer for one file: each column by NAME (null
    * when the file lacks one — an equality-delete's non-key columns),
    * then the change-type/commit-version constants. Specialized ONCE
    * against the file's group type (every Group of one file shares it),
    * hoisting the per-row name→index lookups and type dispatch the old
    * per-row helper paid per VALUE. */
  private[streaming] def rowMaterializer(
      t: org.apache.parquet.schema.GroupType, base: StructType,
      changeType: String, commitVersion: Long,
      cal: graft.sources.FileCalendar): Group => InternalRow = {
    val ctVal = UTF8String.fromString(changeType)
    val extract: Array[Group => Any] = Array.tabulate(base.length) { i =>
      val f = base(i)
      if (!t.containsField(f.name)) (_: Group) => null
      else graft.sources.GraftBatchScan.fieldExtractor(
        t, t.getFieldIndex(f.name), f.dataType, f.name, cal)
    }
    g => {
      val values = new Array[Any](base.length + 2)
      var i = 0
      while (i < base.length) { values(i) = extract(i)(g); i += 1 }
      values(base.length) = ctVal
      values(base.length + 1) = commitVersion
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
    }
  }
}

/** Whole-file change partition: every row of `path` becomes one change
  * row. Columns the file lacks (an equality-delete's non-key columns)
  * read as null. */
final case class ChangeFilePartition(path: String, changeType: String,
    commitVersion: Long) extends InputPartition

/** Position-delete partition: the delete file's (file_path, pos) rows
  * resolve to full `delete` rows read from each referenced data file. */
final case class PosDeleteChangePartition(deletePath: String,
    commitVersion: Long) extends InputPartition

/** Deletion-vector partition: the Puffin blob's ordinals resolve to
  * full `delete` rows of the one referenced data file. */
final case class DvChangePartition(puffinPath: String, offset: Long,
    size: Long, targetPath: String, commitVersion: Long) extends InputPartition

final class ChangelogReaderFactory(fullSchema: StructType,
    confEntries: Array[(String, String)]) extends PartitionReaderFactory {
  private def conf = graft.io.FileIO.confFrom(confEntries)
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    p match {
      case ChangeFilePartition(path, ct, v) =>
        new ChangeFileReader(path, fullSchema, ct, v, conf)
      case PosDeleteChangePartition(path, v) =>
        new PosDeleteChangeReader(path, fullSchema, v, conf)
      case DvChangePartition(pp, off, sz, target, v) =>
        val bm = graft.io.Puffin.readDvBlob(pp, off, sz)
        val ords = new Array[Long](bm.getIntCardinality)
        val it = bm.getLongIterator
        var i = 0
        while (it.hasNext) { ords(i) = it.next(); i += 1 }
        new OrdinalDeleteReader(target, ords, fullSchema, v, conf)
    }
}

/** Row-by-row reader of one parquet file, tolerant of missing columns,
  * appending the change-type/commit-version constants. */
final class ChangeFileReader(path: String, fullSchema: StructType,
    changeType: String, commitVersion: Long, taskConf: Configuration)
    extends PartitionReader[InternalRow] {
  private val base = ChangelogStream.baseSchema(fullSchema)
  private val readSupport = new graft.sources.FileCalendar.ReadSupportWithCalendar
  private val reader: ParquetReader[Group] =
    ParquetReader.builder(readSupport, new HPath(path))
      .withConf(taskConf).build()
  private var current: Group = _
  private var mat: Group => InternalRow = _
  override def next(): Boolean = { current = reader.read(); current != null }
  override def get(): InternalRow = {
    if (mat == null) mat = ChangelogStream.rowMaterializer(
      current.getType, base, changeType, commitVersion, readSupport.calendar)
    mat(current)
  }
  override def close(): Unit = reader.close()
}

/** Emits the rows of `targetPath` at `ordinals` (sorted ascending) as
  * `delete` change rows — one sequential scan with a row counter, the
  * position-delete resolution shape. */
final class OrdinalDeleteReader(targetPath: String, ordinals0: Array[Long],
    fullSchema: StructType, commitVersion: Long, taskConf: Configuration)
    extends PartitionReader[InternalRow] {
  private val base = ChangelogStream.baseSchema(fullSchema)
  private val readSupport = new graft.sources.FileCalendar.ReadSupportWithCalendar
  private val reader: ParquetReader[Group] =
    ParquetReader.builder(readSupport, new HPath(targetPath))
      .withConf(taskConf).build()
  // sorted AND deduplicated: position-delete files are not key-distinct
  // (a row can be named twice), and a duplicate ordinal equal to an
  // already-passed rowIdx would otherwise stall the cursor to EOF,
  // silently dropping every later delete
  private val ordinals: Array[Long] = {
    java.util.Arrays.sort(ordinals0)
    val out = new Array[Long](ordinals0.length)
    var n = 0
    var i = 0
    while (i < ordinals0.length) {
      if (n == 0 || out(n - 1) != ordinals0(i)) { out(n) = ordinals0(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }
  private var rowIdx = -1L
  private var ordIdx = 0
  private var current: Group = _
  override def next(): Boolean = {
    while (ordIdx < ordinals.length) {
      current = reader.read()
      rowIdx += 1
      if (current == null) return false // ordinal past EOF: nothing more
      if (rowIdx == ordinals(ordIdx)) { ordIdx += 1; return true }
    }
    false
  }
  private var mat: Group => InternalRow = _
  override def get(): InternalRow = {
    if (mat == null) mat = ChangelogStream.rowMaterializer(
      current.getType, base, "delete", commitVersion, readSupport.calendar)
    mat(current)
  }
  override def close(): Unit = reader.close()
}

/** Reads a position-delete file's (file_path, pos) rows, groups the
  * ordinals per referenced data file, and replays each target through
  * [[OrdinalDeleteReader]] semantics sequentially. Delete files are
  * small (keys/positions only), so the grouping is reader-local. */
final class PosDeleteChangeReader(deletePath: String, fullSchema: StructType,
    commitVersion: Long, taskConf: Configuration)
    extends PartitionReader[InternalRow] {
  private val byTarget: Iterator[(String, Array[Long])] = {
    val r = ParquetReader.builder(new GroupReadSupport(), new HPath(deletePath))
      .withConf(taskConf).build()
    val m = scala.collection.mutable.Map.empty[String, scala.collection.mutable.ArrayBuffer[Long]]
    try {
      var g = r.read()
      while (g != null) {
        val fi = g.getType.getFieldIndex("file_path")
        val pi = g.getType.getFieldIndex("pos")
        m.getOrElseUpdate(g.getString(fi, 0),
          scala.collection.mutable.ArrayBuffer.empty[Long]) += g.getLong(pi, 0)
        g = r.read()
      }
    } finally r.close()
    m.toSeq.sortBy(_._1).map { case (t, os) => t -> os.toArray }.iterator
  }
  private var cur: OrdinalDeleteReader = _
  override def next(): Boolean = {
    while (true) {
      if (cur != null && cur.next()) return true
      if (cur != null) { cur.close(); cur = null }
      if (!byTarget.hasNext) return false
      val (target, ords) = byTarget.next()
      cur = new OrdinalDeleteReader(target, ords, fullSchema, commitVersion,
        taskConf)
    }
    false
  }
  override def get(): InternalRow = cur.get()
  override def close(): Unit = if (cur != null) cur.close()
}
