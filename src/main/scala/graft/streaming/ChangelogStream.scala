package graft.streaming

import graft.core.CompactionError
import graft.txn.{FileEntry, TableSnapshot}
import graft.sources.SparkFileReader
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection}
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

  /** The change rows of one file's rows: the table columns (read by
    * NAME — null where the file lacks one, as an equality-delete's
    * non-key columns), then the change-type/commit-version constants. */
  private[streaming] def changeRows(rows: Iterator[InternalRow],
      changeType: String, commitVersion: Long): Iterator[InternalRow] = {
    val meta = new GenericInternalRow(
      Array[Any](UTF8String.fromString(changeType), commitVersion))
    val joined = new JoinedRow()
    rows.map(joined(_, meta))
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
    files: SparkFileReader) extends PartitionReaderFactory {
  private val base = ChangelogStream.baseSchema(fullSchema)
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new FileRowsReader(files, in => p match {
      case ChangeFilePartition(path, ct, v) =>
        ChangelogStream.changeRows(in.rows(path, base), ct, v)
      case PosDeleteChangePartition(path, v) =>
        // the delete file's (file_path, pos) rows, grouped per target
        val byTarget = scala.collection.mutable.TreeMap.empty[String,
          scala.collection.mutable.ArrayBuilder.ofLong]
        in.rows(path, graft.sources.GraftBatchScan.PosDeleteSchema).foreach { r =>
          byTarget.getOrElseUpdate(r.getUTF8String(0).toString,
            new scala.collection.mutable.ArrayBuilder.ofLong) += r.getLong(1)
        }
        byTarget.iterator.flatMap { case (target, ords) =>
          deletedRows(in, target, ords.result(), v)
        }
      case DvChangePartition(pp, off, sz, target, v) =>
        val bm = graft.io.Puffin.readDvBlob(pp, off, sz)
        val ords = new Array[Long](bm.getIntCardinality)
        val it = bm.getLongIterator
        var i = 0
        while (it.hasNext) { ords(i) = it.next(); i += 1 }
        deletedRows(in, target, ords, v)
    })

  /** The rows of `target` at `ordinals` as `delete` change rows, matched
    * by Spark's row index. */
  private def deletedRows(in: FileRowsReader, target: String,
      ordinals: Array[Long], v: Long): Iterator[InternalRow] = {
    java.util.Arrays.sort(ordinals)
    val idx = base.length
    val dropIndex = UnsafeProjection.create(base.fields.toSeq.zipWithIndex.map {
      case (f, i) => BoundReference(i, f.dataType, nullable = true) })
    ChangelogStream.changeRows(
      in.rows(target, base.add(SparkFileReader.RowIndexField))
        .filter(r => java.util.Arrays.binarySearch(ordinals, r.getLong(idx)) >= 0)
        .map(dropIndex),
      "delete", v)
  }
}

/** A partition reader over the rows `plan` derives from files it opens
  * through `in.rows`; each file closes when exhausted or with the reader. */
final class FileRowsReader(files: SparkFileReader,
    plan: FileRowsReader => Iterator[InternalRow])
    extends PartitionReader[InternalRow] {
  private val opened = scala.collection.mutable.Set.empty[PartitionReader[InternalRow]]
  private lazy val out = plan(this)
  private var current: InternalRow = _

  /** Every row of `path` under `schema` (by name; absent columns null). */
  def rows(path: String, schema: StructType): Iterator[InternalRow] = {
    val r = files.rows(path, schema)
    opened += r
    Iterator.continually(r)
      .takeWhile(r => r.next() || { r.close(); opened -= r; false })
      .map(_.get())
  }

  override def next(): Boolean = out.hasNext && { current = out.next(); true }
  override def get(): InternalRow = current
  override def close(): Unit = { opened.foreach(_.close()); opened.clear() }
}
