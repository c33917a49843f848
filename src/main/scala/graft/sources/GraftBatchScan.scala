package graft.sources

import graft.core.CompactionError
import graft.txn.{FileEntry, TableCatalog, TableSnapshot}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import java.util.OptionalLong

/** DSv2 BATCH read of a graft table — `spark.read.format("graft")
  * .load(tableDir)`, SQL and [[TableReader.read]] return the table's
  * LIVE rows (merge-on-read) through this scan, realized the way
  * Iceberg's own Spark source does it: **per-task delete
  * application**. Each input partition is one data file plus the delete
  * files that apply to it; the reader loads that task's position-delete
  * ordinals and equality-delete key sets into memory and filters rows
  * as it streams the file. No join, no shuffle — a full-table read is
  * embarrassingly parallel across data files.
  *
  * Scale posture:
  *  - *Statistics* ([[SupportsReportStatistics]]) come from snapshot
  *    metadata (no IO), so Catalyst sees a real `sizeInBytes` for a
  *    graft table under a join and can choose to BROADCAST it — the
  *    decision that matters most at 100 TB.
  *  - *Column pruning* ([[SupportsPushDownRequiredColumns]]) reaches the
  *    parquet reader as a requested-projection schema (column chunks of
  *    unused columns are never read).
  *  - *Filters* ([[SupportsPushDownFilters]]) are used for FILE-level
  *    min/max pruning (write-time stamped bounds, footer stats as the
  *    fallback — [[ScanPruning]]) and for ROW-GROUP statistics skipping
  *    inside Spark's parquet reader (under each file's physical names;
  *    `_pos` is Spark's file-absolute row index either way); everything
  *    is returned to Spark as residuals — `Inexact` pushdown, the same
  *    contract as the reference's provider (SURVEY §2.2 P2).
  *  - Per-task delete load is bounded by the live delete backlog, which
  *    [[graft.compaction.DeleteCompaction]] keeps converged to a few
  *    sorted files — the same memory model as Iceberg's `DeleteFilter`.
  *
  * Schema evolution is handled per task (the row-level mirror of
  * [[graft.plans.SchemaReconcile]]'s plan-level union): planning
  * resolves each file's columns to the CURRENT schema by field id —
  * renames become a physical-name mapping, added columns null-fill,
  * dropped ids are not projected, and equality-delete keys recorded
  * under old names are id-translated — so a read straddling an ALTER
  * TABLE needs no extra scan nodes. Schemas are the engine's
  * flat-primitive table model.
  */
object GraftBatchScan {

  /** Metadata column exposing each row's physical data file — the
    * grouping handle for copy-on-write row-level operations (the same
    * role as Iceberg's `_file`). */
  val FileColumn = "_file"

  /** Metadata column exposing each row's file-absolute ordinal — with
    * [[FileColumn]] it forms the row id of the delta (merge-on-read)
    * row-level path (the same role as Iceberg's `_pos`): a delta DELETE
    * writes these two columns back as a position-delete file. */
  val PosColumn = "_pos"

  /** Files above this size split into row-group-aligned range tasks
    * (the engine's own read fan-out decision — ScanPlanner.splitTask's
    * default, realized here for the DSv2 path). */
  val DefaultSplitTargetBytes: Long = 128L * 1024 * 1024

  /** `snap` as a table that holds only the data files in `scope` (every
    * delete file stays and applies as usual) — what a file-scoped scan
    * reads: pruning, metadata aggregates, statistics and LIMIT/TopN
    * truncation all see the scoped file set, never the whole snapshot.
    * A scoped path the snapshot does not hold fails the read: its rows
    * would silently go missing. */
  private[graft] def scopedSnapshot(snap: TableSnapshot,
      scope: Option[Set[String]]): TableSnapshot = scope.fold(snap) { paths =>
    val want = paths.map(ScanPlanner.normalizePath)
    val in = snap.files.filter(f =>
      f.content != "data" || want.contains(ScanPlanner.normalizePath(f.path)))
    val missing = want -- in.filter(_.content == "data")
      .map(f => ScanPlanner.normalizePath(f.path))
    if (missing.nonEmpty) throw CompactionError.Config(
      s"${missing.size} scoped data file(s) not in snapshot v${snap.version} " +
        s"of its table (e.g. ${missing.head})")
    snap.copy(files = in)
  }

  /** String columns eligible for byte-bound pruning — THE definition,
    * shared by the builder's pushdown acceptance and the scan's
    * plan-time/runtime pruning so they can never diverge. */
  private[sources] def stringColsOf(schema: StructType): Set[String] =
    schema.fields.collect {
      case f if f.dataType == StringType => f.name
    }.toSet

  /** Dead-position membership for one task: the task window's ordinals
    * from parquet position-delete files (sorted, binary-searched), plus
    * (when the file carries a deletion vector) a roaring bitmap probed
    * directly — the bitmap IS the compact representation, so it needs no
    * window. Both can be present on one file (parquet deletes from
    * before a format switch). Probed with each row's row index.
    * Instances are task-local; probes are single-threaded. */
  private[graft] final class DeadPositions(
      sorted: Array[Long],
      bitmap: org.roaringbitmap.longlong.Roaring64Bitmap) {
    def isEmpty: Boolean = sorted.isEmpty && (bitmap == null || bitmap.isEmpty)
    def contains(pos: Long): Boolean =
      java.util.Arrays.binarySearch(sorted, pos) >= 0 ||
        (bitmap != null && bitmap.contains(pos))
  }

  /** Positions of this split's rows killed by its position-delete files
    * (only the `[baseOrdinal, ordinalEnd)` window — bounds memory when
    * a large file fans out into many range tasks) and/or its deletion
    * vector. Parquet delete files parse once per JVM through
    * [[DeleteFileCache]] with a per-task binary-search window;
    * deletion-vector BLOB BYTES cache once per JVM (one ranged read of
    * this file's own blob — O(own blob), never the table's whole delete
    * corpus) and each task deserializes its own bitmap, because roaring
    * bitmaps are not safe for concurrent probing. */
  private[graft] def loadDeadPositions(part: GraftMorPartition,
      files: SparkFileReader): DeadPositions = {
    val dataPathNorm = ScanPlanner.normalizePath(part.dataPath)
    val window = new scala.collection.mutable.ArrayBuilder.ofLong
    part.posDeletes.foreach { pd =>
      val arr = DeleteFileCache.getOrLoad(pd.path, pd.sizeBytes, "pos") {
        parsePosDeleteFile(pd.path, files)
      }.get(dataPathNorm)
      if (arr != null) {
        var i = lowerBound(arr, part.baseOrdinal)
        while (i < arr.length && arr(i) < part.ordinalEnd) {
          window += arr(i); i += 1
        }
      }
    }
    val sorted = window.result()
    java.util.Arrays.sort(sorted)
    val bitmap = part.dv.map { d =>
      // same plausibility window readDvBlob enforces — an implausible
      // snapshot-recorded size must fail as a deliberate error, not a
      // negative-array-size crash inside the ranged read
      if (d.contentSizeBytes < 12 || d.contentSizeBytes > Int.MaxValue)
        throw CompactionError.Io(
          s"implausible deletion-vector blob size ${d.contentSizeBytes} " +
            s"for ${d.path}@${d.contentOffset}")
      val bytes = DeleteFileCache.getOrLoad(
        d.path, d.sizeStamp, s"dv:${d.contentOffset}") {
        graft.io.FileIO.readBytesRange(d.path, d.contentOffset,
          d.contentSizeBytes.toInt, files.hadoopConf)
      }
      graft.io.Puffin.decodeDvBlob(bytes, s"${d.path}@${d.contentOffset}")
    }.orNull
    new DeadPositions(sorted, bitmap)
  }

  /** NORMALIZED data-file paths a position-delete file references —
    * plan-time scoping for the snapshot diff ([[TableReader.changes]]):
    * delete files are small, and reading their referenced paths once
    * (same "pos" cache slot the task readers use, so one parse per JVM
    * serves both) scopes a pos-delete commit to exactly the files it
    * touches instead of every older-or-equal common file. */
  private[graft] def posDeleteReferencedPaths(path: String,
      sizeBytes: Long): Set[String] = {
    import scala.jdk.CollectionConverters._
    DeleteFileCache.getOrLoad(path, sizeBytes, "pos") {
      parsePosDeleteFile(path, SparkFileReader())
    }.keySet.asScala.toSet
  }

  /** The columns of a position-delete file. */
  private[graft] val PosDeleteSchema = StructType(Seq(
    StructField("file_path", StringType), StructField("pos", LongType)))

  /** Parse one position-delete file completely: normalized data-file
    * path → its deleted ordinals, sorted ascending (enables the window
    * binary search above). Built once per file per JVM and shared
    * read-only across tasks. */
  private def parsePosDeleteFile(path: String, files: SparkFileReader)
      : java.util.HashMap[String, Array[Long]] = {
    val tmp = new java.util.HashMap[String, scala.collection.mutable.ArrayBuilder.ofLong]()
    requireColumns(path, PosDeleteSchema.fieldNames.toSeq, files)
    val r = files.rows(path, PosDeleteSchema)
    try while (r.next()) {
      val row = r.get()
      if (!row.isNullAt(0) && !row.isNullAt(1))
        tmp.computeIfAbsent(ScanPlanner.normalizePath(row.getUTF8String(0).toString),
          _ => new scala.collection.mutable.ArrayBuilder.ofLong) += row.getLong(1)
    } finally r.close()
    val out = new java.util.HashMap[String, Array[Long]](
      math.max(16, tmp.size() * 2))
    tmp.forEach { (k, b) =>
      val a = b.result(); java.util.Arrays.sort(a); out.put(k, a)
    }
    out
  }

  /** A delete file must store every column it is read by: Spark's reader
    * would read an absent one as null, which deletes nothing. */
  private def requireColumns(path: String, cols: Seq[String],
      files: SparkFileReader): Unit = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), files.hadoopConf))
    val schema = try r.getFooter.getFileMetaData.getSchema finally r.close()
    val missing = cols.filterNot(schema.containsField)
    if (missing.nonEmpty) throw CompactionError.Config(
      s"columns ${missing.mkString(", ")} absent from $path " +
        "(file/metadata schema drift — was the file replaced outside a commit?)")
  }

  /** First index in sorted `a` whose value is ≥ `target`. */
  private def lowerBound(a: Array[Long], target: Long): Int = {
    var lo = 0; var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid) < target) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** One equality-delete file's keys: its current key column names and
    * the set of non-null keys, as [[EqKeyProbe]] compares them. */
  private[graft] final case class EqKeys(columns: Seq[String],
      set: java.util.HashSet[org.apache.spark.sql.catalyst.expressions.UnsafeRow])

  /** Per applicable equality-delete file, its [[EqKeys]]: read through
    * Spark's reader under the DELETE file's physical names, typed by the
    * current schema (`readTypes`), so a key written before a widen reads
    * widened. Keys containing null are dropped — they can never match
    * (`===` anti-join semantics) — and files whose set comes out empty
    * are dropped wholesale. Callers pre-filter files keyed on columns
    * the data file lacks. */
  private[graft] def loadEqKeySets(eqDeletes: Seq[EqDeleteSpec],
      readTypes: Map[String, DataType],
      files: SparkFileReader): Seq[EqKeys] =
    eqDeletes.map { e =>
      val curNames = e.keyCols.map(_._1)
      val types = curNames.map { c =>
        readTypes.getOrElse(c, throw CompactionError.Config(
          s"equality-delete column $c not in table schema"))
      }
      // parse-once-per-JVM: the variant pins the key mapping AND the
      // read types, so the same file scanned under an evolved schema
      // (different current names or types) loads its own entry. The
      // cached set is probed concurrently by tasks — never mutated.
      val variant = "eq:" +
        e.keyCols.map { case (c, p) => s"$c=$p" }.mkString(",") + ";" +
        types.map(_.catalogString).mkString(",")
      val set = DeleteFileCache.getOrLoad(e.path, e.sizeBytes, variant) {
        val s = new java.util.HashSet[org.apache.spark.sql.catalyst.expressions.UnsafeRow]()
        val keyOf = EqKeyProbe.keyOf(types)
        requireColumns(e.path, e.keyCols.map(_._2), files)
        val r = files.rows(e.path, StructType(e.keyCols.map(_._2).zip(types)
          .map { case (phys, t) => StructField(phys, t) }))
        try while (r.next()) {
          val k = keyOf(r.get())
          if (k != null) s.add(k)
        } finally r.close()
        s
      }
      EqKeys(curNames, set)
    }.filter(_.set.size() > 0)
}

/** One equality-delete file applicable to a task's data file. Keys are
  * carried as (current logical name, physical name in the delete file)
  * pairs — identical for un-evolved tables, id-translated through the
  * schema history otherwise (same semantics as
  * [[graft.plans.SchemaReconcile]]). */
final case class EqDeleteSpec(path: String, sequenceNumber: Long,
    keyCols: Seq[(String, String)],
    /** Committed file length from the snapshot — the [[DeleteFileCache]]
      * staleness stamp (delete files are immutable once committed). */
    sizeBytes: Long = -1L)

/** One position-delete file applicable to a task's data file, with its
  * committed length as the [[DeleteFileCache]] staleness stamp. */
final case class PosDeleteSpec(path: String, sizeBytes: Long = -1L)

/** The deletion vector applicable to a task's data file — at most ONE
  * per data file (the invariant the write path maintains by OR-merging
  * bitmaps before commit). `path` is the Puffin container; the blob's
  * byte address comes from snapshot metadata, so the task does one
  * ranged read of exactly its own vector. `sizeStamp` is the
  * container's committed length ([[DeleteFileCache]] staleness). */
final case class DvSpec(path: String, contentOffset: Long,
    contentSizeBytes: Long, sizeStamp: Long = -1L)

/** One data file plus exactly the delete files that can affect it.
  * `columnMap` resolves each CURRENT column to its physical name in
  * THIS file (None = the file predates the column → null-fill), so a
  * read straddling renames/adds/drops needs no join or union — the task
  * reads the file under its physical names ([[DeleteFilter]]).
  *
  * A LARGE file is split into several partitions over row-group-aligned
  * byte ranges: `[rangeStart, rangeEnd)` selects the row groups whose
  * midpoint falls inside (parquet's file-range rule). Rows keep their
  * file-absolute position (Spark's row index); `baseOrdinal` is the
  * count of rows in all PRECEDING row groups, which only windows the
  * position deletes a split loads. */
final case class GraftMorPartition(
    dataPath: String,
    dataSeq: Long,
    posDeletes: Seq[PosDeleteSpec],
    eqDeletes: Seq[EqDeleteSpec],
    /** This data file's deletion vector, if the snapshot carries one. */
    dv: Option[DvSpec] = None,
    columnMap: Map[String, Option[String]],
    rangeStart: Long = 0L,
    rangeEnd: Long = Long.MaxValue,
    baseOrdinal: Long = 0L,
    /** Exclusive upper ordinal of this split (row count of its chunk's
      * groups added to `baseOrdinal`) — bounds the position-delete
      * ordinals the split's reader needs to hold in memory. */
    ordinalEnd: Long = Long.MaxValue,
    /** Pushed filters, for ROW-GROUP statistics skipping in Spark's
      * parquet reader ([[DeleteFilter]]). Purely an optimization:
      * every filter is also re-applied by Spark above the scan. */
    filters: Seq[org.apache.spark.sql.sources.Filter] = Nil,
    /** Initial-DEFAULT fills for current columns THIS file predates
      * (current name → canonical literal text,
      * [[graft.core.ColumnDefaults]]): the reader emits the constant
      * instead of null, and equality-delete keys on such columns
      * compare against it — default-filled rows behave exactly like
      * physically-stored ones. Columns absent here AND from
      * `columnMap` null-fill as before. */
    defaultFill: Map[String, String] = Map.empty
) extends InputPartition

/** A [[GraftMorPartition]] stamped with its typed partition key — the
  * `HasPartitionKey` surface Spark groups by when the scan reports
  * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
  * (storage-partitioned joins). `keyVals` are Catalyst-typed values
  * (Long / Int / UTF8String / null) in partition-spec order, matching
  * the reported clustering expressions' evaluated types; splits of one
  * file share one key, and Spark's own grouping coalesces them. */
final case class GraftMorKeyedPartition(
    inner: GraftMorPartition,
    keyVals: Array[Any]
) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(keyVals)
}

final class GraftScanBuilder(
    tableDir: String,
    tableSchema: StructType,
    asOfVersion: Option[Long],
    catalog: TableCatalog,
    // streaming options, threaded through to the micro-batch stream
    startingVersion: String,
    skipDeletes: Boolean,
    /** Set when this scan drives a row-level operation
      * ([[graft.sinks.GraftRowLevelOperation]]): the planned file set is
      * reported back so the copy-on-write commit replaces exactly the
      * groups that were read. */
    cowOwner: Option[graft.sinks.RowLevelScanOwner] = None,
    splitTargetBytes: Long = GraftBatchScan.DefaultSplitTargetBytes,
    /** Escape hatch (`.option("vectorizedRead", false)`): force Spark's
      * parquet-mr row reader even where its batch gate would allow
      * batches. */
    vectorizedRead: Boolean = true,
    /** Streaming CDC mode ([[graft.streaming.ChangelogStream]]). */
    changelog: Boolean = false,
    /** Transformed partition-value pruning handed down by the table
      * ([[graft.streaming.GraftTable]]'s `partitionFieldCandidates`). */
    partitionFieldCandidates: Map[String, Set[String]] = Map.empty,
    /** The data files the table holds for this scan
      * ([[graft.streaming.GraftTable]]'s `dataFileScope`). */
    dataFileScope: Option[Set[String]] = None
) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var requiredSchema: StructType = tableSchema
  private var includeFileColumn: Boolean = false
  private var includePosColumn: Boolean = false
  private var pushed: Array[sources.Filter] = Array.empty
  private var pushedAgg: Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] = None
  private var pushedLimitN: Int = -1
  private var pushedTopNCol: Option[(String, Boolean)] = None // (col, descending)

  /** LIMIT / TopN pushdown — PARTIAL always (Spark keeps its limit/sort
    * on top; the scan only sheds provably-irrelevant FILES, per
    * [[ScanPruning.truncateForLimit]] / [[ScanPruning.truncateForTopN]]).
    * Spark only pushes a limit when nothing between it and the relation
    * can drop rows, so no filter can invalidate the row guarantee; the
    * `pushed.isEmpty` check is belt-and-braces (this builder keeps every
    * filter residual, so a filtered query retains a Filter node and
    * never reaches here). Truncation soundness is re-decided at plan
    * time against the snapshot — accepting here only grants permission. */
  override def pushLimit(limit: Int): Boolean = {
    if (cowOwner.nonEmpty || changelog || pushed.nonEmpty || limit <= 0) false
    else { pushedLimitN = limit; true }
  }

  override def isPartiallyPushed(): Boolean = true

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    if (cowOwner.nonEmpty || changelog || pushed.nonEmpty || limit <= 0 ||
        orders.isEmpty) return false
    // the LEADING key alone decides file relevance (strict inequality on
    // it decides any longer lexicographic ordering); only the default
    // null placements are sound for the truncation rules
    val o = orders.head
    val colName = o.expression() match {
      case nr: NamedReference if nr.fieldNames().length == 1 =>
        Some(nr.fieldNames()(0))
      case _ => None
    }
    val desc = o.direction() == SortDirection.DESCENDING
    val nullsOk =
      (!desc && o.nullOrdering() == NullOrdering.NULLS_FIRST) ||
        (desc && o.nullOrdering() == NullOrdering.NULLS_LAST)
    val typeOk = colName.exists(c => tableSchema.fields.exists(f =>
      f.name == c && (f.dataType match {
        case LongType | IntegerType | ShortType | DateType => true
        case d: DecimalType => d.precision <= 18
        case _ => false
      })))
    if (nullsOk && typeOk) {
      pushedTopNCol = Some((colName.get, desc)); pushedLimitN = limit; true
    } else false
  }

  /** Metadata-only COUNT(*)/MIN/MAX ([[MetadataAgg]]). Spark only
    * attempts aggregate pushdown when no post-scan filters remain —
    * and every filter this builder accepts stays a residual — so the
    * `pushed.isEmpty` guard is belt-and-braces. Both entry points
    * recompute (Spark may probe completeness with a different
    * translation than it finally pushes); tryCompute is deterministic
    * per aggregation, so last-call-wins is safe. */
  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[org.apache.spark.sql.catalyst.InternalRow])] =
    // changelog mode: a metadata COUNT would count LIVE rows, not
    // change rows — fall through to the (refusing) batch path instead
    if (cowOwner.nonEmpty || pushed.nonEmpty || changelog) None
    else
      try MetadataAgg.tryCompute(agg, GraftBatchScan.scopedSnapshot(
        TableReader.snapshot(tableDir, asOfVersion, catalog), dataFileScope),
        tableSchema)
      catch { case scala.util.control.NonFatal(_) => None }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = computeAgg(agg)
    pushedAgg.isDefined
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = computeAgg(agg)
    pushedAgg.isDefined
  }

  override def pruneColumns(required: StructType): Unit = {
    // preserve TABLE column order (parquet projection order must be a
    // sub-sequence of the file schema); Spark reorders above if needed.
    // `_file` / `_pos` are metadata columns (emitted by the reader, not
    // read from parquet) — track them separately.
    includeFileColumn = required.fieldNames.contains(GraftBatchScan.FileColumn)
    includePosColumn = required.fieldNames.contains(GraftBatchScan.PosColumn)
    requiredSchema = StructType(
      tableSchema.fields.filter(f => required.fieldNames.contains(f.name)))
  }

  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    // Inexact pushdown (reference P2): keep what file-pruning can use
    // (integral bounds, exact-equality literals the partition
    // transforms can hash, or null predicates the null-count stamps
    // decide), hand EVERYTHING back to Spark to re-apply
    pushed = filters.filter { f =>
      lazy val nulls = ScanPruning.nullPredicateCols(Seq(f))
      boundsOf(Seq(f)).nonEmpty || equalityCandidates(Seq(f)).nonEmpty ||
        ScanPruning.stringConstraints(Seq(f), stringCols).nonEmpty ||
        nulls._1.nonEmpty || nulls._2.nonEmpty
    }
    filters
  }

  private lazy val stringCols: Set[String] =
    GraftBatchScan.stringColsOf(tableSchema)
  override def pushedFilters(): Array[sources.Filter] = pushed

  /** column → exact literal values allowed by `filters` (EqualTo / In,
    * conjunctions included) — the inputs of transform-aware partition
    * pruning ([[PartitionPruning]]). */
  private def equalityCandidates(
      filters: Seq[sources.Filter]): Map[String, Seq[Any]] =
    filters.foldLeft(Map.empty[String, Seq[Any]]) { (acc, f) =>
      val m: Map[String, Seq[Any]] = f match {
        case sources.EqualTo(a, v) => Map(a -> Seq(v))
        case sources.In(a, vs)     => Map(a -> vs.toSeq)
        case sources.And(l, r)     => equalityCandidates(Seq(l, r))
        case _                     => Map.empty
      }
      // conjunction: a column constrained twice keeps the TIGHTER set
      m.foldLeft(acc) { case (a, (k, vs)) =>
        a.get(k) match {
          case Some(prev) => a + (k -> prev.intersect(vs))
          case None       => a + (k -> vs)
        }
      }
    }

  private lazy val colTypes: Map[String, DataType] =
    tableSchema.fields.map(f => f.name -> f.dataType).toMap
  private def boundsOf(filters: Seq[sources.Filter]): ScanPruning.Bounds =
    ScanPruning.filterBounds(filters, colTypes)

  override def build(): Scan = pushedAgg match {
    case Some((schema, rows)) => new GraftAggScan(schema, rows, tableDir)
    case None =>
      new GraftScan(tableDir, tableSchema, requiredSchema, boundsOf(pushed.toSeq),
        asOfVersion, catalog, startingVersion, skipDeletes,
        includeFileColumn, cowOwner, splitTargetBytes, includePosColumn,
        vectorizedRead, equalityCandidates(pushed.toSeq), pushed.toSeq,
        changelog = changelog, pushedLimit = pushedLimitN,
        pushedTopN = pushedTopNCol,
        partitionFieldCandidates = partitionFieldCandidates,
        dataFileScope = dataFileScope)
  }
}

final class GraftScan(
    tableDir: String,
    tableSchema: StructType,
    requiredSchema: StructType,
    pruneBounds: ScanPruning.Bounds,
    asOfVersion: Option[Long],
    catalog: TableCatalog,
    startingVersion: String,
    skipDeletes: Boolean,
    includeFileColumn: Boolean = false,
    cowOwner: Option[graft.sinks.RowLevelScanOwner] = None,
    splitTargetBytes: Long = GraftBatchScan.DefaultSplitTargetBytes,
    includePosColumn: Boolean = false,
    vectorizedRead: Boolean = true,
    pushedEqCandidates: Map[String, Seq[Any]] = Map.empty,
    /** The pushed `sources.Filter`s verbatim — shipped to every task for
      * row-group statistics skipping in Spark's parquet reader. */
    pushedSourceFilters: Seq[sources.Filter] = Nil,
    /** Streaming CDC mode ([[graft.streaming.ChangelogStream]]):
      * microbatches emit change rows; batch reads refuse. */
    changelog: Boolean = false,
    /** Pushed `LIMIT n` (−1 = none): permission to plan only files whose
      * guaranteed live rows cover n ([[ScanPruning.truncateForLimit]]).
      * Partial pushdown — Spark's own limit still runs on top. */
    pushedLimit: Int = -1,
    /** Pushed `ORDER BY col [DESC] LIMIT n` leading key: file truncation
      * by stamped bounds ([[ScanPruning.truncateForTopN]]). */
    pushedTopN: Option[(String, Boolean)] = None,
    partitionFieldCandidates: Map[String, Set[String]] = Map.empty,
    /** Data-file scope ([[GraftBatchScan.scopedSnapshot]]). */
    dataFileScope: Option[Set[String]] = None
) extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering with SupportsReportPartitioning
    with SupportsReportOrdering {

  override def readSchema(): StructType = {
    var fields = requiredSchema.fields
    if (includeFileColumn) fields = fields :+
      StructField(GraftBatchScan.FileColumn, StringType, nullable = false)
    if (includePosColumn) fields = fields :+
      StructField(GraftBatchScan.PosColumn, LongType, nullable = false)
    StructType(fields)
  }
  override def toBatch: Batch = {
    if (changelog) throw CompactionError.Config(
      "changelog=true is a streaming read mode (readStream); the batch " +
        "CDC read is TableReader.changelog()")
    this
  }
  /** What reached the scan, for `explain`: the pinned version and the
    * pushed filters (all of them stay residual above the scan),
    * redacted and with the filter list cut to
    * `spark.sql.maxMetadataStringLength`, as Spark's file scans print
    * theirs. */
  override def description(): String = {
    val filters = org.apache.commons.lang3.StringUtils.abbreviate(
      pushedSourceFilters.mkString("[", ", ", "]"),
      org.apache.spark.sql.internal.SQLConf.get.maxMetadataStringLength)
    org.apache.spark.sql.graftbridge.DatasetBridge.redact(
      s"graft MoR $tableDir${asOfVersion.fold("")(v => s" @v$v")} " +
        s"PushedFilters: $filters")
  }

  /** Runtime filtering (the DSv2 analog of dynamic partition pruning):
    * when a graft table is joined to a selective side, Spark executes
    * that side first and hands the join-key values back here as `In`
    * filters BEFORE tasks launch — each value set collapses to a
    * per-file footer-stats membership test, so a 100 TB fact table
    * joined to a pruned dimension scans only the files that can match.
    * Integral columns only (the same conservative envelope as
    * [[ScanPruning]]); anything else keeps every file. Spark resolves
    * these against the scan's pruned OUTPUT, so they must come from
    * `requiredSchema`, never the full table schema. The `_file`
    * metadata column (when projected) is also filterable — row-level
    * operations group-filter on it, and an `In(_file, …)` collapses to
    * an EXACT path-set selection with no footer reads at all. */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // string/date identity partitions benefit from transform pruning
    // too, so they are exposed alongside the integral columns (the
    // footer-stat path below simply ignores what it cannot compare)
    val dataCols = requiredSchema.fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == ShortType || f.dataType == StringType ||
        f.dataType == DateType =>
        org.apache.spark.sql.connector.expressions.Expressions.column(f.name)
    }
    if (includeFileColumn)
      dataCols :+ org.apache.spark.sql.connector.expressions.Expressions
        .column(GraftBatchScan.FileColumn)
    else dataCols
  }

  @volatile private var runtimeInSets: Map[String, Array[Long]] = Map.empty
  @volatile private var runtimeEqCandidates: Map[String, Seq[Any]] = Map.empty
  @volatile private var runtimePathSet: Option[Set[String]] = None

  override def filter(filters: Array[sources.Filter]): Unit = {
    // integral view of a runtime value set — feeds FOOTER-STAT pruning,
    // so dates map to their epoch-day stats domain; strings drop out
    def longs(vs: Array[Any]): Option[Array[Long]] = {
      val out = vs.flatMap {
        case i: Int => Some(i.toLong); case l: Long => Some(l)
        case s: Short => Some(s.toLong); case null => None
        case d: java.sql.Date => Some(
          org.apache.spark.sql.catalyst.util.DateTimeUtils.fromJavaDate(d).toLong)
        case d: java.time.LocalDate => Some(d.toEpochDay)
        case _ => return None // unusable for stats comparison
      }
      Some(out)
    }
    runtimePathSet = filters.collectFirst {
      case sources.In(attr, vs) if attr == GraftBatchScan.FileColumn =>
        vs.collect { case s: String => ScanPlanner.normalizePath(s) }.toSet
      case sources.EqualTo(attr, v: String) if attr == GraftBatchScan.FileColumn =>
        Set(ScanPlanner.normalizePath(v))
    }
    val sets = filters.collect {
      case sources.In(attr, vs) if attr != GraftBatchScan.FileColumn =>
        attr -> vs
      case sources.EqualTo(attr, v) if attr != GraftBatchScan.FileColumn =>
        attr -> Array(v)
    }
    runtimeInSets = sets.flatMap { case (a, vs) => longs(vs).map(a -> _) }.toMap
    // raw values for TRANSFORM pruning (PartitionPruning coerces per
    // column type; null candidates can never equal a partition value)
    runtimeEqCandidates = sets
      .map { case (a, vs) => a -> vs.filter(_ != null).toSeq }
      .filter(_._2.nonEmpty).toMap
  }

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new graft.streaming.GraftMicroBatchStream(
      tableDir, tableSchema, startingVersion, skipDeletes, catalog,
      changelog = changelog)

  private lazy val snap: TableSnapshot = GraftBatchScan.scopedSnapshot(
    TableReader.snapshot(tableDir, asOfVersion, catalog), dataFileScope)

  /** Footer stats are keyed by PHYSICAL column names, so pruning only
    * applies to files written under the current schema; older files
    * always survive. */
  private def pruneGuarded(data: Seq[FileEntry],
      prune: Seq[FileEntry] => Seq[FileEntry]): Seq[FileEntry] = {
    val (pr, keep) = data.partition(snap.isCurrentSchema)
    prune(pr) ++ keep
  }

  private lazy val partSpec: Seq[graft.core.PartitionTransform] =
    graft.core.PartitionSpecCodec.of(Some(snap))
  /** Per-file spec resolution for spec-evolved tables (identical to
    * partSpec for every file on a never-evolved table). */
  private lazy val specForFile: FileEntry => Seq[graft.core.PartitionTransform] =
    graft.core.PartitionSpecCodec.specForFile(Some(snap))
  /** Whether ANY spec can prune here: the current one, or — after an
    * evolution to unpartitioned — an OLD spec some files still carry
    * (their partitioned names prune under their own layout even though
    * the current spec is empty). */
  private lazy val anySpecPrunes: Boolean =
    partSpec.nonEmpty ||
      snap.properties.contains(graft.core.PartitionSpecCodec.HistoryProperty)
  private lazy val colTypes: Map[String, DataType] =
    tableSchema.fields.map(f => f.name -> f.dataType).toMap
  /** String columns eligible for byte-bound pruning — the ONE shared
    * definition ([[GraftBatchScan.stringColsOf]]), so the pushdown,
    * plan-time, and runtime paths can never diverge. */
  private lazy val scanStringCols: Set[String] =
    GraftBatchScan.stringColsOf(tableSchema)
  /** analyze_table NDVs, hash-validated ONCE per scan — the file-set
    * digest is O(files) and estimateStatistics can run several times
    * per planning pass. */
  private lazy val cachedNdv: Map[String, Long] =
    graft.txn.TableAnalyze.currentNdv(snap)
  private lazy val cachedHist: Map[String, graft.txn.TableAnalyze.Hist] =
    graft.txn.TableAnalyze.exactHistograms(snap)

  private lazy val staticPrunedDataFiles: Seq[FileEntry] = {
    // caller-transformed partition candidates are valid ONLY under the
    // CURRENT spec: bucket(8)'s "4" is not bucket(16)'s "4", so files
    // written under another spec are kept
    val data = PartitionPruning.pruneByFieldValues(
      snap.files.filter(_.content == "data"), partitionFieldCandidates,
      prunable = f => specForFile(f) == partSpec)
    // transform-aware partition pruning first: name-parse only, no IO;
    // per-file spec resolution handles spec-evolved tables
    val partPruned =
      if (!anySpecPrunes || pushedEqCandidates.isEmpty) data
      else PartitionPruning.prunePerFile(data, specForFile,
        pushedEqCandidates, colTypes)
    val boundsPruned =
      if (pruneBounds.isEmpty) partPruned
      else pruneGuarded(partPruned,
        ScanPruning.pruneDataFilesWithBounds(_, pruneBounds,
          // boundsOf expressed these columns' bounds in unscaled space
          tableSchema.fields.collect {
            case f if f.dataType.isInstanceOf[DecimalType] => f.name
          }.toSet))
    // string bounds (base64 byte stamps) answer string predicates —
    // equality/In/range/StartsWith — from snapshot metadata alone
    val strCs = ScanPruning.stringConstraints(pushedSourceFilters, scanStringCols)
    val strPruned =
      if (strCs.isEmpty) boundsPruned
      else pruneGuarded(boundsPruned,
        ScanPruning.pruneDataFilesWithStringBounds(_, strCs))
    // null-count stamps answer IS [NOT] NULL predicates metadata-only
    val (isNullCols, isNotNullCols) =
      ScanPruning.nullPredicateCols(pushedSourceFilters)
    if (isNullCols.isEmpty && isNotNullCols.isEmpty) strPruned
    else pruneGuarded(strPruned,
      ScanPruning.pruneDataFilesWithNullCounts(_, isNullCols, isNotNullCols))
  }

  /** The data files this scan keeps after static pruning, before pushed
    * LIMIT/TopN truncation and runtime filtering — what a pruning
    * self-assert compares against the unfiltered scan. */
  private[graft] def plannedDataFiles: Seq[FileEntry] = staticPrunedDataFiles

  /** True when NO delete (position / vector / later-sequence equality)
    * can remove rows from `f` — the gate for counting its full
    * `recordCount` toward a pushed-limit guarantee. */
  private lazy val cleanOfDeletes: FileEntry => Boolean = {
    val hasPos = snap.files.exists(_.content == "position-deletes")
    val dvRefs = snap.files.filter(_.content == "deletion-vectors")
      .flatMap(_.referencedDataFile).map(ScanPlanner.normalizePath).toSet
    val eqs = snap.files.filter(_.content == "equality-deletes")
    f =>
      !hasPos && !dvRefs.contains(ScanPlanner.normalizePath(f.path)) &&
        eqs.forall(e => e.sequenceNumber <= f.sequenceNumber ||
          (snap.isCurrentSchema(e) && snap.isCurrentSchema(f) &&
            !ScanPruning.eqDeleteMayApply(e, f)))
  }

  /** The planned file set: static pruning plus pushed LIMIT/TopN file
    * truncation. The truncated set feeds EVERY consumer — partitioning
    * and ordering reports, statistics, task planning — so the reports
    * stay mutually consistent (see the co-occurrence note in
    * [[planInputPartitions]] for why runtime join filters can never
    * invalidate a pushed limit's row guarantee). */
  private lazy val prunedDataFiles: Seq[FileEntry] = {
    val base = staticPrunedDataFiles
    if (pushedLimit <= 0 || changelog || cowOwner.nonEmpty) base
    else {
      val truncated = pushedTopN match {
        case Some((c, desc)) => ScanPruning.truncateForTopN(
          base, c, desc, pushedLimit.toLong, cleanOfDeletes,
          snap.isCurrentSchema)
        case None => ScanPruning.truncateForLimit(
          base, pushedLimit.toLong, cleanOfDeletes)
      }
      truncated.getOrElse(base)
    }
  }

  /** Storage-partitioned-join surface: the clustering expressions plus
    * each data file's TYPED partition key, parsed from the fanout
    * layout the writers stamped (file-name prefix / `__p_` dirs) — no
    * IO. Defined only when the whole spec is join-expressible (identity
    * over integral/string/date sources, bucket over hashable sources)
    * AND every pruned data file parses to a full key; one un-keyed file
    * (a pre-partitioning append) disables the report, never corrupts
    * it. Values are Catalyst-typed to match what Spark evaluates the
    * clustering expressions to: identity → the column's value domain,
    * bucket → the int bucket ordinal. The rendered-string round-trip is
    * identical on both sides of a join (one shared renderer), so
    * sanitization collisions cost only co-grouping — the join condition
    * still compares real values.
    *
    * Always reported when available: the physical grouping (and thus
    * any parallelism trade) only happens once the user opts in via
    * `spark.sql.sources.v2.bucketing.enabled`, and Catalyst drops the
    * report gracefully when the partition source column is pruned from
    * the scan output or the function catalog is absent. */
  private lazy val spjKeys: Option[(
      Array[org.apache.spark.sql.connector.expressions.Expression],
      Map[String, Array[Any]])] = {
    import graft.core.{BucketTransform, IdentityTransform, PartitionKey}
    import org.apache.spark.sql.connector.expressions.{Expressions => XE}
    // spec-evolved tables: an old-spec file's rendered fields can ALIAS
    // the current spec's field names (bucket(4) and bucket(8) both
    // render `c_bucket=k`) — reporting its key as a current-spec value
    // would co-group rows wrongly. Disable the report until compaction
    // migrates every file to the current spec.
    val curSpecId = graft.core.PartitionSpecCodec.currentId(Some(snap))
    val mixedSpecs = snap.properties
      .contains(graft.core.PartitionSpecCodec.HistoryProperty) &&
      prunedDataFiles.exists(f => math.max(f.specId, 0L) != curSpecId)
    if (partSpec.isEmpty || mixedSpecs) None
    else {
      val exprs = partSpec.map {
        case IdentityTransform(c) => colTypes.get(c).collect {
          case LongType | IntegerType | ShortType | StringType | DateType =>
            XE.column(c): org.apache.spark.sql.connector.expressions.Expression
        }
        case BucketTransform(n, c)
            if colTypes.get(c).exists(graft.sql.GraftV2Functions.bucketSupported) =>
          Some(XE.bucket(n, c): org.apache.spark.sql.connector.expressions.Expression)
        case _ => None
      }
      if (exprs.exists(_.isEmpty)) None
      else {
        def typed(t: graft.core.PartitionTransform, raw: String): Option[Any] =
          if (raw == "null") Some(null)
          else t match {
            case IdentityTransform(c) => colTypes(c) match {
              case LongType => raw.toLongOption
              case IntegerType => raw.toIntOption
              case ShortType => raw.toShortOption
              case StringType => Some(UTF8String.fromString(raw))
              case DateType =>
                try Some(java.time.LocalDate.parse(raw).toEpochDay.toInt)
                catch { case _: java.time.format.DateTimeParseException => None }
              case _ => None
            }
            case BucketTransform(_, _) => raw.toIntOption
            case _ => None
          }
        val byPath = prunedDataFiles.map { f =>
          val fields = PartitionKey.parse(f.path)
          val key = partSpec.map(t => fields.get(t.fieldName).flatMap(typed(t, _)))
          f.path -> (if (key.exists(_.isEmpty)) null
                     else key.map(_.get).toArray)
        }
        if (byPath.exists(_._2 == null)) None
        else Some((exprs.map(_.get).toArray, byPath.toMap))
      }
    }
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjKeys match {
      case Some((exprs, byPath)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          exprs, byPath.values.map(_.toSeq).toSet.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** Sorted-scan report ([[SupportsReportOrdering]]): when every
    * surviving data file carries the SAME non-empty physical-order stamp
    * ([[graft.txn.FileEntry.sortedBy]] — written only by provably-sorted
    * writers), the scan's partitions are each sorted by it, and Spark
    * can ELIDE sorts downstream: a merge join over two co-bucketed,
    * co-sorted tables runs with no exchange AND no sort (the full
    * sorted-bucket-table fast path), and an ORDER BY over a compacted
    * single-file table collapses to the bare scan. The claim is
    * per-RDD-partition, so it must survive every partitioning step:
    *
    *  - each input partition is one file (or one contiguous row-group
    *    range of one file) — a filter-only reader never reorders rows,
    *    and delete application (pos/eq/DV) is a filter;
    *  - under SPJ key-grouping Spark may CONCATENATE same-key splits
    *    into one partition, so the report additionally requires one
    *    file per partition key, small enough not to split — compaction
    *    produces exactly that layout;
    *  - files written under an older schema (stamp names may alias) or
    *    without a stamp disable the report — declaring a write order on
    *    a table with pre-existing unsorted files stays honest until
    *    compaction rewrites them.
    *
    * The reported prefix stops at the first column missing from the
    * pruned output (a file sorted by (a, b) is sorted by (a)). */
  private lazy val orderingReport
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions => XE, SortDirection}
    val files = prunedDataFiles
    val stamp = files.headOption.map(_.sortedBy).getOrElse("")
    val uniform = stamp.nonEmpty && files.forall(f =>
      f.sortedBy == stamp && snap.isCurrentSchema(f))
    if (changelog || !uniform) Array.empty
    else {
      val groupedSafe = spjKeys match {
        case None => true // one RDD partition per file split
        case Some((_, byPath)) =>
          // key-grouping may merge same-key splits: require exactly one
          // unsplit file per key so a group is one sorted run
          byPath.values.map(_.toSeq).groupBy(identity).forall(_._2.size == 1) &&
            files.forall(_.sizeBytes <= splitTargetBytes)
      }
      if (!groupedSafe) Array.empty
      else {
        val out = requiredSchema.fieldNames.toSet
        graft.core.WriteOrderCodec.decode(stamp)
          .takeWhile(f => out.contains(f.column))
          .map(f => XE.sort(XE.column(f.column),
            if (f.descending) SortDirection.DESCENDING
            else SortDirection.ASCENDING))
          .toArray
      }
    }
  }

  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    orderingReport

  /** Per-task position-delete scoping: [[graft.compaction
    * .DeleteCompaction]] lands position deletes SORTED by (file_path,
    * pos), so each delete file's footer carries a tight file_path
    * [min, max] — a task only loads the delete files whose range can
    * contain its data path. One driver-side footer read per delete
    * file, memoized across planning calls; a file without trustworthy
    * stats (or whose paths use a non-plain-absolute form the range test
    * cannot compare safely) is kept for every task — conservative,
    * never wrong. */
  private lazy val posDeleteRanges
      : Seq[(PosDeleteSpec, Option[(Array[Byte], Array[Byte])])] =
    snap.files.filter(_.content == "position-deletes")
      .sortBy(_.path)
      .map { f =>
        PosDeleteSpec(f.path, f.sizeBytes) ->
          (try ParquetStats.stringRange(f.path, "file_path") catch {
            case _: Exception => None
          })
      }

  /** Deletion vectors resolve to their data file EXACTLY from snapshot
    * metadata (`referencedDataFile`) — zero footer IO, unlike the
    * parquet path-range scoping above. At most one per data file; a
    * snapshot violating that invariant (e.g. hand-edited, or two
    * spellings of one path normalizing together) must fail the read
    * loudly — a silent last-wins map would drop the other vector's
    * deletes and resurrect rows. */
  private lazy val dvByData: Map[String, DvSpec] = {
    val pairs = snap.files.filter(_.content == "deletion-vectors").map { f =>
      ScanPlanner.normalizePath(f.referencedDataFile.getOrElse(
        throw CompactionError.Config(
          s"deletion-vector entry ${f.path} lacks a referenced data file"))) ->
        DvSpec(f.path, f.contentOffset, f.contentSizeBytes, f.sizeBytes)
    }
    pairs.groupBy(_._1).find(_._2.size > 1).foreach { case (ref, vs) =>
      throw CompactionError.Config(
        s"${vs.size} deletion vectors reference data file $ref " +
          s"(${vs.map(_._2.path).mkString(", ")}); the snapshot violates " +
          "the one-vector-per-file invariant")
    }
    pairs.toMap
  }

  private def posDeletesFor(d: FileEntry): Seq[PosDeleteSpec] = {
    val key = ScanPlanner.normalizePath(d.path)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    posDeleteRanges.collect {
      case (p, Some((mn, mx)))
        if mn.headOption.contains('/'.toByte) && mx.headOption.contains('/'.toByte) =>
        if (ParquetStats.unsignedLe(mn, key) && ParquetStats.unsignedLe(key, mx))
          Some(p)
        else None
      case (p, _) => Some(p) // no usable stats -> every task keeps it
    }.flatten
  }

  /** Metadata-only estimate: bytes of surviving data files; rows net of
    * position deletes (equality-delete selectivity is unknowable without
    * reading keys — leaving it out overestimates, which only errs on the
    * safe side of a broadcast decision). Position deletes are subtracted
    * only for an UNPRUNED, unscoped scan — decided by comparing the
    * surviving file set against the snapshot's, so EVERY pruning
    * mechanism (bounds, partition, null-count) disables the subtraction:
    * after file pruning or scoping the deletes targeting left-out files
    * would deflate the estimate below the truth, and an underestimate is
    * the dangerous direction (it invites broadcasting a large side). */
  override def estimateStatistics(): Statistics = {
    val bytes = prunedDataFiles.map(_.sizeBytes).sum
    val posDeleted =
      if (dataFileScope.nonEmpty ||
          prunedDataFiles.size != snap.files.count(_.content == "data")) 0L
      else snap.files.filter(f => f.content == "position-deletes" ||
          f.content == "deletion-vectors")
        .map(_.recordCount).sum
    val rows = math.max(0L, prunedDataFiles.map(_.recordCount).sum - posDeleted)
    val colStats = columnStatsFromStamps(prunedDataFiles)
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.of(rows)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
        colStats
    }
  }

  /** Per-column CBO statistics straight from the write-time stamps —
    * min/max of the integral/date columns and null counts, merged
    * across the surviving files at plan time with ZERO file IO (the
    * DSv2 `columnStats` surface; Spark's cost-based join planning
    * consumes them when `spark.sql.cbo.enabled` is on). A statistic is
    * reported only when EVERY surviving data file stamps it: a partial
    * sum understates, and an understated null count or shrunken range
    * skews selectivity the dangerous way. Bounds stay valid under
    * deletes (they only shrink the true range — a superset bound is
    * conservative); files written under older schemas stamp under
    * old names, so evolved tables simply report nothing for the
    * affected columns. */
  private def columnStatsFromStamps(files: Seq[FileEntry]): java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    if (files.isEmpty) return out
    // stamps are keyed by WRITE-time column names — a file written under
    // an older schema could alias a since-reused name to different data
    // (same guard every pruning path applies via pruneGuarded); one such
    // file in scope suppresses all column statistics
    if (files.exists(f => snap.schemas.nonEmpty && f.schemaId >= 0 &&
        f.schemaId != snap.schemaId)) return out
    // write-time null counts cannot see later MoR deletes — with any
    // delete in the snapshot a stamped sum may exceed the reported
    // numRows (nullPercent > 1 skews CBO selectivity the dangerous
    // way), so suppress null counts; min/max stay (deletes only shrink
    // the true range — a superset bound is conservative)
    val nullsSafe = !snap.files.exists(_.content != "data")
    // analyze_table NDVs: exact-file-set-guarded (TableAnalyze), and
    // only for an UNPRUNED scan — table-level distinct counts over a
    // pruned subset overstate, which undersizes join outputs
    val unpruned = files.size == snap.files.count(_.content == "data")
    val ndv: Map[String, Long] = if (unpruned) cachedNdv else Map.empty
    // analyze-time equi-height histograms, same exact-file-set guard
    // and same no-pruned-subset rule (a table-level distribution over
    // a pruned scan misstates selectivity)
    val hist: Map[String, graft.txn.TableAnalyze.Hist] =
      if (unpruned) cachedHist else Map.empty
    tableSchema.fields.foreach { fld =>
      val c = fld.name
      // internal-typed min/max objects per Catalyst convention
      def boxed(v: Long): Option[AnyRef] = fld.dataType match {
        case org.apache.spark.sql.types.LongType      => Some(Long.box(v))
        case org.apache.spark.sql.types.IntegerType   => Some(Int.box(v.toInt))
        case org.apache.spark.sql.types.DateType      => Some(Int.box(v.toInt))
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => Some(Long.box(v))
        case _                                        => None
      }
      val his = files.flatMap(f => FileEntry.loHi(f.bounds.getOrElse(c, Nil)))
      val minMax: Option[(AnyRef, AnyRef)] =
        if (his.size != files.size) None
        else for {
          lo <- boxed(his.map(_._1).min)
          hi <- boxed(his.map(_._2).max)
        } yield (lo, hi)
      val nulls: Option[Long] =
        if (!nullsSafe) None
        else {
          val ns = files.flatMap(f => FileEntry.longAt(f.nullCounts, c))
          if (ns.size != files.size) None else Some(ns.sum)
        }
      val distinct: Option[Long] = ndv.get(c)
      val histo: Option[graft.txn.TableAnalyze.Hist] = hist.get(c)
      if (minMax.isDefined || nulls.isDefined || distinct.isDefined ||
          histo.isDefined)
        out.put(Expressions.column(c), new ColumnStatistics {
          override def min(): java.util.Optional[Object] =
            minMax.fold(java.util.Optional.empty[Object]())(m =>
              java.util.Optional.of(m._1))
          override def max(): java.util.Optional[Object] =
            minMax.fold(java.util.Optional.empty[Object]())(m =>
              java.util.Optional.of(m._2))
          override def nullCount(): OptionalLong =
            nulls.fold(OptionalLong.empty())(OptionalLong.of)
          override def distinctCount(): OptionalLong =
            distinct.fold(OptionalLong.empty())(OptionalLong.of)
          override def histogram(): java.util.Optional[
              org.apache.spark.sql.connector.read.colstats.Histogram] =
            histo.fold(java.util.Optional.empty[
                org.apache.spark.sql.connector.read.colstats.Histogram]()) { h =>
              java.util.Optional.of(
                new org.apache.spark.sql.connector.read.colstats.Histogram {
                  override def height(): Double = h.height
                  override def bins(): Array[
                      org.apache.spark.sql.connector.read.colstats.HistogramBin] =
                    h.bins.map { case (l, u, n) =>
                      new org.apache.spark.sql.connector.read.colstats.HistogramBin {
                        override def lo(): Double = l
                        override def hi(): Double = u
                        override def ndv(): Long = n
                      }: org.apache.spark.sql.connector.read.colstats.HistogramBin
                    }.toArray
                })
            }
        })
    }
    out
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // Schema-history resolution (the per-task mirror of
    // [[SchemaReconcile]]): files written under older schemas get an
    // id-translated column map; un-evolved tables get identity maps.
    val byId = snap.schemas.map(s => s.schemaId -> s).toMap
    val current = snap.currentSchema
    def oldSchemaOf(schemaId: Long): Option[graft.core.TableSchema] =
      current.flatMap { cur =>
        if (schemaId < 0 || schemaId == cur.schemaId) None
        else Some(byId.getOrElse(schemaId, throw CompactionError.Config(
          s"file written under unknown schema id $schemaId (history: " +
            s"${snap.schemas.map(_.schemaId).mkString(", ")})")))
      }
    val identityMap: Map[String, Option[String]] =
      tableSchema.fieldNames.map(n => n -> Some(n)).toMap
    def columnMapFor(f: FileEntry): Map[String, Option[String]] =
      oldSchemaOf(f.schemaId) match {
        case None => identityMap
        case Some(old) => current.get.fields.map(fl =>
          fl.name -> old.fieldById.get(fl.id).map(_.name)).toMap
      }
    def defaultFillFor(f: FileEntry): Map[String, String] =
      oldSchemaOf(f.schemaId) match {
        case None => Map.empty
        case Some(old) => current.get.fields.collect {
          case fl if !old.fieldById.contains(fl.id) &&
              fl.initialDefault.isDefined =>
            fl.name -> fl.initialDefault.get
        }.toMap
      }
    def keyColsFor(e: FileEntry): Seq[(String, String)] =
      oldSchemaOf(e.schemaId) match {
        case None => e.equalityIds.map(n => (n, n))
        case Some(old) => e.equalityIds.map { n =>
          val id = old.idByName.getOrElse(n, throw CompactionError.Config(
            s"equality column '$n' of ${e.path} not in its schema ${e.schemaId}"))
          val cur = current.get.fieldById.getOrElse(id,
            throw CompactionError.Config(
              s"equality-delete ${e.path} keys on field $id ('$n'), which " +
                "the current schema dropped — the delete cannot apply"))
          (cur.name, n)
        }
      }
    val eqFiles = snap.files.filter(_.content == "equality-deletes")
      .sortBy(f => (f.sequenceNumber, f.path))
    // NOTE on pushed limits vs runtime join filters: they never
    // co-occur. Spark only pushes a limit when nothing between it and
    // the relation can drop rows (our filters all stay residual, so a
    // WHERE blocks it), and runtime filters come from an equi-join
    // above — under which no limit is ever pushed to this scan. The
    // truncated set is also what outputPartitioning/outputOrdering
    // reported, so planning MUST use the same list — a divergent
    // fallback here would break the SPJ key-stamping below.
    val afterInSets1 =
      if (runtimeInSets.isEmpty) prunedDataFiles
      else pruneGuarded(prunedDataFiles,
        ScanPruning.pruneDataFilesWithInSets(_, runtimeInSets))
    // join-driven STRING key values prune by the stamped byte bounds —
    // the string half of runtime file skipping
    val strCands = ScanPruning.stringCandidateConstraints(
      runtimeEqCandidates, scanStringCols)
    val afterInSets0 =
      if (strCands.isEmpty) afterInSets1
      else pruneGuarded(afterInSets1,
        ScanPruning.pruneDataFilesWithStringBounds(_, strCands))
    // join-driven bucket pruning: runtime In values hash through the
    // partition transforms, dropping whole buckets before tasks launch
    // (raw candidate values — string/date identity sources prune here
    // even though footer stats cannot compare them)
    val afterInSets =
      if (!anySpecPrunes || runtimeEqCandidates.isEmpty) afterInSets0
      else PartitionPruning.prunePerFile(afterInSets0, specForFile,
        runtimeEqCandidates, colTypes)
    // _file group filter is EXACT — empty set means no group matched
    val afterRuntime = runtimePathSet.fold(afterInSets) { paths =>
      afterInSets.filter(f => paths.contains(ScanPlanner.normalizePath(f.path)))
    }
    // report the planned groups to the row-level operation: its
    // copy-on-write commit replaces exactly these files (distinct —
    // splitting emits several partitions per file), plus the full
    // snapshot path set its append-tolerant conflict guard compares
    cowOwner.foreach(_.recordScan(
      afterRuntime.map(_.path).distinct,
      snap.files.map(_.path).toSet, snap.schemaId))
    // fetched once per planning pass — calling this inside the flatMap
    // would re-read every oversized footer N times (O(N*K) driver
    // round-trips) and spin up a fresh pool per file
    val layouts = rowGroupLayouts(afterRuntime)
    // task-side ROW-GROUP skipping sees the pushed filters plus the
    // runtime In sets (reconstructed as In filters) — the same values
    // that pruned whole files above also skip row groups inside the
    // surviving files. NEVER when this scan drives a row-level
    // operation: a copy-on-write rewrite must read EVERY live row of
    // the files it replaces (file-level pruning merely leaves a file
    // out of the rewrite — still correct — but skipping row groups
    // inside a replaced file would silently drop their rows from the
    // rewritten data: data loss).
    val taskFilters: Seq[sources.Filter] =
      if (cowOwner.isDefined) Nil
      else pushedSourceFilters ++
        runtimeEqCandidates.collect {
          case (a, vs) if a != GraftBatchScan.FileColumn =>
            sources.In(a, vs.toArray)
        }
    afterRuntime.sortBy(_.path).flatMap { d =>
      val base = GraftMorPartition(
        dataPath = d.path,
        dataSeq = d.sequenceNumber,
        posDeletes = posDeletesFor(d),
        dv = dvByData.get(ScanPlanner.normalizePath(d.path)),
        eqDeletes = eqFiles.filter { e =>
          // key-bounds skipping (metadata-only): a delete whose stamped
          // key range provably misses this file's rows never ships to
          // the task. ONLY when both files are current-schema — an
          // evolved table's names may alias across schema versions.
          e.sequenceNumber > d.sequenceNumber &&
            (!(snap.isCurrentSchema(e) && snap.isCurrentSchema(d)) ||
              ScanPruning.eqDeleteMayApply(e, d))
        }.map(e => EqDeleteSpec(e.path, e.sequenceNumber, keyColsFor(e),
            e.sizeBytes)),
        columnMap = columnMapFor(d),
        filters = taskFilters,
        defaultFill = defaultFillFor(d)
      )
      val splits = splitByRowGroups(base, layouts.getOrElse(d.path, Nil))
      spjKeys match {
        // stamp the typed key so Spark can group tasks by partition
        // value (the HasPartitionKey half of the KeyGrouped report)
        case Some((_, byPath)) =>
          splits.map(p => GraftMorKeyedPartition(p, byPath(d.path)): InputPartition)
        case None => splits.map(p => p: InputPartition)
      }
    }.toArray
  }

  /** Footer row-group layouts of the OVERSIZED files, fetched on a
    * bounded driver pool (the same object-store-round-trip rationale as
    * [[ParquetStats.minMaxLong]]); an unreadable footer maps to Nil and
    * the file stays one task. */
  private def rowGroupLayouts(
      files: Seq[FileEntry]): Map[String, Seq[(Long, Long, Long)]] = {
    val oversized = files.filter(_.sizeBytes > splitTargetBytes).map(_.path).distinct
    if (oversized.isEmpty) return Map.empty
    val pool = java.util.concurrent.Executors
      .newFixedThreadPool(math.min(16, oversized.size))
    try oversized.map { p =>
      p -> pool.submit(new java.util.concurrent.Callable[Seq[(Long, Long, Long)]] {
        override def call(): Seq[(Long, Long, Long)] =
          try ParquetStats.rowGroups(p) catch { case _: Exception => Nil }
      })
    }.map { case (p, f) =>
      p -> f.get(120, java.util.concurrent.TimeUnit.SECONDS)
    }.toMap
    finally pool.shutdownNow()
  }

  /** Split one file's partition into row-group-aligned byte ranges of
    * roughly `splitTargetBytes` each — a single oversized file's read
    * parallelism is the engine's decision, not one task. Chunk ranges
    * tile the file at row-group STARTING positions, so parquet's
    * midpoint rule assigns every group to exactly one chunk; base
    * ordinals come from the preceding groups' footer row counts. A file
    * under the threshold (or whose footer cannot be read) stays one
    * task. */
  private def splitByRowGroups(
      base: GraftMorPartition,
      groups: Seq[(Long, Long, Long)]): Seq[GraftMorPartition] = {
    if (groups.size <= 1) return Seq(base)
    // greedy pack consecutive groups up to the target
    val chunks = scala.collection.mutable.ArrayBuffer.empty[Vector[(Long, Long, Long)]]
    var cur = Vector.empty[(Long, Long, Long)]
    var curBytes = 0L
    groups.foreach { g =>
      if (cur.nonEmpty && curBytes + g._2 > splitTargetBytes) {
        chunks += cur; cur = Vector.empty; curBytes = 0L
      }
      cur :+= g; curBytes += g._2
    }
    if (cur.nonEmpty) chunks += cur
    if (chunks.size <= 1) return Seq(base)
    var ordinal = 0L
    chunks.zipWithIndex.map { case (chunk, i) =>
      val start = if (i == 0) 0L else chunk.head._1
      val end =
        if (i == chunks.size - 1) Long.MaxValue
        else chunks(i + 1).head._1
      val rows = chunk.map(_._3).sum
      val p = base.copy(rangeStart = start, rangeEnd = end,
        baseOrdinal = ordinal, ordinalEnd = ordinal + rows)
      ordinal += rows
      p
    }.toSeq
  }

  private lazy val files = SparkFileReader(vectorizedRead)

  /** Columnar is all-or-nothing per scan (Spark refuses mixed row/
    * columnar partitions), so the gate is scan-level: Spark's batch gate
    * over every column a task may decode — the outputs, plus the full
    * table schema when any equality delete exists (its key columns
    * decode too), and the row index. It depends only on types, so it is
    * stable under runtime filtering, which only removes files. */
  private lazy val columnarOk: Boolean = {
    val decoded =
      if (snap.files.exists(_.content == "equality-deletes")) tableSchema
      else requiredSchema
    files.batchable(StructType(
      (decoded.fields ++ readSchema().fields).distinctBy(_.name) :+
        SparkFileReader.RowIndexField))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftMorReaderFactory(requiredSchema, tableSchema, includeFileColumn,
      includePosColumn, files, columnarOk)
}

final class GraftMorReaderFactory(
    requiredSchema: StructType, tableSchema: StructType,
    includeFileColumn: Boolean,
    includePosColumn: Boolean,
    files: SparkFileReader,
    columnar: Boolean)
    extends PartitionReaderFactory {
  private def filter(partition: InputPartition): DeleteFilter =
    new DeleteFilter(partition match {
      case k: GraftMorKeyedPartition => k.inner
      case p => p.asInstanceOf[GraftMorPartition]
    }, requiredSchema, tableSchema, includeFileColumn, includePosColumn, files)

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new MorRowReader(filter(partition))

  override def supportColumnarReads(partition: InputPartition): Boolean = columnar

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    new MorBatchReader(filter(partition))
}
