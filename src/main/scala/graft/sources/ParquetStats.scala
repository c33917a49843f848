package graft.sources

import graft.io.FileIO
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import java.util.concurrent.{Callable, Executors, TimeUnit}
import scala.jdk.CollectionConverters._

/** Column min/max from parquet FOOTER statistics — no Spark job.
  *
  * A compaction already holds every input file it will rewrite, and
  * parquet footers carry per-row-group min/max for each column, so a
  * write-layout decision that needs a column's domain (z-order key
  * normalization, [[graft.sinks.RollingWriter]]) can read a few KB of
  * footer per file instead of re-running the live-row plan — at 100 TB
  * that second scan of the full MoR anti-join chain would double the
  * cost of the compaction. The reference plans from file metadata the
  * same way (FileScanTask carries record_count / file_size_in_bytes,
  * iceberg_file_task_scan.rs:446-462).
  *
  * The domain from data-file footers is a SUPERSET of the live rows'
  * (it still counts rows the delete chain removes) — safe for
  * normalization: every live value stays inside [min, max], the range
  * is just potentially wider than strictly needed.
  *
  * Returns None (caller falls back to computing stats from the rows)
  * unless every file has trustworthy stats: only integral physical
  * types (INT32/INT64 with no annotation or an int annotation)
  * participate — other types fall back rather than risk a wrong domain.
  */
object ParquetStats {

  /** (min, max) per requested column across `paths`, from footers only.
    * Footers are read on a small driver-side thread pool — thousands of
    * sequential object-store round-trips would stall the driver. Files
    * that are empty (or all-null for a column) contribute no domain;
    * if NO file contributes a column's domain the result is None. */
  def minMaxLong(paths: Seq[String], cols: Seq[String]): Option[Map[String, (Long, Long)]] = {
    if (paths.isEmpty || cols.isEmpty) return None
    val distinct = paths.distinct
    val pool = Executors.newFixedThreadPool(math.min(16, distinct.size))
    try {
      val futures = distinct.map { p =>
        pool.submit(new Callable[Option[Map[String, (Long, Long)]]] {
          override def call(): Option[Map[String, (Long, Long)]] = fileMinMax(p, cols)
        })
      }
      val perFile = futures.map(_.get(120, TimeUnit.SECONDS))
      if (perFile.exists(_.isEmpty)) return None // some file is untrustworthy
      val merged = perFile.flatten.foldLeft(Map.empty[String, (Long, Long)]) { (acc, m) =>
        m.foldLeft(acc) { case (a, (c, (mn, mx))) =>
          a.get(c) match {
            case Some((amn, amx)) => a + (c -> (math.min(amn, mn), math.max(amx, mx)))
            case None             => a + (c -> (mn, mx))
          }
        }
      }
      if (cols.forall(merged.contains)) Some(merged) else None
    } finally pool.shutdownNow()
  }

  /** One footer read returning BOTH the exact row count and the integral
    * min/max for `cols` — for callers that need several footer facts per
    * file (e.g. Iceberg manifest record_count + column bounds) without
    * opening the footer twice.
    *
    * `decimalAsUnscaled` opts specific columns into decimal stats: a
    * decimal column's footer min/max are UNSCALED values, so only a
    * caller whose bound constraints are already expressed in unscaled
    * space (the DSv2 scan's type-aware [[GraftScanBuilder]] path) may
    * consume them — the typeless Column-tree path must keep treating
    * decimal stats as untrustworthy or it would compare value-domain
    * literals against unscaled stats and prune files that match.
    * Columns without trustworthy stats are left out of the map. */
  def fileStats(path: String, cols: Seq[String],
      decimalAsUnscaled: Set[String] = Set.empty)
      : (Long, Map[String, (Long, Long)]) = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), FileIO.hadoopConf))
    try {
      val (mm, untrusted) = minMaxOf(reader, cols, decimalAsUnscaled)
      (reader.getRecordCount, mm -- untrusted)
    } finally reader.close()
  }

  /** One file's footer min/max for `cols`: None if a non-empty row group
    * lacks trustworthy integral stats for a requested column; a map
    * missing some columns when the file holds no values for them. */
  private def fileMinMax(path: String, cols: Seq[String]): Option[Map[String, (Long, Long)]] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), FileIO.hadoopConf))
    try {
      val (mm, untrusted) = minMaxOf(reader, cols)
      if (untrusted.isEmpty) Some(mm) else None
    } finally reader.close()
  }

  /** One file's stampable footer facts — see [[fileFacts]]. */
  final case class FileFacts(
      rowCount: Long,
      bounds: Map[String, Seq[Long]],
      decimalBounds: Map[String, Seq[Long]],
      nullCounts: Map[String, Long],
      /** STRING columns: base64 of raw [lo, hi] bytes, truncated to
        * [[StringBoundBytes]] (upper bound incremented — see
        * [[truncatedUpper]]). */
      stringBounds: Map[String, Seq[String]] = Map.empty)

  /** Iceberg's default string-bound truncation width. */
  val StringBoundBytes = 16

  /** Unsigned byte-successor of `p` as a shrunk prefix: increment the
    * last non-0xFF byte and drop everything after it. None when every
    * byte is 0xFF — nothing bounded succeeds it. Shared by bound
    * truncation here and `startsWith`-range derivation in
    * [[ScanPruning]] (the carry edge cases must never diverge). */
  private[sources] def incrementPrefix(p: Array[Byte]): Option[Array[Byte]] = {
    val c = p.clone()
    var i = c.length - 1
    while (i >= 0) {
      if (c(i) != -1) { // 0xFF
        c(i) = (c(i) + 1).toByte
        return Some(java.util.Arrays.copyOf(c, i + 1))
      }
      i -= 1
    }
    None
  }

  /** A valid (possibly widened) upper bound of `b` within the
    * truncation width. None when every prefix byte is 0xFF. */
  private[sources] def truncatedUpper(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= StringBoundBytes) Some(b)
    else incrementPrefix(java.util.Arrays.copyOf(b, StringBoundBytes))

  /** Every trustworthy column fact of one file, from ONE footer read —
    * the write-time stamping source for [[graft.txn.FileEntry.bounds]] /
    * `decimalBounds` / `nullCounts`. A column appears in a bounds map
    * iff EVERY non-empty row group carries trustworthy integral stats
    * for it (same trust rules as [[minMaxLong]] — INT32/INT64 physical;
    * int/date annotations value-domain, decimal ≤18 digits unscaled;
    * timestamps and everything else excluded). Null counts are
    * type-independent: a TOP-LEVEL column (no nested path — a leaf's
    * null count conflates ancestor-null with leaf-null) appears iff
    * every non-empty row group sets numNulls. */
  def fileFacts(path: String): FileFacts = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), FileIO.hadoopConf))
    try {
      val plain = scala.collection.mutable.Map[String, (Long, Long)]()
      val dec = scala.collection.mutable.Map[String, (Long, Long)]()
      val str = scala.collection.mutable.Map[String, (Array[Byte], Array[Byte])]()
      val untrusted = scala.collection.mutable.Set[String]()
      val nulls = scala.collection.mutable.Map[String, Long]()
      val nullsUntrusted = scala.collection.mutable.Set[String]()
      // Julian-calendar dates/timestamps read back rebased — their
      // stored stats are not bounds of the values read
      val julian = julianDatetime(reader)
      for (block <- reader.getFooter.getBlocks.asScala if block.getRowCount > 0;
           cc <- block.getColumns.asScala) {
        val name = cc.getPath.toDotString
        val st = cc.getStatistics
        if (!name.contains('.') && !nullsUntrusted.contains(name)) {
          if (st == null || !st.isNumNullsSet) {
            nullsUntrusted += name; nulls.remove(name)
          } else nulls(name) = nulls.getOrElse(name, 0L) + st.getNumNulls
        }
        if (!untrusted.contains(name)) {
          val pt = cc.getPrimitiveType
          val isIntegralPhys =
            pt.getPrimitiveTypeName == PrimitiveTypeName.INT64 ||
              pt.getPrimitiveTypeName == PrimitiveTypeName.INT32
          val ann = pt.getLogicalTypeAnnotation
          val isDecimal = ann.isInstanceOf[
            org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation]
          val isPlain = ann == null ||
            ann.isInstanceOf[IntLogicalTypeAnnotation] ||
            (!julian && ann.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.DateLogicalTypeAnnotation]) ||
            // timestamps: stamps carry no unit, and the consumers
            // (columnStats boxes TimestampType bounds as Catalyst
            // micros; nanosAsLong reads NANOS columns as LongType and
            // prunes with raw long literals) assume MICROS — so ONLY
            // MICROS-annotated stats are stamped; a MILLIS/NANOS file
            // (foreign/adopted) contributes no bounds rather than
            // bounds off by up to 10^6x
            (ann match {
              case ts: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                !julian && ts.getUnit ==
                  org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS
              case _ => false
            })
          // strings: BINARY physical + String annotation; parquet's
          // binary stats order is unsigned lexicographic — the same
          // order the pruning side compares candidates in
          val isString =
            pt.getPrimitiveTypeName == PrimitiveTypeName.BINARY &&
              ann.isInstanceOf[
                org.apache.parquet.schema.LogicalTypeAnnotation.StringLogicalTypeAnnotation]
          if (isString) {
            if (st == null || st.isEmpty) { untrusted += name; str.remove(name) }
            else if (st.hasNonNullValue) {
              val mn = st.genericGetMin
                .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
              val mx = st.genericGetMax
                .asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
              str(name) = str.get(name) match {
                case Some((a, b)) => (
                  if (unsignedLt(mn, a)) mn else a,
                  if (unsignedLt(b, mx)) mx else b)
                case None => (mn, mx)
              }
            }
          } else {
            val target = if (isDecimal) dec else plain
            if (!isIntegralPhys || !(isDecimal || isPlain) || st == null || st.isEmpty) {
              untrusted += name; plain.remove(name); dec.remove(name)
            } else if (st.hasNonNullValue) {
              val mn = st.genericGetMin.asInstanceOf[Number].longValue
              val mx = st.genericGetMax.asInstanceOf[Number].longValue
              target(name) = target.get(name) match {
                case Some((a, b)) => (math.min(a, mn), math.max(b, mx))
                case None         => (mn, mx)
              }
            }
          }
        }
      }
      val b64 = java.util.Base64.getEncoder
      val strBounds = str.flatMap { case (k, (lo, hi)) =>
        // lower: plain prefix (a prefix never exceeds the value);
        // upper: incremented prefix, or drop the column when no
        // bounded prefix can cover it (all-0xFF)
        truncatedUpper(hi).map { h =>
          val l =
            if (lo.length <= StringBoundBytes) lo
            else java.util.Arrays.copyOf(lo, StringBoundBytes)
          k -> Seq(b64.encodeToString(l), b64.encodeToString(h))
        }
      }.toMap
      FileFacts(reader.getRecordCount,
        plain.map { case (k, (a, b)) => k -> Seq(a, b) }.toMap,
        dec.map { case (k, (a, b)) => k -> Seq(a, b) }.toMap,
        nulls.toMap,
        strBounds)
    } finally reader.close()
  }

  /** Stamp a data-file entry with its footer facts ([[fileFacts]]) —
    * called at WRITE time by every data-file commit path, so the
    * planning-side pruning never needs the footer again. An unreadable
    * footer leaves the entry unstamped (planning falls back). */
  def stampBounds(e: graft.txn.FileEntry): graft.txn.FileEntry =
    // data files: full stamps. Equality-delete files: KEY bounds, so
    // the scan can skip a delete for tasks whose data range provably
    // misses it (ScanPruning.eqDeleteMayApply). Other delete shapes
    // carry positions, not values — nothing to stamp.
    if (e.content != "data" && e.content != "equality-deletes") e
    else
      try {
        val facts = fileFacts(e.path)
        e.copy(bounds = facts.bounds, decimalBounds = facts.decimalBounds,
          nullCounts = facts.nullCounts, stringBounds = facts.stringBounds,
          // writers that only list their output (the declarative
          // compaction path) report -1 rows; the footer read already
          // paid for the exact count, so stamp it — metadata-only
          // COUNT(*) then survives compaction
          recordCount =
            if (e.recordCount >= 0) e.recordCount else facts.rowCount)
      } catch { case _: Exception => e }

  /** Row-group layout of one file from its footer:
    * (startingPos, compressedBytes, rowCount) per block, in file order —
    * drives byte-range task splitting with exact row-ordinal bases. */
  def rowGroups(path: String): Seq[(Long, Long, Long)] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), FileIO.hadoopConf))
    try reader.getFooter.getBlocks.asScala.toSeq.map(b =>
      (b.getStartingPos, b.getCompressedSize, b.getRowCount))
    finally reader.close()
  }

  /** Inclusive [min, max] raw byte bounds of a string (BINARY) column
    * from footer stats — None when any non-empty row group lacks
    * trustworthy stats (caller must keep the file). Parquet orders
    * binary stats by UNSIGNED byte comparison; compare candidates the
    * same way. Truncated stats remain valid bounds (parquet adjusts the
    * truncated max upward). */
  def stringRange(path: String, col: String): Option[(Array[Byte], Array[Byte])] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), FileIO.hadoopConf))
    try {
      var lo: Array[Byte] = null
      var hi: Array[Byte] = null
      for (block <- reader.getFooter.getBlocks.asScala if block.getRowCount > 0;
           cc <- block.getColumns.asScala if cc.getPath.toDotString == col) {
        if (cc.getPrimitiveType.getPrimitiveTypeName != PrimitiveTypeName.BINARY)
          return None
        val st = cc.getStatistics
        if (st == null || st.isEmpty) return None
        if (st.hasNonNullValue) {
          val mn = st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
          val mx = st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
          if (lo == null || unsignedLt(mn, lo)) lo = mn
          if (hi == null || unsignedLt(hi, mx)) hi = mx
        }
      }
      if (lo == null) None else Some((lo, hi))
    } finally reader.close()
  }

  /** Unsigned lexicographic byte comparison (parquet's binary order). */
  def unsignedLt(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i) & 0xff
      val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  def unsignedLe(a: Array[Byte], b: Array[Byte]): Boolean =
    !unsignedLt(b, a)

  /** Whether Spark wrote this file's dates and INT64 timestamps in the
    * Julian calendar (before 3.0, or under a LEGACY rebase), which its
    * reader rebases — decided from the footer as Spark's reader decides. */
  private def julianDatetime(reader: ParquetFileReader): Boolean = {
    val meta = reader.getFooter.getFileMetaData.getKeyValueMetaData
    org.apache.spark.sql.execution.datasources.DataSourceUtils
      .datetimeRebaseSpec(meta.get _, "CORRECTED").mode ==
      org.apache.spark.sql.internal.LegacyBehaviorPolicy.LEGACY
  }

  /** Footer (min, max) per requested column, and the requested columns
    * some non-empty row group lacks trustworthy integral stats for. */
  private def minMaxOf(reader: ParquetFileReader, cols: Seq[String],
      decimalAsUnscaled: Set[String] = Set.empty)
      : (Map[String, (Long, Long)], Set[String]) = {
    val acc = scala.collection.mutable.Map[String, (Long, Long)]()
    val untrusted = scala.collection.mutable.Set[String]()
    val julian = julianDatetime(reader)
    for (block <- reader.getFooter.getBlocks.asScala if block.getRowCount > 0;
         cc <- block.getColumns.asScala) {
      val name = cc.getPath.toDotString
      if (cols.contains(name) && !untrusted.contains(name)) {
        val pt = cc.getPrimitiveType
        // decimal stats are UNSCALED values — only trusted for columns
        // the caller explicitly opted in (its bounds must be unscaled
        // too, see fileStats); date stats are epoch days, safe for all
        // callers because an epoch-day bound can only come from a
        // date-typed literal (a raw int literal never compares to a
        // DATE column through Spark's analyzer)
        val integral = (pt.getPrimitiveTypeName == PrimitiveTypeName.INT64 ||
          pt.getPrimitiveTypeName == PrimitiveTypeName.INT32) &&
          (pt.getLogicalTypeAnnotation == null ||
            pt.getLogicalTypeAnnotation.isInstanceOf[IntLogicalTypeAnnotation] ||
            (pt.getLogicalTypeAnnotation.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] &&
              decimalAsUnscaled.contains(name)) ||
            (!julian && pt.getLogicalTypeAnnotation.isInstanceOf[
              org.apache.parquet.schema.LogicalTypeAnnotation.DateLogicalTypeAnnotation]))
        val st = cc.getStatistics
        if (!integral || st == null || st.isEmpty) {
          untrusted += name; acc.remove(name)
        } else if (st.hasNonNullValue) {
          val mn = st.genericGetMin.asInstanceOf[Number].longValue
          val mx = st.genericGetMax.asInstanceOf[Number].longValue
          acc(name) = acc.get(name) match {
            case Some((a, b)) => (math.min(a, mn), math.max(b, mx))
            case None         => (mn, mx)
          }
        }
      }
    }
    (acc.toMap, untrusted.toSet)
  }
}
