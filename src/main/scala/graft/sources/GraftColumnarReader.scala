package graft.sources

import graft.core.CompactionError
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.{Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.parquet.graftbridge.Int96Bridge
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Vectorized MoR partition reader: streams a data file's row groups
  * through parquet's column-level cursors ([[ColumnReadStoreImpl]])
  * straight into Spark [[OnHeapColumnVector]]s — no per-row `Group`
  * materialization, no boxing on the output columns, one
  * [[ColumnarBatch]] per ~4k rows. 3-5× the row reader's throughput on
  * scan-heavy plans, and Spark runs whole-stage codegen over the
  * batches.
  *
  * The FULL delete chain applies inside the batch fill:
  *  - position deletes: ordinals are known per row group, so dead rows
  *    compact away at no extra pass;
  *  - equality deletes: the key columns decode first (boxed, the same
  *    per-row cost the row reader pays for every column), the key
  *    probes the per-file key sets, and only surviving rows reach the
  *    output vectors.
  *
  * Schema reconciliation works unchanged: columns read under their
  * physical names via `columnMap`; a column the file predates yields a
  * null [[ConstantColumnVector]] (and null-keyed rows live — `===`
  * anti-join semantics). `_file`/`_pos` metadata columns are
  * synthesized as constant/ordinal vectors. An empty projection
  * (`SELECT count(*)`) with no applicable deletes touches only footer
  * metadata.
  *
  * Parallels Iceberg's vectorized Spark read path; the reference
  * engine gets the same effect from DataFusion's Arrow-native scans
  * (`/root/reference/core/src/executor/datafusion/
  * iceberg_file_task_scan.rs` batch streams).
  */
final class GraftMorColumnarReader(
    part: GraftMorPartition,
    requiredSchema: StructType,
    tableSchema: StructType,
    includeFileColumn: Boolean,
    taskConf: Configuration,
    includePosColumn: Boolean
) extends PartitionReader[ColumnarBatch] {
  import GraftMorColumnarReader._

  private val BatchRows = 4096

  private val deadPositions = GraftBatchScan.loadDeadPositions(part, taskConf)
  private val readTypes: Map[String, DataType] =
    tableSchema.fields.map(f => f.name -> f.dataType).toMap
  // initial-DEFAULT constants for columns this file predates — one
  // parse per task ([[graft.core.ColumnDefaults]]): boxed form for the
  // equality-key probe (same representation as scratch values) and
  // catalyst form for the constant output vectors
  private val defaultJvm: Map[String, Any] =
    part.defaultFill.map { case (c, text) =>
      c -> graft.core.ColumnDefaults.jvmValue(text, readTypes(c))
    }
  private val defaultCatalyst: Map[String, Any] =
    part.defaultFill.map { case (c, text) =>
      c -> graft.core.ColumnDefaults.catalystValue(text, readTypes(c))
    }

  // a file keyed on a NULL-filled column it predates can never match
  // (the key would contain null) — skip it before any IO, which also
  // keeps the footer-only count(*) path available when no file applies;
  // a DEFAULT-filled column compares like a stored value, so its
  // deletes stay applicable (constant key component, below)
  private val eqKeySets = GraftBatchScan.loadEqKeySets(
    part.eqDeletes.filter(_.keyCols.forall(kc =>
      part.columnMap.getOrElse(kc._1, Some(kc._1)).isDefined ||
        defaultJvm.contains(kc._1))),
    readTypes, taskConf)

  // ---- cursor layout ------------------------------------------------------
  // cursor columns = outputs present in the file ∪ equality-key columns
  // present in the file (table order, deduped); each batch consumes
  // exactly n values from every cursor
  private def physOf(cur: String): Option[String] =
    part.columnMap.getOrElse(cur, Some(cur))

  private val eqCurrentCols: Seq[String] = {
    val need = eqKeySets.flatMap(_._1).toSet
    tableSchema.fields.map(_.name).filter(need.contains).toSeq
  }
  private val cursorCurrentCols: Seq[String] = {
    val need = requiredSchema.fieldNames.toSet ++ eqCurrentCols
    tableSchema.fields.map(_.name)
      .filter(c => need.contains(c) && physOf(c).isDefined).toSeq
  }
  private val cursorIdxByCol: Map[String, Int] =
    cursorCurrentCols.zipWithIndex.toMap
  private val cursorTypes: Array[DataType] =
    cursorCurrentCols.map(readTypes(_)).toArray
  // eq-key columns must decode BEFORE the keep mask exists (scratch)
  private val scratchCols: Array[Int] =
    eqCurrentCols.flatMap(cursorIdxByCol.get).toArray
  private val scratchSet = scratchCols.toSet

  private val inputFile =
    HadoopInputFile.fromPath(new HPath(part.dataPath), taskConf)

  /** Row-group statistics predicate from the pushed filters (None on
    * the footer-only path — a bare `count(*)` must count every group).
    * Strictly an optimization: Spark re-applies all filters above. */
  private val rowGroupPredicate =
    if (cursorCurrentCols.isEmpty || part.filters.isEmpty) None
    else ParquetPredicate.build(part.filters, tableSchema, part.columnMap)

  private def mkOptions(withFilter: Boolean) = {
    val b = HadoopReadOptions.builder(taskConf, new HPath(part.dataPath))
    if (!(part.rangeStart == 0L && part.rangeEnd == Long.MaxValue))
      b.withRange(part.rangeStart, part.rangeEnd)
    if (withFilter) rowGroupPredicate.foreach(p =>
      b.withRecordFilter(org.apache.parquet.filter2.compat.FilterCompat.get(p)))
    b.build()
  }
  /** Whether group skipping is in effect for THIS file — false when the
    * predicate doesn't type-check against the file's physical schema
    * (e.g. an adopted foreign file): reopen unfiltered rather than fail
    * the read over an optimization. */
  private var groupSkippingActive = rowGroupPredicate.isDefined
  private val reader = {
    def unfiltered() = {
      groupSkippingActive = false
      ParquetFileReader.open(inputFile, mkOptions(false))
    }
    val r =
      if (!groupSkippingActive) unfiltered()
      else try ParquetFileReader.open(inputFile, mkOptions(true))
      catch { case _: Exception => unfiltered() }
    // stats in another timestamp unit or calendar than the pushed
    // literals would skip live groups: such a file is read whole
    val meta = r.getFooter.getFileMetaData
    if (!groupSkippingActive ||
        FileCalendar.of(meta.getKeyValueMetaData).statsExact(meta.getSchema)) r
    else { r.close(); unfiltered() }
  }
  private val fileSchema = reader.getFooter.getFileMetaData.getSchema
  private val createdBy = reader.getFooter.getFileMetaData.getCreatedBy
  private val calendar =
    FileCalendar.of(reader.getFooter.getFileMetaData.getKeyValueMetaData)

  /** Requested projection built from the FILE's own footer fields, so
    * repetition/type always match (the [[GraftBatchScan.projectedReader]]
    * contract). */
  private val requestedSchema: MessageType = {
    val fields = cursorCurrentCols.map { c =>
      val phys = physOf(c).get
      if (!fileSchema.containsField(phys)) throw CompactionError.Config(
        s"column $phys not found in ${part.dataPath}")
      fileSchema.getFields.get(fileSchema.getFieldIndex(phys))
    }
    new MessageType(fileSchema.getName, fields: _*)
  }
  if (cursorCurrentCols.nonEmpty) reader.setRequestedSchema(requestedSchema)

  // per cursor: the step from a stored long/date to Catalyst's value
  // (null = none; see [[FileCalendar]])
  private val longFixes: Array[Long => Long] =
    Array.tabulate(cursorCurrentCols.length)(ci => calendar.longFix(
      requestedSchema.getColumns.get(ci).getPrimitiveType, cursorTypes(ci),
      cursorCurrentCols(ci)))
  private val dateFixes: Array[Int => Int] =
    cursorTypes.map(calendar.dateFix)

  // reusable output vectors per REQUIRED field; null = constant-null
  // (the file predates the column)
  private val dataVectors: Array[WritableColumnVector] =
    requiredSchema.fields.map { f =>
      if (physOf(f.name).isDefined) new OnHeapColumnVector(BatchRows, f.dataType)
      else null
    }
  private val posVector: OnHeapColumnVector =
    if (includePosColumn) new OnHeapColumnVector(BatchRows, LongType) else null
  private val filePathUtf8 = UTF8String.fromString(part.dataPath)

  // scratch rows for the eq-key columns of the CURRENT batch (only
  // those columns allocate)
  private val scratch: Array[Array[Any]] =
    Array.tabulate(cursorCurrentCols.length)(i =>
      if (scratchSet.contains(i)) new Array[Any](BatchRows) else null)

  // ---- row-group cursor state -------------------------------------------
  private var groupRowsLeft = 0L
  private var groupColumns: Array[ColumnReader] = _
  private var groupMaxDef: Array[Int] = _
  private var ordinal: Long = part.baseOrdinal // file-absolute, next row
  private var batch: ColumnarBatch = _
  private var exhausted = false

  /** Empty cursor set (`SELECT count(*)` with every needed column
    * postdating the file — a null-keyed row can never be eq-deleted):
    * row counts come straight from the footer's (range-filtered) block
    * metadata — no column-chunk IO at all. */
  private val footerOnlyGroups: java.util.Iterator[java.lang.Long] =
    if (cursorCurrentCols.nonEmpty) null
    else {
      val it = reader.getRowGroups.iterator()
      val out = new java.util.ArrayList[java.lang.Long]()
      while (it.hasNext) out.add(it.next().getRowCount)
      out.iterator()
    }

  private def advanceGroup(): Boolean = {
    if (footerOnlyGroups != null) {
      if (!footerOnlyGroups.hasNext) { exhausted = true; return false }
      groupRowsLeft = footerOnlyGroups.next()
      return true
    }
    val pages = reader.readNextRowGroup()
    if (pages == null) { exhausted = true; return false }
    groupRowsLeft = pages.getRowCount
    // file-absolute base ordinal of this group: REQUIRED once groups can
    // be skipped (position-delete ordinals and `_pos` must not shift);
    // parquet always stamps it on the row-group page store, so treat
    // absence under an active filter as a hard error, not silent drift
    val off = pages.getRowIndexOffset
    if (off.isPresent) ordinal = off.get
    else if (groupSkippingActive)
      throw graft.core.CompactionError.Config(
        s"row-group filtering active but ${part.dataPath} reports no " +
          "row index offset — cannot maintain file-absolute positions")
    val store = new ColumnReadStoreImpl(pages, DummyRoot, requestedSchema, createdBy)
    val descs = requestedSchema.getColumns
    groupColumns = new Array[ColumnReader](descs.size())
    groupMaxDef = new Array[Int](descs.size())
    var i = 0
    while (i < descs.size()) {
      groupColumns(i) = store.getColumnReader(descs.get(i))
      groupMaxDef(i) = descs.get(i).getMaxDefinitionLevel
      i += 1
    }
    true
  }

  override def next(): Boolean = {
    while (!exhausted) {
      if (groupRowsLeft == 0L && !advanceGroup()) return false
      val n = math.min(BatchRows.toLong, groupRowsLeft).toInt
      // eq-key columns first: the keep mask needs their values
      var s = 0
      while (s < scratchCols.length) {
        val ci = scratchCols(s)
        decodeToScratch(groupColumns(ci), groupMaxDef(ci), cursorTypes(ci),
          longFixes(ci), dateFixes(ci), scratch(ci), n)
        s += 1
      }
      var live = 0
      val keep = new Array[Boolean](n)
      // dead positions first as one range walk, then the eq mask per row
      deadPositions.fillAlive(ordinal, n, keep)
      var i = 0
      while (i < n) {
        keep(i) = keep(i) && liveUnderEqDeletes(i)
        if (keep(i)) live += 1
        i += 1
      }
      fillBatch(n, keep, live)
      ordinal += n
      groupRowsLeft -= n
      if (live > 0) return true // all-dead chunk: keep scanning
    }
    false
  }

  /** Row `i` of the current batch survives every equality-delete key
    * set (a key containing null never matches — `===` semantics;
    * inapplicable files were filtered before load). */
  // key-component access per applicable delete: cursor index for
  // columns the file stores, the default CONSTANT for columns it
  // predates (pre-filtering guarantees one of the two exists)
  private lazy val eqKeyAccess
      : Seq[(Seq[Either[Int, Any]], java.util.HashSet[Seq[Any]])] =
    eqKeySets.map { case (cols, set) =>
      (cols.map(c => cursorIdxByCol.get(c) match {
        case Some(ci) => Left(ci)
        case None     => Right(defaultJvm(c))
      }), set)
    }

  private def liveUnderEqDeletes(i: Int): Boolean = {
    if (eqKeySets.isEmpty) return true
    eqKeyAccess.forall { case (acc, set) =>
      val key = acc.map {
        case Left(ci) => scratch(ci)(i)
        case Right(cv) => cv
      }
      key.contains(null) || !set.contains(key.map(GraftBatchScan.eqKeyComponent))
    }
  }

  private def fillBatch(n: Int, keep: Array[Boolean], live: Int): Unit = {
    val out = new Array[ColumnVector](
      requiredSchema.length + (if (includeFileColumn) 1 else 0) +
        (if (includePosColumn) 1 else 0))
    var c = 0
    while (c < requiredSchema.length) {
      val f = requiredSchema.fields(c)
      cursorIdxByCol.get(f.name) match {
        case None =>
          val cv = new ConstantColumnVector(live, f.dataType)
          defaultCatalyst.get(f.name) match {
            case Some(v) => setConstant(cv, v, f.dataType)
            case None    => cv.setNull()
          }
          out(c) = cv
        case Some(ci) =>
          val v = dataVectors(c)
          v.reset()
          if (scratchSet.contains(ci))
            fillFromScratch(v, scratch(ci), f.dataType, n, keep)
          else
            fillColumn(v, groupColumns(ci), groupMaxDef(ci), f.dataType,
              longFixes(ci), dateFixes(ci), n, keep)
          out(c) = v
      }
      c += 1
    }
    var extra = requiredSchema.length
    if (includeFileColumn) {
      val cv = new ConstantColumnVector(live, StringType)
      cv.setUtf8String(filePathUtf8)
      out(extra) = cv
      extra += 1
    }
    if (includePosColumn) {
      posVector.reset()
      var i = 0; var o = 0
      while (i < n) {
        if (keep(i)) { posVector.putLong(o, ordinal + i); o += 1 }
        i += 1
      }
      out(extra) = posVector
    }
    batch = new ColumnarBatch(out, live)
  }

  /** Typed constant fill for a default-valued column the file predates
    * — the catalyst value came from [[graft.core.ColumnDefaults
    * .catalystValue]] under the same DataType, so the casts are total. */
  private def setConstant(cv: ConstantColumnVector, v: Any, dt: DataType): Unit =
    if (v == null) cv.setNull()
    else dt match {
      case IntegerType | DateType    => cv.setInt(v.asInstanceOf[Int])
      case LongType | TimestampType  => cv.setLong(v.asInstanceOf[Long])
      case FloatType                 => cv.setFloat(v.asInstanceOf[Float])
      case DoubleType                => cv.setDouble(v.asInstanceOf[Double])
      case BooleanType               => cv.setBoolean(v.asInstanceOf[Boolean])
      case StringType                => cv.setUtf8String(v.asInstanceOf[UTF8String])
      case d: DecimalType            =>
        cv.setDecimal(v.asInstanceOf[Decimal], d.precision)
      case other => throw CompactionError.Config(
        s"unsupported default-value type $other") // ColumnDefaults gates
    }

  /** Pull `n` BOXED values off one cursor into `dst` (the row reader's
    * [[GraftBatchScan.groupValue]] type rules — INT32-backed longs,
    * String for binary strings). Only the equality-key columns pay this
    * boxing; plain output columns stream unboxed via [[fillColumn]].
    * `longFix`/`dateFix` are the column's [[FileCalendar]] steps. */
  private def decodeToScratch(cr: ColumnReader, maxDef: Int, dt: DataType,
      longFix: Long => Long, dateFix: Int => Int,
      dst: Array[Any], n: Int): Unit = {
    val phys = cr.getDescriptor.getPrimitiveType.getPrimitiveTypeName
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    var i = 0
    while (i < n) {
      dst(i) =
        if (cr.getCurrentDefinitionLevel != maxDef) null
        else dt match {
          case LongType | TimestampType | TimestampNTZType =>
            if (longFix == null) decodeLong(cr, phys) else longFix(decodeLong(cr, phys))
          case DateType if dateFix != null => dateFix(cr.getInteger)
          case IntegerType | DateType => cr.getInteger
          case DoubleType             => // FLOAT = pre-widening file
            if (phys == FLOAT) cr.getFloat.toDouble else cr.getDouble
          case FloatType              => cr.getFloat
          case BooleanType            => cr.getBoolean
          case StringType             => cr.getBinary.toStringUsingUTF8
          case BinaryType             => cr.getBinary.getBytes
          case d: DecimalType         => decodeDecimal(cr, phys, d)
          case other => throw CompactionError.Config(
            s"columnar read does not support type $other")
        }
      cr.consume()
      i += 1
    }
  }

  /** One long/timestamp value off the cursor: INT32-backed longs widen,
    * INT96 timestamps (Spark's default writer output, imported Hive
    * tables) decode to epoch micros. */
  private def decodeLong(cr: ColumnReader,
      phys: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName): Long = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    phys match {
      case INT32 => cr.getInteger.toLong
      case INT96 => Int96Bridge.micros(cr.getBinary)
      case _     => cr.getLong
    }
  }

  /** One decimal value off the cursor, by its physical encoding (the
    * same INT32/INT64/FLBA ladder as the writer and the row reader). */
  private def decodeDecimal(cr: ColumnReader,
      phys: org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName,
      d: DecimalType): Decimal = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    phys match {
      case INT32 => Decimal(cr.getInteger.toLong, d.precision, d.scale)
      case INT64 => Decimal(cr.getLong, d.precision, d.scale)
      case _ =>
        val bytes = cr.getBinary.getBytes
        Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(bytes), d.scale), d.precision, d.scale)
    }
  }

  /** Copy a scratch-decoded column into the output vector under the
    * keep mask (the cursor was already consumed by the scratch pass). */
  private def fillFromScratch(v: WritableColumnVector, src: Array[Any],
      dt: DataType, n: Int, keep: Array[Boolean]): Unit = {
    var i = 0
    var o = 0
    while (i < n) {
      if (keep(i)) {
        val x = src(i)
        if (x == null) v.putNull(o)
        else dt match {
          case LongType | TimestampType | TimestampNTZType =>
            v.putLong(o, x.asInstanceOf[Long])
          case IntegerType | DateType => v.putInt(o, x.asInstanceOf[Int])
          case DoubleType             => v.putDouble(o, x.asInstanceOf[Double])
          case FloatType              => v.putFloat(o, x.asInstanceOf[Float])
          case BooleanType            => v.putBoolean(o, x.asInstanceOf[Boolean])
          case StringType =>
            val b = x.asInstanceOf[String].getBytes("UTF-8")
            v.putByteArray(o, b, 0, b.length)
          case BinaryType =>
            val b = x.asInstanceOf[Array[Byte]]
            v.putByteArray(o, b, 0, b.length)
          case d: DecimalType =>
            v.putDecimal(o, x.asInstanceOf[Decimal], d.precision)
          case other => throw CompactionError.Config(
            s"columnar read does not support type $other")
        }
        o += 1
      }
      i += 1
    }
  }

  /** Pull `n` values off one column cursor, writing the kept ones
    * compacted into `v`. Values must all be consumed (the cursor has no
    * skip), so dead rows are read and dropped. */
  private def fillColumn(v: WritableColumnVector, cr: ColumnReader,
      maxDef: Int, dt: DataType, longFix: Long => Long, dateFix: Int => Int,
      n: Int, keep: Array[Boolean]): Unit = {
    val phys = cr.getDescriptor.getPrimitiveType.getPrimitiveTypeName
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    var i = 0
    var o = 0
    while (i < n) {
      val defined = cr.getCurrentDefinitionLevel == maxDef
      if (keep(i)) {
        if (!defined) v.putNull(o)
        else dt match {
          case LongType | TimestampType | TimestampNTZType =>
            v.putLong(o,
              if (longFix == null) decodeLong(cr, phys) else longFix(decodeLong(cr, phys)))
          case DateType if dateFix != null => v.putInt(o, dateFix(cr.getInteger))
          case IntegerType | DateType => v.putInt(o, cr.getInteger)
          case DoubleType             => // FLOAT = pre-widening file
            v.putDouble(o, if (phys == FLOAT) cr.getFloat.toDouble else cr.getDouble)
          case FloatType              => v.putFloat(o, cr.getFloat)
          case BooleanType            => v.putBoolean(o, cr.getBoolean)
          case StringType | BinaryType =>
            val b = cr.getBinary.getBytes
            v.putByteArray(o, b, 0, b.length)
          case d: DecimalType =>
            v.putDecimal(o, decodeDecimal(cr, phys, d), d.precision)
          case other => throw CompactionError.Config(
            s"columnar read does not support type $other")
        }
        o += 1
      } else if (defined) {
        // dead row: the value still has to come off the cursor
        phys match {
          case INT32   => cr.getInteger
          case INT64   => cr.getLong
          case DOUBLE  => cr.getDouble
          case FLOAT   => cr.getFloat
          case BOOLEAN => cr.getBoolean
          case _       => cr.getBinary
        }
      }
      cr.consume()
      i += 1
    }
  }

  override def get(): ColumnarBatch = batch

  override def close(): Unit = {
    reader.close()
    dataVectors.foreach(v => if (v != null) v.close())
    if (posVector != null) posVector.close()
  }
}

object GraftMorColumnarReader {

  /** Every data column of `schema` is a flat primitive the columnar
    * fill handles (the `_file`/`_pos` metadata columns are synthesized,
    * not read, so they are always fine). */
  def supportedSchema(schema: StructType): Boolean =
    schema.fields.forall(f => supportedType(f.dataType))

  private def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | FloatType | StringType |
         BooleanType | TimestampType | TimestampNTZType | DateType |
         BinaryType => true
    case _: DecimalType => true
    case _ => false
  }

  /** No-op converter tree: [[ColumnReadStoreImpl]] wants one, but the
    * typed cursor getters never call it. */
  private object DummyRoot extends GroupConverter {
    private val prim = new PrimitiveConverter {}
    override def getConverter(fieldIndex: Int): Converter = prim
    override def start(): Unit = ()
    override def end(): Unit = ()
  }
}
