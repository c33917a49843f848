package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.vectorized.{ColumnVectorUtils, ConstantColumnVector}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarArray, ColumnarBatch, ColumnarMap}
import org.apache.spark.unsafe.types.UTF8String

/** One task of the merge-on-read scan: its data file read through
  * Spark's parquet reader ([[SparkFileReader]]), under the task's delete
  * filter. Columns read under their physical names in THIS file
  * (`columnMap`); a column the file predates is its initial default or
  * null; `_file` is a constant and `_pos` is Spark's row index.
  *
  * A row is dead when its row index is in the task's
  * [[GraftBatchScan.DeadPositions]] or its key is in an equality-delete
  * key set ([[EqKeyProbe]]). Equality-key columns are decoded even when
  * the query does not project them. */
private[sources] final class DeleteFilter(
    part: GraftMorPartition,
    requiredSchema: StructType,
    tableSchema: StructType,
    includeFileColumn: Boolean,
    includePosColumn: Boolean,
    files: SparkFileReader) {

  private val readTypes: Map[String, DataType] =
    tableSchema.fields.map(f => f.name -> f.dataType).toMap
  private def physOf(c: String): Option[String] = part.columnMap.getOrElse(c, Some(c))

  // initial-DEFAULT constants for the columns this file predates, parsed
  // once per task ([[graft.core.ColumnDefaults]])
  private val defaults: Map[String, Any] = part.defaultFill.map { case (c, text) =>
    c -> graft.core.ColumnDefaults.catalystValue(text, readTypes(c))
  }

  private val dead = GraftBatchScan.loadDeadPositions(part, files)
  private val hasDead = !dead.isEmpty

  // a delete keyed on a NULL-filled column this file predates can never
  // match (its key would hold a null): skip its IO; a DEFAULT-filled
  // column compares like a stored value, so those deletes still apply
  private val eqKeys = GraftBatchScan.loadEqKeySets(
    part.eqDeletes.filter(_.keyCols.forall(kc =>
      physOf(kc._1).isDefined || defaults.contains(kc._1))),
    readTypes, files)

  /** Current columns decoded from the file: outputs and equality keys it
    * stores, in table order. */
  private val decoded: Seq[String] = {
    val need = requiredSchema.fieldNames.toSet ++ eqKeys.flatMap(_.columns)
    tableSchema.fieldNames.toSeq.filter(c => need(c) && physOf(c).isDefined)
  }
  private val ordinal: Map[String, Int] = decoded.zipWithIndex.toMap
  private val withRowIndex = includePosColumn || hasDead
  private val rowIndexOrdinal = decoded.length

  val readSchema: StructType = StructType(
    decoded.map(c => StructField(physOf(c).get, readTypes(c))) ++
      (if (withRowIndex) Seq(SparkFileReader.RowIndexField) else Nil))

  /** Pushed filters under this file's physical names, for Spark's
    * row-group skipping. A conjunct naming a column the file does not
    * store is dropped whole: a reused name may hold other data here. */
  private val filters: Seq[sources.Filter] = {
    def split(f: sources.Filter): Seq[sources.Filter] = f match {
      case sources.And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    val phys = (c: String) => part.columnMap.get(c).flatten
    part.filters.flatMap(split).flatMap(f =>
      if (f.references.forall(phys(_).isDefined)) DeleteFilter.rename(f, phys(_).get)
      else None)
  }

  /** Where current column `c` comes from: `Left(ordinal)` in the
    * decoded row, or `Right(constant)` for a column the file predates. */
  private def source(c: String): Either[Int, Any] =
    ordinal.get(c).map(Left(_)).getOrElse(Right(defaults.getOrElse(c, null)))

  private val probes: Array[EqKeyProbe] = eqKeys.map(k => new EqKeyProbe(
    k.columns.map(c => DeleteFilter.expression(source(c), readTypes(c))), k.set)).toArray

  /** No row of this task can be dead. */
  val allLive: Boolean = !hasDead && probes.isEmpty

  def live(row: InternalRow): Boolean = {
    if (hasDead && dead.contains(row.getLong(rowIndexOrdinal))) return false
    var i = 0
    while (i < probes.length) {
      if (!probes(i).live(row)) return false
      i += 1
    }
    true
  }

  /** The output columns — the required ones, `_file`, `_pos` — with
    * their sources ([[source]]) and types. */
  val output: Seq[(Either[Int, Any], DataType)] =
    requiredSchema.fields.toSeq.map(f => source(f.name) -> f.dataType) ++
      (if (includeFileColumn) Seq(Right(UTF8String.fromString(part.dataPath)) -> StringType)
       else Nil) ++
      (if (includePosColumn) Seq(Left(rowIndexOrdinal) -> LongType) else Nil)

  def rows(): PartitionReader[InternalRow] =
    files.rows(part.dataPath, readSchema, filters, part.rangeStart, part.rangeEnd)

  def batches(): PartitionReader[ColumnarBatch] =
    files.batches(part.dataPath, readSchema, filters, part.rangeStart, part.rangeEnd)
}

private[sources] object DeleteFilter {
  /** A column source as an expression over the decoded row. */
  def expression(source: Either[Int, Any], dt: DataType): Expression = source match {
    case Left(i)  => BoundReference(i, dt, nullable = true)
    case Right(v) => Literal(v, dt)
  }

  /** `f` with every column renamed by `to`, or None for a filter kind
    * this does not know how to rename. */
  def rename(f: sources.Filter, to: String => String): Option[sources.Filter] = f match {
    case sources.EqualTo(a, v)            => Some(sources.EqualTo(to(a), v))
    case sources.EqualNullSafe(a, v)      => Some(sources.EqualNullSafe(to(a), v))
    case sources.GreaterThan(a, v)        => Some(sources.GreaterThan(to(a), v))
    case sources.GreaterThanOrEqual(a, v) => Some(sources.GreaterThanOrEqual(to(a), v))
    case sources.LessThan(a, v)           => Some(sources.LessThan(to(a), v))
    case sources.LessThanOrEqual(a, v)    => Some(sources.LessThanOrEqual(to(a), v))
    case sources.In(a, vs)                => Some(sources.In(to(a), vs))
    case sources.IsNull(a)                => Some(sources.IsNull(to(a)))
    case sources.IsNotNull(a)             => Some(sources.IsNotNull(to(a)))
    case sources.StringStartsWith(a, v)   => Some(sources.StringStartsWith(to(a), v))
    case sources.And(l, r) => for (a <- rename(l, to); b <- rename(r, to)) yield sources.And(a, b)
    case sources.Or(l, r)  => for (a <- rename(l, to); b <- rename(r, to)) yield sources.Or(a, b)
    case sources.Not(c)    => rename(c, to).map(sources.Not)
    case other             => if (other.references.isEmpty) Some(other) else None
  }
}

/** Probe of one equality-delete key set from one data-file layout: the
  * key columns (`key`, over the decoded row) project to an [[UnsafeRow]]
  * with floats normalized as Spark's join keys are (NaN = NaN, -0.0 =
  * 0.0), and the row survives unless that key is in `set`. A key with a
  * null component never matches. The projection's buffer is reused:
  * one probe serves one thread. */
private[graft] final class EqKeyProbe(key: Seq[Expression],
    set: java.util.HashSet[UnsafeRow]) {
  private val project = EqKeyProbe.projection(key)
  def live(row: InternalRow): Boolean = {
    val k = project(row)
    k.anyNull || !set.contains(k)
  }
}

private[graft] object EqKeyProbe {
  def projection(key: Seq[Expression]): UnsafeProjection =
    UnsafeProjection.create(
      key.map(org.apache.spark.sql.graftbridge.ColumnBridge.normalizeFloats))

  /** The key set entry for the leading `types.length` columns of a
    * delete-file row, or null when a component is null. */
  def keyOf(types: Seq[DataType]): InternalRow => UnsafeRow = {
    val p = projection(types.zipWithIndex.map { case (t, i) =>
      BoundReference(i, t, nullable = true) })
    row => { val k = p(row); if (k.anyNull) null else k.copy() }
  }
}

/** The row reader of the MoR scan: Spark's rows, dead rows dropped, the
  * output columns projected. */
private[sources] final class MorRowReader(filter: DeleteFilter)
    extends PartitionReader[InternalRow] {
  private val in = filter.rows()
  private val project = UnsafeProjection.create(
    filter.output.map { case (s, dt) => DeleteFilter.expression(s, dt) })
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (in.next()) {
      val row = in.get()
      if (filter.allLive || filter.live(row)) {
        current = project(row)
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = in.close()
}

/** The columnar reader of the MoR scan: Spark's batches with the output
  * columns picked out. A batch with no dead row passes through; one with
  * dead rows leaves as [[RowIdMappedVector]] views over its live rows. */
private[sources] final class MorBatchReader(filter: DeleteFilter)
    extends PartitionReader[ColumnarBatch] {
  private val in = filter.batches()
  private val columns = filter.output.map(_._1).toArray
  private val types = filter.output.map(_._2).toArray
  private val constants = new GenericInternalRow(
    columns.map { case Right(v) => v; case Left(_) => null })
  // the decoded batch already is the output: every column, in order
  private val sameColumns =
    columns.toSeq == filter.readSchema.indices.map(Left(_))
  private var current: ColumnarBatch = _

  override def next(): Boolean = {
    while (in.next()) {
      val batch = in.get()
      val rowIds = liveRowIds(batch)
      val n = if (rowIds == null) batch.numRows else rowIds.length
      if (rowIds == null && sameColumns) {
        current = batch
        return true
      } else if (n > 0) {
        current = new ColumnarBatch(Array.tabulate[ColumnVector](columns.length) { i =>
          columns(i) match {
            case Left(ord) if rowIds == null => batch.column(ord)
            case Left(ord) => new RowIdMappedVector(batch.column(ord), rowIds)
            case Right(_) =>
              val v = new ConstantColumnVector(n, types(i))
              ColumnVectorUtils.populate(v, constants, i)
              v
          }
        }, n)
        return true
      }
    }
    false
  }

  /** The live rows of `batch`, or null when every row is live. */
  private def liveRowIds(batch: ColumnarBatch): Array[Int] =
    if (filter.allLive) null
    else {
      val n = batch.numRows
      val ids = new Array[Int](n)
      var k = 0
      var i = 0
      while (i < n) {
        if (filter.live(batch.getRow(i))) { ids(k) = i; k += 1 }
        i += 1
      }
      if (k == n) null else java.util.Arrays.copyOf(ids, k)
    }

  override def get(): ColumnarBatch = current
  override def close(): Unit = in.close()
}

/** Row `i` of this view is row `rowIds(i)` of `in`: how a batch with dead
  * rows leaves the delete filter without copying a value (the shape of
  * Iceberg's `ColumnVectorWithFilter`). `in` stays owned by its reader. */
private[sources] final class RowIdMappedVector(in: ColumnVector, rowIds: Array[Int])
    extends ColumnVector(in.dataType) {
  private lazy val children = new Array[ColumnVector](in.dataType match {
    case s: StructType => s.length
    case _             => 0
  })
  override def close(): Unit = ()
  override def hasNull: Boolean = in.hasNull
  override def numNulls: Int = rowIds.count(in.isNullAt)
  override def isNullAt(r: Int): Boolean = in.isNullAt(rowIds(r))
  override def getBoolean(r: Int): Boolean = in.getBoolean(rowIds(r))
  override def getByte(r: Int): Byte = in.getByte(rowIds(r))
  override def getShort(r: Int): Short = in.getShort(rowIds(r))
  override def getInt(r: Int): Int = in.getInt(rowIds(r))
  override def getLong(r: Int): Long = in.getLong(rowIds(r))
  override def getFloat(r: Int): Float = in.getFloat(rowIds(r))
  override def getDouble(r: Int): Double = in.getDouble(rowIds(r))
  override def getArray(r: Int): ColumnarArray = in.getArray(rowIds(r))
  override def getMap(r: Int): ColumnarMap = in.getMap(rowIds(r))
  override def getDecimal(r: Int, precision: Int, scale: Int): Decimal =
    in.getDecimal(rowIds(r), precision, scale)
  override def getUTF8String(r: Int): UTF8String = in.getUTF8String(rowIds(r))
  override def getBinary(r: Int): Array[Byte] = in.getBinary(rowIds(r))
  override def getChild(i: Int): ColumnVector = {
    if (children(i) == null) children(i) = new RowIdMappedVector(in.getChild(i), rowIds)
    children(i)
  }
}
