package graft.sources

import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
import org.apache.parquet.io.api.Binary
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._

/** Spark `sources.Filter` → parquet `FilterPredicate`, for ROW-GROUP
  * statistics pruning inside the vectorized reader (the reference prunes
  * at file granularity only; within a 1 GB file at 100 TB scale the
  * per-row-group min/max skip is where most of the IO saving lives).
  *
  * STRICTLY an optimization: the scan reports every filter back to Spark
  * as residual ([[GraftScanBuilder.pushFilters]] returns its input), so
  * rows are re-filtered above the scan — a predicate this conversion
  * drops (None) merely skips nothing. Correctness therefore only
  * requires the conversion to be SOUND (never exclude a row group that
  * could contain a matching row), which parquet's statistics filter
  * guarantees for a well-typed predicate; the rules here make sure the
  * predicate is well-typed:
  *
  *  - a column is converted only when it EXISTS in the target file
  *    (`columnMap(col) = Some(phys)`) — parquet rejects predicates on
  *    absent columns rather than ignoring them;
  *  - the physical type is derived from the table's Spark type through
  *    the engine writer's fixed mapping (the pinned encoding of
  *    [[graft.sinks.GraftBatchWrite.pinnedWriteConf]]); a foreign file
  *    with a different physical layout makes the reader drop the filter
  *    at open time (it wraps the row-group filtering in a fallback);
  *  - NaN comparisons are never pushed (parquet stats ignore NaN, and
  *    min/max of a NaN-bearing group are unreliable — same rule as
  *    Spark's own ParquetFilters);
  *  - decimals compare in UNSCALED space on their INT32/INT64 physical
  *    ladder; FLBA-backed (precision > 18) decimals are not pushed.
  */
object ParquetPredicate {

  /** A pushed literal in its column's stats domain — unscaled decimals,
    * epoch micros, epoch days — shared with [[ScanPruning.filterBounds]].
    * None when the literal does not convert exactly. */
  private[sources] def unscaled(d: DecimalType, v: Any): Option[Long] = {
    val bd: Option[java.math.BigDecimal] = v match {
      case b: java.math.BigDecimal  => Some(b)
      case b: scala.math.BigDecimal => Some(b.bigDecimal)
      case dec: org.apache.spark.sql.types.Decimal => Some(dec.toJavaBigDecimal)
      case _ => None
    }
    bd.flatMap { b =>
      try Some(b.setScale(d.scale).unscaledValue().longValueExact())
      catch { case _: ArithmeticException => None }
    }
  }

  private[sources] def micros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp  => Some(DateTimeUtils.fromJavaTimestamp(t))
    case i: java.time.Instant   => Some(DateTimeUtils.instantToMicros(i))
    case l: java.time.LocalDateTime => Some(DateTimeUtils.localDateTimeToMicros(l))
    case _ => None
  }
  private[sources] def epochDay(v: Any): Option[Int] = v match {
    case d: java.sql.Date      => Some(DateTimeUtils.fromJavaDate(d))
    case d: java.time.LocalDate => Some(Math.toIntExact(d.toEpochDay))
    case _ => None
  }

  /** Conjunction over every convertible pushed filter, or None when
    * nothing converts. `columnMap` resolves CURRENT column names to the
    * file's physical names (None = column absent from the file). */
  def build(
      filters: Seq[sources.Filter],
      tableSchema: StructType,
      columnMap: Map[String, Option[String]]
  ): Option[FilterPredicate] = {
    val typeOf: Map[String, DataType] =
      tableSchema.fields.map(f => f.name -> f.dataType).toMap

    def phys(col: String): Option[String] =
      columnMap.get(col).flatten.filterNot(_.contains("."))

    sealed trait Op
    object Eq extends Op; object NotEq extends Op
    object Gt extends Op; object GtEq extends Op
    object Lt extends Op; object LtEq extends Op

    def longPred(c: String, v: java.lang.Long, op: Op): FilterPredicate = {
      val col = FilterApi.longColumn(c)
      op match {
        case Eq => FilterApi.eq(col, v);   case NotEq => FilterApi.notEq(col, v)
        case Gt => FilterApi.gt(col, v);   case GtEq  => FilterApi.gtEq(col, v)
        case Lt => FilterApi.lt(col, v);   case LtEq  => FilterApi.ltEq(col, v)
      }
    }
    def intPred(c: String, v: java.lang.Integer, op: Op): FilterPredicate = {
      val col = FilterApi.intColumn(c)
      op match {
        case Eq => FilterApi.eq(col, v);   case NotEq => FilterApi.notEq(col, v)
        case Gt => FilterApi.gt(col, v);   case GtEq  => FilterApi.gtEq(col, v)
        case Lt => FilterApi.lt(col, v);   case LtEq  => FilterApi.ltEq(col, v)
      }
    }
    def doublePred(c: String, v: java.lang.Double, op: Op): FilterPredicate = {
      val col = FilterApi.doubleColumn(c)
      op match {
        case Eq => FilterApi.eq(col, v);   case NotEq => FilterApi.notEq(col, v)
        case Gt => FilterApi.gt(col, v);   case GtEq  => FilterApi.gtEq(col, v)
        case Lt => FilterApi.lt(col, v);   case LtEq  => FilterApi.ltEq(col, v)
      }
    }
    def floatPred(c: String, v: java.lang.Float, op: Op): FilterPredicate = {
      val col = FilterApi.floatColumn(c)
      op match {
        case Eq => FilterApi.eq(col, v);   case NotEq => FilterApi.notEq(col, v)
        case Gt => FilterApi.gt(col, v);   case GtEq  => FilterApi.gtEq(col, v)
        case Lt => FilterApi.lt(col, v);   case LtEq  => FilterApi.ltEq(col, v)
      }
    }
    def binaryPred(c: String, v: Binary, op: Op): FilterPredicate = {
      val col = FilterApi.binaryColumn(c)
      op match {
        case Eq => FilterApi.eq(col, v);   case NotEq => FilterApi.notEq(col, v)
        case Gt => FilterApi.gt(col, v);   case GtEq  => FilterApi.gtEq(col, v)
        case Lt => FilterApi.lt(col, v);   case LtEq  => FilterApi.ltEq(col, v)
      }
    }

    def cmp(col: String, v: Any, op: Op): Option[FilterPredicate] =
      if (v == null) None
      else phys(col).flatMap { p =>
        typeOf.get(col).flatMap {
          case LongType => v match {
            case l: Long  => Some(longPred(p, l, op))
            case i: Int   => Some(longPred(p, i.toLong, op))
            case s: Short => Some(longPred(p, s.toLong, op))
            case _        => None
          }
          case TimestampType | TimestampNTZType =>
            micros(v).map(longPred(p, _, op))
          case IntegerType => v match {
            case i: Int   => Some(intPred(p, i, op))
            case s: Short => Some(intPred(p, s.toInt, op))
            case _        => None
          }
          case DateType => epochDay(v).map(intPred(p, _, op))
          case DoubleType => v match {
            case d: Double if !d.isNaN => Some(doublePred(p, d, op))
            case _ => None
          }
          case FloatType => v match {
            case f: Float if !f.isNaN => Some(floatPred(p, f, op))
            case _ => None
          }
          case StringType => v match {
            case s: String => Some(binaryPred(p, Binary.fromString(s), op))
            case u: org.apache.spark.unsafe.types.UTF8String =>
              Some(binaryPred(p, Binary.fromConstantByteArray(u.getBytes), op))
            case _ => None
          }
          case BinaryType => v match {
            case b: Array[Byte] =>
              Some(binaryPred(p, Binary.fromConstantByteArray(b), op))
            case _ => None
          }
          case BooleanType => v match {
            // stats-level boolean pruning only helps on eq/notEq
            case b: Boolean if op == Eq =>
              Some(FilterApi.eq(FilterApi.booleanColumn(p), java.lang.Boolean.valueOf(b)))
            case b: Boolean if op == NotEq =>
              Some(FilterApi.notEq(FilterApi.booleanColumn(p), java.lang.Boolean.valueOf(b)))
            case _ => None
          }
          case d: DecimalType if d.precision <= 9 =>
            unscaled(d, v).map(u => intPred(p, u.toInt, op))
          case d: DecimalType if d.precision <= 18 =>
            unscaled(d, v).map(longPred(p, _, op))
          case _ => None
        }
      }

    def isNull(col: String, negate: Boolean): Option[FilterPredicate] =
      phys(col).flatMap { p =>
        // typed null comparison: eq(col, null) is parquet's isNull
        def longNull   = if (negate) FilterApi.notEq(FilterApi.longColumn(p), null: java.lang.Long)
                         else FilterApi.eq(FilterApi.longColumn(p), null: java.lang.Long)
        def intNull    = if (negate) FilterApi.notEq(FilterApi.intColumn(p), null: java.lang.Integer)
                         else FilterApi.eq(FilterApi.intColumn(p), null: java.lang.Integer)
        def doubleNull = if (negate) FilterApi.notEq(FilterApi.doubleColumn(p), null: java.lang.Double)
                         else FilterApi.eq(FilterApi.doubleColumn(p), null: java.lang.Double)
        def floatNull  = if (negate) FilterApi.notEq(FilterApi.floatColumn(p), null: java.lang.Float)
                         else FilterApi.eq(FilterApi.floatColumn(p), null: java.lang.Float)
        def binNull    = if (negate) FilterApi.notEq(FilterApi.binaryColumn(p), null: Binary)
                         else FilterApi.eq(FilterApi.binaryColumn(p), null: Binary)
        def boolNull   = if (negate) FilterApi.notEq(FilterApi.booleanColumn(p), null: java.lang.Boolean)
                         else FilterApi.eq(FilterApi.booleanColumn(p), null: java.lang.Boolean)
        typeOf.get(col).flatMap {
          case LongType | TimestampType | TimestampNTZType => Some(longNull)
          case IntegerType | DateType => Some(intNull)
          case DoubleType  => Some(doubleNull)
          case FloatType   => Some(floatNull)
          case StringType | BinaryType => Some(binNull)
          case BooleanType => Some(boolNull)
          case d: DecimalType if d.precision <= 9  => Some(intNull)
          case d: DecimalType if d.precision <= 18 => Some(longNull)
          case _ => None
        }
      }

    def convert(f: sources.Filter): Option[FilterPredicate] = f match {
      // a half-converted AND keeps the convertible side (sound: fewer
      // constraints skip fewer groups, never more)
      case sources.And(l, r) => (convert(l), convert(r)) match {
        case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
        case (one, other)       => one.orElse(other)
      }
      // OR requires BOTH sides (dropping one side would skip groups the
      // other side might match)
      case sources.Or(l, r) =>
        for { a <- convert(l); b <- convert(r) } yield FilterApi.or(a, b)
      case sources.EqualTo(a, v)            => cmp(a, v, Eq)
      case sources.GreaterThan(a, v)        => cmp(a, v, Gt)
      case sources.GreaterThanOrEqual(a, v) => cmp(a, v, GtEq)
      case sources.LessThan(a, v)           => cmp(a, v, Lt)
      case sources.LessThanOrEqual(a, v)    => cmp(a, v, LtEq)
      case sources.In(a, vs) if vs.nonEmpty && vs.length <= 20 =>
        val legs = vs.toSeq.map(v => cmp(a, v, Eq))
        if (legs.exists(_.isEmpty)) None
        else Some(legs.flatten.reduce(FilterApi.or))
      case sources.IsNull(a)    => isNull(a, negate = false)
      case sources.IsNotNull(a) => isNull(a, negate = true)
      // Not / StringStartsWith / EqualNullSafe etc.: not converted —
      // residual evaluation above the scan covers them
      case _ => None
    }

    val legs = filters.flatMap(f => convert(f))
    legs.reduceOption(FilterApi.and)
  }
}
