package graft.sources

import graft.core.CompactionError
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.{MessageType, PrimitiveType}
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.internal.LegacyBehaviorPolicy
import org.apache.spark.sql.types.{DataType, DateType, TimestampNTZType, TimestampType}

import scala.jdk.CollectionConverters._

/** How one parquet file stores dates and timestamps, decided from its
  * footer as Spark's parquet reader decides it: INT64 timestamps in
  * MILLIS or MICROS, and Julian-calendar values where Spark wrote the
  * file before 3.0 (3.1 for INT96) or under a LEGACY rebase mode. A file
  * without Spark's version key is proleptic Gregorian, whatever the
  * session says. graft's decoders map stored values through
  * [[longFix]]/[[dateFix]], so they return what `spark.read.parquet`
  * returns for the same file. */
private[graft] final class FileCalendar private (
    /** Dates and INT64 timestamps are stored in the Julian calendar. */
    val legacyDatetime: Boolean,
    rebaseDays: Int => Int, rebaseMicros: Long => Long, rebaseInt96: Long => Long) {

  /** Stored DATE day → Catalyst day, or null when they are equal. */
  def dateFix(dt: DataType): Int => Int =
    if (dt == DateType && legacyDatetime) rebaseDays else null

  /** The long graft's decoders take off a leaf (INT64 as stored, INT96
    * through `Int96Bridge`) → Catalyst micros, or null when they are
    * equal. TIMESTAMP_NTZ is never rebased (Spark writes it as is);
    * NANOS, which Spark reads only as a long, is refused by name. */
  def longFix(pt: PrimitiveType, dt: DataType, col: String): Long => Long =
    if (dt != TimestampType && dt != TimestampNTZType) null
    else if (pt.getPrimitiveTypeName == PrimitiveTypeName.INT96) rebaseInt96
    else if (pt.getPrimitiveTypeName != PrimitiveTypeName.INT64) null
    else {
      val rebase = if (dt == TimestampType) rebaseMicros else null
      pt.getLogicalTypeAnnotation match {
        case ts: TimestampLogicalTypeAnnotation if ts.getUnit == TimeUnit.MILLIS =>
          if (rebase == null) DateTimeUtils.millisToMicros
          else m => rebase(DateTimeUtils.millisToMicros(m))
        case ts: TimestampLogicalTypeAnnotation if ts.getUnit != TimeUnit.MICROS =>
          throw CompactionError.Config(s"column $col stores TIMESTAMP(" +
            s"${ts.getUnit}); graft reads MILLIS and MICROS timestamps only")
        case _ => rebase
      }
    }

  /** Whether the footer statistics of `schema` compare directly with
    * Catalyst dates and timestamps (Gregorian, INT64 timestamps in
    * MICROS) — the condition for row-group skipping and bound stamps. */
  def statsExact(schema: MessageType): Boolean =
    !legacyDatetime && schema.getColumns.asScala.forall {
      _.getPrimitiveType.getLogicalTypeAnnotation match {
        case ts: TimestampLogicalTypeAnnotation => ts.getUnit == TimeUnit.MICROS
        case _ => true
      }
    }
}

private[graft] object FileCalendar {

  /** Proleptic Gregorian, what graft's writers store. */
  val Gregorian: FileCalendar = new FileCalendar(false, null, null, null)

  /** The calendar of a file whose footer key-values `meta` returns
    * (null for an absent key). */
  def of(meta: String => String): FileCalendar = {
    val dt = DataSourceUtils.datetimeRebaseSpec(meta, "CORRECTED")
    val i96 = DataSourceUtils.int96RebaseSpec(meta, "CORRECTED")
    def legacy(mode: Enumeration#Value) = mode == LegacyBehaviorPolicy.LEGACY
    if (!legacy(dt.mode) && !legacy(i96.mode)) Gregorian
    else {
      val days = DataSourceUtils.createDateRebaseFuncInRead(dt.mode, "Parquet")
      val micros = DataSourceUtils.createTimestampRebaseFuncInRead(dt, "Parquet")
      val int96 = DataSourceUtils.createTimestampRebaseFuncInRead(i96, "Parquet")
      new FileCalendar(legacy(dt.mode),
        if (legacy(dt.mode)) d => days(d).asInstanceOf[Int] else null,
        if (legacy(dt.mode)) m => micros(m).asInstanceOf[Long] else null,
        if (legacy(i96.mode)) m => int96(m).asInstanceOf[Long] else null)
    }
  }

  def of(meta: java.util.Map[String, String]): FileCalendar = of(meta.get _)

  /** A [[GroupReadSupport]] that keeps the calendar of the file it reads:
    * parquet hands `init` the footer's key-values before the first
    * record, so [[calendar]] is set once `read()` returned one. */
  final class ReadSupportWithCalendar extends GroupReadSupport {
    @volatile var calendar: FileCalendar = Gregorian
    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val kv = ctx.getKeyValueMetadata
      calendar = of((k: String) => Option(kv.get(k)).map(_.iterator.next).orNull)
      super.init(ctx)
    }
  }
}
