package graft.core

import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.types._

/** Column DEFAULT value plumbing (the Iceberg v3 initial/write-default
  * model): one canonical representation — Spark SQL literal TEXT — and
  * the conversions every consumer needs.
  *
  * Defaults are validated and CANONICALIZED once at DDL time
  * ([[canonicalize]]): the text must parse to a foldable expression and
  * cast losslessly to the column type; what is stored is
  * `Literal(value, type).sql`, which round-trips through the parser on
  * any executor with no session state. Readers then evaluate the stored
  * text ONCE per task ([[catalystValue]]) — never per row — and emit it
  * as a constant column, which equality-delete keys compare like a
  * stored value.
  *
  * Supported types are the flat primitives the engine's write path
  * carries (int, bigint, float, double, boolean, string, date,
  * timestamp, decimal) — same surface as schema evolution itself. */
object ColumnDefaults {

  def supported(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | FloatType | DoubleType | BooleanType |
         StringType | DateType | TimestampType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Validate `text` as a default for a column of `ddlType` and return
    * the canonical literal text to store. Fails loudly (Config error)
    * on unparseable text, non-foldable expressions, uncastable values,
    * or unsupported column types. `NULL` is a valid default (explicitly
    * stored — distinct from "no default"). */
  def canonicalize(text: String, ddlType: String): String = {
    val dt = try DataType.fromDDL(ddlType) catch {
      case e: Exception => throw CompactionError.Config(
        s"default value: invalid column type '$ddlType' (${e.getMessage})")
    }
    if (!supported(dt)) throw CompactionError.Config(
      s"default values are not supported for column type '$ddlType'")
    val parsed = try CatalystSqlParser.parseExpression(text) catch {
      case e: Exception => throw CompactionError.Config(
        s"default value '$text' does not parse (${e.getMessage})")
    }
    if (!parsed.resolved || !parsed.foldable) throw CompactionError.Config(
      s"default value '$text' must be a literal (constant-foldable) expression")
    val value = try Cast(parsed, dt, Some("UTC"), EvalMode.ANSI).eval(null) catch {
      case e: Exception => throw CompactionError.Config(
        s"default value '$text' does not cast to $ddlType (${e.getMessage})")
    }
    dt match {
      // Literal(ts).sql renders a ZONE-LESS wall clock under the
      // rendering session's timezone, which a reader task would
      // re-parse under ITS OWN timezone — the instant would shift.
      // Canonical timestamp text therefore carries an explicit UTC
      // offset, which every parser resolves to the same instant.
      case TimestampType if value != null =>
        val micros = value.asInstanceOf[Long]
        val odt = java.time.OffsetDateTime.ofInstant(
          java.time.Instant.EPOCH.plus(
            micros, java.time.temporal.ChronoUnit.MICROS),
          java.time.ZoneOffset.UTC)
        val wall = odt.format(java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS"))
        s"TIMESTAMP '$wall+00:00'"
      case _ => Literal(value, dt).sql
    }
  }

  /** The stored canonical text as a CATALYST value (UTF8String for
    * strings, Decimal for decimals, Int days for dates, Long micros for
    * timestamps) of exactly `dt`. */
  def catalystValue(text: String, dt: DataType): Any = {
    val parsed = CatalystSqlParser.parseExpression(text)
    require(parsed.resolved && parsed.foldable,
      s"stored default '$text' is not a literal — metadata corruption?")
    Cast(parsed, dt, Some("UTC"), EvalMode.ANSI).eval(null)
  }
}
