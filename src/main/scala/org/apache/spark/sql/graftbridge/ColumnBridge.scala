package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge.
  *
  * Spark 4 moved the Column/Expression conversions behind
  * `private[sql] classic.ExpressionUtils`; custom Catalyst expressions
  * (SURVEY §7 / the engine's native hash sketches) still need them. This
  * shim lives in an `org.apache.spark.sql` subpackage purely to re-export
  * the two conversions — the standard extension-point technique for
  * libraries that add native expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `e` with its floats normalized as Spark normalizes join keys
    * (NaN = NaN, -0.0 = 0.0), through nested types too. */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
}
