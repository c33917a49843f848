package org.apache.spark.sql.graftbridge

/** Read-only view of an UNBOUND SQL predicate as a minimal public ADT —
  * the engine's `rewrite_data_files(where => ...)` pruning inspects the
  * predicate before any DataFrame exists to resolve it against. Anything
  * beyond attribute/literal/comparison collapses to [[PredNode.Opaque]],
  * which consumers must treat as "unknown — assume it can match
  * anything". */
object NodeBridge {

  sealed trait PredNode
  object PredNode {
    final case class Fn(name: String, args: Seq[PredNode]) extends PredNode
    final case class Attr(name: String) extends PredNode
    final case class Lit(value: Any) extends PredNode
    case object Opaque extends PredNode
  }

  /** A SQL predicate string as a [[PredNode]] tree: parse and walk the
    * catalyst tree. Unhandled shapes collapse to Opaque (assume-match). */
  def treeOfSql(sql: String): PredNode =
    try convertExpr(
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(sql))
    catch { case scala.util.control.NonFatal(_) => PredNode.Opaque }

  private def convertExpr(
      e: org.apache.spark.sql.catalyst.expressions.Expression): PredNode = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    e match {
      case ce.And(l, r) => PredNode.Fn("and", Seq(convertExpr(l), convertExpr(r)))
      case ce.Or(l, r) => PredNode.Fn("or", Seq(convertExpr(l), convertExpr(r)))
      case ce.EqualTo(l, r) => PredNode.Fn("=", Seq(convertExpr(l), convertExpr(r)))
      case ce.GreaterThan(l, r) => PredNode.Fn(">", Seq(convertExpr(l), convertExpr(r)))
      case ce.GreaterThanOrEqual(l, r) => PredNode.Fn(">=", Seq(convertExpr(l), convertExpr(r)))
      case ce.LessThan(l, r) => PredNode.Fn("<", Seq(convertExpr(l), convertExpr(r)))
      case ce.LessThanOrEqual(l, r) => PredNode.Fn("<=", Seq(convertExpr(l), convertExpr(r)))
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        PredNode.Attr(a.nameParts.mkString("."))
      case l: ce.Literal => PredNode.Lit(l.value match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.toString
        case v => v
      })
      case _ => PredNode.Opaque
    }
  }
}
