package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The equality-delete probe's key equality: loaded key sets hold COPIED
  * binary keys ([[EqKeyProbe.keyOf]]) while each row probes through one
  * projection whose output buffer is reused. Binary equality and hash
  * make the two meet once floats are normalized as Spark's join keys
  * are; these checks pin that, so a key-construction change that breaks
  * it fails here instead of silently keeping deleted rows. */
class EqProbeSpec extends AnyFunSuite {
  private val types: Seq[DataType] = Seq(LongType, StringType, DoubleType)

  private def row(id: Option[Long], s: String, d: Double): InternalRow =
    new GenericInternalRow(Array[Any](id.orNull, UTF8String.fromString(s), d))

  private val keyOf = EqKeyProbe.keyOf(types)

  private def probe(set: java.util.HashSet[UnsafeRow]) = new EqKeyProbe(
    types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) }, set)

  test("a probe through the reused ArraySeq view hits a List-keyed HashSet") {
    val set = new java.util.HashSet[UnsafeRow]()
    set.add(keyOf(row(Some(5L), "x", 1.5)))
    set.add(keyOf(row(Some(7L), "y", Double.NaN)))
    val p = probe(set)
    assert(!p.live(row(Some(5L), "x", 1.5)))
    assert(!p.live(row(Some(7L), "y", Double.NaN))) // NaN keys match
    // the reused buffer must not leak one row's key into the next probe
    assert(p.live(row(Some(5L), "y", 1.5)))
    assert(p.live(row(Some(6L), "x", 1.5)))
    assert(!p.live(row(Some(5L), "x", 1.5)))
    // a null key component never matches
    assert(p.live(row(None, "x", 1.5)))
  }

  test("the view and a List key agree on equality and hash") {
    // the probe's reused projection output and a stored (copied) key
    val view = EqKeyProbe.projection(
      types.zipWithIndex.map { case (t, i) => BoundReference(i, t, nullable = true) })(
      row(Some(5L), "x", -0.0))
    val key = keyOf(row(Some(5L), "x", 0.0))
    assert(view == key && key == view)
    assert(view.hashCode == key.hashCode)
    // a key with a null component is never stored
    assert(keyOf(row(None, "x", 0.0)) == null)
  }
}
