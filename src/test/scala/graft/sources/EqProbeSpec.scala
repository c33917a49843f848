package graft.sources

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** The equality-delete probe's key equality is CROSS-TYPE: loaded key
  * sets hold immutable `List`s ([[GraftBatchScan.loadEqKeySets]]) while
  * each row probes through one reused mutable `ArraySeq` view. Scala's
  * structural `Seq` equality and hash make the two meet; these checks
  * pin that, so a collection-library or key-construction change that
  * breaks it fails here instead of silently keeping deleted rows. */
class EqProbeSpec extends AnyFunSuite {
  private val fileType = MessageTypeParser.parseMessageType(
    """message row {
      |  optional int64 id;
      |  optional binary s (STRING);
      |  optional double d;
      |}""".stripMargin)
  private val factory = new SimpleGroupFactory(fileType)

  private def row(id: Option[Long], s: String, d: Double) = {
    val g = factory.newGroup()
    id.foreach(g.add("id", _))
    g.add("s", s)
    g.add("d", d)
    g
  }

  private val extract = Array(
    GraftBatchScan.eqKeyExtractor(fileType, 0, LongType, "id", FileCalendar.Gregorian),
    GraftBatchScan.eqKeyExtractor(fileType, 1, StringType, "s", FileCalendar.Gregorian),
    GraftBatchScan.eqKeyExtractor(fileType, 2, DoubleType, "d", FileCalendar.Gregorian))

  test("a probe through the reused ArraySeq view hits a List-keyed HashSet") {
    val set = new java.util.HashSet[Seq[Any]]()
    set.add(List[Any](5L, "x", 1.5).map(GraftBatchScan.eqKeyComponent))
    set.add(List[Any](7L, "y", Double.NaN).map(GraftBatchScan.eqKeyComponent))
    val probe = new GraftBatchScan.EqProbe(extract, set)
    assert(!probe.live(row(Some(5L), "x", 1.5)))
    assert(!probe.live(row(Some(7L), "y", Double.NaN))) // NaN keys match
    // the reused buffer must not leak one row's key into the next probe
    assert(probe.live(row(Some(5L), "y", 1.5)))
    assert(probe.live(row(Some(6L), "x", 1.5)))
    assert(!probe.live(row(Some(5L), "x", 1.5)))
    // a null key component never matches
    assert(probe.live(row(None, "x", 1.5)))
  }

  test("the view and a List key agree on equality and hash") {
    val buf = Array[Any](java.lang.Long.valueOf(5L), "x")
    val view: scala.collection.Seq[Any] =
      scala.collection.mutable.ArraySeq.make(buf)
    val key: Seq[Any] = List[Any](5L, "x")
    assert(view == key && key == view)
    assert(view.hashCode == key.hashCode)
  }
}
