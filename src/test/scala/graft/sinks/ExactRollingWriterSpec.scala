package graft.sinks

import graft.SparkTestSession
import graft.txn.{FileTableCatalog, TableSnapshot}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The byte-exact rolling writer: the DSv2 append's per-task
  * [[GraftDataWriter]], which rolls files on the W2 byte policy and
  * encodes rows through Spark's `ParquetWriteSupport`. */
class ExactRollingWriterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("rolls files near the byte target and preserves all rows") {
    val dir = Files.createTempDirectory("exact-roll").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    val li = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
      .repartition(2)
    val target = 64L * 1024
    li.write.format("graft").mode("append")
      .option("targetFileSizeBytes", target.toString)
      .save(dir)
    val written = FileTableCatalog.loadOrThrow(dir).files.filter(_.content == "data")
    assert(written.size >= 2) // 2 partitions, each should roll at least once

    // every non-final file per partition should be in a sane band around
    // the target: the policy forbids rolling under 10% and forces it past
    // 1.5x (on-disk size differs from the in-flight estimate, so allow 2x)
    val fileOf = """part-(\d+)-(\d+)\.parquet$""".r.unanchored
    written.groupBy(f => f.path match { case fileOf(task, _) => task })
      .values.foreach { files =>
        files.sortBy(f => f.path match { case fileOf(_, i) => i.toInt })
          .dropRight(1).foreach { f =>
            assert(f.sizeBytes >= target / 10, s"${f.path} too small: ${f.sizeBytes}")
            assert(f.sizeBytes <= target * 2, s"${f.path} too large: ${f.sizeBytes}")
          }
      }

    // content round-trip of the written files: same multiset of rows,
    // same schema
    val back = spark.read.parquet(written.map(_.path): _*)
    assert(back.count() == li.count())
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      li.schema.map(f => (f.name, f.dataType)))
    assert(back.exceptAll(li).isEmpty && li.exceptAll(back).isEmpty)

    // the graft read reports the footer's types too: l_shipdate is an
    // INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false), a TIMESTAMP_NTZ
    val graftRead = spark.read.format("graft").load(dir)
    assert(graftRead.schema("l_shipdate").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    assert(graftRead.schema.map(f => (f.name, f.dataType)) ==
      li.schema.map(f => (f.name, f.dataType)))
    assert(graftRead.exceptAll(li).isEmpty && li.exceptAll(graftRead).isEmpty)
  }
}
