package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every graft read decodes parquet through Spark's parquet reader
  * ([[SparkFileReader]]). This fails when main code imports one of
  * parquet-mr's record-level decoding models again — the example
  * `Group` model, `GroupReadSupport` or the `ColumnReadStoreImpl` cursors
  * a hand-written reader would be built on. */
class OneDecoderSpec extends AnyFunSuite {
  private val forbidden = Seq(
    "org.apache.parquet.example.data",
    "org.apache.parquet.hadoop.example.GroupReadSupport",
    "org.apache.parquet.column.impl.ColumnReadStoreImpl")

  test("main code imports no hand-written parquet decoding model") {
    val main = Paths.get("src", "main", "scala")
    assert(Files.isDirectory(main), s"run from the project root: $main not found")
    val sources = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty)
    val hits = for {
      f <- sources
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      name <- forbidden if line.contains(name)
    } yield s"$f:${n + 1}: $name"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
