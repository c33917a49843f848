package graft.pipeline

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Lloyd mean and the PQ codebook loop average vectors element by
  * element; a vector whose length differs from the seeds' must fail with
  * a named error in every ANSI mode (without ANSI a short vector's
  * missing dims read as null and skew the mean silently). */
class FixedDimsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withAnsiOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try body finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  private def failureOf(body: => Any): String =
    intercept[Exception](body) match {
      case e => Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    }

  test("Lloyd training refuses a ragged vector with ANSI off") {
    // ids 0..9 are 4-dim; id 10 is short and id 11 long
    val vecs = (0L until 10L).map(i => (i, Seq(i, i + 1, i + 2, i + 3))) ++
      Seq((10L, Seq(1L, 2L)), (11L, Seq(1L, 2L, 3L, 4L, 5L)))
    for (ragged <- Seq(10L, 11L)) {
      val df = vecs.filter(v => v._1 < 10L || v._1 == ragged).toDF("id", "px")
      val msg = withAnsiOff(failureOf(
        Similarity.IntKMeans.trainCollect(df, "id", "px",
          numCentroids = 12, lloydIters = 1)))
      assert(msg.contains("k-means training") &&
        msg.contains("expected 4 (fixed-dims contract)"), msg)
    }
    // the well-formed corpus still trains
    withAnsiOff(assert(Similarity.IntKMeans.trainCollect(
      vecs.filter(_._1 < 10L).toDF("id", "px"), "id", "px", 3, 1).size == 3))
  }

  test("PQ codebook training refuses a ragged subvector with ANSI off") {
    val subs = (0L until 10L).map(i => (i, 0, Seq(i, i * 2))) :+ ((10L, 0, Seq(7L)))
    val msg = withAnsiOff(failureOf(
      Similarity.trainCodebookCollect(subs.toDF("id", "m", "spx"), "id",
        codebookSize = 11, lloydIters = 1, seedKey = "pq")))
    assert(msg.contains("PQ codebook training") &&
      msg.contains("expected 2 (fixed-dims contract)"), msg)
  }
}
