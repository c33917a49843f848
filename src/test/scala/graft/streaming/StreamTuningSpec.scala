package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class StreamTuningSpec extends AnyFunSuite {

  test("state partitions default to min(8, shuffle partitions)") {
    assert(StreamTuning.parseStatePartitions(None, 32) == 8)
    assert(StreamTuning.parseStatePartitions(None, 4) == 4)
  }

  test("a positive override wins; a non-positive one falls back to the default") {
    assert(StreamTuning.parseStatePartitions(Some("200"), 4) == 200)
    assert(StreamTuning.parseStatePartitions(Some(" 16 "), 4) == 16)
    assert(StreamTuning.parseStatePartitions(Some("0"), 32) == 8)
    assert(StreamTuning.parseStatePartitions(Some("-3"), 4) == 4)
  }

  test("a malformed override fails naming the variable and the value") {
    val e = intercept[IllegalArgumentException] {
      StreamTuning.parseStatePartitions(Some("eight"), 32)
    }
    assert(e.getMessage.contains("SPARK_GRAFT_STREAM_STATE_PARTITIONS"))
    assert(e.getMessage.contains("'eight'"))
  }

  test("a stateful query runs in its own session: the caller's shuffle partitions stay unchanged") {
    val spark = SparkTestSession.spark
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "16") // state partitions default to min(8, 16) = 8
    try {
      val stateParts = StreamTuning.withStatePartitions(spark) { session =>
        assert(session ne spark)
        assert(session.conf.get(key) == "8")
        assert(session.conf.get("spark.sql.session.timeZone") ==
          spark.conf.get("spark.sql.session.timeZone"))
        val input = MemoryStream[Long](session.implicits.newLongEncoder, session)
        val q = input.toDF().dropDuplicates("value")
          .writeStream.format("memory").queryName("tuning_dedup_out")
          .outputMode("append").start()
        try {
          input.addData(1L, 2L, 2L, 3L)
          q.processAllAvailable()
          assert(q.isActive)
          assert(spark.conf.get(key) == "16") // while the query runs
          input.addData(3L, 4L)
          q.processAllAvailable()
          assert(spark.conf.get(key) == "16")
          assert(session.table("tuning_dedup_out").count() == 4)
          q.lastProgress.stateOperators.head.numShufflePartitions
        } finally q.stop()
      }
      assert(stateParts == 8)
      assert(spark.conf.get(key) == "16")
    } finally spark.conf.set(key, prev)
  }
}
