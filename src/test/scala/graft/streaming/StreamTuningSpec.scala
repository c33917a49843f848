package graft.streaming

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
}
