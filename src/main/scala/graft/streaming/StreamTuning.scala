package graft.streaming

import org.apache.spark.sql.SparkSession

/** STATE-PARTITION sizing for stateful streaming queries, decoupled
  * from `spark.sql.shuffle.partitions`.
  *
  * Structured Streaming pins a query's state-partition count to the
  * session's shuffle-partition setting at the FIRST micro-batch and
  * keeps it for the checkpoint's life; every micro-batch then pays a
  * FIXED cost per state partition per store (HDFS-backed provider:
  * open + delta file + fsync + snapshot bookkeeping), regardless of how
  * little state lives there. The right count therefore scales with
  * STATEFUL-KEY VOLUME and throughput — not with the host's core count:
  * a 32-core session processing a serving-scale stream across 4 stores
  * (a stream-stream join) does 4 x 32 file creates + fsyncs per batch
  * where 4 x 8 carry the same rows, and measured on this engine's
  * stateful bench queries the 32-partition form is SLOWER at 32 cores
  * than at 8 (`PERF_r16.json` scaling: stream_join 0.57).
  *
  * `SPARK_GRAFT_STREAM_STATE_PARTITIONS` overrides explicitly (a
  * production deployment sizes it to its key volume, e.g. hundreds for
  * billions of keys); the default is min(8, shuffle.partitions) —
  * bounded by the session's own parallelism, never above it, and
  * enough parallelism for any state that fits a single-host bench. The
  * OUTPUT of a stateful query is partition-count-independent (the
  * state partitioning decides where a key's state lives, not what the
  * operator emits), so this is a pure constant-factor knob. */
object StreamTuning {
  private val EnvKey = "SPARK_GRAFT_STREAM_STATE_PARTITIONS"
  private val ShuffleKey = "spark.sql.shuffle.partitions"

  def statePartitions(spark: SparkSession): Int =
    parseStatePartitions(sys.env.get(EnvKey), spark.conf.get(ShuffleKey).toInt)

  /** The state-partition count from the raw env value (if set) and the
    * session's shuffle-partition count. A non-positive override falls
    * back to the default; a non-integer one fails naming the variable
    * and the value, not with a bare NumberFormatException. */
  def parseStatePartitions(env: Option[String], sessionPartitions: Int): Int =
    env.map { raw =>
      raw.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"$EnvKey must be an integer partition count, got '$raw'"))
    }.filter(_ > 0).getOrElse(math.min(8, sessionPartitions))

  /** Run `body` (a stateful streaming query, built and run on the
    * session it is handed) in a new session of `spark` whose shuffle-
    * partition conf is the state partition count. The conf must stay set
    * for the query's whole life — micro-batch planning reads it per
    * batch (the state count itself pins at batch 0) — so it lives in
    * that session, never in the caller's: a concurrent query on
    * `spark` keeps planning with the caller's own count. The caller's
    * other runtime SQL confs carry over. */
  def withStatePartitions[A](spark: SparkSession)(body: SparkSession => A): A = {
    val session = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      if (spark.conf.isModifiable(k)) session.conf.set(k, v)
    }
    session.conf.set(ShuffleKey, statePartitions(spark).toString)
    body(session)
  }
}
