package graft.queries

import graft.compaction.Compaction
import graft.core.CompactionConfig
import graft.txn.{FileTableCatalog, TableSnapshot, TableWrites}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files

/** The DSv2 streaming tail ([[graft.streaming.GraftTableProvider]]) as
  * an oracle-checked query:
  *
  *  1. three appends land thirds of lineitem (l_orderkey % 3) as
  *     separate commits, with a FULL COMPACTION between the second and
  *     third — the rewrite re-adds every existing row at a retained
  *     sequence number;
  *  2. `readStream.format("graft")` drains the table with
  *     Trigger.AvailableNow into a parquet sink;
  *  3. the sink is read back and ordered.
  *
  * A hash-match against plain lineitem certifies that version-offset
  * batching emits every appended row exactly once and that the
  * compaction commit contributed NOTHING (the tail classified its files
  * as rewrite output, not appends) — the correctness core of the
  * streaming source, checked end-to-end through a real streaming query.
  */
object StreamTailQuery {

  private val outCols = Seq("l_orderkey", "l_linenumber", "l_suppkey", "l_returnflag")

  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def run(spark: SparkSession, dir: String): DataFrame = {
    val tableDir = tables.computeIfAbsent(dir, _ => {
      val td = Files.createTempDirectory("graft-stream-tail").toString
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(outCols.map(col): _*).persist()
      try {
        FileTableCatalog.commitCas(td, TableSnapshot(1, 1, 0, Nil))
        TableWrites.appendData(td, li.filter(col("l_orderkey") % 3 === 0))
        TableWrites.appendData(td, li.filter(col("l_orderkey") % 3 === 1))
        // the mid-stream rewrite the tail must NOT re-emit
        Compaction.builder().withSpark(spark).withTableDir(td)
          .withConfig(CompactionConfig(targetPartitions = 2)).build().compact()
        TableWrites.appendData(td, li.filter(col("l_orderkey") % 3 === 2))
      } finally li.unpersist()
      td
    })
    // fresh sink + checkpoint per run: the query must be idempotent
    // across repeated Verify/Bench invocations
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val out = Files.createTempDirectory(s"graft-tail-sink-$tag").toString
    val ckpt = Files.createTempDirectory(s"graft-tail-ckpt-$tag").toString
    val q = spark.readStream.format("graft").load(tableDir)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    spark.read.parquet(out)
      .select(outCols.map(col): _*)
      .orderBy(outCols.map(col): _*)
  }

  val oracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag""".stripMargin

  // -------- streaming CDC ----------------------------------------------

  private val changelogTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val chOrder = Seq("l_orderkey", "change_type", "commit_version",
    "l_linenumber", "l_suppkey", "l_returnflag")

  /** The streaming CDC source ([[graft.streaming.ChangelogStream]]) as
    * an oracle-checked query: even rows append at v2, an equality
    * delete lands at v3 (`%26` keys — surfaced as delete-by-key rows
    * with the non-key columns null), odd rows append at v4, and a full
    * compaction at v5 must emit NOTHING. The drain is a real
    * `readStream ... option("changelog", true)` micro-batch walk; the
    * hash-match certifies per-commit attribution end-to-end through
    * Structured Streaming. */
  def runChangelog(spark: SparkSession, dir: String): DataFrame = {
    val tableDir = changelogTables.computeIfAbsent(dir, _ => {
      val td = Files.createTempDirectory("graft-stream-chlog").toString
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(outCols.map(col): _*).persist()
      try {
        FileTableCatalog.commitCas(td, TableSnapshot(1, 1, 0, Nil))
        TableWrites.appendData(td, li.filter(col("l_orderkey") % 2 === 0))
        TableWrites.appendEqualityDeletes(td,
          li.filter(col("l_orderkey") % 26 === 0).select("l_orderkey"),
          Seq("l_orderkey"))
        TableWrites.appendData(td, li.filter(col("l_orderkey") % 2 === 1))
        Compaction.builder().withSpark(spark).withTableDir(td)
          .withConfig(CompactionConfig(targetPartitions = 2)).build().compact()
        require(FileTableCatalog.loadOrThrow(td).version == 5,
          "fixture drifted: compaction should commit v5")
      } finally li.unpersist()
      td
    })
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val out = Files.createTempDirectory(s"graft-chlog-sink-$tag").toString
    val ckpt = Files.createTempDirectory(s"graft-chlog-ckpt-$tag").toString
    val q = spark.readStream.format("graft")
      .option("changelog", "true").load(tableDir)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    spark.read.parquet(out)
      .withColumnRenamed("_change_type", "change_type")
      .withColumnRenamed("_commit_version", "commit_version")
      .select((outCols ++ Seq("change_type", "commit_version")).map(col): _*)
      .orderBy(chOrder.map(col): _*)
  }

  /** Spark ascending order puts NULLS FIRST; the delete rows carry null
    * non-key columns, so the oracle pins the same placement. */
  val changelogOracle: String =
    """WITH ch AS (
      |  SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag,
      |         'insert' AS change_type, CAST(2 AS BIGINT) AS commit_version
      |  FROM lineitem WHERE l_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT DISTINCT l_orderkey, CAST(NULL AS INTEGER),
      |         CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
      |         'delete', CAST(3 AS BIGINT)
      |  FROM lineitem WHERE l_orderkey % 26 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag,
      |         'insert', CAST(4 AS BIGINT)
      |  FROM lineitem WHERE l_orderkey % 2 = 1)
      |SELECT * FROM ch
      |ORDER BY l_orderkey, change_type, commit_version,
      |         l_linenumber NULLS FIRST, l_suppkey NULLS FIRST,
      |         l_returnflag NULLS FIRST""".stripMargin

  private val dvTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The streaming tail over a DELETION-VECTOR table: SQL DELETEs land
    * roaring-bitmap Puffin vectors between the appends, and the tail
    * (an append log by contract) must classify each DV commit as a
    * delete commit — honoring `skipDeletes=true` rather than crashing
    * on the unfamiliar file content or, worse, re-emitting data files
    * the DV commit re-listed. The oracle is every appended row exactly
    * once (tails do not apply deletes retroactively — Iceberg's
    * streaming read draws the same line). */
  def runDv(spark: SparkSession, dir: String): DataFrame = {
    val tableDir = dvTables.computeIfAbsent(dir, _ => {
      val name = "gst" + java.util.UUID.randomUUID().toString.take(6)
      val wh = Files.createTempDirectory(s"graft-stream-dv-$name").toString
      spark.conf.set(s"spark.sql.catalog.$name",
        classOf[graft.sql.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      spark.read.parquet(s"$dir/lineitem.parquet")
        .createOrReplaceTempView("li_sdv")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
      spark.sql(
        s"""CREATE TABLE $name.db.t (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  l_suppkey BIGINT, l_returnflag STRING)
           |TBLPROPERTIES (
           |  'graft.rowlevel.mode'='merge-on-read',
           |  'graft.deletes.format'='dv')""".stripMargin)
      def insertThird(k: Int): Unit = spark.sql(
        s"""INSERT INTO $name.db.t
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
           |FROM li_sdv WHERE l_orderkey % 3 = $k""".stripMargin)
      insertThird(0)
      insertThird(1)
      spark.sql(s"DELETE FROM $name.db.t WHERE l_orderkey <= 400")
      insertThird(2)
      val td = s"$wh/db/t"
      val files = FileTableCatalog.loadOrThrow(td).files
      require(files.exists(_.content == "deletion-vectors") &&
        !files.exists(_.content == "position-deletes"),
        "fixture must exercise deletion-vector commits")
      td
    })
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val out = Files.createTempDirectory(s"graft-dvtail-sink-$tag").toString
    val ckpt = Files.createTempDirectory(s"graft-dvtail-ckpt-$tag").toString
    val q = spark.readStream.format("graft")
      .option("skipDeletes", "true")
      .load(tableDir)
      .writeStream.format("parquet")
      .option("path", out)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    spark.read.parquet(out)
      .select(outCols.map(col): _*)
      .orderBy(outCols.map(col): _*)
  }

  /** Appends only — the tail does not apply the DV delete. */
  val dvOracle: String = oracle

  // -------- streaming dedup --------------------------------------------

  private val dedupTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** STATEFUL streaming dedup: an at-least-once upstream re-delivers a
    * fifth of the events in a later commit, and `dropDuplicates` over
    * the stream must emit every event exactly ONCE — the state store
    * remembers seen keys across micro-batches (here one batch per
    * commit via the graft tail). The replayed rows are byte-identical
    * to the originals, so the certified output is exactly the distinct
    * event set.
    *
    * Scale note: unkeyed `dropDuplicates` state grows with distinct
    * keys forever; the production form bounds it with
    * `withWatermark + dropDuplicatesWithinWatermark` (re-deliveries
    * arrive within the lateness bound). This fixture replays with
    * IDENTICAL timestamps across batches, where the watermark form's
    * output depends on batch timing — the unbounded form is the one
    * whose answer is deterministic enough to hash-certify. */
  def runDedup(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("event_id", "user_id", "event_type")
    val tableDir = dedupTables.computeIfAbsent(dir, _ => {
      val td = Files.createTempDirectory("graft-stream-dedup").toString
      val ev = graft.sources.NanosParquet.readEvents(spark, dir)
        .select(cols.map(col): _*).persist()
      try {
        FileTableCatalog.commitCas(td, TableSnapshot(1, 1, 0, Nil))
        TableWrites.appendData(td, ev)
        // the at-least-once replay: a later commit re-delivers 1/5th
        TableWrites.appendData(td, ev.filter(col("event_id") % 5 === 0))
      } finally ev.unpersist()
      td
    })
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val out = Files.createTempDirectory(s"graft-dedup-sink-$tag").toString
    val ckpt = Files.createTempDirectory(s"graft-dedup-ckpt-$tag").toString
    // stateful query: state partitions sized by key volume, not cores
    // ([[graft.streaming.StreamTuning]] — per-partition per-batch fixed
    // state-store cost dominates at serving scale)
    graft.streaming.StreamTuning.withStatePartitions(spark) { session =>
      val q = session.readStream.format("graft").load(tableDir)
        .dropDuplicates("event_id")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    spark.read.parquet(out)
      .select(cols.map(col): _*)
      .orderBy("event_id")
  }

  val dedupOracle: String =
    """SELECT event_id, user_id, event_type
      |FROM events ORDER BY event_id""".stripMargin

  // -------- stream-stream join ------------------------------------------

  private val joinTables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** STREAM-STREAM inner join: purchases and clicks arrive as two
    * independent graft streaming tails (each split over two commits, so
    * neither side is single-batch) and join on user within a 6-hour
    * attribution window. Structured Streaming buffers both sides in the
    * state store and emits a pair exactly once no matter which batch
    * interleaving delivers the halves — the INNER join without a
    * watermark is the deterministic form (the final output equals the
    * batch join regardless of timing), which is what a hash oracle can
    * certify. Production bounds the state with `withWatermark` on both
    * sides + a time-range condition, trading unbounded retention for
    * dropping stragglers past the lateness bound — that form ships as
    * [[graft.streaming.EventStream.purchaseAttribution]] (MemoryStream-
    * spec'd); the plumbing here is identical.
    *
    * Timestamps ride as epoch-nanos BIGINTs (the graft events fixture
    * normalization), so the window arithmetic is integer-exact. */
  def runJoin(spark: SparkSession, dir: String): DataFrame = {
    val (pDir, cDir) = joinTables.computeIfAbsent(dir, _ => {
      val ev = graft.sources.NanosParquet.readEvents(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .persist()
      def mk(kind: String): String = {
        val td = Files.createTempDirectory(s"graft-sjoin-$kind").toString
        FileTableCatalog.commitCas(td, TableSnapshot(1, 1, 0, Nil))
        val side = ev.filter(col("event_type") === kind)
          .select("event_id", "ts", "user_id")
        TableWrites.appendData(td, side.filter(col("event_id") % 2 === 0))
        TableWrites.appendData(td, side.filter(col("event_id") % 2 === 1))
        td
      }
      try (mk("purchase"), mk("click")) finally ev.unpersist()
    })
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val out = Files.createTempDirectory(s"graft-sjoin-sink-$tag").toString
    val ckpt = Files.createTempDirectory(s"graft-sjoin-ckpt-$tag").toString
    val hour6 = 6L * 3600L * 1000000000L
    // stateful stream-stream join: 4 state stores x state partitions x
    // per-batch delta+fsync — size the state partitioning by key
    // volume, not cores ([[graft.streaming.StreamTuning]])
    graft.streaming.StreamTuning.withStatePartitions(spark) { session =>
      val p = session.readStream.format("graft").load(pDir)
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"),
          col("user_id"))
      val c = session.readStream.format("graft").load(cDir)
        .select(col("event_id").as("c_id"), col("ts").as("c_ts"),
          col("user_id").as("c_user"))
      val q = p.join(c,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("p_ts") - hour6 && col("c_ts") <= col("p_ts"))
        .select("user_id", "p_id", "c_id", "p_ts", "c_ts")
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    spark.read.parquet(out).orderBy("user_id", "p_id", "c_id")
      .select("user_id", "p_id", "c_id", "p_ts", "c_ts")
  }

  val joinOracle: String =
    """WITH p AS (SELECT event_id AS p_id, epoch_us(ts) * 1000 AS p_ts,
      |             user_id
      |           FROM events WHERE event_type = 'purchase'),
      |     c AS (SELECT event_id AS c_id, epoch_us(ts) * 1000 AS c_ts,
      |             user_id
      |           FROM events WHERE event_type = 'click')
      |SELECT p.user_id, p_id, c_id, p_ts, c_ts
      |FROM p JOIN c ON p.user_id = c.user_id
      |  AND c_ts >= p_ts - 21600000000000 AND c_ts <= p_ts
      |ORDER BY p.user_id, p_id, c_id""".stripMargin
}
