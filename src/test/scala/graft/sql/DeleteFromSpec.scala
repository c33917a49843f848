package graft.sql

import graft.SparkTestSession
import graft.core.CompactionError
import graft.streaming.{GraftTable, GraftTableSource}
import graft.txn.{FileTableCatalog, TableCatalog, TableSnapshot, TableWrites}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

/** Translatable `DELETE FROM` ([[GraftTable.deleteWhere]]) reads the
  * matching rows' `_file`/`_pos` from one pinned DSv2 scan: no shuffle
  * under a delete backlog, already-dead rows never re-deleted, a pin set
  * that is exactly the files the scan planned, and evolved tables on the
  * same position-delete path. */
class DeleteFromSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    val wh = Files.createTempDirectory("graft-delete-from").toString
    s.conf.set("spark.sql.catalog.gdel", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gdel.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)
  private def tableDir(name: String): String =
    s"${spark.conf.get("spark.sql.catalog.gdel.warehouse")}/db/$name"

  /** Shuffle bytes the jobs of `body` write. The listener bus delivers
    * events in order, so once a marker job run after `body` has ended,
    * every task of `body` has been counted. */
  private def shuffleBytesOf(body: => Unit): Long = {
    val bytes = new AtomicLong(0L)
    val markerJob = new AtomicLong(-1L)
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "marker"))
          markerJob.set(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) markerDone.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("marker", "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup() // no shuffle
      assert(markerDone.await(60, TimeUnit.SECONDS), "marker job end never arrived")
      bytes.get
    } finally sc.removeSparkListener(listener)
  }

  private def withConf[T](k: String, v: String)(body: => T): T = {
    val prior = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally prior.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("DELETE FROM on a merge-on-read backlog writes no shuffle and does " +
    "not re-delete dead rows") {
    sql("CREATE NAMESPACE IF NOT EXISTS gdel.db")
    sql("CREATE TABLE gdel.db.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')")
    (0 until 4).foreach { i =>
      sql(s"INSERT INTO gdel.db.t SELECT /*+ COALESCE(1) */ id, id * 10 " +
        s"FROM range(${i * 100}, ${(i + 1) * 100})")
    }
    val dir = tableDir("t")
    TableWrites.appendEqualityDeletes(dir,
      spark.range(0, 400).filter(col("id") % 7 === 0).select(col("id").as("k")), Seq("k"))
    TableWrites.appendPositionDeletes(dir,
      spark.read.format("graft").load(dir).filter(col("k") % 5 === 1)
        .select(col("_file").as("file_path"), col("_pos").as("pos")))
    def deleted(k: Long) = k % 7 == 0 || k % 5 == 1 || (k >= 150 && k <= 260)
    val before = FileTableCatalog.loadOrThrow(dir)

    val shuffled = withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      shuffleBytesOf(sql("DELETE FROM gdel.db.t WHERE k BETWEEN 150 AND 260"))
    }
    assert(shuffled == 0L, s"DELETE FROM wrote $shuffled shuffle bytes")
    assert(sql("SELECT k FROM gdel.db.t").collect().map(_.getLong(0)).sorted.toSeq ==
      (0L until 400L).filterNot(deleted))
    // one commit of position deletes naming only the rows that were live
    val after = FileTableCatalog.loadOrThrow(dir)
    assert(after.version == before.version + 1)
    val added = after.files.filterNot(f => before.files.exists(_.path == f.path))
    assert(added.nonEmpty && added.forall(_.content == "position-deletes"))
    assert(added.map(_.recordCount).sum ==
      (150L to 260L).count(k => k % 7 != 0 && k % 5 != 1))

    // every matching row is already dead: nothing to commit
    sql("DELETE FROM gdel.db.t WHERE k BETWEEN 150 AND 260")
    assert(FileTableCatalog.loadOrThrow(dir).version == after.version)
  }

  /** A catalog whose first commit is preceded by a concurrent rewrite of
    * `victim` (a copy under a new path, as compaction would commit). */
  private final class RacingCatalog(victim: String) extends TableCatalog {
    @volatile private var raced = false
    override def load(table: String): Option[TableSnapshot] = FileTableCatalog.load(table)
    override def versions(table: String): Seq[Long] = FileTableCatalog.versions(table)
    override def loadVersion(table: String, version: Long): Option[TableSnapshot] =
      FileTableCatalog.loadVersion(table, version)
    override def deleteVersion(table: String, version: Long): Unit =
      FileTableCatalog.deleteVersion(table, version)
    override def commitCas(table: String, snapshot: TableSnapshot): Unit = {
      if (!raced) {
        raced = true
        val cur = FileTableCatalog.loadOrThrow(table)
        val copy = victim.stripSuffix(".parquet") + "-rewritten.parquet"
        Files.copy(Paths.get(victim), Paths.get(copy))
        FileTableCatalog.commitCas(table, cur.copy(version = cur.version + 1,
          files = cur.files.map(f => if (f.path == victim) f.copy(path = copy) else f)))
      }
      FileTableCatalog.commitCas(table, snapshot)
    }
  }

  test("DELETE FROM pins exactly the files its scan planned") {
    val dir = Files.createTempDirectory("graft-delete-pin").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    import spark.implicits._
    for (names <- Seq(Seq("apple", "banana"), Seq("kiwi", "mango"), Seq("plum", "quince")))
      names.toDF("s").coalesce(1).write.format("graft").mode("append").save(dir)
    val snap = FileTableCatalog.loadOrThrow(dir)
    val files = snap.files.map(_.path)
    assert(files.size == 3)
    def holding(name: String) = files.find(p =>
      spark.read.parquet(p).filter(col("s") === name).count() == 1).get
    def deleteMango(catalog: TableCatalog): Unit =
      new GraftTable(dir, GraftTableSource.schemaOf(snap), catalog = catalog)
        .deleteWhere(Array[sources.Filter](sources.EqualTo("s", "mango")))

    // the string bounds prune the other two files from the scan, so a
    // concurrent rewrite of one of them does not abort the delete
    deleteMango(new RacingCatalog(holding("plum")))
    assert(spark.read.format("graft").load(dir).as[String].collect().sorted.toSeq ==
      Seq("apple", "banana", "kiwi", "plum", "quince"))

    // a rewrite of the planned file does: its positions would be orphaned
    Seq("mango").toDF("s").coalesce(1).write.format("graft").mode("append").save(dir)
    val e = intercept[CompactionError] {
      deleteMango(new RacingCatalog(holding("kiwi")))
    }
    assert(e.getMessage.contains("stale"), e.getMessage)
  }

  test("DELETE FROM on a renamed column commits position deletes only") {
    sql("CREATE NAMESPACE IF NOT EXISTS gdel.db")
    sql("CREATE TABLE gdel.db.e (id BIGINT, name STRING)")
    sql("INSERT INTO gdel.db.e VALUES (1, 'a'), (2, 'b')")
    sql("INSERT INTO gdel.db.e VALUES (3, 'b'), (4, 'c')")
    sql("ALTER TABLE gdel.db.e RENAME COLUMN name TO label")
    val dir = tableDir("e")
    val before = FileTableCatalog.loadOrThrow(dir)

    sql("DELETE FROM gdel.db.e WHERE label = 'b'")
    val after = FileTableCatalog.loadOrThrow(dir)
    assert(after.version == before.version + 1)
    // no data file rewritten: the data set is unchanged and the one
    // commit adds position deletes only
    assert(after.files.filter(_.content == "data").map(_.path).toSet ==
      before.files.filter(_.content == "data").map(_.path).toSet)
    val added = after.files.filterNot(f => before.files.exists(_.path == f.path))
    assert(added.nonEmpty && added.forall(_.content == "position-deletes"))
    assert(sql("SELECT id, label FROM gdel.db.e ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a"), (4L, "c")))
  }
}
