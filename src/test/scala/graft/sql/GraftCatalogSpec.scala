package graft.sql

import graft.SparkTestSession
import graft.txn.FileTableCatalog
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Pure-SQL lifecycle through the catalog plugin: DDL, inserts, reads
  * with pruning, time travel, merge-on-read DELETE FROM, schema
  * evolution via ALTER TABLE, rename/drop. */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    val wh = Files.createTempDirectory("graft-warehouse").toString
    s.conf.set("spark.sql.catalog.gsql", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gsql.warehouse", wh)
    s
  }

  private def sql(q: String) = spark.sql(q)

  test("CREATE / INSERT / SELECT / DELETE / VERSION AS OF / ALTER / DROP") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.db")
    sql("CREATE TABLE gsql.db.t (id BIGINT, name STRING)")
    // empty table resolves its declared columns before any data
    assert(sql("SELECT * FROM gsql.db.t").columns.toSeq == Seq("id", "name"))

    sql("INSERT INTO gsql.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    sql("INSERT INTO gsql.db.t SELECT id, concat('n', id) FROM range(4, 7)")
    assert(sql("SELECT count(*) FROM gsql.db.t").head.getLong(0) == 6)

    // merge-on-read DELETE: commits a position-delete file, no rewrite
    // (predicates must translate to source filters — arithmetic like
    // `id % 2 = 0` is rejected by Spark's metadata-delete planning)
    sql("DELETE FROM gsql.db.t WHERE id IN (2, 4, 6)")
    assert(sql("SELECT id FROM gsql.db.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L))
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val snap = FileTableCatalog.loadOrThrow(s"$warehouseDir/db/t")
    val posDels = snap.files.filter(_.content == "position-deletes")
    assert(posDels.nonEmpty && posDels.map(_.recordCount).sum == 3)
    assert(snap.files.count(_.content == "data") >= 2)

    // time travel to before the delete (v2 = bootstrap+first insert)
    assert(sql("SELECT count(*) FROM gsql.db.t VERSION AS OF 3").head.getLong(0) == 6)

    // deleted keys can be re-inserted (positions, not key deletes)
    sql("INSERT INTO gsql.db.t VALUES (2, 'b2')")
    assert(sql("SELECT name FROM gsql.db.t WHERE id = 2").head.getString(0) == "b2")

    // ALTER TABLE maps onto schema evolution
    sql("ALTER TABLE gsql.db.t RENAME COLUMN name TO label")
    assert(sql("SELECT label FROM gsql.db.t WHERE id = 1").head.getString(0) == "a")
    sql("ALTER TABLE gsql.db.t ADD COLUMN score BIGINT")
    assert(sql("SELECT score FROM gsql.db.t WHERE id = 1").head.isNullAt(0))

    // listing + rename (refused: path-addressed references) + drop
    assert(sql("SHOW TABLES IN gsql.db").collect().map(_.getString(1)).toSet == Set("t"))
    intercept[UnsupportedOperationException] {
      sql("ALTER TABLE gsql.db.t RENAME TO db.t2")
    }
    // live rows: 1, 3, 5 survived the delete, plus the re-inserted 2
    assert(spark.table("gsql.db.t").count() == 4)
    sql("DROP TABLE gsql.db.t")
    assert(sql("SHOW TABLES IN gsql.db").collect().isEmpty)
  }

  test("DELETE FROM with a predicate over live rows only") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.db2")
    sql("CREATE TABLE gsql.db2.u (id BIGINT, v BIGINT)")
    sql("INSERT INTO gsql.db2.u SELECT id, id * 10 FROM range(0, 100)")
    sql("DELETE FROM gsql.db2.u WHERE id < 50")
    sql("DELETE FROM gsql.db2.u WHERE v >= 800")
    assert(sql("SELECT count(*) FROM gsql.db2.u").head.getLong(0) == 30)
    assert(sql("SELECT min(id), max(id) FROM gsql.db2.u").head.toSeq == Seq(50L, 79L))
    // a delete matching nothing commits nothing
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val before = FileTableCatalog.loadOrThrow(s"$warehouseDir/db2/u").version
    sql("DELETE FROM gsql.db2.u WHERE id > 1000000")
    assert(FileTableCatalog.loadOrThrow(s"$warehouseDir/db2/u").version == before)
  }

  test("UPDATE and arbitrary-predicate DELETE rewrite only affected files") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.db4")
    sql("CREATE TABLE gsql.db4.w (id BIGINT, v BIGINT)")
    // two files with disjoint id ranges (two separate commits; COALESCE
    // hint -> one file each)
    sql("INSERT INTO gsql.db4.w SELECT /*+ COALESCE(1) */ id, id FROM range(0, 100)")
    sql("INSERT INTO gsql.db4.w SELECT /*+ COALESCE(1) */ id, id FROM range(1000, 1100)")
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val tdir = s"$warehouseDir/db4/w"
    val beforeFiles = FileTableCatalog.loadOrThrow(tdir)
      .files.filter(_.content == "data").map(_.path).toSet
    assert(beforeFiles.size == 2)

    // UPDATE touches only the first file's range -> copy-on-write must
    // replace THAT file and keep the other byte-identical
    sql("UPDATE gsql.db4.w SET v = v * 10 WHERE id < 50")
    val afterUpdate = FileTableCatalog.loadOrThrow(tdir)
      .files.filter(_.content == "data").map(_.path).toSet
    assert((beforeFiles intersect afterUpdate).size == 1,
      s"expected exactly the untouched file to survive: $afterUpdate")
    assert(sql("SELECT sum(v) FROM gsql.db4.w WHERE id < 50").head.getLong(0) ==
      (0L until 50L).map(_ * 10).sum)
    assert(sql("SELECT sum(v) FROM gsql.db4.w WHERE id >= 1000").head.getLong(0) ==
      (1000L until 1100L).sum)

    // DELETE with arithmetic (untranslatable -> copy-on-write, not the
    // metadata position-delete path)
    sql("DELETE FROM gsql.db4.w WHERE id % 2 = 1 AND id < 1000")
    assert(sql("SELECT count(*) FROM gsql.db4.w").head.getLong(0) == 150)
    val snap = FileTableCatalog.loadOrThrow(tdir)
    assert(snap.files.count(_.content == "position-deletes") == 0,
      "arithmetic delete must rewrite groups, not commit position deletes")
  }

  test("MERGE INTO upserts through group-based copy-on-write") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.db5")
    sql("CREATE TABLE gsql.db5.m (id BIGINT, v STRING)")
    sql("INSERT INTO gsql.db5.m VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("SELECT * FROM VALUES (2, 'B'), (4, 'D') AS s(id, v)")
      .createOrReplaceTempView("merge_src")
    sql("""MERGE INTO gsql.db5.m t USING merge_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(sql("SELECT id, v FROM gsql.db5.m ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "D")))
  }

  test("merge-on-read mode: UPDATE/MERGE/DELETE write deltas, never rewrite data files") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbm")
    sql("""CREATE TABLE gsql.dbm.d (id BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')""".stripMargin)
    sql("INSERT INTO gsql.dbm.d SELECT /*+ COALESCE(1) */ id, id FROM range(0, 100)")
    sql("INSERT INTO gsql.dbm.d SELECT /*+ COALESCE(1) */ id, id FROM range(1000, 1100)")
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val tdir = s"$warehouseDir/dbm/d"
    val beforeFiles = FileTableCatalog.loadOrThrow(tdir)
      .files.filter(_.content == "data").map(_.path).toSet
    assert(beforeFiles.size == 2)

    // UPDATE = position deletes for the old rows + appended new rows;
    // BOTH original data files must survive untouched
    sql("UPDATE gsql.dbm.d SET v = v * 10 WHERE id < 50")
    val afterUpdate = FileTableCatalog.loadOrThrow(tdir)
    assert(beforeFiles.subsetOf(
      afterUpdate.files.filter(_.content == "data").map(_.path).toSet),
      "merge-on-read UPDATE must not rewrite data files")
    val posDels = afterUpdate.files.filter(_.content == "position-deletes")
    assert(posDels.nonEmpty && posDels.map(_.recordCount).sum == 50)
    assert(sql("SELECT sum(v) FROM gsql.dbm.d WHERE id < 50").head.getLong(0) ==
      (0L until 50L).map(_ * 10).sum)
    assert(sql("SELECT count(*) FROM gsql.dbm.d").head.getLong(0) == 200)

    // arithmetic DELETE (untranslatable -> row-level) also lands as a delta
    sql("DELETE FROM gsql.dbm.d WHERE id % 2 = 1 AND id >= 1000")
    val afterDelete = FileTableCatalog.loadOrThrow(tdir)
    assert(beforeFiles.subsetOf(
      afterDelete.files.filter(_.content == "data").map(_.path).toSet),
      "merge-on-read DELETE must not rewrite data files")
    assert(sql("SELECT count(*) FROM gsql.dbm.d").head.getLong(0) == 150)

    // MERGE upsert: matched rows update (delete+insert), unmatched insert
    spark.sql("SELECT * FROM VALUES (0, 999), (5000, 1) AS s(id, v)")
      .createOrReplaceTempView("merge_mor_src")
    sql("""MERGE INTO gsql.dbm.d t USING merge_mor_src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)""".stripMargin)
    assert(sql("SELECT v FROM gsql.dbm.d WHERE id = 0").head.getLong(0) == 999L)
    assert(sql("SELECT v FROM gsql.dbm.d WHERE id = 5000").head.getLong(0) == 1L)
    assert(sql("SELECT count(*) FROM gsql.dbm.d").head.getLong(0) == 151)
    assert(beforeFiles.subsetOf(FileTableCatalog.loadOrThrow(tdir)
      .files.filter(_.content == "data").map(_.path).toSet))

    // compaction folds the delta backlog and the table keeps answering
    graft.compaction.Compaction.builder()
      .withSpark(spark).withTableDir(tdir)
      .withConfig(graft.core.CompactionConfig(
        targetPartitions = 1, enableValidateCompaction = true))
      .build().compact()
    assert(sql("SELECT count(*) FROM gsql.dbm.d").head.getLong(0) == 151)
    assert(sql("SELECT v FROM gsql.dbm.d WHERE id = 0").head.getLong(0) == 999L)
  }

  test("ALTER TABLE SET TBLPROPERTIES switches the row-level mode") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbm2")
    sql("CREATE TABLE gsql.dbm2.s (id BIGINT, v BIGINT)")
    sql("INSERT INTO gsql.dbm2.s SELECT /*+ COALESCE(1) */ id, id FROM range(0, 10)")
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val tdir = s"$warehouseDir/dbm2/s"
    val before = FileTableCatalog.loadOrThrow(tdir)
      .files.filter(_.content == "data").map(_.path).toSet
    // default copy-on-write: the UPDATE rewrites the file
    sql("UPDATE gsql.dbm2.s SET v = 0 WHERE id = 1")
    assert((before -- FileTableCatalog.loadOrThrow(tdir).files.map(_.path).toSet).nonEmpty)
    // flip to merge-on-read and update again: files now survive
    sql("ALTER TABLE gsql.dbm2.s SET TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')")
    val mid = FileTableCatalog.loadOrThrow(tdir)
      .files.filter(_.content == "data").map(_.path).toSet
    sql("UPDATE gsql.dbm2.s SET v = 7 WHERE id = 2")
    val after = FileTableCatalog.loadOrThrow(tdir)
    assert(mid.subsetOf(after.files.filter(_.content == "data").map(_.path).toSet))
    assert(after.files.exists(_.content == "position-deletes"))
    assert(sql("SELECT v FROM gsql.dbm2.s WHERE id = 2").head.getLong(0) == 7L)
    assert(sql("SELECT count(*) FROM gsql.dbm2.s").head.getLong(0) == 10L)
  }

  test("runtime filters prune string and date identity partitions") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbrt2")
    sql("""CREATE TABLE gsql.dbrt2.p (id BIGINT, flag STRING, d DATE)
          |PARTITIONED BY (flag, d)""".stripMargin)
    sql("""INSERT INTO gsql.dbrt2.p
          |SELECT id,
          |  CASE CAST(id % 3 AS INT) WHEN 0 THEN 'A' WHEN 1 THEN 'B' ELSE 'C' END,
          |  DATE_ADD(DATE'2024-01-01', CAST(id % 3 AS INT))
          |FROM range(0, 300)""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val tdir = s"$wh/dbrt2/p"
    import graft.sources.{GraftMorKeyedPartition, GraftMorPartition, GraftScanBuilder}
    import org.apache.spark.sql.connector.read.{InputPartition, SupportsRuntimeFiltering}
    import org.apache.spark.sql.{sources => f}
    // identity-partitioned tables report key-grouped partitioning (SPJ),
    // so planned partitions arrive wrapped with their partition key
    def dataPathOf(p: InputPartition): String = p match {
      case k: GraftMorKeyedPartition => k.inner.dataPath
      case m: GraftMorPartition      => m.dataPath
    }
    val schema = spark.table("gsql.dbrt2.p").schema
    def fresh() = new GraftScanBuilder(tdir, schema, None, FileTableCatalog,
      "1", skipDeletes = false).build()
    val all = fresh().toBatch.planInputPartitions().length
    assert(all >= 3, "fixture must fan out into one file per partition value")
    // join-driven string In set → only flag=B files survive planning
    val sFlag = fresh()
    sFlag.asInstanceOf[SupportsRuntimeFiltering]
      .filter(Array[f.Filter](f.In("flag", Array[Any]("B"))))
    val pFlag = sFlag.toBatch.planInputPartitions()
    assert(pFlag.length < all && pFlag.nonEmpty)
    assert(pFlag.forall(p => dataPathOf(p).contains("flag=B")))
    // date equality → only that date's files survive planning
    val sDate = fresh()
    sDate.asInstanceOf[SupportsRuntimeFiltering].filter(Array[f.Filter](
      f.EqualTo("d", java.sql.Date.valueOf("2024-01-02"))))
    val pDate = sDate.toBatch.planInputPartitions()
    assert(pDate.length < all && pDate.nonEmpty)
    assert(pDate.forall(p => dataPathOf(p).contains("d=2024-01-02")))
    // correctness end-to-end through a real broadcast join on the key
    val dim = spark.createDataFrame(Seq(Tuple1("B"))).toDF("flag")
    assert(spark.table("gsql.dbrt2.p")
      .join(org.apache.spark.sql.functions.broadcast(dim), "flag").count() == 100L)
  }

  test("ALTER TABLE refuses engine-managed property keys") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbm3")
    sql("CREATE TABLE gsql.dbm3.g (id BIGINT) PARTITIONED BY (bucket(4, id))")
    // rewriting the spec key would change pruning arithmetic under the
    // existing bucket(4) file layout → must refuse, not silently apply
    val e1 = intercept[Exception] {
      sql("ALTER TABLE gsql.dbm3.g SET TBLPROPERTIES " +
        "('graft.partition-spec' = 'bucket:8:id')")
    }
    assert(e1.getMessage.contains("engine-managed"))
    val e2 = intercept[Exception] {
      sql("ALTER TABLE gsql.dbm3.g UNSET TBLPROPERTIES ('graft.partition-spec')")
    }
    assert(e2.getMessage.contains("engine-managed"))
    val e3 = intercept[Exception] {
      sql("ALTER TABLE gsql.dbm3.g SET TBLPROPERTIES ('graft.ref.v1' = '1')")
    }
    assert(e3.getMessage.contains("engine-managed"))
    // ordinary user properties still pass
    sql("ALTER TABLE gsql.dbm3.g SET TBLPROPERTIES ('note' = 'ok')")
    val props = sql("SHOW TBLPROPERTIES gsql.dbm3.g").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("note").contains("ok"))
    assert(props.get("graft.partition-spec").contains("bucket:4:id"))
  }

  test("metadata tables expose files and snapshots from pure SQL") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.db6")
    sql("CREATE TABLE gsql.db6.mt (id BIGINT)")
    sql("INSERT INTO gsql.db6.mt SELECT /*+ COALESCE(1) */ id FROM range(0, 100)")
    sql("DELETE FROM gsql.db6.mt WHERE id IN (1, 2)")
    val files = sql("SELECT content, record_count FROM gsql.db6.mt.files ORDER BY content")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(files.toSeq == Seq(("data", 100L), ("position-deletes", 2L)))
    val snaps = sql(
      """SELECT version, data_files, delete_files, total_records
        |FROM gsql.db6.mt.snapshots ORDER BY version""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(snaps.toSeq ==
      Seq((1L, 0L, 0L, 0L), (2L, 1L, 0L, 100L), (3L, 1L, 1L, 100L)))
    // no Spark job fan-out: the scan is a driver-local metadata read
    assert(sql("SELECT * FROM gsql.db6.mt.files").queryExecution.executedPlan
      .toString.contains("LocalTableScan"))
    // .history: linear ancestry, parents chained, all main-lineage
    val hist = sql(
      """SELECT version, parent_version, is_current_ancestor
        |FROM gsql.db6.mt.history ORDER BY version""".stripMargin)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
    assert(hist.toSeq == Seq(
      (1L, None, true), (2L, Some(1L), true), (3L, Some(2L), true)))
    val ts = sql("SELECT made_current_at_ms FROM gsql.db6.mt.history")
      .collect().map(_.getLong(0))
    assert(ts.forall(_ > 0L), "every retained version carries its commit time")
  }

  test("expire_snapshots(older_than_ms) keeps versions younger than " +
    "the cutoff even past retain_last") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbet")
    sql("CREATE TABLE gsql.dbet.e (id BIGINT)")
    sql("INSERT INTO gsql.dbet.e VALUES (1)")
    sql("INSERT INTO gsql.dbet.e VALUES (2)")
    sql("INSERT INTO gsql.dbet.e VALUES (3)")
    // cutoff in the past: everything is "young", nothing expires
    val past = System.currentTimeMillis() - 3600 * 1000L
    val kept = sql("CALL gsql.system.expire_snapshots(" +
      s"`table` => 'dbet.e', retain_last => 1, older_than_ms => $past)")
      .collect()
    assert(kept.isEmpty, "young snapshots must survive the age gate")
    assert(sql("SELECT count(*) FROM gsql.dbet.e VERSION AS OF 2")
      .head().getLong(0) == 1L)
    // cutoff in the future: the age gate passes, retain_last governs
    val future = System.currentTimeMillis() + 3600 * 1000L
    val expired = sql("CALL gsql.system.expire_snapshots(" +
      s"`table` => 'dbet.e', retain_last => 1, older_than_ms => $future)")
      .collect()
    assert(expired.nonEmpty)
  }

  test("rollback_to_version restores old content as a new commit and " +
    "survives expiry") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbrb")
    sql("CREATE TABLE gsql.dbrb.r (id BIGINT)")
    sql("INSERT INTO gsql.dbrb.r SELECT id FROM range(0, 5)")       // v2
    sql("INSERT INTO gsql.dbrb.r SELECT id FROM range(100, 103)")   // v3
    sql("DELETE FROM gsql.dbrb.r WHERE id < 2")                     // v4
    def idsNow: Seq[Long] =
      sql("SELECT id FROM gsql.dbrb.r ORDER BY id").collect().map(_.getLong(0)).toSeq
    assert(idsNow == Seq(2L, 3L, 4L, 100L, 101L, 102L))
    val res = sql(
      "CALL gsql.system.rollback_to_version(`table` => 'dbrb.r', version => 3)")
      .collect()(0)
    assert(res.getLong(0) == 3L && res.getLong(1) == 5L)
    assert(idsNow == ((0L until 5L) ++ (100L until 103L)))
    // the undone DELETE remains time-travelable until expiry
    assert(sql("SELECT count(*) FROM gsql.dbrb.r VERSION AS OF 4")
      .head().getLong(0) == 6L)
    // expiring everything but the rollback commit keeps its files live
    sql("CALL gsql.system.expire_snapshots(`table` => 'dbrb.r', retain_last => 1)")
    assert(idsNow == ((0L until 5L) ++ (100L until 103L)))
    val bad = intercept[Exception](sql(
      "CALL gsql.system.rollback_to_version(`table` => 'dbrb.r', version => 999)"))
    assert(bad.getMessage.contains("not a retained snapshot"), bad.getMessage)
  }

  test("the partitions metadata table reports per-partition health " +
    "from metadata alone") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbpt")
    sql("""CREATE TABLE gsql.dbpt.pm (id BIGINT, r STRING)
          |PARTITIONED BY (r)""".stripMargin)
    sql("""INSERT INTO gsql.dbpt.pm
          |SELECT id, CASE WHEN id % 2 = 0 THEN 'even' ELSE 'odd' END
          |FROM range(0, 100)""".stripMargin)
    val parts = sql(
      """SELECT partition, data_files, records FROM gsql.dbpt.pm.partitions
        |ORDER BY partition""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(parts.map(_._1).toSeq == Seq("r=even", "r=odd"))
    assert(parts.map(_._3).sum == 100L)
    assert(parts.forall(_._2 >= 1L))
    // an unpartitioned table rolls up under the empty partition key
    sql("CREATE TABLE gsql.dbpt.un (id BIGINT)")
    sql("INSERT INTO gsql.dbpt.un SELECT id FROM range(0, 7)")
    val un = sql("SELECT partition, records FROM gsql.dbpt.un.partitions").collect()
    assert(un.length == 1 && un(0).getString(0) == "" && un(0).getLong(1) == 7L)
    // driver-local, like every inspection table
    assert(sql("SELECT * FROM gsql.dbpt.pm.partitions").queryExecution
      .executedPlan.toString.contains("LocalTableScan"))
  }

  test("TIMESTAMP AS OF resolves the snapshot committed at or before it") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.db9")
    sql("CREATE TABLE gsql.db9.tt (id BIGINT)")
    sql("INSERT INTO gsql.db9.tt VALUES (1)")
    Thread.sleep(15)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(15)
    sql("INSERT INTO gsql.db9.tt VALUES (2)")
    val tsLiteral = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(betweenMs))
    assert(sql(s"SELECT count(*) FROM gsql.db9.tt TIMESTAMP AS OF '$tsLiteral'")
      .head.getLong(0) == 1)
    assert(sql("SELECT count(*) FROM gsql.db9.tt").head.getLong(0) == 2)
    // snapshots metadata carries the commit times that drive this
    val times = sql("SELECT committed_at_ms FROM gsql.db9.tt.snapshots ORDER BY version")
      .collect().map(_.getLong(0))
    assert(times.length == 3 && times.forall(_ > 0) && times.sorted.sameElements(times))
    // a timestamp before the table existed errors clearly
    val e = intercept[Exception] {
      sql("SELECT * FROM gsql.db9.tt TIMESTAMP AS OF '2000-01-01 00:00:00'").collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("no snapshot")))
  }

  test("TRUNCATE TABLE empties the table and later inserts still land") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.db7")
    sql("CREATE TABLE gsql.db7.tr (id BIGINT)")
    sql("INSERT INTO gsql.db7.tr SELECT id FROM range(0, 50)")
    sql("TRUNCATE TABLE gsql.db7.tr")
    assert(sql("SELECT count(*) FROM gsql.db7.tr").head.getLong(0) == 0)
    sql("INSERT INTO gsql.db7.tr VALUES (7)")
    assert(sql("SELECT id FROM gsql.db7.tr").head.getLong(0) == 7)
  }

  test("compaction folds a SQL-built table and SQL reads the rewrite") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.db8")
    sql("CREATE TABLE gsql.db8.c (id BIGINT, v STRING)")
    // a small-file backlog from many single-row commits + a delete
    (1 to 5).foreach(i => sql(s"INSERT INTO gsql.db8.c VALUES ($i, 'v$i')"))
    sql("DELETE FROM gsql.db8.c WHERE id IN (2, 4)")
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val tdir = s"$warehouseDir/db8/c"
    val before = FileTableCatalog.loadOrThrow(tdir)
    assert(before.files.count(_.content == "data") == 5)

    val stat = graft.compaction.Compaction.builder()
      .withSpark(spark).withTableDir(tdir)
      .withConfig(graft.core.CompactionConfig(
        targetPartitions = 1, enableValidateCompaction = true))
      .build().compact()
    assert(stat.rewrittenFilesCount > 0)

    val after = FileTableCatalog.loadOrThrow(tdir)
    assert(after.files.count(_.content == "data") == 1)
    assert(after.files.count(_.content != "data") == 0,
      "full compaction must fold the position deletes away")
    assert(sql("SELECT id FROM gsql.db8.c ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L))
    // and the table stays writable through SQL after the rewrite
    sql("INSERT INTO gsql.db8.c VALUES (6, 'v6')")
    assert(sql("SELECT count(*) FROM gsql.db8.c").head.getLong(0) == 4)
  }

  test("format=iceberg backs SQL tables with Iceberg v2 metadata") {
    val wh = Files.createTempDirectory("graft-wh-iceberg").toString
    spark.conf.set("spark.sql.catalog.gice", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gice.warehouse", wh)
    spark.conf.set("spark.sql.catalog.gice.format", "iceberg")
    sql("CREATE NAMESPACE IF NOT EXISTS gice.db")
    sql("CREATE TABLE gice.db.t (id BIGINT, name STRING)")
    sql("INSERT INTO gice.db.t VALUES (1, 'a'), (2, 'b')")
    sql("DELETE FROM gice.db.t WHERE id IN (1)")
    sql("ALTER TABLE gice.db.t RENAME COLUMN name TO label")
    sql("INSERT INTO gice.db.t VALUES (3, 'c')")
    assert(sql("SELECT id, label FROM gice.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((2L, "b"), (3L, "c")))
    // on disk it is real Iceberg v2: metadata.json + Avro manifests
    val meta = graft.io.FileIO.listFiles(s"$wh/db/t/metadata").map(_._1)
    assert(meta.exists(_.endsWith(".metadata.json")))
    assert(meta.exists(_.endsWith(".avro")))
    assert(meta.exists(_.endsWith("version-hint.text")))
    // time travel through the Iceberg snapshot line
    assert(sql("SELECT count(*) FROM gice.db.t VERSION AS OF 2").head.getLong(0) == 2)
  }

  test("translatable DELETE on an evolved table falls back to copy-on-write") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.db9")
    sql("CREATE TABLE gsql.db9.e (id BIGINT, name STRING)")
    sql("INSERT INTO gsql.db9.e VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    // evolve: existing files now need per-file column maps. The name
    // describes the old routing: the metadata-delete path reads through
    // the DSv2 scan, which maps old layouts by field id, so this now
    // commits position deletes (DeleteFromSpec checks that routing)
    sql("ALTER TABLE gsql.db9.e RENAME COLUMN name TO label")
    sql("DELETE FROM gsql.db9.e WHERE id IN (2)")
    assert(sql("SELECT id, label FROM gsql.db9.e ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "c")))
  }

  test("merge-on-read row-level ops work on an Iceberg-format table") {
    val wh = Files.createTempDirectory("graft-wh-ice-mor").toString
    spark.conf.set("spark.sql.catalog.gim", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gim.warehouse", wh)
    spark.conf.set("spark.sql.catalog.gim.format", "iceberg")
    sql("CREATE NAMESPACE IF NOT EXISTS gim.db")
    sql("""CREATE TABLE gim.db.t (id BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')""".stripMargin)
    sql("INSERT INTO gim.db.t SELECT /*+ COALESCE(1) */ id, id FROM range(0, 100)")
    // the property round-trips through Iceberg metadata and SHOW reads it
    val props = sql("SHOW TBLPROPERTIES gim.db.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("graft.rowlevel.mode").contains("merge-on-read"))
    val dataBefore = graft.io.FileIO.listFiles(s"$wh/db/t/data").map(_._1)
      .filter(_.endsWith(".parquet")).toSet
    sql("UPDATE gim.db.t SET v = v + 1000 WHERE id < 10")
    assert(sql("SELECT sum(v) FROM gim.db.t").head.getLong(0) ==
      (0L until 100L).sum + 10 * 1000L)
    // delta semantics held: the original data files were not rewritten
    val dataAfter = graft.io.FileIO.listFiles(s"$wh/db/t/data").map(_._1)
      .filter(_.endsWith(".parquet")).toSet
    assert(dataBefore.subsetOf(dataAfter))
  }

  test("CALL procedures: rewrite_data_files, expire_snapshots, remove_orphan_files") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbp")
    sql("CREATE TABLE gsql.dbp.p (id BIGINT, v STRING)")
    (1 to 6).foreach(i => sql(s"INSERT INTO gsql.dbp.p VALUES ($i, 'v$i')"))
    sql("DELETE FROM gsql.dbp.p WHERE id IN (2, 4)")
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val tdir = s"$warehouseDir/dbp/p"
    assert(FileTableCatalog.loadOrThrow(tdir).files.count(_.content == "data") == 6)

    // full rewrite folds the 6-file backlog + delete into one file
    val rw = sql(
      "CALL gsql.system.rewrite_data_files(`table` => 'dbp.p', validate => true)")
      .collect()
    // rewritten = the 6 data files + the delete files they folded
    assert(rw.length == 1 && rw.head.getLong(0) >= 6L)
    val folded = FileTableCatalog.loadOrThrow(tdir)
    assert(folded.files.count(_.content == "data") == rw.head.getLong(1))
    assert(folded.files.count(_.content != "data") == 0)
    assert(sql("SELECT id FROM gsql.dbp.p ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 5L, 6L))

    // snapshot history: bootstrap + 6 inserts + delete + rewrite = 9
    val expired = sql(
      "CALL gsql.system.expire_snapshots(`table` => 'dbp.p', retain_last => 2)")
      .collect()
    assert(expired.length == 7, s"expected 7 expired, got ${expired.length}")
    assert(sql("SELECT count(*) FROM gsql.dbp.p").head.getLong(0) == 4)

    // a stray file in the data dir is an orphan; dry_run lists, real removes
    val stray = s"$tdir/data/stray-not-committed.parquet"
    graft.io.FileIO.mkdirs(s"$tdir/data")
    val out = new java.io.FileOutputStream(stray)
    out.write("junk".getBytes); out.close()
    val dry = sql(
      "CALL gsql.system.remove_orphan_files(`table` => 'dbp.p', " +
        "older_than_ms => 0, dry_run => true)").collect()
    assert(dry.map(_.getString(0)).exists(_.endsWith("stray-not-committed.parquet")))
    assert(new java.io.File(stray).exists)
    sql("CALL gsql.system.remove_orphan_files(`table` => 'dbp.p', older_than_ms => 0)")
    assert(!new java.io.File(stray).exists)
    assert(sql("SELECT count(*) FROM gsql.dbp.p").head.getLong(0) == 4)
  }

  test("CALL rewrite_data_files with zorder_by clusters the output") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbz")
    sql("CREATE TABLE gsql.dbz.z (x BIGINT, y BIGINT)")
    sql("INSERT INTO gsql.dbz.z SELECT id % 100, CAST(id / 100 AS BIGINT) FROM range(0, 10000)")
    val rw = sql(
      "CALL gsql.system.rewrite_data_files(`table` => 'dbz.z', " +
        "zorder_by => 'x,y', validate => true)").collect()
    assert(rw.head.getLong(1) >= 1L)
    assert(sql("SELECT count(*), sum(x), sum(y) FROM gsql.dbz.z").head.toSeq ==
      Seq(10000L, (0L until 10000L).map(_ % 100).sum, (0L until 10000L).map(_ / 100).sum))
  }

  test("INSERT OVERWRITE atomically replaces the table contents") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbo")
    sql("CREATE TABLE gsql.dbo.o (id BIGINT, v STRING)")
    sql("INSERT INTO gsql.dbo.o VALUES (1, 'a'), (2, 'b')")
    sql("DELETE FROM gsql.dbo.o WHERE id = 1")
    sql("INSERT OVERWRITE gsql.dbo.o VALUES (10, 'x'), (20, 'y'), (30, 'z')")
    assert(sql("SELECT id FROM gsql.dbo.o ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(10L, 20L, 30L))
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val snap = FileTableCatalog.loadOrThrow(s"$warehouseDir/dbo/o")
    // the old data AND the delete file left in one commit
    assert(snap.files.count(_.content == "data") >= 1)
    assert(snap.files.count(_.content != "data") == 0)
    // history survives: the version before the overwrite still reads
    assert(sql(s"SELECT count(*) FROM gsql.dbo.o VERSION AS OF ${snap.version - 1}")
      .head.getLong(0) == 1)
    // overwrite with an empty SELECT truncates
    sql("INSERT OVERWRITE gsql.dbo.o SELECT id, CAST(NULL AS STRING) FROM range(0)")
    assert(sql("SELECT count(*) FROM gsql.dbo.o").head.getLong(0) == 0)
    // and the table stays writable
    sql("INSERT INTO gsql.dbo.o VALUES (7, 'q')")
    assert(sql("SELECT count(*) FROM gsql.dbo.o").head.getLong(0) == 1)
  }

  test("CALL rewrite_delete_files folds the delta backlog into sorted position deletes") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbd")
    sql("""CREATE TABLE gsql.dbd.d (id BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')""".stripMargin)
    sql("INSERT INTO gsql.dbd.d SELECT id, id FROM range(0, 200)")
    // three separate delta updates -> three position-delete files
    sql("UPDATE gsql.dbd.d SET v = 0 WHERE id < 10")
    sql("UPDATE gsql.dbd.d SET v = 1 WHERE id >= 10 AND id < 20")
    sql("UPDATE gsql.dbd.d SET v = 2 WHERE id >= 20 AND id < 30")
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val tdir = s"$warehouseDir/dbd/d"
    assert(FileTableCatalog.loadOrThrow(tdir)
      .files.count(_.content == "position-deletes") == 3)
    val st = sql("CALL gsql.system.rewrite_delete_files(`table` => 'dbd.d')").collect()
    assert(st.length == 1 && st.head.getLong(0) == 3L && st.head.getLong(2) == 30L)
    val after = FileTableCatalog.loadOrThrow(tdir)
    assert(after.files.count(_.content == "position-deletes") == st.head.getLong(1))
    assert(sql("SELECT sum(v) FROM gsql.dbd.d").head.getLong(0) ==
      (30L until 200L).sum + 0 + 10 + 20)
    // converged backlog: a second call is a no-op (zero result rows)
    // unless the deletes are already one file
    val again = sql("CALL gsql.system.rewrite_delete_files(`table` => 'dbd.d')").collect()
    assert(again.isEmpty || after.files.count(_.content == "position-deletes") > 1)
  }

  test("concurrent delete commit aborts an in-flight delta operation") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbr")
    sql("""CREATE TABLE gsql.dbr.r (id BIGINT, v BIGINT)
          |TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')""".stripMargin)
    sql("INSERT INTO gsql.dbr.r SELECT /*+ COALESCE(1) */ id, id FROM range(0, 100)")
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val tdir = s"$warehouseDir/dbr/r"
    // build the delta write against the current snapshot...
    val op = new graft.sinks.GraftDeltaOperation(tdir,
      spark.table("gsql.dbr.r").schema,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.UPDATE)
    op.recordScan(Nil,
      FileTableCatalog.loadOrThrow(tdir).files.map(_.path).toSet,
      FileTableCatalog.loadOrThrow(tdir).schemaId)
    // ...then race a DELETE commit in between
    sql("DELETE FROM gsql.dbr.r WHERE id IN (5)")
    val batch = new graft.sinks.GraftDeltaBatchWrite(op, tdir,
      spark.table("gsql.dbr.r").schema,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_file",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_pos",
          org.apache.spark.sql.types.LongType))),
      1024L * 1024, "snappy", FileTableCatalog)
    val w = batch.createBatchWriterFactory(null).createWriter(0, 1L)
      .asInstanceOf[graft.sinks.GraftDeltaWriter]
    val dataFile = FileTableCatalog.loadOrThrow(tdir)
      .files.filter(_.content == "data").head.path
    w.delete(null, org.apache.spark.sql.catalyst.InternalRow(
      org.apache.spark.unsafe.types.UTF8String.fromString(dataFile), 7L))
    val msg = w.commit()
    val e = intercept[graft.core.CompactionError] {
      batch.commit(Array(msg))
    }
    assert(e.isInstanceOf[graft.core.CompactionError.StaleRewrite], s"got $e")
    // the raced table is untouched by the aborted delta
    assert(sql("SELECT count(*) FROM gsql.dbr.r").head.getLong(0) == 99)
  }

  test("dynamic partition overwrite replaces only the incoming partitions") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbdo")
    sql("CREATE TABLE gsql.dbdo.p (id BIGINT, flag STRING) PARTITIONED BY (flag)")
    sql("INSERT INTO gsql.dbdo.p VALUES (1,'A'),(2,'A'),(3,'B'),(4,'C')")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      sql("INSERT OVERWRITE gsql.dbdo.p VALUES (10,'A'),(11,'B')")
      // partitions A and B replaced with the incoming rows; C untouched
      assert(sql("SELECT id, flag FROM gsql.dbdo.p ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((4L, "C"), (10L, "A"), (11L, "B")))
      // dynamic overwrite of an UNPARTITIONED table = full overwrite
      sql("CREATE TABLE gsql.dbdo.u (id BIGINT)")
      sql("INSERT INTO gsql.dbdo.u VALUES (1), (2)")
      sql("INSERT OVERWRITE gsql.dbdo.u VALUES (9)")
      assert(sql("SELECT id FROM gsql.dbdo.u").collect().map(_.getLong(0)).toSeq
        == Seq(9L))
      // a value whose sanitized form contains '_' could collide with a
      // DIFFERENT raw value ("x,1" and "x_1" both render x_1) — the
      // destructive overwrite must refuse rather than risk deleting
      // another partition's files
      val e = intercept[Exception] {
        sql("INSERT OVERWRITE gsql.dbdo.p VALUES (30,'x_1')")
      }
      assert(e.getMessage.contains("partition identity") ||
        Option(e.getCause).exists(_.getMessage.contains("partition identity")),
        s"ambiguous value must be refused, got: $e")
    } finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    // static mode still truncates the whole table
    sql("INSERT OVERWRITE gsql.dbdo.p VALUES (20,'Z')")
    assert(sql("SELECT id, flag FROM gsql.dbdo.p").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((20L, "Z")))
  }

  test("concurrent append aborts an in-flight MERGE but not an UPDATE") {
    import org.apache.spark.sql.connector.write.RowLevelOperation.Command
    def inFlight(ns: String, cmd: Command): Throwable = {
      sql(s"CREATE NAMESPACE IF NOT EXISTS gsql.$ns")
      sql(s"""CREATE TABLE gsql.$ns.m (id BIGINT, v BIGINT)
            |TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')""".stripMargin)
      sql(s"INSERT INTO gsql.$ns.m SELECT /*+ COALESCE(1) */ id, id FROM range(0, 10)")
      val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
      val tdir = s"$warehouseDir/$ns/m"
      val op = new graft.sinks.GraftDeltaOperation(tdir,
        spark.table(s"gsql.$ns.m").schema, cmd)
      op.recordScan(Nil,
        FileTableCatalog.loadOrThrow(tdir).files.map(_.path).toSet,
        FileTableCatalog.loadOrThrow(tdir).schemaId)
      // a rival INSERT lands between the scan and the commit
      sql(s"INSERT INTO gsql.$ns.m VALUES (999, 999)")
      val batch = new graft.sinks.GraftDeltaBatchWrite(op, tdir,
        spark.table(s"gsql.$ns.m").schema,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("_file",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("_pos",
            org.apache.spark.sql.types.LongType))),
        1024L * 1024, "snappy", FileTableCatalog)
      val w = batch.createBatchWriterFactory(null).createWriter(0, 1L)
        .asInstanceOf[graft.sinks.GraftDeltaWriter]
      val dataFile = FileTableCatalog.loadOrThrow(tdir)
        .files.filter(_.content == "data").minBy(_.sequenceNumber).path
      w.delete(null, org.apache.spark.sql.catalyst.InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(dataFile), 3L))
      val msg = w.commit()
      try { batch.commit(Array(msg)); null }
      catch { case e: Throwable => e }
    }
    // MERGE: the appended rows may match the ON clause -> must abort
    val e = inFlight("dbmc1", Command.MERGE)
    assert(e != null && e.isInstanceOf[graft.core.CompactionError.StaleRewrite],
      s"MERGE racing an append must abort, got $e")
    assert(sql("SELECT count(*) FROM gsql.dbmc1.m").head.getLong(0) == 11)
    // UPDATE keeps snapshot isolation: appended rows were not targeted
    assert(inFlight("dbmc2", Command.UPDATE) == null,
      "UPDATE racing a pure append must commit")
    assert(sql("SELECT count(*) FROM gsql.dbmc2.m").head.getLong(0) == 10)
  }

  test("writeStream.toTable streams into a catalog table; readStream tails it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbs")
    sql("CREATE TABLE gsql.dbs.st (id BIGINT, name STRING)")
    val ckpt = Files.createTempDirectory("graft-tot-ckpt").toString
    val ms = MemoryStream[(Long, String)]
    val q = ms.toDF().toDF("id", "name")
      .writeStream
      .option("checkpointLocation", ckpt)
      .toTable("gsql.dbs.st")
    try {
      ms.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      ms.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(sql("SELECT id, name FROM gsql.dbs.st ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // and the table tails back out as a stream source
    val outCkpt = Files.createTempDirectory("graft-tot-out").toString
    val tail = spark.readStream.table("gsql.dbs.st")
      .writeStream.format("memory").queryName("tot_tail")
      .option("checkpointLocation", outCkpt)
      .start()
    try tail.processAllAvailable() finally tail.stop()
    assert(spark.table("tot_tail").count() == 3)
  }

  test("PARTITIONED BY fans out writes per partition value and reads prune") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbpt")
    sql("""CREATE TABLE gsql.dbpt.t (id BIGINT, region STRING, v BIGINT)
          |PARTITIONED BY (region, bucket(4, id))""".stripMargin)
    // DESCRIBE reflects the declared transforms
    val parts = spark.sessionState.catalogManager.catalog("gsql")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("dbpt"), "t")).partitioning()
    assert(parts.length == 2 && parts.head.name == "identity" &&
      parts(1).name == "bucket")

    sql("""INSERT INTO gsql.dbpt.t
          |SELECT id, CASE WHEN id % 2 = 0 THEN 'EU' ELSE 'US' END, id
          |FROM range(0, 1000)""".stripMargin)
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val snap = FileTableCatalog.loadOrThrow(s"$warehouseDir/dbpt/t")
    val dataFiles = snap.files.filter(_.content == "data")
    // every file holds exactly ONE (region, bucket) value — the name
    // carries the key and no file mixes regions
    assert(dataFiles.nonEmpty)
    assert(dataFiles.forall { f =>
      val k = graft.core.PartitionKey.parse(f.path)
      k.get("region").exists(Set("EU", "US")) && k.contains("id_bucket")
    }, s"unexpected names: ${dataFiles.map(_.path).take(3)}")
    assert(dataFiles.exists(_.path.contains("region=EU")) &&
      dataFiles.exists(_.path.contains("region=US")))
    // results are intact and both row-level strategies keep working
    assert(sql("SELECT count(*) FROM gsql.dbpt.t WHERE region = 'EU'")
      .head.getLong(0) == 500)
    sql("UPDATE gsql.dbpt.t SET v = 0 WHERE id < 10")
    assert(sql("SELECT sum(v) FROM gsql.dbpt.t").head.getLong(0) ==
      (10L until 1000L).sum)
    // transform-aware pruning: id = 7 hashes to ONE bucket, and the
    // identity transform narrows region — a point lookup reads exactly
    // the files of one (region, bucket) pair (no footer IO involved).
    // The copy-on-write UPDATE above kept the layout: rewritten files
    // carry the same partition-key names, so counts stay tight.
    def partsOf(q: org.apache.spark.sql.DataFrame): Int =
      q.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.get.partitions.size
    val curFiles = FileTableCatalog.loadOrThrow(s"$warehouseDir/dbpt/t")
      .files.filter(_.content == "data")
    assert(curFiles.forall(f => graft.core.PartitionKey.parse(f.path).nonEmpty),
      s"rewritten files lost the partition key: ${curFiles.map(_.path).take(3)}")
    val dfq = spark.read.format("graft").load(s"$warehouseDir/dbpt/t")
    val bucket = graft.core.BucketTransform(4, "id").eval(7L,
      org.apache.spark.sql.types.LongType)
    val oneBucket = curFiles.count(_.path.contains(s"id_bucket=$bucket"))
    val qPoint = dfq.filter(org.apache.spark.sql.functions.col("id") === 7L)
    assert(partsOf(qPoint) <= oneBucket,
      s"expected id=7 to read one bucket (${partsOf(qPoint)} vs $oneBucket of ${curFiles.size})")
    assert(qPoint.count() == 1)
    val qBoth = dfq.filter(org.apache.spark.sql.functions.col("id") === 7L &&
      org.apache.spark.sql.functions.col("region") === "US")
    assert(partsOf(qBoth) <= curFiles.count(f =>
      f.path.contains(s"id_bucket=$bucket") && f.path.contains("region=US")))
    assert(qBoth.count() == 1)
    // a value set over the partition column prunes too (IN-list)
    val qIn = dfq.filter(org.apache.spark.sql.functions.col("region").isin("EU"))
    assert(partsOf(qIn) <= curFiles.count(_.path.contains("region=EU")))
    assert(qIn.count() == 500)
    // compaction keeps the partition layout (fanout via the table spec)
    graft.compaction.Compaction.builder()
      .withSpark(spark).withTableDir(s"$warehouseDir/dbpt/t")
      .withConfig(graft.core.CompactionConfig(targetPartitions = 1))
      .build().compact()
    val folded = FileTableCatalog.loadOrThrow(s"$warehouseDir/dbpt/t")
      .files.filter(_.content == "data")
    assert(folded.forall(f => graft.core.PartitionKey.parse(f.path).nonEmpty),
      s"compaction lost the partition layout: ${folded.map(_.path).take(3)}")
    val qAfter = spark.read.format("graft").load(s"$warehouseDir/dbpt/t")
      .filter(org.apache.spark.sql.functions.col("id") === 7L)
    assert(partsOf(qAfter) <= folded.count(
      _.path.contains(s"id_bucket=$bucket")))
    assert(qAfter.count() == 1)
    assert(sql("SELECT count(*) FROM gsql.dbpt.t").head.getLong(0) == 1000)
  }

  test("maintenance procedures run against the Iceberg-format catalog") {
    val wh = Files.createTempDirectory("graft-wh-ice-proc").toString
    spark.conf.set("spark.sql.catalog.gip", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gip.warehouse", wh)
    spark.conf.set("spark.sql.catalog.gip.format", "iceberg")
    sql("CREATE NAMESPACE IF NOT EXISTS gip.db")
    sql("CREATE TABLE gip.db.m (id BIGINT, v STRING)")
    (1 to 4).foreach(i => sql(s"INSERT INTO gip.db.m VALUES ($i, 'v$i')"))
    sql("DELETE FROM gip.db.m WHERE id = 2")
    val rw = sql(
      "CALL gip.system.rewrite_data_files(`table` => 'db.m', validate => true)")
      .collect()
    assert(rw.head.getLong(0) >= 4)
    assert(sql("SELECT id FROM gip.db.m ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 3L, 4L))
    val expired = sql(
      "CALL gip.system.expire_snapshots(`table` => 'db.m', retain_last => 1)")
      .collect()
    assert(expired.nonEmpty)
    assert(sql("SELECT count(*) FROM gip.db.m").head.getLong(0) == 3)
  }

  test("fanout writer bounds open writers; evicted partitions stay correct") {
    // drive the writer directly: 100 partition values through ONE task
    // (> the 64-writer cap), round-robin so evicted keys reappear
    val dir = Files.createTempDirectory("graft-fanout-cap").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))
    val w = new graft.sinks.GraftFanoutDataWriter(dir, 0, schema,
      Seq(graft.core.IdentityTransform("k")), 1024L * 1024 * 1024,
      "snappy", graft.io.FileIO.hadoopConfEntries())
    (0L until 1000L).foreach { i =>
      w.write(org.apache.spark.sql.catalyst.InternalRow(i, i % 100))
    }
    val files = w.commit().asInstanceOf[graft.sinks.GraftCommitMessage].files
    assert(files.map(_._2).sum == 1000L)
    // evictions split some partitions across generations -> more files
    // than the 100 values, and every file name still parses its value
    assert(files.size >= 100, s"got ${files.size}")
    assert(files.forall { case (p, _) =>
      graft.core.PartitionKey.parse(p).contains("k") })
    val back = spark.read.parquet(files.map(_._1): _*)
    assert(back.count() == 1000L)
    import org.apache.spark.sql.functions.{col => c, sum => fsum}
    assert(back.filter(c("k") === 99L).agg(fsum("id")).head.getLong(0) ==
      (0L until 1000L).filter(_ % 100 == 99).sum)
  }

  test("tags: VERSION AS OF a name, protected from expiration") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbt")
    sql("CREATE TABLE gsql.dbt.t (id BIGINT)")
    sql("INSERT INTO gsql.dbt.t VALUES (1)")
    sql("INSERT INTO gsql.dbt.t VALUES (2)")
    // tag the 2-row state, then keep writing
    val tagged = sql("CALL gsql.system.create_tag(`table` => 'dbt.t', tag => 'v2rows')")
      .collect()
    val tagVersion = tagged.head.getLong(1)
    sql("INSERT INTO gsql.dbt.t VALUES (3)")
    sql("INSERT INTO gsql.dbt.t VALUES (4)")
    assert(sql("SELECT count(*) FROM gsql.dbt.t").head.getLong(0) == 4)
    assert(sql("SELECT count(*) FROM gsql.dbt.t VERSION AS OF 'v2rows'")
      .head.getLong(0) == 2)
    // expiration keeps the tagged version alive
    sql("CALL gsql.system.expire_snapshots(`table` => 'dbt.t', retain_last => 1)")
    assert(sql("SELECT count(*) FROM gsql.dbt.t VERSION AS OF 'v2rows'")
      .head.getLong(0) == 2)
    assert(sql(s"SELECT count(*) FROM gsql.dbt.t VERSION AS OF $tagVersion")
      .head.getLong(0) == 2)
    // duplicate tag refused; drop re-opens the name and expiration reclaims
    intercept[Exception] {
      sql("CALL gsql.system.create_tag(`table` => 'dbt.t', tag => 'v2rows')")
    }
    // the refs metadata table lists the tag
    assert(sql("SELECT name, type, version FROM gsql.dbt.t.refs").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("v2rows", "tag", tagVersion)))
    sql("CALL gsql.system.drop_tag(`table` => 'dbt.t', tag => 'v2rows')")
    assert(sql("SELECT count(*) FROM gsql.dbt.t.refs").head.getLong(0) == 0)
    intercept[Exception] {
      sql("SELECT count(*) FROM gsql.dbt.t VERSION AS OF 'v2rows'").collect()
    }
    sql("CALL gsql.system.expire_snapshots(`table` => 'dbt.t', retain_last => 1)")
    intercept[Exception] {
      sql(s"SELECT count(*) FROM gsql.dbt.t VERSION AS OF $tagVersion").collect()
    }
    assert(sql("SELECT count(*) FROM gsql.dbt.t").head.getLong(0) == 4)
  }

  test("merge-on-read deltas and INSERT OVERWRITE keep the partition layout") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbpm")
    sql("""CREATE TABLE gsql.dbpm.pm (id BIGINT, region STRING, v BIGINT)
          |PARTITIONED BY (region)
          |TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')""".stripMargin)
    sql("""INSERT INTO gsql.dbpm.pm
          |SELECT id, CASE WHEN id % 2 = 0 THEN 'EU' ELSE 'US' END, id
          |FROM range(0, 100)""".stripMargin)
    val warehouseDir = spark.conf.get("spark.sql.catalog.gsql.warehouse")
    val tdir = s"$warehouseDir/dbpm/pm"
    val before = FileTableCatalog.loadOrThrow(tdir)
      .files.filter(_.content == "data").map(_.path).toSet
    // delta UPDATE: data files survive; the INSERT half fans out
    sql("UPDATE gsql.dbpm.pm SET v = v + 1000 WHERE id < 10")
    val mid = FileTableCatalog.loadOrThrow(tdir)
    assert(before.subsetOf(mid.files.filter(_.content == "data").map(_.path).toSet))
    assert(mid.files.exists(_.content == "position-deletes"))
    val newData = mid.files.filter(f =>
      f.content == "data" && !before.contains(f.path))
    assert(newData.nonEmpty && newData.forall(f =>
      graft.core.PartitionKey.parse(f.path).contains("region")),
      s"delta inserts lost the layout: ${newData.map(_.path)}")
    assert(sql("SELECT sum(v) FROM gsql.dbpm.pm").head.getLong(0) ==
      (0L until 100L).sum + 10 * 1000L)
    // INSERT OVERWRITE replaces everything, still fanned out
    sql("""INSERT OVERWRITE gsql.dbpm.pm
          |SELECT id, 'EU', id FROM range(0, 5)""".stripMargin)
    val after = FileTableCatalog.loadOrThrow(tdir)
    assert(after.files.count(_.content != "data") == 0)
    assert(after.files.filter(_.content == "data").forall(f =>
      graft.core.PartitionKey.parse(f.path).get("region").contains("EU")))
    assert(sql("SELECT count(*) FROM gsql.dbpm.pm").head.getLong(0) == 5)
  }

  test("partition source columns cannot be renamed, dropped, or timestamp-typed") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.dbpg")
    sql("""CREATE TABLE gsql.dbpg.g (id BIGINT, region STRING, v BIGINT)
          |PARTITIONED BY (region)""".stripMargin)
    sql("INSERT INTO gsql.dbpg.g VALUES (1, 'EU', 10)")
    // renaming/dropping the source would orphan the spec — refuse both
    val e1 = intercept[Exception] {
      sql("ALTER TABLE gsql.dbpg.g RENAME COLUMN region TO r")
    }
    assert(Iterator.iterate[Throwable](e1)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("partition source")))
    val e2 = intercept[Exception] {
      sql("ALTER TABLE gsql.dbpg.g DROP COLUMN region")
    }
    assert(Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("partition source")))
    // the table still works after the refusals
    assert(sql("SELECT region FROM gsql.dbpg.g").head.getString(0) == "EU")
    // identity/bucket over TIMESTAMP renders differently across the two
    // physical layouts — refused at CREATE (days() is the supported form)
    val e3 = intercept[Exception] {
      sql("""CREATE TABLE gsql.dbpg.bad (id BIGINT, ts TIMESTAMP)
            |PARTITIONED BY (bucket(4, ts))""".stripMargin)
    }
    assert(Iterator.iterate[Throwable](e3)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("not supported")))
  }

  test("partitioned tables and tags work on the Iceberg-format catalog") {
    val wh = Files.createTempDirectory("graft-wh-ice-pt").toString
    spark.conf.set("spark.sql.catalog.gipt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gipt.warehouse", wh)
    spark.conf.set("spark.sql.catalog.gipt.format", "iceberg")
    sql("CREATE NAMESPACE IF NOT EXISTS gipt.db")
    sql("""CREATE TABLE gipt.db.pt (id BIGINT, region STRING)
          |PARTITIONED BY (region)""".stripMargin)
    sql("""INSERT INTO gipt.db.pt
          |SELECT id, CASE WHEN id % 2 = 0 THEN 'EU' ELSE 'US' END
          |FROM range(0, 40)""".stripMargin)
    // the spec round-tripped through Iceberg metadata: files fanned out
    // and DESCRIBE-visible partitioning survives a reload
    val parts = spark.sessionState.catalogManager.catalog("gipt")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "pt")).partitioning()
    assert(parts.length == 1 && parts.head.name == "identity")
    val files = graft.io.FileIO.listFilesRecursive(s"$wh/db/pt/data")
      .map(_._1).filter(_.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(f =>
      graft.core.PartitionKey.parse(f).contains("region")))
    assert(sql("SELECT count(*) FROM gipt.db.pt WHERE region = 'EU'")
      .head.getLong(0) == 20)
    // tags ride Iceberg snapshot properties; expiration protects them
    sql("CALL gipt.system.create_tag(`table` => 'db.pt', tag => 'first')")
    sql("INSERT INTO gipt.db.pt VALUES (100, 'EU')")
    sql("CALL gipt.system.expire_snapshots(`table` => 'db.pt', retain_last => 1)")
    assert(sql("SELECT count(*) FROM gipt.db.pt VERSION AS OF 'first'")
      .head.getLong(0) == 40)
    assert(sql("SELECT count(*) FROM gipt.db.pt").head.getLong(0) == 41)
  }

  test("CREATE TABLE rejects unsupported leaf types and duplicate tables") {
    sql("CREATE NAMESPACE IF NOT EXISTS gsql.db3")
    // nested compositions are in the lattice now, but their LEAVES still
    // gate — SMALLINT is outside the engine's type model at any depth
    val e = intercept[Exception] {
      sql("CREATE TABLE gsql.db3.bad (id BIGINT, xs ARRAY<SMALLINT>)")
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("array/struct/map")))
    sql("CREATE TABLE gsql.db3.ok (id BIGINT)")
    intercept[Exception] { sql("CREATE TABLE gsql.db3.ok (id BIGINT)") }
  }
}
