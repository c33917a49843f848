package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The pure-SQL surface ([[graft.sql.GraftCatalog]]) as an
  * oracle-checked query — every statement below runs through
  * `spark.sql`, no engine API calls:
  *
  *  1. CREATE TABLE declares the schema (bootstrap snapshot carries it);
  *  2. two INSERT INTO commits land thirds of lineitem;
  *  3. DELETE FROM removes rows matching a translatable predicate —
  *     the positions of the matching live rows, read from a pinned DSv2
  *     scan of the predicate, are committed as a merge-on-read POSITION
  *     delete ([[graft.streaming.GraftTable.deleteWhere]]), so it
  *     affects only rows present at delete time;
  *  4. the last third is inserted AFTER the delete — its matching rows
  *     must survive (position deletes pin physical rows, not keys);
  *  5. SELECT reads the live rows back.
  *
  * The oracle recomputes the survivors from lineitem alone: a hash
  * match certifies SQL DDL → DSv2 append → MoR DELETE → MoR read,
  * end-to-end through Spark's catalog resolution.
  */
object SqlCatalogQuery {

  private val outCols = Seq("l_orderkey", "l_linenumber", "l_suppkey", "l_returnflag")

  private val catalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val counter = new AtomicInteger(0)

  /** One-per-dir catalog bootstrap shared by every query here: register
    * a fresh [[graft.sql.GraftCatalog]] over a temp warehouse, expose the
    * scale-factor lineitem as `viewName`, create namespace `db`, run the
    * query-specific `setup` DDL/DML, and memoize the catalog name in
    * `cache` under `key`. */
  private def bootstrapCatalog(
      cache: java.util.concurrent.ConcurrentHashMap[String, String],
      key: String, spark: SparkSession, dir: String,
      prefix: String, tmpTag: String, viewName: String,
      /** Extra `spark.sql.catalog.<name>.<k> = v` entries — e.g.
        * `format -> iceberg` backs the catalog with the Iceberg
        * metadata writer. */
      extraConf: Map[String, String] = Map.empty)
      (setup: String => Unit): String =
    cache.computeIfAbsent(key, _ => {
      val name = s"$prefix${counter.incrementAndGet()}"
      val wh = Files.createTempDirectory(s"graft-$tmpTag-$name").toString
      spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sql.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      extraConf.foreach { case (k, v) =>
        spark.conf.set(s"spark.sql.catalog.$name.$k", v)
      }
      spark.read.parquet(s"$dir/lineitem.parquet").createOrReplaceTempView(viewName)
      setup(name)
      name
    })


  def run(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(catalogs, dir, spark, dir,
        "gq", "sqlcat", "li_src") { name =>
      spark.sql(
        // l_linenumber is INT32 in the source parquet — declare INT so
        // the round-tripped dtype matches the DuckDB oracle exactly
        s"""CREATE TABLE $name.db.li (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  l_suppkey BIGINT, l_returnflag STRING)""".stripMargin)
      def insertThird(k: Int): Unit = spark.sql(
        s"""INSERT INTO $name.db.li
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
           |FROM li_src WHERE l_orderkey % 3 = $k""".stripMargin)
      insertThird(0)
      insertThird(1)
      spark.sql(
        s"DELETE FROM $name.db.li WHERE l_orderkey <= 500 AND l_returnflag = 'A'")
      insertThird(2) // post-delete rows survive even when they match
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
         |FROM $cat.db.li
         |ORDER BY ${outCols.mkString(", ")}""".stripMargin)
  }

  val oracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem
      |WHERE l_orderkey % 3 = 2
      |   OR NOT (l_orderkey <= 500 AND l_returnflag = 'A')
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag""".stripMargin

  // -------- write-time CHECK constraints --------------------------------

  private val ckCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** CHECK constraints from SQL ([[graft.core.Constraints]]): the
    * fixture interleaves valid inserts with a VIOLATING insert that
    * must fail without committing — the hash match certifies both that
    * valid rows all landed and that the rejected batch left nothing
    * behind. */
  def runConstraints(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(ckCatalogs, dir, spark, dir,
        "gck", "sqlck", "li_ck") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.ck (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  qty_cents BIGINT, l_returnflag STRING)
           |TBLPROPERTIES ('graft.constraints' =
           |  '{"qty_pos": "qty_cents > 0",
           |    "flag_ok": "l_returnflag IN (''N'', ''A'', ''R'')"}')""".stripMargin)
      def insertHalf(k: Int): Unit = spark.sql(
        s"""INSERT INTO $name.db.ck
           |SELECT l_orderkey, l_linenumber,
           |  CAST(round(l_quantity * 100) AS BIGINT), l_returnflag
           |FROM li_ck WHERE l_orderkey % 2 = $k""".stripMargin)
      insertHalf(0)
      // the violating batch must fail atomically: nothing from it lands
      val failed = try {
        spark.sql(s"INSERT INTO $name.db.ck VALUES (1, 1, -5, 'N')")
        false
      } catch { case e: Exception =>
        def chain(t: Throwable): Seq[String] =
          if (t == null) Nil else t.toString +: chain(t.getCause)
        chain(e).exists(_.contains("CHECK constraint"))
      }
      require(failed, "the violating insert must fail the CHECK constraint")
      insertHalf(1)
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, qty_cents, l_returnflag
         |FROM $cat.db.ck
         |ORDER BY l_orderkey, l_linenumber, qty_cents, l_returnflag""".stripMargin)
  }

  val constraintsOracle: String =
    """SELECT l_orderkey, l_linenumber,
      |  CAST(round(l_quantity * 100) AS BIGINT) AS qty_cents, l_returnflag
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, qty_cents, l_returnflag""".stripMargin

  // -------- partial-progress compaction ---------------------------------

  private val ppCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Partial-progress compaction from SQL: a multi-insert + MoR-delete
    * backlog compacted with `partial_progress_max_commits => 3` — three
    * independent replace commits instead of one. The query reads the
    * table back AND requires the version chain to show the three
    * commits, so the hash match certifies per-group rewrites lose and
    * resurrect nothing across intermediate states. */
  def runPartialCompaction(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(ppCatalogs, dir, spark, dir,
        "gpp", "sqlpp", "li_pp") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.pp (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  l_suppkey BIGINT, l_returnflag STRING)
           |TBLPROPERTIES ('graft.rowlevel.mode'='merge-on-read')""".stripMargin)
      def insertThird(k: Int): Unit = spark.sql(
        s"""INSERT INTO $name.db.pp
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
           |FROM li_pp WHERE l_orderkey % 3 = $k""".stripMargin)
      insertThird(0); insertThird(1); insertThird(2)
      spark.sql(
        s"DELETE FROM $name.db.pp WHERE l_returnflag = 'R' AND l_orderkey % 7 = 0")
      val before = spark.sql(s"SELECT max(version) FROM $name.db.pp.snapshots")
        .collect().head.getLong(0)
      spark.sql(s"CALL $name.system.rewrite_data_files(`table` => 'db.pp', " +
        "partial_progress_max_commits => 3, validate => true)")
      val after = spark.sql(s"SELECT max(version) FROM $name.db.pp.snapshots")
        .collect().head.getLong(0)
      require(after == before + 3,
        s"partial progress should commit 3 times, got ${after - before}")
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
         |FROM $cat.db.pp
         |ORDER BY ${outCols.mkString(", ")}""".stripMargin)
  }

  val partialCompactionOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem
      |WHERE NOT (l_returnflag = 'R' AND l_orderkey % 7 = 0)
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag""".stripMargin

  // -------- PARTITIONED BY (fanout write + transform pruning) -----------

  private val partCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A PARTITIONED table driven end-to-end from SQL: fanout INSERT
    * (identity + bucket transforms, clustered write distribution),
    * merge-on-read DELETE, filtered read-back. The oracle recomputes
    * the survivors from lineitem alone — a hash match certifies that
    * per-partition-value files and the pruning that reads them back
    * lose and duplicate nothing. */
  def runPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(partCatalogs, dir, spark, dir,
        "gp", "sqlpart", "li_part") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.lp (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  l_suppkey BIGINT, l_returnflag STRING)
           |PARTITIONED BY (l_returnflag, bucket(4, l_orderkey))""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.lp
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
           |FROM li_part""".stripMargin)
      spark.sql(
        s"DELETE FROM $name.db.lp WHERE l_orderkey <= 300 AND l_returnflag = 'R'")
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
         |FROM $cat.db.lp WHERE l_orderkey % 5 = 2
         |ORDER BY 1, 2, 3, 4""".stripMargin)
  }

  val partitionedOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem
      |WHERE l_orderkey % 5 = 2
      |  AND NOT (l_orderkey <= 300 AND l_returnflag = 'R')
      |ORDER BY 1, 2, 3, 4""".stripMargin

  // -------- bloom-filter point lookups ----------------------------------

  private val bloomCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A bloom-configured table (`graft.bloom.columns`) read back through
    * point predicates after a merge-on-read DELETE (the modulo
    * predicate is untranslatable, so with rowlevel.mode=merge-on-read
    * it takes the delta path and commits real delete files) — the hash
    * match certifies the bloom-assisted row-group skipping composes
    * with MoR delete application and never drops a matching row (bloom
    * filters may only have false POSITIVES). The probed key set mixes
    * present, deleted, and never-present ids. */
  def runBloom(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(bloomCatalogs, dir, spark, dir,
        "gbq", "sqlbloom", "li_bloom") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.lb (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  l_suppkey BIGINT, l_returnflag STRING)
           |TBLPROPERTIES('graft.bloom.columns'='l_orderkey,l_suppkey',
           |  'graft.rowlevel.mode'='merge-on-read')""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.lb
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
           |FROM li_bloom""".stripMargin)
      spark.sql(s"DELETE FROM $name.db.lb WHERE l_orderkey % 7 = 3")
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
         |FROM $cat.db.lb
         |WHERE l_orderkey IN (1, 3, 7, 31, 59, 101, 499, 997, 1493, 4999)
         |   OR l_suppkey IN (2, 47, 83)
         |ORDER BY ${outCols.mkString(", ")}""".stripMargin)
  }

  val bloomOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem
      |WHERE (l_orderkey IN (1, 3, 7, 31, 59, 101, 499, 997, 1493, 4999)
      |    OR l_suppkey IN (2, 47, 83))
      |  AND l_orderkey % 7 <> 3
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag""".stripMargin

  // -------- write-audit-publish staging ---------------------------------

  private val wapCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write-audit-publish from SQL ([[graft.txn.Wap]]): a staged INSERT
    * is invisible to a DELETE that runs while the stage is open, then
    * lands intact via `CALL publish_wap`. The staged rows include
    * `l_returnflag='A'` matches the interleaved DELETE would have
    * killed — a hash match therefore certifies BOTH publish atomicity
    * (no loss/duplication) and stage isolation (the delete never saw
    * the staged rows); the setup additionally asserts the audit read
    * and pre-publish invisibility by count. */
  def runWap(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(wapCatalogs, dir, spark, dir,
        "gwq", "sqlwap", "li_wap") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.lw (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  l_suppkey BIGINT, l_returnflag STRING)
           |TBLPROPERTIES('graft.wap.enabled'='true')""".stripMargin)
      def insertThird(k: Int): Unit = spark.sql(
        s"""INSERT INTO $name.db.lw
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
           |FROM li_wap WHERE l_orderkey % 3 = $k""".stripMargin)
      insertThird(0)
      val base = spark.table(s"$name.db.lw").count()
      spark.conf.set(graft.txn.Wap.SessionConf, "audit-1")
      try insertThird(1)
      finally spark.conf.unset(graft.txn.Wap.SessionConf)
      // the staged rows are invisible to the live table but complete
      // under the audit ref
      require(spark.table(s"$name.db.lw").count() == base,
        "staged rows leaked into the live table")
      val audit = spark.sql(
        s"SELECT count(*) FROM $name.db.lw VERSION AS OF 'wap:audit-1'")
        .head().getLong(0)
      require(audit > base, "audit read must include the staged rows")
      // this DELETE must not touch the staged 'A' rows it cannot see
      spark.sql(s"DELETE FROM $name.db.lw WHERE l_returnflag = 'A'")
      spark.sql(
        s"CALL $name.system.publish_wap(`table` => 'db.lw', wap_id => 'audit-1')")
      insertThird(2)
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
         |FROM $cat.db.lw
         |ORDER BY ${outCols.mkString(", ")}""".stripMargin)
  }

  val wapOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem
      |WHERE (l_orderkey % 3 = 0 AND l_returnflag <> 'A')
      |   OR l_orderkey % 3 = 1
      |   OR l_orderkey % 3 = 2
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag""".stripMargin

  // -------- branches ----------------------------------------------------

  private val branchCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Branch refs ([[graft.txn.Branch]]) as an oracle-checked query:
    *
    *  1. load the `%3 = 0` third on MAIN;
    *  2. `CALL create_branch(... 'dev')`;
    *  3. INSERT the `%3 = 1` third under the session branch conf (the
    *     `spark.wap.branch` analog) — main must not see it;
    *  4. equality-delete every `%7 = 0` orderkey ON THE BRANCH
    *     (`TableWrites.appendEqualityDeletes(branch = ...)`);
    *  5. INSERT the `%3 = 2` third on the branch — NEWER than the
    *     delete, survives it even on matching keys;
    *  6. audit-read `VERSION AS OF 'branch:dev'`, assert main isolation
    *     by count, then `CALL fast_forward` and read MAIN.
    *
    * The final hash-match certifies branch isolation, branch-lineage
    * sequence semantics (the delete's seq window), and the wholesale
    * adoption of the branch chain at publish. */
  def runBranch(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(branchCatalogs, dir, spark, dir,
        "gbr", "sqlbranch", "li_branch") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.lb (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  l_suppkey BIGINT, l_returnflag STRING)""".stripMargin)
      def insertThird(k: Int): Unit = spark.sql(
        s"""INSERT INTO $name.db.lb
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
           |FROM li_branch WHERE l_orderkey % 3 = $k""".stripMargin)
      insertThird(0)
      val base = spark.table(s"$name.db.lb").count()
      spark.sql(s"CALL $name.system.create_branch(`table` => 'db.lb', branch => 'dev')")
      spark.conf.set(graft.txn.Branch.SessionConf, "dev")
      try insertThird(1)
      finally spark.conf.unset(graft.txn.Branch.SessionConf)
      require(spark.table(s"$name.db.lb").count() == base,
        "branch rows leaked into the main table")
      // branch-lineage equality delete through the library surface
      val tableDir = spark.conf.get(s"spark.sql.catalog.$name.warehouse") +
        "/db/lb"
      graft.txn.TableWrites.appendEqualityDeletes(tableDir,
        spark.table("li_branch")
          .filter(org.apache.spark.sql.functions.col("l_orderkey") % 7 === 0)
          .select("l_orderkey"),
        Seq("l_orderkey"), branch = Some("dev"))
      spark.conf.set(graft.txn.Branch.SessionConf, "dev")
      try insertThird(2) // newer than the delete — survives it
      finally spark.conf.unset(graft.txn.Branch.SessionConf)
      require(spark.table(s"$name.db.lb").count() == base,
        "branch delete/insert leaked into the main table")
      val audit = spark.sql(
        s"SELECT count(*) FROM $name.db.lb VERSION AS OF 'branch:dev'")
        .head().getLong(0)
      require(audit > base, "branch read must include the branch rows")
      spark.sql(s"CALL $name.system.fast_forward(`table` => 'db.lb', branch => 'dev')")
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
         |FROM $cat.db.lb
         |ORDER BY ${outCols.mkString(", ")}""".stripMargin)
  }

  val branchOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem
      |WHERE (l_orderkey % 3 <= 1 AND l_orderkey % 7 <> 0)
      |   OR l_orderkey % 3 = 2
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag""".stripMargin

  // -------- partition-spec evolution ------------------------------------

  private val pevoCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Partition-spec EVOLUTION as an oracle-checked query: load half the
    * table under `PARTITIONED BY (l_returnflag)`, evolve the layout to
    * `bucket(4, l_orderkey)` via the procedure, load the other half
    * under the new spec, and run a merge-on-read DELETE across both
    * layouts. The final filtered read prunes spec-0 files by their OWN
    * identity field while keeping the bucket-laid files (whose names
    * carry no returnflag) — per-file spec resolution
    * ([[graft.core.PartitionSpecCodec.specForFile]]). The fixture
    * REQUIRES both spec ids present so the mixed-layout path is
    * actually exercised. */
  def runPartitionEvolution(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(pevoCatalogs, dir, spark, dir,
        "gpe", "sqlpevo", "li_pevo") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.lpe (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  l_suppkey BIGINT, l_returnflag STRING)
           |PARTITIONED BY (l_returnflag)
           |TBLPROPERTIES ('graft.rowlevel.mode'='merge-on-read')""".stripMargin)
      def insertHalf(k: Int): Unit = spark.sql(
        s"""INSERT INTO $name.db.lpe
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
           |FROM li_pevo WHERE l_orderkey % 2 = $k""".stripMargin)
      insertHalf(0)
      spark.sql(s"CALL $name.system.evolve_partition_spec(" +
        "`table` => 'db.lpe', spec => 'bucket:4:l_orderkey')")
      insertHalf(1)
      // merge-on-read DELETE spans BOTH layouts without rewriting them
      spark.sql(s"DELETE FROM $name.db.lpe WHERE l_orderkey <= 200")
      val wh = spark.conf.get(s"spark.sql.catalog.$name.warehouse")
      val snap = graft.txn.FileTableCatalog.loadOrThrow(s"$wh/db/lpe")
      val ids = snap.files.filter(_.content == "data")
        .map(f => math.max(f.specId, 0L)).distinct.sorted
      require(ids.size == 2,
        s"fixture must hold files under BOTH specs, got spec ids $ids")
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
         |FROM $cat.db.lpe WHERE l_returnflag = 'N'
         |ORDER BY 1, 2, 3, 4""".stripMargin)
  }

  val partitionEvolutionOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem
      |WHERE l_returnflag = 'N' AND l_orderkey > 200
      |ORDER BY 1, 2, 3, 4""".stripMargin

  // -------- dynamic partition overwrite ---------------------------------

  private val dynCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Dynamic partition overwrite as an oracle-checked query: load the
    * whole table partitioned by `l_returnflag`, then `INSERT OVERWRITE`
    * under `partitionOverwriteMode=dynamic` with replacement rows for
    * only the non-'A' partitions. The 'A' partition's files must
    * survive untouched while 'N'/'R' are atomically swapped — the
    * hash-match against the oracle's UNION is exactly the contract a
    * partial-overwrite bug (dropping a partition not in the incoming
    * set, or keeping stale files of one that is) would violate. */
  def runInsertOverwriteDynamic(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(dynCatalogs, dir, spark, dir,
        "gdy", "sqldyn", "li_dyn") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.lod (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  l_suppkey BIGINT, l_returnflag STRING)
           |PARTITIONED BY (l_returnflag)""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.lod
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
           |FROM li_dyn""".stripMargin)
      val mode = "spark.sql.sources.partitionOverwriteMode"
      val prev = spark.conf.getOption(mode)
      spark.conf.set(mode, "dynamic")
      try spark.sql(
        s"""INSERT OVERWRITE $name.db.lod
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
           |FROM li_dyn WHERE l_returnflag <> 'A' AND l_orderkey <= 2000""".stripMargin)
      finally prev.fold(spark.conf.unset(mode))(spark.conf.set(mode, _))
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
         |FROM $cat.db.lod
         |ORDER BY 1, 2, 3, 4""".stripMargin)
  }

  val insertOverwriteDynamicOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem
      |WHERE l_returnflag = 'A'
      |   OR (l_returnflag <> 'A' AND l_orderkey <= 2000)
      |ORDER BY 1, 2, 3, 4""".stripMargin

  // -------- declared write order (sorted inserts) -----------------------

  private val woCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Declared write order (`graft.write-order`) as an oracle-checked
    * query: scrambled input range-distributes + sorts through the DSv2
    * write, a range DELETE lands merge-on-read position deletes on the
    * sorted files, and a range read prunes by the stamped bounds. The
    * oracle recomputes survivors from lineitem — a hash match certifies
    * the range exchange loses and duplicates nothing and that pruning
    * over the sorted layout returns exactly the full-scan answer. */
  def runWriteOrder(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(woCatalogs, dir, spark, dir,
        "gw", "sqlwo", "li_wo") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.wo (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  l_suppkey BIGINT, l_partkey BIGINT)
           |TBLPROPERTIES ('graft.write-order'='l_orderkey')""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.wo
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey
           |FROM li_wo DISTRIBUTE BY pmod(hash(l_suppkey, l_linenumber), 16)""".stripMargin)
      spark.sql(
        s"DELETE FROM $name.db.wo WHERE l_orderkey > 100 AND l_orderkey <= 200")
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey
         |FROM $cat.db.wo WHERE l_orderkey <= 1000
         |ORDER BY 1, 2, 3, 4""".stripMargin)
  }

  val writeOrderOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey
      |FROM lineitem
      |WHERE l_orderkey <= 1000
      |  AND NOT (l_orderkey > 100 AND l_orderkey <= 200)
      |ORDER BY 1, 2, 3, 4""".stripMargin

  // -------- storage-partitioned join (co-bucketed, shuffle-free) --------

  private val spjCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Storage-partitioned join as an oracle-checked query: orders and
    * customer land in two tables bucketed the SAME way on the join key
    * (`bucket(4, custkey)`), and the join runs with Spark's v2
    * bucketing enabled — the scans report `KeyGroupedPartitioning`,
    * the catalog's V2 `bucket` function proves both layouts equal, and
    * the join executes with NO shuffle on either input (the plan is
    * asserted: the only exchange is the final ORDER BY). At 100 TB this
    * is the difference between moving both tables over the wire and
    * moving nothing. The oracle replays the join from the raw parquet —
    * a hash match certifies the keyed-task read path loses and
    * duplicates nothing.
    *
    * SPJ is an execution-time plan property, so the confs are enabled
    * around an EAGER run and restored (leaking them would re-shape
    * every later partitioned-table scan in the session); the collected
    * result returns as a local DataFrame with the join's schema. */
  def runSpjJoin(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(spjCatalogs, dir, spark, dir,
        "gj", "sqlspj", "spj_li_unused") { name =>
      spark.read.parquet(s"$dir/orders.parquet")
        .createOrReplaceTempView("spj_orders")
      spark.read.parquet(s"$dir/customer.parquet")
        .createOrReplaceTempView("spj_customer")
      spark.sql(
        s"""CREATE TABLE $name.db.ofact (o_orderkey BIGINT, o_custkey BIGINT)
           |PARTITIONED BY (bucket(4, o_custkey))""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.ofact
           |SELECT o_orderkey, o_custkey FROM spj_orders""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $name.db.cdim (
           |  c_custkey BIGINT, c_name STRING, c_nationkey INT)
           |PARTITIONED BY (bucket(4, c_custkey))""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.cdim
           |SELECT c_custkey, c_name, c_nationkey FROM spj_customer""".stripMargin)
    }
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k))
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    // broadcast off: the join must prove co-partitioning, not dodge it
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql(
        s"""SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey
           |FROM $cat.db.ofact o
           |JOIN $cat.db.cdim c ON o.o_custkey = c.c_custkey
           |ORDER BY 1, 2, 3, 4""".stripMargin)
      val rows = j.collect()
      val plan = j.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val shuffles = plan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => s
      }.size
      // at most the final ORDER BY's range exchange (AQE elides even
      // that when the join output collapses to one partition) — the
      // JOIN itself must be shuffle-free
      require(shuffles <= 1,
        s"expected a storage-partitioned join (at most the final ORDER BY " +
          s"exchange), got $shuffles shuffles:\n${j.queryExecution}")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), j.schema)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  val spjJoinOracle: String =
    """SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY 1, 2, 3, 4""".stripMargin

  // -------- sorted storage-partitioned join (shuffle-free AND sort-free) --

  private val sortedJoinCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The sorted-bucket-table fast path as an oracle-checked query: both
    * tables are bucketed on the join key AND carry
    * `graft.write-order = <key>`, then `rewrite_data_files` converges
    * each bucket to ONE sorted file. The scans report
    * `KeyGroupedPartitioning` (SPJ) plus a per-partition ordering
    * ([[graft.sources.GraftScan]] `SupportsReportOrdering`, from the
    * per-file `sortedBy` stamps), so the merge join runs with NO
    * exchange and NO sort on either side — the plan asserts both (the
    * only exchange/sort allowed is the final ORDER BY's). At 100 TB
    * this is the sorted-table merge join a warehouse pays bucketing +
    * write order to get: zero wire traffic, zero spill-prone sorts.
    * The oracle replays the join from raw parquet — a hash match
    * certifies the sorted merge loses and duplicates nothing. */
  def runSortedJoin(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(sortedJoinCatalogs, dir, spark, dir,
        "gs", "sqlsorted", "sorted_li_unused") { name =>
      spark.read.parquet(s"$dir/orders.parquet")
        .createOrReplaceTempView("sorted_orders")
      spark.read.parquet(s"$dir/customer.parquet")
        .createOrReplaceTempView("sorted_customer")
      spark.sql(
        s"""CREATE TABLE $name.db.ofact (o_orderkey BIGINT, o_custkey BIGINT)
           |PARTITIONED BY (bucket(4, o_custkey))
           |TBLPROPERTIES ('graft.write-order'='o_custkey')""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.ofact
           |SELECT o_orderkey, o_custkey FROM sorted_orders""".stripMargin)
      spark.sql(
        s"""CREATE TABLE $name.db.cdim (
           |  c_custkey BIGINT, c_name STRING, c_nationkey INT)
           |PARTITIONED BY (bucket(4, c_custkey))
           |TBLPROPERTIES ('graft.write-order'='c_custkey')""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.cdim
           |SELECT c_custkey, c_name, c_nationkey FROM sorted_customer""".stripMargin)
      // converge each bucket to one sorted file — the state the sorted
      // report requires (multi-commit tables refuse it honestly)
      spark.sql(s"CALL $name.system.rewrite_data_files(table => 'db.ofact')")
      spark.sql(s"CALL $name.system.rewrite_data_files(table => 'db.cdim')")
    }
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.sources.v2.bucketing.enabled",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k))
    conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val j = spark.sql(
        s"""SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey
           |FROM $cat.db.ofact o
           |JOIN $cat.db.cdim c ON o.o_custkey = c.c_custkey
           |ORDER BY 1, 2, 3, 4""".stripMargin)
      val rows = j.collect()
      val plan = j.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      // AQE wraps materialized stages in QueryStageExec, whose subtree
      // is an innerChild — plain collect() stops at the boundary, so
      // flatten across stages explicitly
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          p +: flatten(q.plan)
        case _ => p +: p.children.flatMap(flatten)
      }
      val nodes = flatten(plan)
      val smj = nodes.collect {
        case s: org.apache.spark.sql.execution.joins.SortMergeJoinExec => s
      }
      require(smj.nonEmpty,
        s"expected a sort-merge join over the co-sorted buckets:\n${j.queryExecution}")
      val sortsUnderJoin = smj.flatMap(_.children).flatMap(flatten).count {
        case _: org.apache.spark.sql.execution.SortExec => true
        case _ => false
      }
      require(sortsUnderJoin == 0,
        s"expected a SORT-FREE merge join (per-partition ordering reported " +
          s"from the sortedBy stamps), got $sortsUnderJoin sorts under the " +
          s"join:\n${j.queryExecution}")
      val shuffles = nodes.count {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => true
        case _ => false
      }
      require(shuffles <= 1,
        s"expected at most the final ORDER BY exchange, got $shuffles " +
          s"shuffles:\n${j.queryExecution}")
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), j.schema)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  val sortedJoinOracle: String =
    """SELECT o.o_orderkey, o.o_custkey, c.c_name, c.c_nationkey
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |ORDER BY 1, 2, 3, 4""".stripMargin

  // -------- LIMIT / TopN pushdown (file truncation) ----------------------

  private val topnCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** TopN pushdown as an oracle-checked query: orders land in three
    * key-range commits (disjoint stamped bounds per commit), then
    * `ORDER BY o_orderkey LIMIT 20` plans ONLY the files whose bounds
    * can hold a top-20 row ([[graft.sources.ScanPruning.truncateForTopN]]
    * via `SupportsPushDownTopN`) — asserted in-gate: planned partitions
    * < data files. At 100 TB this is the "show me the first rows"
    * browse query reading one file instead of the table. Partial
    * pushdown: Spark's own TakeOrdered still runs, so the oracle hash
    * match certifies the truncation dropped nothing it shouldn't. */
  def runTopN(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(topnCatalogs, dir, spark, dir,
        "gt", "sqltopn", "topn_li_unused") { name =>
      spark.read.parquet(s"$dir/orders.parquet")
        .createOrReplaceTempView("topn_orders")
      spark.sql(
        s"""CREATE TABLE $name.db.otop (
           |  o_orderkey BIGINT, price_cents BIGINT)""".stripMargin)
      def ins(where: String): Unit = spark.sql(
        s"""INSERT INTO $name.db.otop
           |SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
           |FROM topn_orders WHERE $where""".stripMargin)
      ins("o_orderkey <= 500")
      ins("o_orderkey > 500 AND o_orderkey <= 1000")
      ins("o_orderkey > 1000")
    }
    val wh = spark.conf.get(s"spark.sql.catalog.$cat.warehouse")
    val nFiles = graft.txn.FileTableCatalog.loadOrThrow(s"$wh/db/otop")
      .files.count(_.content == "data")
    val q = spark.sql(
      s"SELECT o_orderkey, price_cents FROM $cat.db.otop " +
        "ORDER BY o_orderkey LIMIT 20")
    val rows = q.collect()
    def flatten(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: flatten(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: flatten(s.plan)
      case _ => p +: p.children.flatMap(flatten)
    }
    val scans = flatten(q.queryExecution.executedPlan).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    require(scans.size == 1, q.queryExecution.toString)
    val planned = scans.head.scan.toBatch.planInputPartitions().length
    require(planned < nFiles,
      s"pushed top-n must truncate the planned file set " +
        s"($planned partitions vs $nFiles data files):\n${q.queryExecution}")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
  }

  val topNOracle: String =
    """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
      |FROM orders ORDER BY o_orderkey LIMIT 20""".stripMargin

  // -------- MERGE INTO (group-based copy-on-write) ----------------------

  private val mergeCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** SQL `MERGE INTO` as an oracle-checked query: the table starts as
    * the even-orderkey rows; the source carries `%4 == 0` rows with
    * returnflag rewritten to 'U' (they exist → WHEN MATCHED UPDATE over
    * the verified-unique six-column key) and `%4 == 1` rows (absent →
    * WHEN NOT MATCHED INSERT). The matched groups are rewritten
    * copy-on-write ([[graft.sinks.GraftRowLevelOperation]]); doubles
    * are stored as integer cents so nothing floating ever crosses the
    * oracle boundary. */
  def runMerge(spark: SparkSession, dir: String): DataFrame =
    runMergeMode(spark, dir, "copy-on-write")

  /** The same MERGE with `graft.rowlevel.mode = merge-on-read`: matched
    * rows land as position deletes + re-inserts
    * ([[graft.sinks.GraftDeltaOperation]]), data files are never
    * rewritten. Shares [[mergeOracle]] — both modes must produce the
    * same logical table. */
  def runMergeMor(spark: SparkSession, dir: String): DataFrame =
    runMergeMode(spark, dir, "merge-on-read")

  /** The MoR MERGE again with `graft.deletes.format = dv`: the matched
    * rows' deletes must land as deletion vectors (asserted — a silent
    * parquet fallback would pass the value check while testing
    * nothing), and the read must fold them. Shares [[mergeOracle]]:
    * all three delete encodings produce the same logical table. */
  def runMergeDv(spark: SparkSession, dir: String): DataFrame =
    runMergeMode(spark, dir, "merge-on-read", dvDeletes = true)

  private def runMergeMode(spark: SparkSession, dir: String, mode: String,
      dvDeletes: Boolean = false): DataFrame = {
    val cat = bootstrapCatalog(mergeCatalogs, s"$dir#$mode#dv=$dvDeletes",
        spark, dir, "gm", "sqlmerge", "li_merge") { name =>
      spark.sql("""CREATE OR REPLACE TEMP VIEW li_keyed AS
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(round(l_quantity * 100) AS BIGINT) AS lq,
        |  CAST(round(l_extendedprice * 100) AS BIGINT) AS lep,
        |  l_returnflag
        |FROM li_merge""".stripMargin)
      val dvProp =
        if (dvDeletes) ", 'graft.deletes.format' = 'dv'" else ""
      spark.sql(
        s"""CREATE TABLE $name.db.li (
           |  l_orderkey BIGINT, l_linenumber INT, l_partkey BIGINT,
           |  l_suppkey BIGINT, lq BIGINT, lep BIGINT, l_returnflag STRING)
           |TBLPROPERTIES ('graft.rowlevel.mode' = '$mode'$dvProp)""".stripMargin)
      spark.sql(
        s"INSERT INTO $name.db.li SELECT * FROM li_keyed WHERE l_orderkey % 2 = 0")
      spark.sql(
        s"""MERGE INTO $name.db.li t
           |USING (
           |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |         lq, lep, 'U' AS l_returnflag
           |  FROM li_keyed WHERE l_orderkey % 4 = 0
           |  UNION ALL
           |  SELECT * FROM li_keyed WHERE l_orderkey % 4 = 1
           |) s
           |ON  t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
           |AND t.l_partkey = s.l_partkey AND t.l_suppkey = s.l_suppkey
           |AND t.lq = s.lq AND t.lep = s.lep
           |WHEN MATCHED THEN UPDATE SET l_returnflag = s.l_returnflag
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      if (dvDeletes) {
        val wh = spark.conf.get(s"spark.sql.catalog.$name.warehouse")
        val files = graft.txn.FileTableCatalog.loadOrThrow(s"$wh/db/li").files
        require(files.exists(_.content == "deletion-vectors") &&
          !files.exists(_.content == "position-deletes"),
          "MERGE on a dv-format table must commit deletion vectors")
      }
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, lq, lep, l_returnflag
         |FROM $cat.db.li
         |ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin)
  }

  // -------- DECIMAL + DATE through the engine table format --------------

  private val decCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** `DECIMAL(12,2)` (INT64-backed), `DECIMAL(24,4)` (FIXED_LEN_BYTE_
    * ARRAY-backed) and `DATE` columns through the full engine lifecycle:
    * CREATE → INSERT (exact decimal arithmetic, nothing floating) →
    * merge-on-read DELETE on a decimal predicate → MERGE UPDATE of a
    * decimal column → MoR read-back (columnar fill with position
    * deletes over decimal files). Dates render as strings on both sides
    * so the oracle compare is dtype-stable. */
  def runDecimal(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(decCatalogs, dir, spark, dir,
        "gd", "sqldec", "li_dec") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.dec (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  price DECIMAL(12,2), big DECIMAL(24,4), ship DATE)
           |TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.dec
           |SELECT l_orderkey, l_linenumber,
           |  CAST(CAST(l_quantity AS DECIMAL(12,2)) + l_linenumber * 0.01
           |       AS DECIMAL(12,2)),
           |  CAST(CAST(l_orderkey * 100000 + l_partkey AS DECIMAL(24,4)) + 0.1234
           |       AS DECIMAL(24,4)),
           |  CAST(l_shipdate AS DATE)
           |FROM li_dec WHERE l_orderkey % 3 < 2""".stripMargin)
      spark.sql(s"DELETE FROM $name.db.dec WHERE price < 5.00")
      spark.sql(
        s"""MERGE INTO $name.db.dec t
           |USING (SELECT DISTINCT l_orderkey FROM li_dec WHERE l_orderkey % 10 = 1) s
           |ON t.l_orderkey = s.l_orderkey
           |WHEN MATCHED THEN UPDATE SET price = t.price + 1.00""".stripMargin)
    }
    // decimals render as strings in the FINAL projection only (the
    // table stores true DECIMAL columns): DuckDB's pandas bridge
    // widens small decimals to float64, so a decimal-typed output
    // column can never dtype-match the Spark parquet dump
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber,
         |  CAST(CAST(price AS DECIMAL(12,2)) AS STRING) AS price_s,
         |  CAST(CAST(big AS DECIMAL(24,4)) AS STRING) AS big_s,
         |  CAST(ship AS STRING) AS ship_s
         |FROM $cat.db.dec WHERE l_orderkey % 7 = 3
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin)
  }

  // -------- column DEFAULT values (Iceberg v3 initial/write-default) ----

  private val defCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Column DEFAULTs through the full SQL lifecycle: CREATE with a
    * declared DEFAULT (write-default only), INSERTs that omit the
    * column (analyzer fills the CURRENT default), ALTER TABLE ADD
    * COLUMN ... DEFAULT (pre-existing files READ the frozen
    * initial-default — the engine readers fill the constant, Spark
    * never sees the files), ALTER COLUMN SET DEFAULT (write-default
    * evolves; initial-default must NOT move), and a merge-on-read
    * DELETE whose predicate selects rows BY their default-read value.
    * The oracle recomputes every row from lineitem + the default
    * rules alone. */
  def runColumnDefaults(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(defCatalogs, dir, spark, dir,
        "gdf", "sqldef", "li_def") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.t (
           |  l_orderkey BIGINT, l_linenumber INT, qty BIGINT,
           |  src STRING DEFAULT 'web')
           |TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')""".stripMargin)
      // CREATE-time default: INSERT omits src -> rows land as 'web'
      spark.sql(
        s"""INSERT INTO $name.db.t (l_orderkey, l_linenumber, qty)
           |SELECT l_orderkey, l_linenumber, l_suppkey
           |FROM li_def WHERE l_orderkey % 4 = 0""".stripMargin)
      // initial-default: files above PREDATE score and must read 7
      spark.sql(s"ALTER TABLE $name.db.t ADD COLUMN score BIGINT DEFAULT 7")
      // write-default of the new column fills for an omitting INSERT
      spark.sql(
        s"""INSERT INTO $name.db.t (l_orderkey, l_linenumber, qty, src)
           |SELECT l_orderkey, l_linenumber, l_suppkey, 'bulk'
           |FROM li_def WHERE l_orderkey % 4 = 1""".stripMargin)
      // explicit values still win over defaults
      spark.sql(
        s"""INSERT INTO $name.db.t
           |SELECT l_orderkey, l_linenumber, l_suppkey, 'full',
           |  l_orderkey % 3
           |FROM li_def WHERE l_orderkey % 4 = 2""".stripMargin)
      // the WRITE default evolves; the frozen initial-default must not
      spark.sql(s"ALTER TABLE $name.db.t ALTER COLUMN src SET DEFAULT 'api'")
      spark.sql(
        s"""INSERT INTO $name.db.t (l_orderkey, l_linenumber, qty)
           |SELECT l_orderkey, l_linenumber, l_suppkey
           |FROM li_def WHERE l_orderkey % 4 = 3""".stripMargin)
      // MoR delete selecting rows BY a default-read value (arithmetic
      // predicate -> row-level path, not metadata delete)
      spark.sql(
        s"DELETE FROM $name.db.t WHERE score = 7 AND l_orderkey % 10 = 0")
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, qty, src, score
         |FROM $cat.db.t WHERE score >= 2
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin)
  }

  val columnDefaultsOracle: String =
    """WITH t AS (
      |  SELECT l_orderkey, l_linenumber, l_suppkey AS qty,
      |    'web' AS src, CAST(7 AS BIGINT) AS score
      |  FROM lineitem WHERE l_orderkey % 4 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, l_suppkey, 'bulk', 7
      |  FROM lineitem WHERE l_orderkey % 4 = 1
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, l_suppkey, 'full', l_orderkey % 3
      |  FROM lineitem WHERE l_orderkey % 4 = 2
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, l_suppkey, 'api', 7
      |  FROM lineitem WHERE l_orderkey % 4 = 3)
      |SELECT l_orderkey, l_linenumber, qty, src, score FROM t
      |WHERE NOT (score = 7 AND l_orderkey % 10 = 0) AND score >= 2
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  // -------- persisted SQL views (ViewCatalog) -----------------------------

  private val viewCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Persisted VIEWS through the DSv2 ViewCatalog: CREATE VIEW over a
    * merge-on-read table, CREATE OR REPLACE (a NEW view version in the
    * spec's history), then INSERT MORE DATA — the final SELECT must see
    * the replaced definition over the grown table, proving views
    * re-resolve their SQL at read time instead of freezing a result.
    * The oracle recomputes the replaced definition over the full final
    * table state. */
  def runView(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(viewCatalogs, dir, spark, dir,
        "gv", "sqlview", "li_view") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.base (
           |  l_orderkey BIGINT, l_suppkey BIGINT, qty BIGINT)
           |TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.base
           |SELECT l_orderkey, l_suppkey, CAST(round(l_quantity) AS BIGINT)
           |FROM li_view WHERE l_orderkey % 2 = 0""".stripMargin)
      spark.sql(s"DELETE FROM $name.db.base WHERE qty % 9 = 3")
      // v1 definition: per-supplier row count only
      spark.sql(
        s"""CREATE VIEW $name.db.supp_agg AS
           |SELECT l_suppkey, count(*) AS n
           |FROM $name.db.base GROUP BY l_suppkey""".stripMargin)
      // REPLACE with a richer definition — a new view VERSION
      spark.sql(
        s"""CREATE OR REPLACE VIEW $name.db.supp_agg AS
           |SELECT l_suppkey, count(*) AS n, sum(qty) AS sum_qty
           |FROM $name.db.base GROUP BY l_suppkey""".stripMargin)
      // data landing AFTER the view exists must be visible through it
      spark.sql(
        s"""INSERT INTO $name.db.base
           |SELECT l_orderkey, l_suppkey, CAST(round(l_quantity) AS BIGINT)
           |FROM li_view WHERE l_orderkey % 2 = 1""".stripMargin)
    }
    spark.sql(
      s"""SELECT l_suppkey, n, sum_qty FROM $cat.db.supp_agg
         |WHERE l_suppkey % 3 = 0 ORDER BY l_suppkey""".stripMargin)
  }

  val viewOracle: String =
    """WITH base AS (
      |  SELECT l_orderkey, l_suppkey,
      |    CAST(round(l_quantity) AS BIGINT) AS qty
      |  FROM lineitem WHERE l_orderkey % 2 = 0),
      |live AS (SELECT * FROM base WHERE NOT (qty % 9 = 3)
      |  UNION ALL
      |  SELECT l_orderkey, l_suppkey, CAST(round(l_quantity) AS BIGINT)
      |  FROM lineitem WHERE l_orderkey % 2 = 1)
      |SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(qty) AS BIGINT) AS sum_qty
      |FROM live WHERE l_suppkey % 3 = 0
      |GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin

  // -------- type widening (Iceberg type promotion) -----------------------

  private val widenCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Iceberg type PROMOTION through SQL: an INT column is populated,
    * widened to BIGINT (`ALTER COLUMN ... TYPE`), then filled with
    * values that overflow int — old INT32-physical files and new
    * INT64-physical files read as one bigint column, certified through
    * a merge-on-read DELETE that spans both layouts. The oracle
    * recomputes everything from lineitem. */
  def runWidenType(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(widenCatalogs, dir, spark, dir,
        "gw", "sqlwiden", "li_widen") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.t (
           |  l_orderkey BIGINT, l_linenumber INT, v INT)
           |TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.t
           |SELECT l_orderkey, l_linenumber, CAST(l_linenumber AS INT)
           |FROM li_widen WHERE l_orderkey % 3 = 0""".stripMargin)
      spark.sql(s"ALTER TABLE $name.db.t ALTER COLUMN v TYPE BIGINT")
      spark.sql(
        s"""INSERT INTO $name.db.t
           |SELECT l_orderkey, l_linenumber,
           |  l_orderkey * 1000000 + l_linenumber
           |FROM li_widen WHERE l_orderkey % 3 = 1""".stripMargin)
      // MoR delete straddling narrow and wide physical layouts
      spark.sql(s"DELETE FROM $name.db.t WHERE v % 7 = 0")
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, v
         |FROM $cat.db.t ORDER BY 1, 2, 3""".stripMargin)
  }

  val widenTypeOracle: String =
    """WITH t AS (
      |  SELECT l_orderkey, l_linenumber, CAST(l_linenumber AS BIGINT) AS v
      |  FROM lineitem WHERE l_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber, l_orderkey * 1000000 + l_linenumber
      |  FROM lineitem WHERE l_orderkey % 3 = 1)
      |SELECT l_orderkey, l_linenumber, v FROM t
      |WHERE NOT (v % 7 = 0) ORDER BY 1, 2, 3""".stripMargin

  // -------- ARRAY / STRUCT / MAP through the engine table format --------

  private val nestCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Nested columns through the full engine lifecycle: CREATE a table
    * with ARRAY<STRING> / STRUCT / MAP<STRING,BIGINT> columns, INSERT
    * values BUILT from lineitem primitives (per-row arrays of varying
    * length, a null array row, struct members, two-key maps), DELETE
    * merge-on-read on a primitive predicate, then read back and FLATTEN
    * to primitives (element/member/map lookups). The oracle recomputes
    * the flattened result from lineitem alone — a hash match certifies
    * the nested values survived the write → MoR read round-trip
    * bit-for-bit, while every compared column stays a primitive the
    * DuckDB/pandas bridge is dtype-stable on. */
  def runNested(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(nestCatalogs, dir, spark, dir,
        "gn", "sqlnest", "li_nest") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.nest (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  tags ARRAY<STRING>,
           |  info STRUCT<qty: BIGINT, flag: STRING>,
           |  m MAP<STRING, BIGINT>)""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.nest
           |SELECT l_orderkey, l_linenumber,
           |  CASE WHEN l_linenumber = 7 THEN NULL
           |       WHEN l_linenumber % 2 = 0 THEN array(l_returnflag)
           |       ELSE array(l_returnflag, l_linestatus) END,
           |  named_struct('qty', CAST(round(l_quantity * 100) AS BIGINT),
           |               'flag', l_returnflag),
           |  map('ok', l_orderkey, 'sk', l_suppkey)
           |FROM li_nest WHERE l_orderkey % 3 < 2""".stripMargin)
      spark.sql(s"DELETE FROM $name.db.nest WHERE l_orderkey <= 400")
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber,
         |  CASE WHEN tags IS NULL THEN NULL
         |       ELSE CAST(size(tags) AS STRING) END AS n_tags_s,
         |  try_element_at(tags, 1) AS t1,
         |  try_element_at(tags, 2) AS t2,
         |  info.qty AS qty, info.flag AS flag,
         |  try_element_at(m, 'sk') AS mv
         |FROM $cat.db.nest WHERE l_orderkey % 7 = 3
         |ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin)
  }

  val nestedOracle: String =
    """SELECT l_orderkey, l_linenumber,
      |  CASE WHEN l_linenumber = 7 THEN NULL
      |       WHEN l_linenumber % 2 = 0 THEN '1' ELSE '2' END AS n_tags_s,
      |  CASE WHEN l_linenumber = 7 THEN NULL ELSE l_returnflag END AS t1,
      |  CASE WHEN l_linenumber = 7 OR l_linenumber % 2 = 0 THEN NULL
      |       ELSE l_linestatus END AS t2,
      |  CAST(round(l_quantity * 100) AS BIGINT) AS qty,
      |  l_returnflag AS flag,
      |  l_suppkey AS mv
      |FROM lineitem
      |WHERE l_orderkey % 3 < 2 AND l_orderkey > 400 AND l_orderkey % 7 = 3
      |ORDER BY 1, 2, 3, 4, 5, 6, 7, 8""".stripMargin

  val decimalOracle: String =
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(CAST(l_quantity AS DECIMAL(12,2)) + l_linenumber * 0.01
      |         AS DECIMAL(12,2)) AS price,
      |    CAST(CAST(l_orderkey * 100000 + l_partkey AS DECIMAL(24,4)) + 0.1234
      |         AS DECIMAL(24,4)) AS big,
      |    CAST(l_shipdate AS DATE) AS ship
      |  FROM lineitem),
      |live AS (
      |  SELECT * FROM src
      |  WHERE l_orderkey % 3 < 2 AND NOT (price < 5.00))
      |SELECT l_orderkey, l_linenumber,
      |  CAST(CAST(CASE WHEN l_orderkey % 10 = 1 THEN price + 1.00 ELSE price END
      |       AS DECIMAL(12,2)) AS VARCHAR) AS price_s,
      |  CAST(CAST(big AS DECIMAL(24,4)) AS VARCHAR) AS big_s,
      |  CAST(ship AS VARCHAR) AS ship_s
      |FROM live WHERE l_orderkey % 7 = 3
      |ORDER BY 1, 2, 3, 4, 5""".stripMargin

  val mergeOracle: String =
    """WITH src AS (
      |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS lq,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS lep,
      |    l_returnflag
      |  FROM lineitem)
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, lq, lep,
      |  CASE WHEN l_orderkey % 4 = 0 THEN 'U' ELSE l_returnflag END AS l_returnflag
      |FROM src WHERE l_orderkey % 2 = 0
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, lq, lep, l_returnflag
      |FROM src WHERE l_orderkey % 4 = 1
      |ORDER BY 1, 2, 3, 4, 5, 6, 7""".stripMargin

  // -------- deletion vectors (graft.deletes.format = dv) ----------------

  private val dvCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The deletion-vector delete path, certified end-to-end: a
    * merge-on-read table with `graft.deletes.format = dv` takes two
    * OVERLAPPING `DELETE FROM` statements — the first commits one
    * roaring-bitmap vector per affected data file, the second OR-merges
    * into fresh vectors (one per file stays the invariant) — then a
    * post-delete INSERT proves vectors pin physical rows, not keys.
    * The read back through the MoR chain hash-matches an oracle
    * recomputed from lineitem with the same predicates. */
  def runDv(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(dvCatalogs, dir, spark, dir,
        "gv", "sqldv", "li_dv") { name =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
      spark.sql(
        s"""CREATE TABLE $name.db.dv (
           |  l_orderkey BIGINT, l_linenumber INT,
           |  l_suppkey BIGINT, l_returnflag STRING)
           |TBLPROPERTIES (
           |  'graft.rowlevel.mode'='merge-on-read',
           |  'graft.deletes.format'='dv')""".stripMargin)
      def insertThird(k: Int): Unit = spark.sql(
        s"""INSERT INTO $name.db.dv
           |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
           |FROM li_dv WHERE l_orderkey % 3 = $k""".stripMargin)
      insertThird(0)
      insertThird(1)
      spark.sql(
        s"DELETE FROM $name.db.dv WHERE l_orderkey <= 500 AND l_returnflag = 'A'")
      // overlaps the first delete on ('A', <=300) — exercises the
      // vector merge; already-dead rows must not double-count
      spark.sql(s"DELETE FROM $name.db.dv WHERE l_orderkey <= 300 " +
        "AND l_returnflag IN ('A', 'N')")
      insertThird(2) // post-delete rows survive even when they match
      // the commits must actually BE vectors, not parquet deletes — a
      // silent fallback would pass the value check while testing nothing
      val wh = spark.conf.get(s"spark.sql.catalog.$name.warehouse")
      val files = graft.txn.FileTableCatalog.loadOrThrow(s"$wh/db/dv").files
      require(files.exists(_.content == "deletion-vectors") &&
        !files.exists(_.content == "position-deletes"),
        "expected deletion-vector commits on the dv table")
    }
    spark.sql(
      s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
         |FROM $cat.db.dv
         |ORDER BY ${outCols.mkString(", ")}""".stripMargin)
  }

  val dvOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem
      |WHERE l_orderkey % 3 = 2
      |   OR NOT ((l_orderkey <= 500 AND l_returnflag = 'A')
      |        OR (l_orderkey <= 300 AND l_returnflag IN ('A', 'N')))
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag""".stripMargin

  // -------- string-bound pruning over a declared write order ------------

  private val strCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** String-column file pruning, certified end-to-end: a table declares
    * `graft.write-order` on a STRING key, a scrambled insert
    * range-distributes into files with disjoint byte bounds, a MoR
    * DELETE carves a string range out, and the read back applies string
    * range predicates — planned from the stamped byte bounds alone
    * (plan shape pinned in StringBoundsSpec; this query certifies the
    * VALUES against DuckDB replaying the same predicates). */
  def runStringPrune(spark: SparkSession, dir: String): DataFrame = {
    val cat = strCatalogs.computeIfAbsent(dir, _ => {
      val name = s"gs${counter.incrementAndGet()}"
      val wh = Files.createTempDirectory(s"graft-sqlstr-$name").toString
      spark.conf.set(s"spark.sql.catalog.$name", classOf[graft.sql.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      spark.read.parquet(s"$dir/documents.parquet")
        .createOrReplaceTempView("docs_src")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
      spark.sql(
        s"""CREATE TABLE $name.db.sp (
           |  doc_id BIGINT, k STRING, lang STRING, n_chars BIGINT)
           |TBLPROPERTIES (
           |  'graft.write-order'='k',
           |  'graft.rowlevel.mode'='merge-on-read')""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.sp
           |SELECT doc_id, format_string('doc%05d', doc_id), lang, n_chars
           |FROM docs_src DISTRIBUTE BY pmod(hash(doc_id), 8)""".stripMargin)
      spark.sql(s"DELETE FROM $name.db.sp " +
        "WHERE k >= 'doc00100' AND k < 'doc00150'")
      name
    })
    spark.sql(
      s"""SELECT doc_id, k, lang, n_chars
         |FROM $cat.db.sp
         |WHERE k >= 'doc00050' AND k < 'doc00250'
         |ORDER BY 1, 2, 3, 4""".stripMargin)
  }

  val stringPruneOracle: String =
    """SELECT doc_id, printf('doc%05d', doc_id) AS k, lang, n_chars
      |FROM documents
      |WHERE printf('doc%05d', doc_id) >= 'doc00050'
      |  AND printf('doc%05d', doc_id) < 'doc00250'
      |  AND NOT (printf('doc%05d', doc_id) >= 'doc00100'
      |       AND printf('doc%05d', doc_id) < 'doc00150')
      |ORDER BY 1, 2, 3, 4""".stripMargin

  // -------- metadata-only aggregate pushdown ----------------------------

  private val aggCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** COUNT(*)/COUNT(col)/MIN/MAX over a clean graft table answer from
    * snapshot metadata alone ([[graft.sources.MetadataAgg]] — a LocalScan,
    * zero file IO; COUNT(col) from the write-time null-count stamps);
    * the filtered twin in the UNION runs the ordinary scan.
    * Both rows hash-match an oracle recomputed from lineitem, so the
    * shortcut provably returns exactly what the full scan would. */
  def runAggMeta(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(aggCatalogs, dir, spark, dir,
        "ga", "sqlagg", "li_agg") { name =>
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
      spark.sql(
        s"""CREATE TABLE $name.db.am (
           |  l_orderkey BIGINT, l_linenumber INT, l_suppkey BIGINT,
           |  l_pk3 BIGINT)""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.am
           |SELECT l_orderkey, l_linenumber, l_suppkey,
           |  CASE WHEN l_linenumber % 3 = 0 THEN l_partkey END AS l_pk3
           |FROM li_agg WHERE l_orderkey % 2 = 0""".stripMargin)
    }
    spark.sql(
      s"""SELECT 'all' AS part, count(*) AS cnt, count(l_pk3) AS cp,
         |  min(l_orderkey) AS mn, max(l_orderkey) AS mx,
         |  min(l_linenumber) AS lmn, max(l_linenumber) AS lmx
         |FROM $cat.db.am
         |UNION ALL
         |SELECT 'su7' AS part, count(*) AS cnt, count(l_pk3) AS cp,
         |  min(l_orderkey) AS mn, max(l_orderkey) AS mx,
         |  min(l_linenumber) AS lmn, max(l_linenumber) AS lmx
         |FROM $cat.db.am WHERE l_suppkey % 7 = 3
         |ORDER BY part""".stripMargin)
  }

  private val aggGroupCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** GROUP BY over an identity partition column served entirely from
    * snapshot metadata ([[graft.sources.MetadataAgg]] grouped path):
    * lineitem lands PARTITIONED BY (l_linenumber), then per-partition
    * COUNT(*) / COUNT(nullable col) / MIN / MAX collapse to a
    * driver-side LocalTableScan — asserted in-gate (no BatchScan in the
    * executed plan). At 100 TB, "rows per day" over a day-partitioned
    * table is a metadata lookup, not a cluster scan. */
  def runAggMetaGroup(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(aggGroupCatalogs, dir, spark, dir,
        "gg", "sqlagg-grp", "li_agg_grp") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.amg (
           |  l_orderkey BIGINT, l_linenumber INT, l_pk3 BIGINT)
           |PARTITIONED BY (l_linenumber)""".stripMargin)
      spark.sql(
        s"""INSERT INTO $name.db.amg
           |SELECT l_orderkey, l_linenumber,
           |  CASE WHEN l_suppkey % 3 = 0 THEN l_partkey END AS l_pk3
           |FROM li_agg_grp""".stripMargin)
    }
    val q = spark.sql(
      s"""SELECT l_linenumber, count(*) AS cnt, count(l_pk3) AS cp,
         |  min(l_orderkey) AS mn, max(l_orderkey) AS mx
         |FROM $cat.db.amg GROUP BY l_linenumber
         |ORDER BY l_linenumber""".stripMargin)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString
    require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
      s"grouped metadata aggregate must plan as a LocalTableScan:\n$plan")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), q.schema)
  }

  val aggMetaGroupOracle: String =
    """SELECT l_linenumber, count(*) AS cnt,
      |  count(CASE WHEN l_suppkey % 3 = 0 THEN l_partkey END) AS cp,
      |  min(l_orderkey) AS mn, max(l_orderkey) AS mx
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  val aggMetaOracle: String =
    """SELECT 'all' AS part, count(*) AS cnt,
      |  count(CASE WHEN l_linenumber % 3 = 0 THEN l_partkey END) AS cp,
      |  min(l_orderkey) AS mn, max(l_orderkey) AS mx,
      |  min(l_linenumber) AS lmn, max(l_linenumber) AS lmx
      |FROM lineitem WHERE l_orderkey % 2 = 0
      |UNION ALL
      |SELECT 'su7' AS part, count(*) AS cnt,
      |  count(CASE WHEN l_linenumber % 3 = 0 THEN l_partkey END) AS cp,
      |  min(l_orderkey) AS mn, max(l_orderkey) AS mx,
      |  min(l_linenumber) AS lmn, max(l_linenumber) AS lmx
      |FROM lineitem WHERE l_orderkey % 2 = 0 AND l_suppkey % 7 = 3
      |ORDER BY part""".stripMargin

  // -------- atomic CTAS / RTAS ------------------------------------------

  private val ctasCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Atomic `CREATE TABLE AS SELECT` + `CREATE OR REPLACE TABLE AS
    * SELECT` ([[graft.sql.GraftStagedTable]]) as an oracle-checked
    * query:
    *
    *  1. a PARTITIONED CTAS lands the filtered lineitem slice AND the
    *     table definition in ONE version-1 commit (pinned by a version
    *     assert — no create-then-append window ever exists);
    *  2. an RTAS aggregates the table INTO ITSELF: the SELECT reads the
    *     version-1 snapshot while the staged write builds the new file
    *     set, and one commit swaps schema (fresh field ids), partition
    *     spec, and files ([[graft.txn.CommitManager.replaceTable]]);
    *  3. the filtered read-back hash-matches an oracle recomputed from
    *     raw lineitem — certifying that exactly the CTAS rows entered
    *     and exactly the RTAS aggregate survived the swap.
    */
  def runCtas(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(ctasCatalogs, dir, spark, dir,
        "gcta", "sqlctas", "li_ctas") { name =>
      spark.sql(
        s"""CREATE TABLE $name.db.ct PARTITIONED BY (bucket(4, l_partkey)) AS
           |SELECT l_orderkey, l_partkey,
           |  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
           |  l_returnflag
           |FROM li_ctas WHERE l_quantity <= 25""".stripMargin)
      val wh = spark.conf.get(s"spark.sql.catalog.$name.warehouse")
      val v1 = graft.txn.FileTableCatalog.loadOrThrow(s"$wh/db/ct")
      require(v1.version == 1L && v1.files.nonEmpty,
        "CTAS must land rows and table in ONE version-1 commit")
      spark.sql(
        s"""CREATE OR REPLACE TABLE $name.db.ct AS
           |SELECT l_partkey, CAST(sum(price_cents) AS BIGINT) AS sum_cents,
           |  count(*) AS n
           |FROM $name.db.ct WHERE l_returnflag IN ('A', 'N')
           |GROUP BY l_partkey""".stripMargin)
      val v2 = graft.txn.FileTableCatalog.loadOrThrow(s"$wh/db/ct")
      require(v2.version == 2L && v2.schemaId > v1.schemaId,
        "RTAS must swap schema + files in ONE commit")
    }
    spark.sql(
      s"""SELECT l_partkey, sum_cents, n FROM $cat.db.ct
         |WHERE l_partkey % 10 < 5
         |ORDER BY l_partkey""".stripMargin)
  }

  val ctasOracle: String =
    """SELECT l_partkey,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |  count(*) AS n
      |FROM lineitem
      |WHERE l_quantity <= 25 AND l_returnflag IN ('A', 'N') AND l_partkey % 10 < 5
      |GROUP BY l_partkey
      |ORDER BY l_partkey""".stripMargin

  private val ctasIceCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** [[runCtas]] on the ICEBERG-FORMAT catalog — the identical staged
    * CTAS → RTAS → read-back against Iceberg v2/v3 metadata (Avro
    * manifests, multi-schema history), sharing [[ctasOracle]] verbatim:
    * a hash match certifies the one-commit replace round-trips the
    * spec's schema/spec/file machinery, not just the JSON catalog. */
  def runCtasIceberg(spark: SparkSession, dir: String): DataFrame = {
    val cat = bootstrapCatalog(ctasIceCatalogs, dir, spark, dir,
        "gcti", "sqlctasice", "li_ctasi",
        extraConf = Map("format" -> "iceberg")) { name =>
      val wh = spark.conf.get(s"spark.sql.catalog.$name.warehouse")
      spark.sql(
        s"""CREATE TABLE $name.db.ct PARTITIONED BY (bucket(4, l_partkey)) AS
           |SELECT l_orderkey, l_partkey,
           |  CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
           |  l_returnflag
           |FROM li_ctasi WHERE l_quantity <= 25""".stripMargin)
      val v1 = graft.txn.IcebergTableCatalog.loadOrThrow(s"$wh/db/ct")
      require(v1.version == 1L && v1.files.nonEmpty,
        "iceberg CTAS must land rows and table in ONE version-1 commit")
      spark.sql(
        s"""CREATE OR REPLACE TABLE $name.db.ct AS
           |SELECT l_partkey, CAST(sum(price_cents) AS BIGINT) AS sum_cents,
           |  count(*) AS n
           |FROM $name.db.ct WHERE l_returnflag IN ('A', 'N')
           |GROUP BY l_partkey""".stripMargin)
      val v2 = graft.txn.IcebergTableCatalog.loadOrThrow(s"$wh/db/ct")
      require(v2.version == 2L && v2.schemaId > v1.schemaId,
        "iceberg RTAS must swap schema + files in ONE commit")
    }
    spark.sql(
      s"""SELECT l_partkey, sum_cents, n FROM $cat.db.ct
         |WHERE l_partkey % 10 < 5
         |ORDER BY l_partkey""".stripMargin)
  }
}
