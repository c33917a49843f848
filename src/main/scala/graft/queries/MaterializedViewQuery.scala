package graft.queries

import graft.mv.MaterializedView
import graft.mv.MaterializedView.{Agg, Spec}
import graft.txn.{FileTableCatalog, TableMetadata, TableSnapshot, TableWrites}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Incremental materialized-view maintenance as an oracle-checked
  * query ([[MaterializedView]]): the view is created over HALF the
  * source, then an append AND an equality delete land, and ONE
  * incremental refresh — driven by the batch changelog, cost ∝ changed
  * rows — must converge the stored groups to exactly what a full
  * recompute over the final source produces. The DuckDB oracle IS that
  * full recompute, so the hash-match certifies delta aggregation,
  * delete retraction, and group-level merge end-to-end. */
object MaterializedViewQuery {

  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def build(spark: SparkSession, dir: String): (String, String) =
    tables.computeIfAbsent(dir, _ => {
      val src = Files.createTempDirectory("graft-mv-src").toString
      val mv = Files.createTempDirectory("graft-mv-view").toString
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_returnflag"),
          round(col("l_quantity") * 100).cast("long").as("qty_cents"))
        .persist()
      try {
        TableMetadata.commit(src, TableSnapshot(1, 1, 0, Nil))
        // v2: even orderkeys — the state the view materializes fully
        TableWrites.appendData(src, li.filter(col("l_orderkey") % 2 === 0))
        MaterializedView.create(spark, mv, src, Spec(
          group = Seq("l_returnflag"),
          aggs = Seq(Agg("sum", "qty_cents", "sum_qty_cents"),
            Agg("count", "*", "n_rows"))))
        // v3: odd orderkeys append; v4: delete every 13th orderkey
        TableWrites.appendData(src, li.filter(col("l_orderkey") % 2 === 1))
        TableWrites.appendEqualityDeletes(src,
          li.filter(col("l_orderkey") % 13 === 0).select("l_orderkey"),
          Seq("l_orderkey"))
        // ONE incremental refresh applies both commits' changes
        MaterializedView.refresh(spark, mv)
      } finally li.unpersist()
      (src, mv)
    })

  def run(spark: SparkSession, dir: String): DataFrame = {
    val (_, mv) = build(spark, dir)
    MaterializedView.read(spark, mv)
      .orderBy("l_returnflag")
  }

  // ---------------------------------------------------------------- min/max

  private val minMaxTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Min/max maintenance under deletes: the view stores per-flag
    * min/max/sum/count; the refresh interval holds an append AND an
    * equality delete (which kills some groups' stored extremes), so the
    * refresh must take the GROUP-SCOPED retraction path — recompute
    * min/max from the source for exactly the deleted-from groups, keep
    * everything else incremental. Self-asserting: the query FAILS if
    * the refresh degraded to a full file-set swap. */
  private def buildMinMax(spark: SparkSession, dir: String): String =
    minMaxTables.computeIfAbsent(dir, _ => {
      val src = Files.createTempDirectory("graft-mvmm-src").toString
      val mv = Files.createTempDirectory("graft-mvmm-view").toString
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_returnflag"),
          round(col("l_quantity") * 100).cast("long").as("qty_cents"))
        .persist()
      try {
        TableMetadata.commit(src, TableSnapshot(1, 1, 0, Nil))
        TableWrites.appendData(src, li.filter(col("l_orderkey") % 2 === 0))
        MaterializedView.create(spark, mv, src, Spec(
          group = Seq("l_returnflag"),
          aggs = Seq(Agg("min", "qty_cents", "min_qty"),
            Agg("max", "qty_cents", "max_qty"),
            Agg("sum", "qty_cents", "sum_qty_cents"),
            Agg("count", "*", "n_rows"))))
        TableWrites.appendData(src, li.filter(col("l_orderkey") % 2 === 1))
        TableWrites.appendEqualityDeletes(src,
          li.filter(col("l_orderkey") % 7 === 0).select("l_orderkey"),
          Seq("l_orderkey"))
        val filesBefore = FileTableCatalog.loadOrThrow(mv).files
          .filter(_.content == "data").map(_.path).toSet
        MaterializedView.refresh(spark, mv)
        val after = FileTableCatalog.loadOrThrow(mv)
        val kept = after.files.filter(_.content == "data").map(_.path).toSet
          .intersect(filesBefore)
        require(kept.nonEmpty,
          "mv_minmax: the deleting refresh must be a group-scoped upsert " +
            "that keeps untouched stored files, not a full recompute")
      } finally li.unpersist()
      mv
    })

  def runMinMax(spark: SparkSession, dir: String): DataFrame = {
    val mv = buildMinMax(spark, dir)
    MaterializedView.read(spark, mv).orderBy("l_returnflag")
  }

  val minMaxOracle: String =
    """WITH src AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_cents
      |  FROM lineitem WHERE l_orderkey % 7 <> 0)
      |SELECT l_returnflag,
      |  min(qty_cents) AS min_qty, max(qty_cents) AS max_qty,
      |  CAST(sum(qty_cents) AS BIGINT) AS sum_qty_cents,
      |  count(*) AS n_rows
      |FROM src GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- star

  private val starTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** STAR view (fact ⋈ pinned dim): per-nation qty totals grouped by a
    * DIMENSION column. After the view pins the dim, the dim gains
    * duplicate supplier keys with shifted nations — an implementation
    * that joins the live dim instead of the pin would double-count and
    * mis-bucket, so the hash-match certifies version pinning, enriched
    * delete retraction, and inner-join semantics in one result. */
  private def buildStar(spark: SparkSession, dir: String): String =
    starTables.computeIfAbsent(dir, _ => {
      val fact = Files.createTempDirectory("graft-mvstar-fact").toString
      val dim = Files.createTempDirectory("graft-mvstar-dim").toString
      val mv = Files.createTempDirectory("graft-mvstar-view").toString
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          round(col("l_quantity") * 100).cast("long").as("qty_cents"))
        .persist()
      try {
        val sup = spark.read.parquet(s"$dir/supplier.parquet")
          .select(col("s_suppkey"), col("s_nationkey").cast("long"))
        TableMetadata.commit(dim, TableSnapshot(1, 1, 0, Nil))
        TableWrites.appendData(dim, sup)
        TableMetadata.commit(fact, TableSnapshot(1, 1, 0, Nil))
        TableWrites.appendData(fact, li.filter(col("l_orderkey") % 2 === 0))
        MaterializedView.create(spark, mv, fact, Spec(
          group = Seq("s_nationkey"),
          aggs = Seq(Agg("sum", "qty_cents", "sum_qty_cents"),
            Agg("count", "*", "n_rows")),
          dim = Some(MaterializedView.Dim(dim, Seq("l_suppkey"),
            Seq("s_suppkey")))))
        // poison the LIVE dim after the pin: duplicate keys, shifted
        // nations — any join against the current dim version now
        // double-counts and mis-buckets
        TableWrites.appendData(dim, sup
          .filter(col("s_suppkey") % 3 === 0)
          .withColumn("s_nationkey", col("s_nationkey") + 100L))
        TableWrites.appendData(fact, li.filter(col("l_orderkey") % 2 === 1))
        TableWrites.appendEqualityDeletes(fact,
          li.filter(col("l_orderkey") % 13 === 0)
            .select("l_orderkey", "l_linenumber"),
          Seq("l_orderkey", "l_linenumber"))
        MaterializedView.refresh(spark, mv)
      } finally li.unpersist()
      mv
    })

  def runStar(spark: SparkSession, dir: String): DataFrame = {
    val mv = buildStar(spark, dir)
    MaterializedView.read(spark, mv).orderBy("s_nationkey")
  }

  val starOracle: String =
    """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_qty_cents,
      |  count(*) AS n_rows
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |WHERE l_orderkey % 13 <> 0
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin

  // ------------------------------------------------------------ live join

  private val liveJoinTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** LIVE-LIVE join view ([[MaterializedView.LiveJoin]]): revenue per
    * customer nation over orders ⋈ customer with BOTH sides churning —
    * an append-only interval on the fact, then a second interval where
    * the fact takes price updates + deletes AND the customer side takes
    * group moves (nation changes) + deletes. Two incremental refreshes
    * (bilinear delta rule: ΔA⋈B@old + A@new⋈ΔB) must converge to
    * exactly the aggregate over the FINAL states — which is what the
    * DuckDB oracle recomputes from scratch. */
  private def buildLiveJoin(spark: SparkSession, dir: String): String =
    liveJoinTables.computeIfAbsent(dir, _ => {
      val aDir = Files.createTempDirectory("graft-mvlj-a").toString
      val bDir = Files.createTempDirectory("graft-mvlj-b").toString
      val mv = Files.createTempDirectory("graft-mvlj-view").toString
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
        .persist()
      try {
        val cust = spark.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey"), col("c_nationkey").cast("long")
            .as("c_nationkey"))
        TableMetadata.commit(aDir, TableSnapshot(1, 1, 0, Nil))
        TableWrites.appendData(aDir, ord.filter(col("o_orderkey") % 2 === 0))
        TableMetadata.commit(bDir, TableSnapshot(1, 1, 0, Nil))
        TableWrites.appendData(bDir, cust)
        MaterializedView.create(spark, mv, aDir, Spec(
          group = Seq("c_nationkey"),
          aggs = Seq(Agg("sum", "price_cents", "rev_cents"),
            Agg("count", "*", "n_orders")),
          join = Some(MaterializedView.LiveJoin(bDir,
            Seq("o_custkey"), Seq("c_custkey")))))
        // interval 1: fact append only
        TableWrites.appendData(aDir, ord.filter(col("o_orderkey") % 2 === 1))
        MaterializedView.refresh(spark, mv)
        // interval 2: both sides churn — fact price updates + deletes,
        // customer nation moves (groups!) + deletes
        TableWrites.upsert(aDir,
          ord.filter(col("o_orderkey") % 7 === 1)
            .withColumn("price_cents", col("price_cents") + 7L),
          keyCols = Seq("o_orderkey"),
          deleteKeys = Some(ord.filter(col("o_orderkey") % 7 === 2)
            .select("o_orderkey")))
        TableWrites.upsert(bDir,
          cust.filter(col("c_custkey") % 5 === 1)
            .withColumn("c_nationkey", col("c_nationkey") + 100L),
          keyCols = Seq("c_custkey"),
          deleteKeys = Some(cust.filter(col("c_custkey") % 5 === 2)
            .select("c_custkey")))
        MaterializedView.refresh(spark, mv)
      } finally ord.unpersist()
      mv
    })

  def runLiveJoin(spark: SparkSession, dir: String): DataFrame =
    MaterializedView.read(spark, buildLiveJoin(spark, dir))
      .orderBy("c_nationkey")

  val liveJoinOracle: String =
    """WITH a AS (
      |  SELECT o_orderkey, o_custkey,
      |    CAST(round(o_totalprice * 100) AS BIGINT)
      |      + CASE WHEN o_orderkey % 7 = 1 THEN 7 ELSE 0 END AS price_cents
      |  FROM orders WHERE o_orderkey % 7 <> 2),
      |b AS (
      |  SELECT c_custkey, CAST(c_nationkey AS BIGINT)
      |    + CASE WHEN c_custkey % 5 = 1 THEN 100 ELSE 0 END AS c_nationkey
      |  FROM customer WHERE c_custkey % 5 <> 2)
      |SELECT c_nationkey,
      |  CAST(sum(price_cents) AS BIGINT) AS rev_cents,
      |  count(*) AS n_orders
      |FROM a JOIN b ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  private val liveJoinRwCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val liveJoinRwCounter =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Live-join view + OPTIMIZER substitution, all through SQL: the view
    * is created with `join_table`/`join_on`, BOTH catalog tables churn
    * (fact inserts/updates/deletes; right-side nation moves + deletes),
    * one refresh procedure call, and then the raw `A ⋈ B GROUP BY`
    * query must be answered from the stored state — self-asserting:
    * FAILS if any source relation survives the optimized plan. The
    * churn mirrors [[buildLiveJoin]] exactly, so the same DuckDB oracle
    * certifies the values. */
  private def buildLiveJoinRewrite(spark: SparkSession, dir: String): String =
    liveJoinRwCatalogs.computeIfAbsent(dir, _ => {
      val name = s"gmvlj${liveJoinRwCounter.incrementAndGet()}"
      val wh = Files.createTempDirectory(s"graft-mvlj-$name").toString
      spark.conf.set(s"spark.sql.catalog.$name",
        classOf[graft.sql.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
      spark.read.parquet(s"$dir/orders.parquet")
        .selectExpr("o_orderkey", "o_custkey",
          "CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents")
        .createOrReplaceTempView(s"ord_$name")
      spark.read.parquet(s"$dir/customer.parquet")
        .selectExpr("c_custkey", "CAST(c_nationkey AS BIGINT) AS c_nationkey")
        .createOrReplaceTempView(s"cust_$name")
      spark.sql(s"CREATE TABLE $name.db.ljfact " +
        "(o_orderkey BIGINT, o_custkey BIGINT, price_cents BIGINT)")
      spark.sql(s"CREATE TABLE $name.db.ljdim " +
        "(c_custkey BIGINT, c_nationkey BIGINT)")
      spark.sql(s"INSERT INTO $name.db.ljdim SELECT * FROM cust_$name")
      spark.sql(s"INSERT INTO $name.db.ljfact " +
        s"SELECT * FROM ord_$name WHERE o_orderkey % 2 = 0")
      spark.sql(s"""CALL $name.system.create_materialized_view(
        |  `table` => 'db.ljfact', view => 'db.lj_by_nation',
        |  group_by => 'c_nationkey',
        |  aggs => 'sum:price_cents:rev_cents,count:*:n_orders',
        |  join_table => 'db.ljdim', join_on => 'o_custkey=c_custkey')"""
        .stripMargin)
      // interval 1: fact append only
      spark.sql(s"INSERT INTO $name.db.ljfact " +
        s"SELECT * FROM ord_$name WHERE o_orderkey % 2 = 1")
      spark.sql(s"CALL $name.system.refresh_materialized_view(" +
        "view => 'db.lj_by_nation')")
      // interval 2: both sides churn (same arithmetic as buildLiveJoin,
      // so the shared oracle replays it)
      spark.sql(s"UPDATE $name.db.ljfact SET price_cents = price_cents + 7 " +
        "WHERE o_orderkey % 7 = 1")
      spark.sql(s"DELETE FROM $name.db.ljfact WHERE o_orderkey % 7 = 2")
      spark.sql(s"UPDATE $name.db.ljdim SET c_nationkey = c_nationkey + 100 " +
        "WHERE c_custkey % 5 = 1")
      spark.sql(s"DELETE FROM $name.db.ljdim WHERE c_custkey % 5 = 2")
      spark.sql(s"CALL $name.system.refresh_materialized_view(" +
        "view => 'db.lj_by_nation')")
      name
    })

  def runLiveJoinRewrite(spark: SparkSession, dir: String): DataFrame = {
    val cat = buildLiveJoinRewrite(spark, dir)
    val q = spark.sql(
      s"""SELECT c_nationkey,
         |  sum(price_cents) AS rev_cents, count(*) AS n_orders
         |FROM $cat.db.ljfact f JOIN $cat.db.ljdim d
         |  ON f.o_custkey = d.c_custkey
         |GROUP BY c_nationkey""".stripMargin)
    val v2 = graft.mv.MaterializedViewRewrite.unpinnedScans(
      q.queryExecution.optimizedPlan)
    require(v2.isEmpty,
      "mv_join_live_rewrite: the live-join substitution did not replace " +
        "the join (stale marker or shape mismatch)")
    q.orderBy("c_nationkey")
  }

  // ------------------------------------------------------------ star rewrite

  private val starRewriteCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val starCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Star view + OPTIMIZER substitution: the query is the raw
    * `fact ⋈ dim GROUP BY dimCol` join-aggregate; the rule must answer
    * it from the stored per-nation state (same dim table, same keys,
    * un-drifted pin). Self-asserting like `mv_rollup`: FAILS if any
    * source relation survives in the optimized plan. */
  private def buildStarRewrite(spark: SparkSession, dir: String): String =
    starRewriteCatalogs.computeIfAbsent(dir, _ => {
      val name = s"gmvsj${starCounter.incrementAndGet()}"
      val wh = Files.createTempDirectory(s"graft-mvsj-$name").toString
      spark.conf.set(s"spark.sql.catalog.$name",
        classOf[graft.sql.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
      spark.read.parquet(s"$dir/lineitem.parquet")
        .selectExpr("l_suppkey",
          "CAST(round(l_quantity * 100) AS BIGINT) AS qty_cents")
        .createOrReplaceTempView(s"li_$name")
      spark.read.parquet(s"$dir/supplier.parquet")
        .selectExpr("s_suppkey", "CAST(s_nationkey AS BIGINT) AS s_nationkey")
        .createOrReplaceTempView(s"sup_$name")
      spark.sql(s"CREATE TABLE $name.db.sjfact " +
        "(l_suppkey BIGINT, qty_cents BIGINT)")
      spark.sql(s"CREATE TABLE $name.db.sjdim " +
        "(s_suppkey BIGINT, s_nationkey BIGINT)")
      spark.sql(s"INSERT INTO $name.db.sjdim SELECT * FROM sup_$name")
      spark.sql(s"INSERT INTO $name.db.sjfact SELECT * FROM li_$name")
      spark.sql(s"""CALL $name.system.create_materialized_view(
        |  `table` => 'db.sjfact', view => 'db.sjfact_by_nation',
        |  group_by => 's_nationkey',
        |  aggs => 'sum:qty_cents:sum_qty_cents,count:*:n_rows',
        |  dim_table => 'db.sjdim', dim_on => 'l_suppkey=s_suppkey')"""
        .stripMargin)
      name
    })

  def runStarRewrite(spark: SparkSession, dir: String): DataFrame = {
    val cat = buildStarRewrite(spark, dir)
    val q = spark.sql(
      s"""SELECT s_nationkey,
         |  sum(qty_cents) AS sum_qty_cents, count(*) AS n_rows
         |FROM $cat.db.sjfact f JOIN $cat.db.sjdim d
         |  ON f.l_suppkey = d.s_suppkey
         |GROUP BY s_nationkey""".stripMargin)
    val v2 = graft.mv.MaterializedViewRewrite.unpinnedScans(
      q.queryExecution.optimizedPlan)
    require(v2.isEmpty,
      "mv_join_rewrite: the star substitution did not replace the join")
    q.orderBy("s_nationkey")
  }

  val starRewriteOracle: String =
    """SELECT CAST(s_nationkey AS BIGINT) AS s_nationkey,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_qty_cents,
      |  count(*) AS n_rows
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey
      |ORDER BY s_nationkey""".stripMargin

  // ---------------------------------------------------------------- rollup

  private val rollupCatalogs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Catalog-table source + a view grouped FINER than the query: the
    * optimizer's rollup compensation re-aggregates the view. */
  private def buildRollup(spark: SparkSession, dir: String): String =
    rollupCatalogs.computeIfAbsent(dir, _ => {
      val name = s"gmvru${counter.incrementAndGet()}"
      val wh = Files.createTempDirectory(s"graft-mvru-$name").toString
      spark.conf.set(s"spark.sql.catalog.$name",
        classOf[graft.sql.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
      spark.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("l_quantity") * 100).cast("long").as("qty_cents"))
        .createOrReplaceTempView("li_mvru")
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
      spark.sql(s"CREATE TABLE $name.db.rusrc " +
        "(l_returnflag STRING, l_linestatus STRING, qty_cents BIGINT)")
      spark.sql(s"INSERT INTO $name.db.rusrc SELECT * FROM li_mvru")
      val srcDir = s"$wh/db/rusrc"
      val mv = Files.createTempDirectory("graft-mvru-view").toString
      // register BEFORE materializing (the registration property commit
      // bumps the source version; creating first would leave the view
      // born stale and the rewrite would refuse it)
      MaterializedView.registerOnSource(srcDir, mv)
      MaterializedView.create(spark, mv, srcDir, Spec(
        group = Seq("l_returnflag", "l_linestatus"),
        aggs = Seq(Agg("sum", "qty_cents", "sum_qty_cents"),
          Agg("count", "*", "n_rows"))))
      name
    })

  /** GROUP BY a strict subset of the view's group columns, answered by
    * ROLLING UP the stored per-(flag, status) state. Self-asserting:
    * the query FAILS (and so does the round's gate) if the optimizer
    * substitution did not actually replace the source scan. */
  def runRollup(spark: SparkSession, dir: String): DataFrame = {
    val cat = buildRollup(spark, dir)
    val q = spark.sql(
      s"""SELECT l_returnflag,
         |  sum(qty_cents) AS sum_qty_cents, count(*) AS n_rows
         |FROM $cat.db.rusrc GROUP BY l_returnflag""".stripMargin)
    val v2 = graft.mv.MaterializedViewRewrite.unpinnedScans(
      q.queryExecution.optimizedPlan)
    require(v2.isEmpty,
      "mv_rollup: the rollup rewrite did not replace the source scan")
    q.orderBy("l_returnflag")
  }

  /** `avg(x)` answered from the SAME stored state — the view maintains
    * no avg at all: every stored `sum(x)` carries its non-null row
    * count (the NULL-semantics companion), and the optimizer serves
    * avg as stored-sum ÷ stored-nn-count. Both substitution shapes in
    * one result: the EXACT grouping (view group columns verbatim) and
    * the ROLLUP (strict subset, summed sums ÷ summed counts).
    * Self-asserting like [[runRollup]]: the query FAILS if either
    * branch still scans the source. Doubles cross the oracle boundary
    * as round(avg·1e6) bigints — both engines divide the same two
    * exact longs, so the doubles (and the rounding) are identical. */
  def runAvg(spark: SparkSession, dir: String): DataFrame = {
    val cat = buildRollup(spark, dir)
    val q = spark.sql(
      s"""SELECT 'exact' AS shape, l_returnflag, l_linestatus,
         |  CAST(round(avg(qty_cents) * 1000000) AS BIGINT) AS avg_micros,
         |  count(*) AS n_rows
         |FROM $cat.db.rusrc GROUP BY l_returnflag, l_linestatus
         |UNION ALL
         |SELECT 'rollup' AS shape, l_returnflag,
         |  CAST(NULL AS STRING) AS l_linestatus,
         |  CAST(round(avg(qty_cents) * 1000000) AS BIGINT) AS avg_micros,
         |  count(*) AS n_rows
         |FROM $cat.db.rusrc GROUP BY l_returnflag""".stripMargin)
    val v2 = graft.mv.MaterializedViewRewrite.unpinnedScans(
      q.queryExecution.optimizedPlan)
    require(v2.isEmpty,
      "mv_avg: an avg rewrite did not replace the source scan")
    q.orderBy("shape", "l_returnflag", "l_linestatus")
  }

  val avgOracle: String =
    """WITH src AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_cents
      |  FROM lineitem)
      |SELECT * FROM (
      |  SELECT 'exact' AS shape, l_returnflag, l_linestatus,
      |    CAST(round(avg(qty_cents) * 1000000) AS BIGINT) AS avg_micros,
      |    count(*) AS n_rows
      |  FROM src GROUP BY l_returnflag, l_linestatus
      |  UNION ALL
      |  SELECT 'rollup' AS shape, l_returnflag,
      |    CAST(NULL AS VARCHAR) AS l_linestatus,
      |    CAST(round(avg(qty_cents) * 1000000) AS BIGINT) AS avg_micros,
      |    count(*) AS n_rows
      |  FROM src GROUP BY l_returnflag)
      |ORDER BY shape, l_returnflag, l_linestatus""".stripMargin

  /** `count(DISTINCT finerGroupCol)` rolled up from the same stored
    * state: the view holds one row per (flag, status) tuple, so the
    * distinct statuses inside a flag survive verbatim in the view and
    * re-counting them there is exact. Self-asserting like the others. */
  def runCountDistinct(spark: SparkSession, dir: String): DataFrame = {
    val cat = buildRollup(spark, dir)
    val q = spark.sql(
      s"""SELECT l_returnflag,
         |  count(DISTINCT l_linestatus) AS n_status,
         |  sum(qty_cents) AS sum_qty_cents, count(*) AS n_rows
         |FROM $cat.db.rusrc GROUP BY l_returnflag""".stripMargin)
    val v2 = graft.mv.MaterializedViewRewrite.unpinnedScans(
      q.queryExecution.optimizedPlan)
    require(v2.isEmpty,
      "mv_count_distinct: the rewrite did not replace the source scan")
    q.orderBy("l_returnflag")
  }

  val countDistinctOracle: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_linestatus) AS n_status,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_qty_cents,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- stream

  private val streamTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Streaming-maintained MV ([[graft.streaming.StreamingIngest
    * .withMvMaintenance]]): a CDC/upsert stream (same keyed-changelog
    * batches as `stream_upsert` — load, update+insert, delete+update,
    * then a POISONED replay) drives a registered view's incremental
    * refresh after every committed batch. `run` reads the view
    * DIRECTLY — no refresh call — so the hash match certifies the
    * per-batch maintenance converged, including the replay no-op. */
  private def buildStream(spark: SparkSession, dir: String): String =
    streamTables.computeIfAbsent(dir, _ => {
      val keyCols = Seq("l_orderkey", "l_linenumber", "l_partkey",
        "l_suppkey", "lq", "lep")
      val src = Files.createTempDirectory("graft-mvstream-src").toString
      val mv = Files.createTempDirectory("graft-mvstream-view").toString
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
        .selectExpr("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "CAST(round(l_quantity * 100) AS BIGINT) AS lq",
          "CAST(round(l_extendedprice * 100) AS BIGINT) AS lep",
          "l_returnflag")
        .persist()
      try {
        TableMetadata.commit(src, TableSnapshot(1, 1, 0, Nil))
        MaterializedView.registerOnSource(src, mv)
        MaterializedView.create(spark, mv, src, Spec(
          group = Seq("l_returnflag"),
          aggs = Seq(Agg("sum", "lq", "sum_lq"), Agg("count", "*", "n_rows"))))
        val w = graft.streaming.StreamingIngest.withMvMaintenance(spark, src,
          graft.streaming.StreamingIngest.upsertWriter(src, schemaId = 1,
            keyCols, deleteFlagCol = Some("_cdc_delete")))
        def up(df: DataFrame) = df.withColumn("_cdc_delete", lit(false))
        def del(df: DataFrame) = df.withColumn("_cdc_delete", lit(true))
        w(up(li.filter(col("l_orderkey") % 2 === 0)), 0L)
        w(up(li.filter(col("l_orderkey") % 4 === 0)
            .withColumn("l_returnflag", lit("U")))
          .unionByName(up(li.filter(col("l_orderkey") % 4 === 1)
            .withColumn("l_returnflag", lit("I")))), 1L)
        w(del(li.filter(col("l_orderkey") % 8 === 0))
          .unionByName(up(li.filter(col("l_orderkey") % 8 === 2)
            .withColumn("l_returnflag", lit("V")))), 2L)
        // poisoned replay: the sink skips the commit, so the view must
        // not move either
        w(up(li.filter(col("l_orderkey") % 4 === 0)
          .withColumn("l_returnflag", lit("X"))), 1L)
      } finally li.unpersist()
      mv
    })

  def runStream(spark: SparkSession, dir: String): DataFrame = {
    val mv = buildStream(spark, dir)
    MaterializedView.read(spark, mv).orderBy("l_returnflag")
  }

  val streamOracle: String =
    """WITH fin AS (
      |  SELECT CAST(round(l_quantity * 100) AS BIGINT) AS lq,
      |    CASE WHEN l_orderkey % 8 = 4 THEN 'U'
      |         WHEN l_orderkey % 8 = 2 THEN 'V'
      |         WHEN l_orderkey % 4 = 1 THEN 'I'
      |         ELSE l_returnflag END AS l_returnflag
      |  FROM lineitem
      |  WHERE (l_orderkey % 2 = 0 AND l_orderkey % 8 <> 0)
      |     OR l_orderkey % 4 = 1)
      |SELECT l_returnflag, CAST(sum(lq) AS BIGINT) AS sum_lq,
      |  count(*) AS n_rows
      |FROM fin GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val rollupOracle: String =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_qty_cents,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  val oracle: String =
    """SELECT l_returnflag,
      |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_qty_cents,
      |  count(*) AS n_rows
      |FROM lineitem
      |WHERE l_orderkey % 13 <> 0
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin
}
