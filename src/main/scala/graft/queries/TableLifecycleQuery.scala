package graft.queries

import graft.sources.TableReader
import graft.txn.{FileTableCatalog, IcebergTableCatalog, SchemaEvolution, SchemaOp, TableCatalog, TableSnapshot, TableWrites}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Write-API lifecycle as an oracle-checked query: drive the table
  * exclusively through the PUBLIC write/read surface —
  *
  *  1. bootstrap an empty table;
  *  2. [[TableWrites.appendData]] the even-orderkey lineitem rows
  *     (one sorted file, sequence 1);
  *  3. [[TableWrites.appendEqualityDeletes]] on l_orderkey % 13 == 0
  *     (sequence 2 — applies to the older data only);
  *  4. appendData the odd rows (sequence 3 — SURVIVE the delete);
  *  5. [[TableWrites.appendPositionDeletes]] for positions 0..99 of the
  *     first data file;
  *  6. [[TableReader.read]] — merge-on-read WITHOUT any compaction.
  *
  * The DuckDB oracle recomputes the survivors from lineitem alone, so a
  * hash-match certifies the append/delete commit semantics AND the
  * user-facing read path end-to-end. `compaction_e2e` certifies the
  * same algebra through the compactor; this certifies it through the
  * public API with sequence numbers assigned by the commits themselves.
  */
object TableLifecycleQuery {

  private val rowKey = MorQueries.rowKey
  private val outCols = Seq("l_orderkey", "l_linenumber", "l_suppkey", "l_returnflag")

  def run(spark: SparkSession, dir: String): DataFrame =
    runWith(spark, dir, FileTableCatalog, "graft-lifecycle")

  /** The SAME lifecycle against the Iceberg v2 format catalog — every
    * commit lands as metadata.json + Avro manifests, every load walks
    * snapshot -> manifest list -> manifest entries, and the final MoR
    * read must hash-match the identical DuckDB oracle. */
  def runIceberg(spark: SparkSession, dir: String): DataFrame =
    runWith(spark, dir, IcebergTableCatalog, "graft-lifecycle-iceberg")

  /** Filtered MoR read: the same table, read with a predicate declared
    * through [[TableReader.read]]'s `filter` — Spark pushes it into the
    * graft scan (PlanQualitySpec pins the scan's `PushedFilters`), and
    * the oracle applies the same predicate over the recomputed
    * survivors. */
  def runFiltered(spark: SparkSession, dir: String): DataFrame = {
    val tableDir = buildTable(spark, dir, FileTableCatalog, "graft-lifecycle-filt")
    TableReader.read(spark, tableDir,
        filter = Some(col("l_suppkey") % 10 === 3))
      .select(outCols.map(col): _*)
      .orderBy(outCols.map(col): _*)
  }

  private def runWith(spark: SparkSession, dir: String,
      catalog: TableCatalog, prefix: String): DataFrame = {
    val tableDir = buildTable(spark, dir, catalog, prefix)
    TableReader.read(spark, tableDir, catalog = catalog)
      .select(outCols.map(col): _*)
      .orderBy(outCols.map(col): _*)
  }

  /** The built fixture is identical for every query that shares a
    * (source dir, catalog) pair — five commits cost ~seconds each at
    * bench SF, so the lifecycle FAMILY (plain read, filtered read, time
    * travel, snapshot diff) shares ONE build per JVM. The tables are
    * immutable once built (reads only), so memoization is safe. */
  private val builtTables =
    new java.util.concurrent.ConcurrentHashMap[(String, TableCatalog), String]()

  private def buildTable(spark: SparkSession, dir: String,
      catalog: TableCatalog, prefix: String): String =
    builtTables.computeIfAbsent((dir, catalog),
      _ => buildTableUncached(spark, dir, catalog, prefix))

  /** Drive the table through the public write API; returns the table dir. */
  private def buildTableUncached(spark: SparkSession, dir: String,
      catalog: TableCatalog, prefix: String): String = {
    val tableDir = Files.createTempDirectory(prefix).toString
    // fixture-only cache: three appends derive from one lineitem read
    val li = spark.read.parquet(s"$dir/lineitem.parquet").persist()
    try {
      def sorted(df: DataFrame) =
        df.repartition(1).sortWithinPartitions(rowKey.map(col): _*)

      catalog.commitCas(tableDir, TableSnapshot(1, 1, 0, Nil))
      // seq 1: even rows, physically sorted so row i == row_number()-1
      TableWrites.appendData(tableDir,
        sorted(li.filter(col("l_orderkey") % 2 === 0)), catalog = catalog)
      // the position/oracle mapping assumes the sorted single-partition
      // append landed as ONE physical file (a maxRecordsPerFile-style
      // session setting would split it and positions would diverge from
      // the oracle's global ordinal — fail clearly instead)
      val dataFilesAfterFirst = catalog.loadOrThrow(tableDir)
        .files.count(_.content == "data")
      require(dataFilesAfterFirst == 1,
        s"expected 1 data file from the sorted append, got $dataFilesAfterFirst")
      // seq 2: equality-delete every 13th orderkey (hits only seq-1 data)
      TableWrites.appendEqualityDeletes(tableDir,
        li.filter(col("l_orderkey") % 13 === 0).select("l_orderkey"),
        Seq("l_orderkey"), catalog = catalog)
      // seq 3: odd rows — newer than the delete, all survive
      TableWrites.appendData(tableDir,
        sorted(li.filter(col("l_orderkey") % 2 === 1)), catalog = catalog)
    } finally li.unpersist()
    // seq 4: position-delete the first 100 physical rows of the seq-1 file
    val firstFile = catalog.loadOrThrow(tableDir)
      .files.filter(_.content == "data").minBy(_.sequenceNumber).path
    TableWrites.appendPositionDeletes(tableDir,
      spark.range(100).select(lit(firstFile).as("file_path"), col("id").as("pos")),
      catalog = catalog)
    tableDir
  }

  /** Delete conversion (MINOR compaction) as an oracle-checked query:
    * the same lifecycle fixture — eq-delete on %13 keys plus a
    * position-delete of the first 100 rows — is converted by
    * [[graft.compaction.DeleteCompaction]] into ONE sorted
    * position-delete file (validation ON), then read merge-on-read.
    * A hash-match against the SAME survivor oracle certifies that the
    * conversion is an identity on live rows while every equality-delete
    * file leaves the table. Own fixture build: conversion COMMITS, and
    * the lifecycle family's memoized table must stay immutable. */
  def runDeleteConvert(spark: SparkSession, dir: String): DataFrame = {
    val tableDir = convertTables.computeIfAbsent(dir, _ => {
      val td = buildTableUncached(spark, dir, FileTableCatalog, "graft-delconv")
      val stat = graft.compaction.DeleteCompaction.convertIfNeeded(spark, td,
        graft.core.CompactionConfig(enableValidateCompaction = true))
        .getOrElse(throw new IllegalStateException(
          "fixture has deletes; conversion must run"))
      require(stat.removedDeleteFiles >= 2 && stat.addedDeleteFiles >= 1,
        s"unexpected conversion shape: $stat")
      val snap = FileTableCatalog.loadOrThrow(td)
      require(!snap.files.exists(_.content == "equality-deletes"),
        "equality deletes must be gone after conversion")
      td
    })
    TableReader.read(spark, tableDir)
      .select(outCols.map(col): _*)
      .orderBy(outCols.map(col): _*)
  }

  private val convertTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Identity on live rows -> the shared survivor oracle verbatim. */
  val deleteConvertOracle: String = CompactionE2EQuery.oracle

  /** The SAME lifecycle table read through the path-based DSv2 source
    * (`spark.read.format("graft")`, schema inferred from the table)
    * instead of [[TableReader]]'s pinned relation: both must produce the
    * compaction survivors — certified by sharing the survivor oracle
    * verbatim. */
  def runDsv2(spark: SparkSession, dir: String): DataFrame = {
    val tableDir = buildTable(spark, dir, FileTableCatalog, "graft-lifecycle")
    spark.read.format("graft").load(tableDir)
      .select(outCols.map(col): _*)
      .orderBy(outCols.map(col): _*)
  }

  /** Time travel as an oracle-checked query: the same lifecycle table,
    * read at the snapshot BEFORE any delete committed (version 2 — the
    * bootstrap is v1, the first append v2). The result must be exactly
    * the even-orderkey rows: no eq-delete, no pos-delete, no odd rows —
    * certifying that version resolution pins the file set, not just the
    * latest state. */
  def runTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val tableDir = buildTable(spark, dir, FileTableCatalog, "graft-tt")
    TableReader.read(spark, tableDir, asOfVersion = Some(2L))
      .select(outCols.map(col): _*)
      .orderBy(outCols.map(col): _*)
  }

  val timeTravelOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem WHERE l_orderkey % 2 = 0
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag""".stripMargin

  /** Snapshot diff as an oracle-checked query: changes between the
    * first-append snapshot (v2: all even rows) and the post-odd-append
    * snapshot (v4: even minus the eq-deleted %13 keys, plus all odd
    * rows). `+` must be exactly the odd rows, `-` exactly the deleted
    * even %13 rows — certifying the multiset exceptAll diff through the
    * public read surface. */
  def runDiff(spark: SparkSession, dir: String): DataFrame = {
    val tableDir = buildTable(spark, dir, FileTableCatalog, "graft-diff")
    val ordered = outCols :+ "_change"
    TableReader.changes(spark, tableDir, fromVersion = 2L, toVersion = 4L)
      .select(ordered.map(col): _*)
      .orderBy(ordered.map(col): _*)
  }

  val diffOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag,
      |  '+' AS _change
      |FROM lineitem WHERE l_orderkey % 2 = 1
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag,
      |  '-' AS _change
      |FROM lineitem WHERE l_orderkey % 2 = 0 AND l_orderkey % 13 = 0
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag, _change""".stripMargin

  /** Bounds-pruned MoR read: lineitem RANGE-split into three real files
    * (terciles of l_orderkey), plus an equality-delete that applies to
    * all of them; reading with `l_orderkey <= tercile1` must (a) prune
    * the scan to the FIRST file only — asserted on the plan's actual
    * input files, the footer-stats pruning at work — and (b) still apply
    * the delete chain, hash-matching survivors the oracle recomputes
    * from lineitem alone. */
  def runPruned(spark: SparkSession, dir: String): DataFrame = {
    val (tableDir, b1) = prunedTables.computeIfAbsent(dir,
      _ => buildPrunedTable(spark, dir))
    val out = TableReader.read(spark, tableDir,
        filter = Some(col("l_orderkey") <= b1))
      .select(outCols.map(col): _*)
      .orderBy(outCols.map(col): _*)
    // the pruning is the point — fail loudly if the scan still lists
    // the files the bounds exclude
    val ins = TableReader.plannedDataFiles(out)
    require(ins.exists(_.endsWith("f1.parquet")),
      s"pruned read lost the matching file: ${ins.mkString(",")}")
    require(!ins.exists(p => p.endsWith("f2.parquet") || p.endsWith("f3.parquet")),
      s"bounds should have pruned f2/f3 from the scan: ${ins.mkString(",")}")
    out
  }

  /** MoR UPSERT as an oracle-checked query: append the whole lineitem
    * (seq 1), then one [[TableWrites.upsert]] batch (seq 2) that mixes
    *  - UPDATES: every row with `l_orderkey % 10 == 0`, `l_returnflag`
    *    rewritten to 'U' (keyed by the verified-unique total key), and
    *  - INSERTS: rows derived from `l_orderkey % 17 == 3` shifted to a
    *    fresh key range with `l_returnflag = 'I'`.
    * The read must show each updated key exactly once (new value), every
    * untouched row unchanged, and the inserts present — certifying the
    * same-sequence contract (a batch's eq-delete kills older rows but
    * not the batch's own data) through the public API. */
  def runUpsert(spark: SparkSession, dir: String): DataFrame = {
    val tableDir = upsertTables.computeIfAbsent(dir, _ => {
      val td = Files.createTempDirectory("graft-upsert").toString
      val li = spark.read.parquet(s"$dir/lineitem.parquet").persist()
      try {
        FileTableCatalog.commitCas(td, TableSnapshot(1, 1, 0, Nil))
        TableWrites.appendData(td, li)
        val key = Seq("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey", "l_quantity", "l_extendedprice")
        val updates = li.filter(col("l_orderkey") % 10 === 0)
          .withColumn("l_returnflag", lit("U"))
        val inserts = li.filter(col("l_orderkey") % 17 === 3)
          .withColumn("l_orderkey", col("l_orderkey") + lit(100000000L))
          .withColumn("l_returnflag", lit("I"))
        TableWrites.upsert(td, updates.unionByName(inserts), key)
      } finally li.unpersist()
      td
    })
    TableReader.read(spark, tableDir)
      .select(outCols.map(col): _*)
      .orderBy(outCols.map(col): _*)
  }

  private val upsertTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  val upsertOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey,
      |  CASE WHEN l_orderkey % 10 = 0 THEN 'U' ELSE l_returnflag END
      |    AS l_returnflag
      |FROM lineitem
      |UNION ALL
      |SELECT l_orderkey + 100000000, l_linenumber, l_suppkey, 'I'
      |FROM lineitem WHERE l_orderkey % 17 = 3
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag""".stripMargin

  /** Schema evolution end-to-end as an oracle-checked query:
    *
    *  1. append the EVEN lineitem rows projected to schema v1
    *     `(l_orderkey, l_linenumber, l_suppkey, l_quantity, l_returnflag)`;
    *  2. [[SchemaEvolution.evolve]]: rename `l_returnflag -> rflag`, add
    *     `note string`, drop `l_quantity` — metadata only, no rewrite;
    *  3. append the ODD rows under the NEW schema with a computed `note`;
    *  4. equality-delete `l_orderkey % 19 == 0` — applies id-wise across
    *     BOTH layouts;
    *  5. read: old files must surface renamed (`rflag`), null-filled
    *     (`note`), and without the dropped column, hash-matching the
    *     oracle's CASE reconstruction.
    */
  def runEvolution(spark: SparkSession, dir: String): DataFrame =
    runEvolutionWith(spark, dir, FileTableCatalog)

  /** The SAME evolution lifecycle against the Iceberg v2 catalog — the
    * schema history rides the spec's multi-schema `schemas` array, the
    * per-file schema ids a table property, and the reconciled MoR read
    * must hash-match the identical oracle. */
  def runEvolutionIceberg(spark: SparkSession, dir: String): DataFrame =
    runEvolutionWith(spark, dir, IcebergTableCatalog)

  private def runEvolutionWith(spark: SparkSession, dir: String,
      catalog: TableCatalog): DataFrame = {
    val tableDir = evolutionTables.computeIfAbsent((dir, catalog), _ => {
      val td = Files.createTempDirectory("graft-evolve").toString
      val li = spark.read.parquet(s"$dir/lineitem.parquet").persist()
      try {
        catalog.commitCas(td, TableSnapshot(1, 1, 0, Nil))
        TableWrites.appendData(td,
          li.filter(col("l_orderkey") % 2 === 0)
            .select("l_orderkey", "l_linenumber", "l_suppkey",
              "l_quantity", "l_returnflag"), catalog = catalog)
        SchemaEvolution.evolve(td, Seq(
          SchemaOp.Rename("l_returnflag", "rflag"),
          SchemaOp.Add("note", "string"),
          SchemaOp.Drop("l_quantity")), catalog = catalog)
        TableWrites.appendData(td,
          li.filter(col("l_orderkey") % 2 === 1)
            .select(col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
              col("l_returnflag").as("rflag"),
              concat(lit("n"), col("l_linenumber").cast("string")).as("note")),
          catalog = catalog)
        TableWrites.appendEqualityDeletes(td,
          li.filter(col("l_orderkey") % 19 === 0).select("l_orderkey"),
          Seq("l_orderkey"), catalog = catalog)
      } finally li.unpersist()
      td
    })
    val cols = Seq("l_orderkey", "l_linenumber", "l_suppkey", "rflag", "note")
    TableReader.read(spark, tableDir, catalog = catalog)
      .select(cols.map(col): _*)
      .orderBy(cols.map(col): _*)
  }

  private val evolutionTables =
    new java.util.concurrent.ConcurrentHashMap[(String, TableCatalog), String]()

  val evolutionOracle: String =
    """SELECT l_orderkey, l_linenumber, l_suppkey,
      |  l_returnflag AS rflag,
      |  CASE WHEN l_orderkey % 2 = 1
      |       THEN 'n' || CAST(l_linenumber AS VARCHAR) END AS note
      |FROM lineitem
      |WHERE l_orderkey % 19 <> 0
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, rflag, note""".stripMargin

  private val prunedTables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long)]()

  private def buildPrunedTable(spark: SparkSession, dir: String): (String, Long) = {
    import graft.txn.{FileEntry, TableMetadata, TableSnapshot}
    val tableDir = Files.createTempDirectory("graft-pruned").toString
    val li = spark.read.parquet(s"$dir/lineitem.parquet").persist()
    try {
      val maxK = li.agg(max(col("l_orderkey"))).first().getLong(0)
      val (b1, b2) = (maxK / 3, 2 * maxK / 3)
      val parts = Seq(
        s"$tableDir/data/f1.parquet" -> (col("l_orderkey") <= b1),
        s"$tableDir/data/f2.parquet" ->
          (col("l_orderkey") > b1 && col("l_orderkey") <= b2),
        s"$tableDir/data/f3.parquet" -> (col("l_orderkey") > b2))
      val dataEntries = parts.map { case (path, pred) =>
        val (sz, n) = CompactionE2EQuery.writeOne(
          li.filter(pred).repartition(1), path)
        FileEntry(path, "data", sz, n, sequenceNumber = 1)
      }
      val ed = s"$tableDir/data/eq-del.parquet"
      val (s4, r4) = CompactionE2EQuery.writeOne(
        li.filter(col("l_orderkey") % 13 === 0)
          .select("l_orderkey").distinct().repartition(1), ed)
      TableMetadata.commit(tableDir, TableSnapshot(
        version = 1, schemaId = 1, lastSequenceNumber = 2,
        files = dataEntries :+ FileEntry(ed, "equality-deletes", s4, r4,
          sequenceNumber = 2, equalityIds = Seq("l_orderkey"))))
      (tableDir, b1)
    } finally li.unpersist()
  }

  val prunedOracle: String =
    """WITH m AS (
      |  SELECT CAST(floor(max(l_orderkey) / 3.0) AS BIGINT) AS b1
      |  FROM lineitem)
      |SELECT l_orderkey, l_linenumber, l_suppkey, l_returnflag
      |FROM lineitem, m
      |WHERE l_orderkey <= b1 AND l_orderkey % 13 <> 0
      |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag""".stripMargin

  /** Same expected-survivor computation as the compaction e2e (this
    * query certifies the identical algebra through the public API) —
    * ONE shared definition so the scenarios cannot drift apart. */
  val oracle: String = CompactionE2EQuery.oracle

  /** The shared survivor computation with the pushed predicate applied
    * on top (filter and anti-join commute, so this is the law the
    * filtered read must satisfy). */
  val filteredOracle: String =
    s"""SELECT * FROM (
       |${CompactionE2EQuery.oracle}
       |) WHERE l_suppkey % 10 = 3
       |ORDER BY l_orderkey, l_linenumber, l_suppkey, l_returnflag""".stripMargin
}
