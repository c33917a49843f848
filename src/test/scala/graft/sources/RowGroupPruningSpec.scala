package graft.sources

import graft.txn.{FileTableCatalog, TableSnapshot, TableWrites}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters, SparkToParquetSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Row-group statistics skipping on the MoR path: Spark's
  * `ParquetFilters` conversion rules, actual group pruning against a
  * multi-group file, and — the part that can silently corrupt results —
  * file-absolute position tracking (`_pos`, position deletes) when
  * groups are skipped mid-file. */
class RowGroupPruningSpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("s", StringType),
    StructField("d", DoubleType), StructField("dec", DecimalType(10, 2))))

  test("conversion: typed predicates, absent columns, And/Or semantics") {
    // the cases go through Spark's own ParquetFilters over the same
    // schema, as the scan hands them to Spark's parquet reader
    def filtersOver(st: StructType) = new ParquetFilters(
      new SparkToParquetSchemaConverter().convert(st),
      true, true, true, true,
      spark.sessionState.conf.parquetFilterPushDownInFilterThreshold, false,
      DataSourceUtils.datetimeRebaseSpec(_ => null, "CORRECTED"))
    val filters = filtersOver(schema)
    def conv(fs: sources.Filter*) =
      fs.flatMap(filters.createFilter).reduceOption(FilterApi.and)
    assert(conv(sources.EqualTo("id", 5L)).get.toString.contains("id"))
    // Spark types the literal strictly (Catalyst casts it to the column's
    // type before pushdown, so a Long column always sees a Long)
    assert(conv(sources.GreaterThan("id", 5L)).isDefined)
    assert(conv(sources.GreaterThan("id", 5)).isEmpty)
    assert(conv(sources.LessThanOrEqual("s", "m")).isDefined)
    assert(conv(sources.EqualTo("dec", new java.math.BigDecimal("12.34"))).isDefined)
    assert(conv(sources.IsNull("s")).isDefined)
    assert(conv(sources.IsNotNull("d")).isDefined)
    // absent column (file predates it): no predicate
    assert(filtersOver(StructType(schema.filterNot(_.name == "id")))
      .createFilter(sources.EqualTo("id", 5L)).isEmpty)
    // And keeps the convertible side; Or requires both
    val unconvertible = sources.EqualTo("id", "not a long")
    val mixedAnd = conv(sources.And(sources.EqualTo("id", 5L), unconvertible))
    assert(mixedAnd.isDefined && !mixedAnd.get.toString.contains("not a long"))
    assert(conv(sources.Or(sources.EqualTo("id", 5L), unconvertible)).isEmpty)
    assert(conv(sources.In("id", Array[Any](1L, 2L, 3L))).isDefined)
    // an oversized In builds no or-chain (Spark pushes its range instead)
    val longIn = conv(sources.In("id", (1L to 40L).map(x => x: Any).toArray))
    assert(longIn.forall(p => "or\\(".r.findAllIn(p.toString).size < 39),
      s"40-term or-chain built: $longIn")

    // NaN: whatever Spark pushes, a multi-group file holding NaN rows
    // still returns every matching row
    val dir = Files.createTempDirectory("graft-rg-nan").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    val n = 6000L
    def d(i: Long): Option[Double] =
      if (i % 97 == 0) None else if (i % 13 == 0) Some(Double.NaN) else Some(i * 0.5)
    val prev = spark.sparkContext.hadoopConfiguration.get("parquet.block.size")
    spark.sparkContext.hadoopConfiguration.set("parquet.block.size", "4096")
    try TableWrites.appendData(dir,
      (0L until n).map(i => (i, d(i))).toDF("id", "d").coalesce(1))
    finally {
      if (prev == null)
        spark.sparkContext.hadoopConfiguration.unset("parquet.block.size")
      else spark.sparkContext.hadoopConfiguration.set("parquet.block.size", prev)
    }
    def ids(c: org.apache.spark.sql.Column, vectorized: Boolean) =
      spark.read.format("graft").option("vectorizedRead", vectorized).load(dir)
        .filter(c).select("id").as[Long].collect().sorted.toSeq
    for (vec <- Seq(true, false)) {
      assert(ids($"d".isNaN, vec) ==
        (0L until n).filter(i => d(i).exists(_.isNaN)), s"d = NaN ($vec)")
      assert(ids($"d" === Double.NaN, vec) ==
        (0L until n).filter(i => d(i).exists(_.isNaN)), s"d = NaN ($vec)")
      // Spark orders NaN above every double
      assert(ids($"d" > 1.0, vec) ==
        (0L until n).filter(i => d(i).exists(x => x.isNaN || x > 1.0)), s"d > 1.0 ($vec)")
      assert(ids($"d".isNull, vec) == (0L until n).filter(i => d(i).isEmpty),
        s"d IS NULL ($vec)")
    }
  }

  /** One data file with MANY small row groups over sorted ids (so
    * min/max per group are tight and a point/range predicate can prove
    * most groups empty). Returns (tableDir, dataFilePath, totalGroups). */
  private def mkMultiGroupTable(n: Long): (String, String, Int) = {
    val dir = Files.createTempDirectory("graft-rg-prune").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    val prev = spark.sparkContext.hadoopConfiguration.get("parquet.block.size")
    spark.sparkContext.hadoopConfiguration.set("parquet.block.size", "4096")
    try TableWrites.appendData(dir,
      (0L until n).map(i => (i, s"pad-$i-${"x" * 16}", i * 0.5,
        BigDecimal(i).setScale(2))).toDF("id", "s", "d", "dec").coalesce(1))
    finally {
      if (prev == null)
        spark.sparkContext.hadoopConfiguration.unset("parquet.block.size")
      else spark.sparkContext.hadoopConfiguration.set("parquet.block.size", prev)
    }
    val file = FileTableCatalog.loadOrThrow(dir)
      .files.filter(_.content == "data").head.path
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file), spark.sparkContext.hadoopConfiguration))
    val groups = try reader.getRowGroups.size finally reader.close()
    assert(groups > 5, s"fixture must span many row groups, got $groups")
    (dir, file, groups)
  }

  private def dsv2(dir: String): DataFrame =
    spark.read.format("graft").load(dir)

  test("a selective predicate skips most row groups of the file") {
    val (dir, file, total) = mkMultiGroupTable(20000L)
    val pred = FilterApi.and(
      FilterApi.gtEq(FilterApi.longColumn("id"), java.lang.Long.valueOf(100L)),
      FilterApi.lt(FilterApi.longColumn("id"), java.lang.Long.valueOf(300L)))
    val conf = spark.sparkContext.hadoopConfiguration
    val opts = HadoopReadOptions.builder(conf, new org.apache.hadoop.fs.Path(file))
      .withRecordFilter(FilterCompat.get(pred)).build()
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf), opts)
    val kept = try reader.getRowGroups.size finally reader.close()
    assert(kept < total / 2, s"expected most of $total groups skipped, kept $kept")

    // and the engine query over the same table returns exactly the rows
    val got = dsv2(dir).filter($"id" >= 100L && $"id" < 300L)
      .select("id").as[Long].collect().sorted
    assert(got.toSeq == (100L until 300L))
    assert(!dsv2(dir).filter($"id" === -1L).collect().exists(_ => true))
  }

  test("positions stay file-absolute when groups are skipped (pos deletes + _pos)") {
    val (dir, file, _) = mkMultiGroupTable(20000L)
    // write order is sorted and single-partition, so position == id;
    // kill a band that overlaps the queried range
    TableWrites.appendPositionDeletes(dir,
      (150L until 250L).map(p => (file, p)).toDF("file_path", "pos"))
    val q = dsv2(dir).filter($"id" >= 100L && $"id" < 5300L)
      .select(col("id"), col("_pos"))
    val rows = q.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val expectIds = (100L until 5300L).filterNot(i => i >= 150L && i < 250L)
    assert(rows.map(_._1).toSeq == expectIds)
    // _pos must equal the file-absolute ordinal (== id here) even though
    // earlier groups were skipped by the filter
    assert(rows.forall { case (id, pos) => id == pos },
      "positions drifted under row-group skipping")

    // the same query WITHOUT vectorized read agrees (row path ignores
    // group skipping by design)
    val rowPath = spark.read.format("graft").option("vectorizedRead", "false")
      .load(dir).filter($"id" >= 100L && $"id" < 5300L)
      .select("id").as[Long].collect().sorted
    assert(rowPath.toSeq == expectIds)
  }

  test("equality deletes and runtime-style In filters compose with skipping") {
    val (dir, _, _) = mkMultiGroupTable(10000L)
    TableWrites.upsert(dir,
      Seq((777L, "upd", 1.0, BigDecimal(9).setScale(2)))
        .toDF("id", "s", "d", "dec"), Seq("id"))
    val q = dsv2(dir).filter($"id".isin(770L to 780L map (x => x: Any): _*))
      .select("id", "s")
    val got = q.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(got.length == 11)
    assert(got.find(_._1 == 777L).get._2 == "upd")
    assert(got.find(_._1 == 775L).get._2.startsWith("pad-775-"))
  }

  test("row-level rewrites never skip groups (COW data-loss regression)") {
    // three single-row files: stats-skipping the non-matching files'
    // groups inside a COW DELETE rewrite would drop their rows from the
    // replacement — the scan that feeds a rewrite must read every live
    // row of the files it replaces
    val wh = Files.createTempDirectory("rg-cow-wh").toString
    spark.conf.set("spark.sql.catalog.grgc", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grgc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grgc.db")
    spark.sql("CREATE TABLE grgc.db.t (id BIGINT, s STRING)")
    spark.sql("INSERT INTO grgc.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    spark.sql("DELETE FROM grgc.db.t WHERE id = 2")
    assert(spark.sql("SELECT id, s FROM grgc.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "c")))
    spark.sql("UPDATE grgc.db.t SET s = 'z' WHERE id = 3")
    assert(spark.sql("SELECT id, s FROM grgc.db.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a"), (3L, "z")))
    spark.sql("DROP TABLE grgc.db.t")
  }

  test("decimal and string predicates prune and stay exact") {
    val (dir, _, _) = mkMultiGroupTable(10000L)
    val dec = dsv2(dir).filter($"dec" < new java.math.BigDecimal("50.00"))
      .agg(count(lit(1))).head.getLong(0)
    assert(dec == 50L)
    val s = dsv2(dir).filter($"s" === "pad-123-" + "x" * 16)
      .select("id").as[Long].collect()
    assert(s.toSeq == Seq(123L))
  }
}
