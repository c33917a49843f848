package graft.sources

import graft.SparkTestSession
import graft.txn.{FileTableCatalog, SchemaEvolution, SchemaOp, TableSnapshot, TableWrites}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The vectorized DSv2 read path: plan-asserted columnar execution,
  * value equivalence with the row reader, position-delete compaction
  * inside the batch fill, schema reconciliation, metadata columns, and
  * the equality-delete fallback to the row pipeline. */
class ColumnarReaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def dsv2(dir: String): DataFrame =
    spark.read.format("graft").load(dir)

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))

  test("a delete-free table scans columnar and matches the row reader") {
    val dir = Files.createTempDirectory("graft-colnar").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      (1L to 5000L).map(i => (i, s"v$i", i * 0.5)).toDF("id", "name", "score")
        .coalesce(2))
    val q = dsv2(dir)
    assert(scanOf(q).supportsColumnar, "expected a columnar scan")
    assert(q.count() == 5000L)
    assert(q.agg(sum("id")).head.getLong(0) == (1L to 5000L).sum)
    assert(q.filter($"id" === 42L).select("name").head.getString(0) == "v42")
    // doubles survive the vector fill
    assert(q.agg(sum("score")).head.getDouble(0) == (1L to 5000L).map(_ * 0.5).sum)
  }

  test("position deletes compact away inside the columnar fill") {
    val dir = Files.createTempDirectory("graft-colnar-pd").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      (0L until 1000L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1))
    val file = FileTableCatalog.loadOrThrow(dir)
      .files.filter(_.content == "data").head.path
    // kill every ordinal divisible by 7
    TableWrites.appendPositionDeletes(dir,
      (0L until 1000L).filter(_ % 7 == 0).map(p => (file, p))
        .toDF("file_path", "pos"))
    val q = dsv2(dir)
    assert(scanOf(q).supportsColumnar,
      "position deletes must not force the row path")
    val expected = (0L until 1000L).filterNot(_ % 7 == 0)
    assert(q.select("id").as[Long].collect().sorted.toSeq == expected)
    assert(q.count() == expected.size.toLong)
  }

  test("equality deletes apply inside the columnar batch fill") {
    val dir = Files.createTempDirectory("graft-colnar-eq").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      (1L to 100L).map(i => (i, s"n$i")).toDF("id", "name").coalesce(1))
    TableWrites.appendEqualityDeletes(dir,
      Seq(3L, 6L, 9L).toDF("id"), Seq("id"))
    // a later append is NEWER than the delete and must survive it
    TableWrites.appendData(dir,
      Seq((3L, "again")).toDF("id", "name").coalesce(1))
    val q = dsv2(dir)
    assert(scanOf(q).supportsColumnar,
      "equality deletes must not force the row path")
    assert(q.count() == 98L)
    val ids = q.select("id").as[Long].collect()
    assert(ids.count(_ == 3L) == 1 && !ids.contains(6L) && !ids.contains(9L))
    assert(q.filter($"id" === 3L).select("name").head.getString(0) == "again")
    // projection NOT containing the key column still applies the delete
    val names = q.select("name").as[String].collect().toSet
    assert(!names.contains("n6") && names.contains("again") && names.size == 98)
    // bare count under eq deletes stays exact: ids 1..10 minus {3,6,9}
    // plus the re-inserted 3 = 8
    assert(dsv2(dir).filter($"id" <= 10L).count() == 8L)
    // multi-key delete over two columns, plus row-path equivalence
    TableWrites.appendEqualityDeletes(dir,
      Seq((10L, "n10")).toDF("id", "name"), Seq("id", "name"))
    val q2 = dsv2(dir)
    assert(scanOf(q2).supportsColumnar)
    assert(q2.count() == 97L && !q2.select("id").as[Long].collect().contains(10L))
    val rowPath = spark.read.format("graft").option("vectorizedRead", false)
      .load(dir).orderBy("id").collect().map(_.toSeq).toSeq
    assert(q2.orderBy("id").collect().map(_.toSeq).toSeq == rowPath)
  }

  test("decimal and date columns: columnar/row equivalence under the delete chain") {
    val dir = Files.createTempDirectory("graft-colnar-dec").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    // price: INT64-backed DECIMAL(12,2); big: FLBA-backed DECIMAL(24,4);
    // d: DATE — written by Spark's parquet writer via appendData
    val base = spark.range(0, 500).selectExpr(
      "id",
      "CAST(CAST(id AS DECIMAL(12,2)) + 0.25 AS DECIMAL(12,2)) AS price",
      "CAST(CAST(id * 1000000 AS DECIMAL(24,4)) + 0.1234 AS DECIMAL(24,4)) AS big",
      "DATE_ADD(DATE'2024-01-01', CAST(id % 300 AS INT)) AS d")
    TableWrites.appendData(dir, base.coalesce(2))
    // equality delete KEYED ON THE DECIMAL column (ids 7 and 13)
    TableWrites.appendEqualityDeletes(dir,
      spark.sql("SELECT CAST(7.25 AS DECIMAL(12,2)) AS price " +
        "UNION ALL SELECT CAST(13.25 AS DECIMAL(12,2))"), Seq("price"))
    // position delete of ordinal 0 in each data file
    val dataFiles = FileTableCatalog.loadOrThrow(dir)
      .files.filter(_.content == "data").map(_.path)
    TableWrites.appendPositionDeletes(dir,
      dataFiles.map(p => (p, 0L)).toDF("file_path", "pos"))
    val q = dsv2(dir)
    assert(scanOf(q).supportsColumnar, "decimals must not force the row path")
    assert(q.count() == 500L - 2 - dataFiles.size)
    val ids = q.select("id").as[Long].collect().toSet
    assert(!ids.contains(7L) && !ids.contains(13L))
    // exact decimal round-trip through the vector fill
    val r42 = q.filter($"id" === 42L).selectExpr(
      "CAST(price AS STRING)", "CAST(big AS STRING)", "CAST(d AS STRING)").head
    assert(r42.getString(0) == "42.25")
    assert(r42.getString(1) == "42000000.1234")
    assert(r42.getString(2) == "2024-02-12")
    // full row-path equivalence
    val rowPath = spark.read.format("graft").option("vectorizedRead", false)
      .load(dir).orderBy("id").collect().map(_.toSeq).toSeq
    assert(q.orderBy("id").collect().map(_.toSeq).toSeq == rowPath)
    // decimal filter prunes via unscaled footer bounds and stays correct
    assert(q.filter($"price" > lit(new java.math.BigDecimal("400.00")))
      .count() == ids.count(_ > 399L))
  }

  test("schema reconciliation: renamed and late columns through the vectors") {
    val dir = Files.createTempDirectory("graft-colnar-evo").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      (1L to 10L).map(i => (i, s"old$i")).toDF("id", "name").coalesce(1))
    SchemaEvolution.evolve(dir, Seq(
      SchemaOp.Rename("name", "label"), SchemaOp.Add("score", "BIGINT")))
    TableWrites.appendData(dir,
      Seq((11L, "new11", 7L)).toDF("id", "label", "score").coalesce(1))
    val q = dsv2(dir)
    assert(scanOf(q).supportsColumnar, "evolution alone must stay columnar")
    val rows = q.orderBy("id").collect()
    assert(rows.length == 11)
    assert(rows.head.getString(1) == "old1") // renamed col read from old file
    assert(rows.head.isNullAt(2))            // score predates the old file
    assert(rows.last.getLong(2) == 7L)
  }

  test("_file and _pos metadata columns come out of the columnar batch") {
    val dir = Files.createTempDirectory("graft-colnar-meta").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      (0L until 50L).map(i => (i, i)).toDF("id", "v").coalesce(1))
    val q = dsv2(dir).select(col("id"), col("_file"), col("_pos"))
    assert(scanOf(q).supportsColumnar)
    val rows = q.orderBy("id").collect()
    assert(rows.map(_.getLong(2)).toSeq == (0L until 50L)) // pos == write order
    assert(rows.map(_.getString(1)).distinct.length == 1)  // one file
  }

  test("row-group range splits keep exact ordinals in the columnar path") {
    val dir = Files.createTempDirectory("graft-colnar-split").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    // small row groups so a tiny splitTargetBytes yields several ranges
    val prev = spark.sparkContext.hadoopConfiguration.get("parquet.block.size")
    spark.sparkContext.hadoopConfiguration.set("parquet.block.size", "4096")
    try TableWrites.appendData(dir,
      (0L until 20000L).map(i => (i, s"pad-$i-${"x" * 16}")).toDF("id", "v")
        .coalesce(1))
    finally {
      if (prev == null)
        spark.sparkContext.hadoopConfiguration.unset("parquet.block.size")
      else spark.sparkContext.hadoopConfiguration.set("parquet.block.size", prev)
    }
    val file = FileTableCatalog.loadOrThrow(dir)
      .files.filter(_.content == "data").head.path
    // position-delete a slice that spans row groups
    TableWrites.appendPositionDeletes(dir,
      (5000L until 5100L).map(p => (file, p)).toDF("file_path", "pos"))
    val q = spark.read.format("graft")
      .option("splitTargetBytes", "65536").load(dir)
    val scan = scanOf(q)
    assert(scan.supportsColumnar)
    assert(scan.partitions.size > 1, "expected the file split into ranges")
    assert(q.count() == 19900L)
    val ids = q.select("id").as[Long].collect().sorted
    assert(ids.length == 19900 && !ids.contains(5050L) && ids.contains(4999L))
    assert(ids.sum == (0L until 20000L).sum - (5000L until 5100L).sum)
    // _pos is the file-absolute row index in every split, on both
    // readers, also where a filter skips row groups (write order: pos == id)
    for (vec <- Seq(true, false); skip <- Seq(false, true)) {
      val df = spark.read.format("graft").option("splitTargetBytes", "65536")
        .option("vectorizedRead", vec).load(dir)
      val read = (if (skip) df.filter($"id" >= 12000L) else df).select("id", "_pos")
      assert(scanOf(read).partitions.size > 1)
      val rows = read.as[(Long, Long)].collect()
      assert(rows.length == (if (skip) 8000 else 19900), s"vectorized=$vec skip=$skip")
      assert(rows.forall { case (id, pos) => id == pos },
        s"_pos drifted from the row's file position (vectorized=$vec skip=$skip)")
    }
  }

  test("columnar and row readers agree on randomized tables") {
    val rng = new scala.util.Random(101)
    (1 to 3).foreach { round =>
      val dir = Files.createTempDirectory(s"graft-colnar-eq$round").toString
      FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
      val n = 500 + rng.nextInt(1500)
      val rows = (0 until n).map { i =>
        (i.toLong,
          if (rng.nextInt(10) == 0) None else Some(rng.alphanumeric.take(rng.nextInt(20)).mkString),
          rng.nextDouble(),
          rng.nextBoolean(),
          rng.nextInt())
      }
      TableWrites.appendData(dir,
        rows.toDF("id", "s", "d", "b", "i").repartition(3))
      // kill a random slice by position in one file
      val f = FileTableCatalog.loadOrThrow(dir)
        .files.filter(_.content == "data").head.path
      TableWrites.appendPositionDeletes(dir,
        (0L until 20L).map(p => (f, p * 3)).toDF("file_path", "pos"))
      def readAll(vec: Boolean) = spark.read.format("graft")
        .option("vectorizedRead", vec).load(dir)
        .orderBy("id").collect().map(_.toSeq).toSeq
      assert(readAll(true) == readAll(false), s"round $round diverged")
      // and the pruned/projected shape agrees too
      def readProj(vec: Boolean) = spark.read.format("graft")
        .option("vectorizedRead", vec).load(dir)
        .filter($"id" % 7 === 0).select("s", "i")
        .collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(readProj(true) == readProj(false))
    }
  }

  test("null values round-trip through the vectors") {
    val dir = Files.createTempDirectory("graft-colnar-null").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
        .toDF("id", "name").coalesce(1))
    val q = dsv2(dir)
    assert(scanOf(q).supportsColumnar)
    val rows = q.orderBy("id").collect()
    assert(rows(1).isNullAt(1) && rows(0).getString(1) == "a")
    assert(q.filter($"name".isNull).count() == 1L)
  }
}
