package graft.sources

import graft.SparkTestSession
import graft.txn.{FileTableCatalog, SchemaEvolution, TableWrites}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** INT96 timestamps through graft's own readers. Spark's parquet writer
  * emits INT96 under a default session (`outputTimestampType`), so
  * compaction and `TableWrites` produce it, and imported Hive tables
  * hold it. Both DSv2 readers — columnar and row — and the equality-
  * delete key path must decode it, and a footer-derived schema must
  * map it to `timestamp`. */
class Int96ReadSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def footerType(path: String, col: String): String = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try {
      val schema = r.getFooter.getFileMetaData.getSchema
      schema.getType(schema.getFieldIndex(col)).toString
    } finally r.close()
  }

  test("compacted INT96 timestamps read through both graft readers with an " +
    "equality delete keyed on ts") {
    assert(spark.conf.getOption("spark.sql.parquet.outputTimestampType")
      .forall(_ == "INT96"), "this check needs Spark's default timestamp encoding")
    val wh = Files.createTempDirectory("int96-wh").toString
    spark.conf.set("spark.sql.catalog.gi96", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gi96.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gi96.db")
    spark.sql("CREATE TABLE gi96.db.t (id BIGINT, ts TIMESTAMP)")
    (0 until 4).foreach { b =>
      spark.sql(s"INSERT INTO gi96.db.t SELECT id, " +
        s"timestamp_micros(1700000000000000 + id * 1000003) " +
        s"FROM range(${b * 250}, ${(b + 1) * 250})")
    }
    spark.sql("CALL gi96.system.rewrite_data_files(`table` => 'db.t')").collect()
    val tdir = s"$wh/db/t"
    val data = FileTableCatalog.loadOrThrow(tdir).files.filter(_.content == "data")
    assert(data.nonEmpty)
    data.foreach { f =>
      assert(footerType(f.path, "ts").contains("int96"), footerType(f.path, "ts"))
      assert(SchemaEvolution.footerFields(f.path).map(c => c.name -> c.dataType) ==
        Seq("id" -> "bigint", "ts" -> "timestamp"))
    }

    def rows(df: DataFrame): Seq[(Long, Long)] =
      df.select(col("id"), unix_micros(col("ts"))).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    def columnarScan(df: DataFrame): Boolean = df.queryExecution.executedPlan
      .collectFirst { case b: BatchScanExec => b.supportsColumnar }.get
    // delete-free: ts streams straight into the column vector
    val all = (0L until 1000L).map(id => (id, 1700000000000000L + id * 1000003L))
    val plain = spark.read.format("graft").load(tdir)
    assert(columnarScan(plain))
    assert(rows(plain) == all, "columnar reader, no deletes")
    assert(rows(spark.read.format("graft").option("vectorizedRead", false)
      .load(tdir)) == all, "row reader, no deletes")

    // an equality delete keyed on ts (itself written INT96 by Spark)
    val keys = spark.range(0, 1000).filter(col("id") % 7 === 0)
      .select(timestamp_micros(lit(1700000000000000L) + col("id") * 1000003L).as("ts"))
    TableWrites.appendEqualityDeletes(tdir, keys, Seq("ts"))
    val eqDeletes = FileTableCatalog.loadOrThrow(tdir).files
      .filter(_.content == "equality-deletes")
    assert(eqDeletes.nonEmpty)
    eqDeletes.foreach(f => assert(footerType(f.path, "ts").contains("int96")))

    val expected = rows(TableReader.read(spark, tdir))
    assert(expected == all.filter(_._1 % 7 != 0))

    val columnar = spark.read.format("graft").load(tdir)
    assert(columnarScan(columnar), "expected the columnar reader")
    assert(rows(columnar) == expected, "columnar reader")
    val rowPath = spark.read.format("graft").option("vectorizedRead", false).load(tdir)
    assert(rows(rowPath) == expected, "row reader")
    // a pushed-down predicate on the INT96 column stays correct
    val cut = new java.sql.Timestamp((1700000000000000L + 500L * 1000003L) / 1000L)
    assert(rows(columnar.filter(col("ts") >= lit(cut))) ==
      expected.filter(_._2 >= cut.getTime * 1000L))
    assert(rows(rowPath.filter(col("ts") >= lit(cut))) ==
      expected.filter(_._2 >= cut.getTime * 1000L))
    spark.sql("DROP TABLE gi96.db.t")
  }
}
