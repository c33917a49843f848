package graft.sources

import graft.SparkTestSession
import graft.core.CompactionError
import graft.txn.{FileTableCatalog, TableSnapshot}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** ARRAY / STRUCT / MAP columns through the engine table format:
  * the DSv2 append writer emits the parquet spec's standard 3-level
  * LIST / MAP / struct group shapes (readable by Spark's own vectorized
  * reader — asserted via a native read-back), and the row-path MoR
  * reader decodes them back to Catalyst values (the columnar gate
  * excludes nested schemas, so the fallback IS the nested path). */
class NestedTypesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val nestedSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("tags", ArrayType(StringType, containsNull = true)),
    StructField("info", StructType(Seq(
      StructField("qty", LongType),
      StructField("flag", StringType),
      StructField("price", DecimalType(12, 2))))),
    StructField("m", MapType(StringType, LongType, valueContainsNull = true)),
    StructField("events", ArrayType(StructType(Seq(
      StructField("x", LongType),
      StructField("y", StringType))), containsNull = true))
  ))

  private def nestedRows: Seq[Row] = Seq(
    Row(1L, Seq("a", "b"), Row(5L, "A", BigDecimal("12.34")),
      Map("k1" -> 1L, "k2" -> 2L),
      Seq(Row(10L, "x1"), Row(20L, "x2"))),
    Row(2L, Seq.empty[String], Row(6L, null, BigDecimal("0.01")),
      Map.empty[String, Long], Seq.empty[Row]),
    Row(3L, null, null, null, null), // whole nested columns null
    Row(4L, Seq("only", null, "gap"), Row(null, "B", null),
      Map[String, Any]("k" -> null),
      Seq(null, Row(30L, null))) // null element / null members / null value
  )

  private def nestedDf = spark.createDataFrame(
    spark.sparkContext.parallelize(nestedRows, 2), nestedSchema)

  /** Set-op-comparable projection: Spark refuses exceptAll over MAP
    * columns, so maps compare as sorted entry arrays. */
  private def comparable(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    df.select(col("id"), col("tags"), col("info"),
      array_sort(map_entries(col("m"))).as("me"), col("events"))
  }

  test("DSv2 append round-trips nested columns through standard parquet") {
    val dir = Files.createTempDirectory("nested-append").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    val df = nestedDf
    df.write.format("graft").mode("append").save(dir)
    // Spark's NATIVE parquet reader must resolve the writer's group
    // shapes — this is the interop assertion, not just self-consistency
    val back = spark.read.parquet(FileTableCatalog.loadOrThrow(dir).files
      .filter(_.content == "data").map(_.path): _*)
    assert(back.schema.map(f => (f.name, f.dataType.simpleString)) ==
      df.schema.map(f => (f.name, f.dataType.simpleString)))
    assert(back.count() == 4)
    val (a, b) = (comparable(back), comparable(df))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("DSv2 append rejects unsupported leaf types, even nested in arrays") {
    import spark.implicits._
    val dir = Files.createTempDirectory("nested-short").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    // SHORT is outside the engine's type lattice; the recursive check
    // must surface it through the array wrapper, before any file is
    // written
    val e = intercept[CompactionError.Config] {
      Seq((1L, Seq(2.toShort))).toDF("id", "arr")
        .write.format("graft").mode("append").save(dir)
    }
    assert(e.getMessage.contains("array/struct/map"), e.getMessage)
    assert(FileTableCatalog.loadOrThrow(dir).files.isEmpty)
  }

  test("engine table: nested columns survive INSERT + MoR DELETE + read-back") {
    val wh = Files.createTempDirectory("nested-wh").toString
    spark.conf.set("spark.sql.catalog.gnest", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gnest.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gnest.db")
    spark.sql(
      """CREATE TABLE gnest.db.n (
        |  id BIGINT, tags ARRAY<STRING>,
        |  info STRUCT<qty: BIGINT, flag: STRING, price: DECIMAL(12,2)>,
        |  m MAP<STRING, BIGINT>,
        |  events ARRAY<STRUCT<x: BIGINT, y: STRING>>)""".stripMargin)
    nestedDf.createOrReplaceTempView("nested_src")
    spark.sql("INSERT INTO gnest.db.n SELECT * FROM nested_src")
    // merge-on-read position delete over a nested-schema table: the
    // row-path reader must apply the delete while decoding nested cols
    spark.sql("DELETE FROM gnest.db.n WHERE id = 2")

    val back = spark.table("gnest.db.n")
    assert(back.count() == 3)
    val expect = nestedDf.filter("id <> 2")
    val (a, b) = (comparable(back), comparable(expect))
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    // projections into the nested values go through Spark's parquet
    // reader's nested decode: element, struct member, map lookup,
    // empty/null
    import org.apache.spark.sql.functions._
    val flat = back.select(col("id"),
      element_at(col("tags"), 1).as("t1"),
      col("info.qty").as("q"),
      element_at(col("m"), "k1").as("mv"),
      col("events")(0)("y").as("ev"))
      .orderBy("id").collect()
    assert(flat.map(_.get(1)).toSeq == Seq("a", null, "only"))
    assert(flat.map(_.get(2)).toSeq == Seq(5L, null, null))
    assert(flat.map(_.get(3)).toSeq == Seq(1L, null, null))
    assert(flat.map(_.get(4)).toSeq == Seq("x1", null, null))

    // snapshot read-back after a second insert (schema stability through
    // the commit history), then clean up
    spark.sql("INSERT INTO gnest.db.n VALUES " +
      "(9, array('z'), named_struct('qty', 7L, 'flag', 'Z', 'price', 9.99BD), " +
      "map('mk', 3L), array(named_struct('x', 1L, 'y', 'e')))")
    assert(spark.table("gnest.db.n").count() == 4)
    spark.sql("DROP TABLE gnest.db.n")
  }

  test("nested tables survive compaction and MERGE (cow + mor)") {
    import org.apache.spark.sql.functions._
    val wh = Files.createTempDirectory("nested-merge-wh").toString
    spark.conf.set("spark.sql.catalog.gnm", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gnm.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gnm.db")
    Seq("copy-on-write", "merge-on-read").foreach { mode =>
      val t = s"gnm.db.t_${mode.take(4).replace('-', '_')}"
      spark.sql(s"CREATE TABLE $t (id BIGINT, tags ARRAY<STRING>, " +
        "info STRUCT<qty: BIGINT, flag: STRING>) " +
        s"TBLPROPERTIES ('graft.rowlevel.mode' = '$mode')")
      // several small files so compaction has something to bin-pack
      (1 to 4).foreach { k =>
        spark.sql(s"INSERT INTO $t VALUES ($k, array('t$k'), " +
          s"named_struct('qty', ${k}0L, 'flag', 'f$k'))")
      }
      // MERGE rewrites rows carrying nested values through the delta/COW
      // writer; the UPDATE builds a NEW nested value from the old one
      spark.sql(s"""MERGE INTO $t dst USING (SELECT 2L AS id, 'X' AS nf) src
        |ON dst.id = src.id
        |WHEN MATCHED THEN UPDATE SET
        |  dst.tags = array_append(dst.tags, src.nf),
        |  dst.info = named_struct('qty', dst.info.qty + 1L, 'flag', src.nf)
        |WHEN NOT MATCHED THEN INSERT (id, tags, info)
        |  VALUES (src.id, array(src.nf), named_struct('qty', 0L, 'flag', src.nf))
        |""".stripMargin)
      spark.sql(s"CALL gnm.system.rewrite_data_files(`table` => " +
        s"'db.t_${mode.take(4).replace('-', '_')}', validate => true)")
      val rows = spark.table(t)
        .select(col("id"), concat_ws(",", col("tags")).as("ts"),
          col("info.qty").as("q"), col("info.flag").as("f"))
        .orderBy("id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L), mode)
      assert(rows(1).getString(1) == "t2,X" && rows(1).getLong(2) == 21L &&
        rows(1).getString(3) == "X", mode)
      assert(rows(3).getString(1) == "t4" && rows(3).getLong(2) == 40L, mode)
      spark.sql(s"DROP TABLE $t")
    }
  }

  test("nested equality-delete keys are refused") {
    val wh = Files.createTempDirectory("nested-eq").toString + "/t"
    import spark.implicits._
    val rows = Seq((1L, Seq("a"))).toDF("id", "tags")
    graft.txn.FileTableCatalog.commitCas(wh,
      graft.txn.TableSnapshot(1, 1, 0, Nil))
    graft.txn.TableWrites.appendData(wh, rows)
    val e = intercept[graft.core.CompactionError.Config] {
      graft.txn.TableWrites.upsert(wh, rows, Seq("tags"))
    }
    assert(e.getMessage.contains("must be primitive"))
  }

  test("nested partition sources are refused at CREATE") {
    val wh = Files.createTempDirectory("nested-part-wh").toString
    spark.conf.set("spark.sql.catalog.gnp", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gnp.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gnp.db")
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE gnp.db.p (id BIGINT, tags ARRAY<STRING>) " +
        "PARTITIONED BY (tags)")
    }
    assert(e.getMessage.contains("not supported") ||
      e.getMessage.contains("partition"))
  }
}
