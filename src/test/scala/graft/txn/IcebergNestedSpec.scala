package graft.txn

import graft.SparkTestSession
import graft.io.FileIO
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Nested (list/map/struct) columns through the Iceberg v2 format
  * layer: the spec's JSON type objects with sub-field ids from the
  * reserved per-column block, round-tripping metadata.json, and the
  * full SQL lifecycle on a format=iceberg catalog. */
class IcebergNestedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("sparkDdlToIcebergTyped emits spec type objects with stable unique ids") {
    val ddl = "STRUCT<qty: BIGINT, flag: STRING, price: DECIMAL(12,2)>"
    val typ = IcebergFormat.sparkDdlToIcebergTyped(ddl, topId = 3)
    assert(typ.startsWith("{"))
    val n = IcebergFormat.parse(typ)
    assert(n.get("type").asText == "struct")
    val ids = n.get("fields").elements().asScala.map(_.get("id").asInt).toSeq
    // field 3's reserved block starts at 10000 + 2*200
    assert(ids == Seq(10400, 10401, 10402))
    // deterministic: a second serialization assigns the same ids
    assert(IcebergFormat.sparkDdlToIcebergTyped(ddl, topId = 3) == typ)
    // and a different column uses a disjoint block
    val other = IcebergFormat.parse(
      IcebergFormat.sparkDdlToIcebergTyped(ddl, topId = 4))
    val otherIds = other.get("fields").elements().asScala.map(_.get("id").asInt).toSet
    assert(otherIds.intersect(ids.toSet).isEmpty)
  }

  test("typed mapping round-trips all nested shapes back to the same Spark type") {
    val ddls = Seq(
      "ARRAY<STRING>",
      "MAP<STRING, BIGINT>",
      "STRUCT<a: BIGINT, b: STRING>",
      "ARRAY<STRUCT<x: BIGINT, y: STRING>>",
      "MAP<STRING, ARRAY<DECIMAL(20,4)>>",
      "STRUCT<inner: MAP<STRING, STRUCT<p: DOUBLE, q: DATE>>>")
    ddls.foreach { ddl =>
      val typ = IcebergFormat.sparkDdlToIcebergTyped(ddl, topId = 2)
      val back = IcebergFormat.icebergToSparkDdl(typ)
      assert(DataType.fromDDL(back) == DataType.fromDDL(ddl),
        s"$ddl -> $typ -> $back")
    }
  }

  test("schemaJson embeds type objects; parseSchemaFields restores them") {
    val fields = Seq(
      IcebergFormat.Field(1, "id", required = true, "long"),
      IcebergFormat.Field(2, "tags", required = false,
        IcebergFormat.sparkDdlToIcebergTyped("ARRAY<STRING>", 2)))
    val json = IcebergFormat.schemaJson(5, fields)
    // the type must be a JSON OBJECT in the document (spec shape), not a
    // quoted string
    assert(json.get("fields").get(1).get("type").isObject)
    assert(IcebergFormat.parseSchemaFields(json).map(f => (f.id, f.name)) ==
      Seq((1, "id"), (2, "tags")))
    val restored = IcebergFormat.parseSchemaFields(json)(1).typ
    assert(IcebergFormat.parse(restored) == IcebergFormat.parse(fields(1).typ))
  }

  test("format=iceberg catalog: nested lifecycle + readable spec metadata") {
    val wh = Files.createTempDirectory("iceberg-nested-wh").toString
    spark.conf.set("spark.sql.catalog.ginest", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ginest.warehouse", wh)
    spark.conf.set("spark.sql.catalog.ginest.format", "iceberg")
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ginest.db")
    spark.sql(
      """CREATE TABLE ginest.db.n (
        |  id BIGINT, tags ARRAY<STRING>,
        |  info STRUCT<qty: BIGINT, flag: STRING>,
        |  m MAP<STRING, BIGINT>)""".stripMargin)
    spark.sql("INSERT INTO ginest.db.n VALUES " +
      "(1, array('a','b'), named_struct('qty', 5L, 'flag', 'A'), map('k', 1L)), " +
      "(2, array('c'), named_struct('qty', 6L, 'flag', 'B'), map('k', 2L)), " +
      "(3, NULL, NULL, NULL)")
    spark.sql("DELETE FROM ginest.db.n WHERE id = 2")

    val back = spark.sql(
      "SELECT id, size(tags) AS n, info.qty AS q, element_at(m, 'k') AS v " +
        "FROM ginest.db.n ORDER BY id").collect()
    assert(back.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    assert(back(0).getInt(1) == 2 && back(0).getLong(2) == 5L && back(0).getLong(3) == 1L)
    assert(back(1).isNullAt(1) && back(1).isNullAt(2) && back(1).isNullAt(3))

    // the committed metadata.json carries spec-shaped nested types and a
    // last-column-id covering the reserved nested blocks
    val tableDir = s"$wh/db/n"
    val snap = IcebergTableCatalog.loadOrThrow(tableDir)
    val doc = IcebergFormat.parse(FileIO.readString(
      IcebergTableCatalog.metadataPath(tableDir, snap.version)))
    val schema = doc.get("schemas").elements().asScala
      .find(_.get("schema-id").asLong == doc.get("current-schema-id").asLong).get
    val byName = IcebergFormat.parseSchemaFields(schema).map(f => f.name -> f).toMap
    assert(IcebergFormat.parse(byName("tags").typ).get("type").asText == "list")
    assert(IcebergFormat.parse(byName("info").typ).get("type").asText == "struct")
    assert(IcebergFormat.parse(byName("m").typ).get("type").asText == "map")
    assert(doc.get("last-column-id").asInt >= IcebergFormat.NestedIdBase)

    // a FRESH load of the history must restore the exact Spark types
    val restored = snap.schemas.find(_.schemaId == snap.schemaId).get
    assert(restored.fields.find(_.name == "info").map(f =>
      DataType.fromDDL(f.dataType)).contains(
      StructType(Seq(StructField("qty", LongType), StructField("flag", StringType)))))
    spark.sql("DROP TABLE ginest.db.n")
  }

  test("footer inference maps nested parquet groups to spec types") {
    val dir = Files.createTempDirectory("iceberg-nested-infer").toString
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tags", ArrayType(StringType)),
      StructField("ev", ArrayType(StructType(Seq(
        StructField("x", LongType), StructField("y", StringType)))))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(1L, Seq("a"), Seq(Row(1L, "p"))),
        Row(2L, Seq("b", "c"), Seq.empty[Row])), 1), schema)
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    df.write.format("graft").mode("append").save(dir)
    val file = FileTableCatalog.loadOrThrow(dir).files
      .filter(_.content == "data").head.path
    val fields = IcebergFormat.inferSchema(file)
    assert(fields.map(_.name) == Seq("id", "tags", "ev"))
    assert(fields(0).typ == "long")
    val tags = IcebergFormat.parse(fields(1).typ)
    assert(tags.get("type").asText == "list" &&
      tags.get("element").asText == "string")
    val ev = IcebergFormat.parse(fields(2).typ)
    assert(ev.get("type").asText == "list" &&
      ev.get("element").get("type").asText == "struct")
    // ids drawn from each column's reserved block
    assert(tags.get("element-id").asInt == IcebergFormat.NestedIdBase +
      IcebergFormat.NestedIdSpan)
  }
}
