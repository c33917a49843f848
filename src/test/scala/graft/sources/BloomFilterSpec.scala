package graft.sources

import graft.sql.GraftCatalog
import graft.txn.FileTableCatalog
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Table-configured parquet bloom filters (`graft.bloom.columns`):
  * point-lookup row-group skipping where min/max statistics cannot
  * prune — the unsorted high-cardinality id shape. */
class BloomFilterSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = graft.SparkTestSession.spark
    val wh = Files.createTempDirectory("graft-bloom-wh").toString
    s.conf.set("spark.sql.catalog.gbl", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gbl.warehouse", wh)
    s
  }
  private def sql(q: String) = spark.sql(q)
  private def wh = spark.conf.get("spark.sql.catalog.gbl.warehouse")

  private def hconf = spark.sparkContext.hadoopConfiguration

  /** Open `file` with the given predicate and report
    * (rowGroupsKept, bloomPresentOnId). `useDict=false` isolates bloom
    * skipping from dictionary-page skipping. */
  private def probe(file: String, pred: org.apache.parquet.filter2.predicate.FilterPredicate)
      : (Int, Boolean) = {
    val p = new org.apache.hadoop.fs.Path(file)
    val opts = HadoopReadOptions.builder(hconf, p)
      .withRecordFilter(FilterCompat.get(pred))
      .useDictionaryFilter(false)
      .build()
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, hconf), opts)
    try {
      val plain = ParquetFileReader.open(HadoopInputFile.fromPath(p, hconf))
      val bloom = try {
        val bs = plain.getRowGroups.get(0).getColumns
        import scala.jdk.CollectionConverters._
        bs.asScala.find(_.getPath.toDotString == "id")
          .exists(c => plain.getBloomFilterDataReader(plain.getRowGroups.get(0))
            .readBloomFilter(c) != null)
      } finally plain.close()
      (r.getRowGroups.size, bloom)
    } finally r.close()
  }

  test("DSv2 appends on a bloom-configured table write id blooms that " +
    "skip groups a range predicate cannot") {
    sql("CREATE NAMESPACE IF NOT EXISTS gbl.db")
    // even ids only, hash-shuffled: every file's [min,max] spans the
    // whole domain, so a probe for an ODD in-range id survives stats
    // pruning and only the bloom can reject it
    sql("""CREATE TABLE gbl.db.b (id BIGINT, v STRING)
          |TBLPROPERTIES('graft.bloom.columns'='id:20000')""".stripMargin)
    sql("""INSERT INTO gbl.db.b
          |SELECT id * 2, concat('v', CAST(id AS STRING))
          |FROM range(0, 20000)""".stripMargin)
    val dir = s"$wh/db/b"
    val files = FileTableCatalog.loadOrThrow(dir).files.filter(_.content == "data")
    assert(files.nonEmpty)

    val absent = FilterApi.eq(FilterApi.longColumn("id"), java.lang.Long.valueOf(19999L)) // odd, in range
    val present = FilterApi.eq(FilterApi.longColumn("id"), java.lang.Long.valueOf(19998L)) // even, present
    files.foreach { f =>
      val (keptAbsent, hasBloom) = probe(f.path, absent)
      assert(hasBloom, s"${f.path} must carry an id bloom filter")
      assert(keptAbsent == 0,
        s"bloom must reject the absent in-range id on ${f.path}, kept $keptAbsent")
    }
    // the present id lives in exactly one of the files — its group
    // must survive there (bloom filters have no false NEGATIVES)
    assert(files.map(f => probe(f.path, present)._1).sum > 0,
      "a present id must keep its group somewhere")
    // end-to-end: the MoR read path returns the right rows either way
    assert(sql("SELECT count(*) FROM gbl.db.b WHERE id = 19999").head().getLong(0) == 0)
    assert(sql("SELECT v FROM gbl.db.b WHERE id = 19998").head().getString(0) == "v9999")
  }

  test("compaction preserves the configured blooms on its outputs") {
    sql("CREATE NAMESPACE IF NOT EXISTS gbl.db")
    sql("""CREATE TABLE gbl.db.c (id BIGINT, v STRING)
          |TBLPROPERTIES('graft.bloom.columns'='id:20000')""".stripMargin)
    sql("""INSERT INTO gbl.db.c
          |SELECT id * 2, concat('v', CAST(id AS STRING))
          |FROM range(0, 20000)""".stripMargin)
    val dir = s"$wh/db/c"
    graft.compaction.Compaction.builder().withSpark(spark).withTableDir(dir)
      .build().compact()
    val files = FileTableCatalog.loadOrThrow(dir).files.filter(_.content == "data")
    assert(files.nonEmpty)
    val absent = FilterApi.eq(FilterApi.longColumn("id"), java.lang.Long.valueOf(19997L))
    files.foreach { f =>
      val (kept, hasBloom) = probe(f.path, absent)
      assert(hasBloom, s"compacted ${f.path} must still carry the id bloom")
      assert(kept == 0, s"compacted bloom must reject, kept $kept")
    }
  }

  test("property validation refuses unknown columns and bad syntax") {
    sql("CREATE NAMESPACE IF NOT EXISTS gbl.db")
    val e1 = intercept[Exception](sql(
      """CREATE TABLE gbl.db.bad (id BIGINT)
        |TBLPROPERTIES('graft.bloom.columns'='nope')""".stripMargin))
    assert(e1.getMessage.contains("not a top-level column"), e1.getMessage)
    sql("CREATE TABLE gbl.db.ok (id BIGINT, s STRING)")
    val e2 = intercept[Exception](sql(
      "ALTER TABLE gbl.db.ok SET TBLPROPERTIES('graft.bloom.columns'='id:-5')"))
    assert(e2.getMessage.contains("graft.bloom.columns"), e2.getMessage)
    // the happy path sets and takes effect on the next insert
    sql("ALTER TABLE gbl.db.ok SET TBLPROPERTIES('graft.bloom.columns'='s')")
    sql("INSERT INTO gbl.db.ok SELECT id, concat('x', CAST(id AS STRING)) FROM range(0, 100)")
    val f = FileTableCatalog.loadOrThrow(s"$wh/db/ok")
      .files.filter(_.content == "data").head.path
    val p = new org.apache.hadoop.fs.Path(f)
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, hconf))
    try {
      import scala.jdk.CollectionConverters._
      val col = r.getRowGroups.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "s").get
      assert(r.getBloomFilterDataReader(r.getRowGroups.get(0))
        .readBloomFilter(col) != null, "adaptive (ndv-less) bloom must write")
    } finally r.close()
  }
}
