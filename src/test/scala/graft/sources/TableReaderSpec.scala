package graft.sources

import graft.SparkTestSession
import graft.core.CompactionError
import graft.txn.{FileTableCatalog, TableSnapshot}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** [[TableReader.read]] as a pinned DSv2 read: the same rows as
  * `format("graft")` (history-less nested tables included) and as
  * `spark.read.parquet` of the same files whatever timestamp unit and
  * calendar the session wrote them in, a frame that keeps reading the
  * snapshot it was created from, a schema that does not follow the
  * session's parquet read settings, and named errors for malformed read
  * options. */
class TableReaderSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[(Long, Seq[String])] =
    df.select(col("id"), col("tags")).as[(Long, Seq[String])]
      .collect().toSeq.sortBy(_._1)

  /** A history-less table whose array column came from the DSv2 append. */
  private def nestedTable(): String = {
    val dir = Files.createTempDirectory("reader-nested").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    Seq((1L, Seq("a", "b")), (2L, Seq.empty[String]), (3L, null))
      .toDF("id", "tags").coalesce(1)
      .write.format("graft").mode("append").save(dir)
    assert(FileTableCatalog.loadOrThrow(dir).currentSchema.isEmpty)
    dir
  }

  test("a history-less array column reads the same rows through " +
    "format(graft) and TableReader.read") {
    val dir = nestedTable()
    val viaSource = spark.read.format("graft").load(dir)
    val viaReader = TableReader.read(spark, dir)
    assert(viaSource.schema == viaReader.schema)
    assert(rows(viaSource) == Seq((1L, Seq("a", "b")), (2L, Nil), (3L, null)))
    assert(rows(viaReader) == rows(viaSource))
  }

  test("a second DSv2 append to a history-less array table succeeds") {
    val dir = nestedTable()
    Seq((4L, Seq("c"))).toDF("id", "tags")
      .write.format("graft").mode("append").save(dir)
    assert(rows(TableReader.read(spark, dir)).map(_._1) == Seq(1L, 2L, 3L, 4L))
    assert(rows(spark.read.format("graft").load(dir)).last == ((4L, Seq("c"))))
  }

  test("a TableReader frame keeps reading its snapshot across an append " +
    "and a MoR DELETE; asOfVersion and bootstrap snapshots") {
    val wh = Files.createTempDirectory("reader-pin").toString
    spark.conf.set("spark.sql.catalog.gpin", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpin.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpin.db")
    spark.sql("CREATE TABLE gpin.db.t (id BIGINT, v STRING)")
    val dir = s"$wh/db/t"
    // the freshly created table is a bootstrap snapshot: no data files
    assert(TableReader.readOption(spark, dir).isEmpty)
    spark.sql("INSERT INTO gpin.db.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val v1 = FileTableCatalog.loadOrThrow(dir).version
    def ids(df: DataFrame): Seq[Long] =
      df.select("id").as[Long].collect().toSeq.sorted

    val pinned = TableReader.read(spark, dir)
    val filtered = TableReader.read(spark, dir, filter = Some(col("id") >= 2L))
    spark.sql("INSERT INTO gpin.db.t VALUES (4, 'd')")
    spark.sql("DELETE FROM gpin.db.t WHERE id = 2")
    val after = FileTableCatalog.loadOrThrow(dir)
    assert(after.version > v1 + 1)
    assert(after.files.exists(_.content == "position-deletes"),
      "the DELETE must be a merge-on-read commit")
    // the frames created before the commits still read v1's rows
    assert(ids(pinned) == Seq(1L, 2L, 3L))
    assert(ids(filtered) == Seq(2L, 3L))
    // a new read sees the current snapshot, a time-travel read the asked one
    assert(ids(TableReader.read(spark, dir)) == Seq(1L, 3L, 4L))
    assert(ids(TableReader.read(spark, dir, asOfVersion = Some(v1))) ==
      Seq(1L, 2L, 3L))
    assert(ids(TableReader.read(spark, dir, asOfVersion = Some(v1 + 1))) ==
      Seq(1L, 2L, 3L, 4L))
    val e = intercept[CompactionError.Config] {
      TableReader.read(spark, dir, asOfVersion = Some(after.version + 5))
    }
    assert(e.getMessage.contains("does not exist"), e.getMessage)
  }

  test("tinyint and smallint columns from Spark's parquet writer read back, " +
    "deletes applied") {
    val dir = Files.createTempDirectory("reader-small").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    graft.txn.TableWrites.appendData(dir, Seq((1L, 1.toByte, 10.toShort),
      (2L, 2.toByte, 20.toShort), (3L, 3.toByte, 30.toShort))
      .toDF("id", "b", "s").coalesce(1))
    graft.txn.TableWrites.appendEqualityDeletes(dir,
      Seq(20.toShort).toDF("s"), Seq("s"))
    val got = TableReader.read(spark, dir)
    assert(got.schema.map(_.dataType) == Seq(
      org.apache.spark.sql.types.LongType, org.apache.spark.sql.types.ByteType,
      org.apache.spark.sql.types.ShortType))
    assert(got.as[(Long, Byte, Short)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 1.toByte, 10.toShort), (3L, 3.toByte, 30.toShort)))
  }

  test("malformed asOfVersion / splitTargetBytes fail naming option and value") {
    val dir = Files.createTempDirectory("reader-opts").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.format("graft").mode("append").save(dir)
    for ((opt, bad) <- Seq("asOfVersion" -> "v2", "splitTargetBytes" -> "64MB")) {
      val e = intercept[CompactionError.Config] {
        spark.read.format("graft").option(opt, bad).load(dir).collect()
      }
      assert(e.getMessage.contains(opt) && e.getMessage.contains(s"'$bad'"),
        e.getMessage)
    }
    // well-formed values still read
    assert(spark.read.format("graft").option("splitTargetBytes", "1048576")
      .load(dir).count() == 3L)
  }

  /** Runs `body` with `settings` on the shared session, restoring the
    * previous values after. */
  private def withConf[T](settings: (String, String)*)(body: => T): T = {
    val prior = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prior.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def dataFiles(dir: String): Seq[String] =
    FileTableCatalog.loadOrThrow(dir).files.filter(_.content == "data").map(_.path)

  private def sorted(df: DataFrame): Seq[org.apache.spark.sql.Row] =
    df.select("id", "d", "ts", "ntz").collect().toSeq.sortBy(_.getLong(0))

  // what Spark's writer turns into INT64 TIMESTAMP(MILLIS), INT96, and
  // Julian-calendar dates/timestamps; each set also writes the equality
  // delete, so the key probe reads the same encoding
  for ((label, settings) <- Seq(
    "TIMESTAMP_MILLIS" -> Seq(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MILLIS"),
    "datetime rebase LEGACY" -> Seq(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY"),
    "TIMESTAMP_MILLIS + datetime rebase LEGACY" -> Seq(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MILLIS",
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY"),
    "INT96 + int96 rebase LEGACY" -> Seq(
      "spark.sql.parquet.outputTimestampType" -> "INT96",
      "spark.sql.parquet.int96RebaseModeInWrite" -> "LEGACY",
      "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY"))) {
    test(s"files TableWrites wrote under $label read as spark.read.parquet " +
      "reads them, filtered and with an equality delete on the timestamp") {
      val dir = Files.createTempDirectory("reader-ts").toString
      FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
      val input = spark.sql("""SELECT * FROM VALUES
        (1L, DATE'1000-01-01', TIMESTAMP'1000-01-01 12:00:00.125',
            TIMESTAMP_NTZ'1000-01-01 12:00:00.125'),
        (2L, DATE'1582-10-01', TIMESTAMP'1582-10-01 00:00:00',
            TIMESTAMP_NTZ'1582-10-01 00:00:00'),
        (3L, DATE'2020-06-01', TIMESTAMP'2020-06-01 10:00:00.250',
            TIMESTAMP_NTZ'2020-06-01 10:00:00.250'),
        (4L, DATE'2024-02-29', TIMESTAMP'2024-02-29 23:59:59.999',
            TIMESTAMP_NTZ'2024-02-29 23:59:59.999'),
        (5L, NULL, NULL, NULL)
        AS t(id, d, ts, ntz)""").coalesce(1)
      withConf(settings: _*) {
        graft.txn.TableWrites.appendData(dir, input)
      }
      val files = dataFiles(dir)
      val expected = spark.read.parquet(files: _*)
      // the reference: Spark's own reader gives back the input rows
      assert(sorted(expected) == sorted(input))
      val modern = col("ts") >= lit(java.sql.Timestamp.valueOf("2020-06-01 10:00:00.25"))

      assert(sorted(TableReader.read(spark, dir)) == sorted(expected))
      assert(sorted(spark.read.format("graft").option("vectorizedRead", "false")
        .load(dir)) == sorted(expected))
      assert(sorted(TableReader.read(spark, dir, filter = Some(modern))) ==
        sorted(expected.filter(modern)))
      // Julian 1000-01-01 is stored as Gregorian 1000-01-06: a row-group
      // skip on the stored stats would drop the matching row
      val early = col("d") < lit(java.sql.Date.valueOf("1000-01-03"))
      assert(sorted(TableReader.read(spark, dir, filter = Some(early))).map(_.getLong(0)) ==
        Seq(1L))
      val exact = col("ts") === lit(java.sql.Timestamp.valueOf("2020-06-01 10:00:00.25"))
      assert(sorted(TableReader.read(spark, dir, filter = Some(exact))).map(_.getLong(0)) ==
        Seq(3L))

      val dead = input.filter(col("id") === 1L).select("ts")
      withConf(settings: _*) {
        graft.txn.TableWrites.appendEqualityDeletes(dir, dead, Seq("ts"))
      }
      val live = sorted(expected.filter(col("id") =!= 1L))
      assert(sorted(TableReader.read(spark, dir)) == live)
      assert(sorted(spark.read.format("graft").option("vectorizedRead", "false")
        .load(dir)) == live)
    }
  }

  test("a timestamp range filter prunes files by their stamped MICROS bounds") {
    val dir = Files.createTempDirectory("reader-ts-range").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    // two DSv2 appends (MICROS-encoded, bounds stamped): disjoint years
    for (year <- Seq(2020, 2021))
      spark.sql(s"""SELECT * FROM VALUES
        (${year}1L, TIMESTAMP'$year-01-01 00:00:00',
            TIMESTAMP_NTZ'$year-01-01 00:00:00'),
        (${year}2L, TIMESTAMP'$year-12-31 23:59:59.999999',
            TIMESTAMP_NTZ'$year-12-31 23:59:59.999999')
        AS t(id, ts, ntz)""").coalesce(1)
        .write.format("graft").mode("append").save(dir)
    val files = dataFiles(dir)
    assert(files.size == 2)
    val expected = spark.read.parquet(files: _*)
    def ids(df: DataFrame): Seq[Long] = df.select("id").as[Long].collect().toSeq.sorted
    val cut = "2021-01-01 00:00:00"
    val filters = Seq(
      col("ts") >= lit(java.sql.Timestamp.valueOf(cut)),
      col("ts") < lit(java.sql.Timestamp.valueOf(cut)),
      col("ntz") >= lit(java.time.LocalDateTime.parse(cut.replace(' ', 'T'))))
    // java8API turns the pushed TimestampType literal into an Instant
    for (java8 <- Seq("false", "true"); f <- filters) withConf(
        "spark.sql.datetime.java8API.enabled" -> java8) {
      val df = TableReader.read(spark, dir, filter = Some(f))
      assert(TableReader.plannedDataFiles(df).size == 1, s"$f (java8API=$java8)")
      assert(ids(df) == ids(expected.filter(f)) && ids(df).size == 2, f)
    }
  }

  test("a history-less table's schema does not follow the session's " +
    "parquet read settings") {
    val dir = Files.createTempDirectory("reader-schema").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    spark.sql("""SELECT 1L AS id, X'CAFE' AS b,
      TIMESTAMP_NTZ'2020-01-01 00:00:00' AS ntz""")
      .write.format("graft").mode("append").save(dir)
    val schema = spark.read.format("graft").load(dir).schema
    assert(schema.map(_.dataType) == Seq(org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.BinaryType,
      org.apache.spark.sql.types.TimestampNTZType))
    withConf("spark.sql.parquet.binaryAsString" -> "true",
        "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false") {
      assert(spark.read.format("graft").load(dir).schema == schema)
      assert(TableReader.read(spark, dir).schema == schema)
      assert(graft.txn.SchemaEvolution.footerSchema(dataFiles(dir).head)
        .map(f => f.name -> f.dataType) == schema.map(f => f.name -> f.dataType))
    }
  }

  test("the scan description redacts and truncates its pushed filters") {
    val dir = Files.createTempDirectory("reader-desc").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    Seq((1L, "secret42"), (2L, "b")).toDF("id", "v")
      .write.format("graft").mode("append").save(dir)
    def scanLine(df: DataFrame): String =
      df.queryExecution.executedPlan.toString.split("\n")
        .find(_.contains("PushedFilters: [")).getOrElse(fail("no graft scan"))
    withConf("spark.sql.redaction.string.regex" -> "secret\\d+") {
      val line = scanLine(TableReader.read(spark, dir,
        filter = Some(col("v") === "secret42")))
      assert(!line.contains("secret42") && line.contains("*********(redacted)"), line)
    }
    val many = TableReader.read(spark, dir,
      filter = Some(col("id").isin((1L to 500L): _*)))
    val filters = scanLine(many).split("PushedFilters: ", 2)(1)
      .split(" RuntimeFilters: ", 2)(0)
    assert(filters.startsWith("[") && filters.endsWith("...") &&
      filters.length <= spark.conf.get("spark.sql.maxMetadataStringLength").toInt,
      filters)
    assert(many.count() == 2L)
  }
}
