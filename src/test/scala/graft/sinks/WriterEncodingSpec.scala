package graft.sinks

import graft.SparkTestSession
import graft.txn.{FileTableCatalog, TableSnapshot}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.FileMetaData
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.sql.{Date, Timestamp}
import java.time.LocalDateTime

/** The DSv2 writer's parquet encoding is fixed in code: the footer
  * schema for the whole type lattice, and the session settings that
  * steer Spark's own parquet writer (timestamp type, calendar rebase,
  * legacy format) cannot reach the files. */
class WriterEncodingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val lattice = StructType.fromDDL(
    "l BIGINT NOT NULL, i INT, d DOUBLE, f FLOAT, s STRING, b BOOLEAN, " +
      "ts TIMESTAMP, ntz TIMESTAMP_NTZ, dt DATE, bin BINARY, " +
      "d7 DECIMAL(7,2), d12 DECIMAL(12,2), d25 DECIMAL(25,2), d38 DECIMAL(38,10), " +
      "arr ARRAY<INT>, sarr ARRAY<STRING>, m MAP<STRING,BIGINT>, " +
      "st STRUCT<a: INT, b: STRING, c: DECIMAL(25,2)>, " +
      "nest ARRAY<STRUCT<k: STRING, v: ARRAY<DECIMAL(12,2)>>>, " +
      "mm MAP<INT, MAP<STRING, TIMESTAMP>>") match {
    case StructType(fields) => StructType(fields.map {
      case f if f.name == "arr" => f.copy(dataType = ArrayType(IntegerType, containsNull = false))
      case f if f.name == "m" => f.copy(dataType = MapType(StringType, LongType, valueContainsNull = false))
      case f => f
    })
  }

  /** The footer schema graft's former hand-written Group codec emitted
    * for [[lattice]] (captured from it verbatim); the Spark encoder must
    * produce the same fields. Only the message name differs. */
  private val CodecSchema = MessageTypeParser.parseMessageType(
    """message graft_row {
      |  required int64 l;
      |  optional int32 i;
      |  optional double d;
      |  optional float f;
      |  optional binary s (STRING);
      |  optional boolean b;
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional int64 ntz (TIMESTAMP(MICROS,false));
      |  optional int32 dt (DATE);
      |  optional binary bin;
      |  optional int32 d7 (DECIMAL(7,2));
      |  optional int64 d12 (DECIMAL(12,2));
      |  optional fixed_len_byte_array(11) d25 (DECIMAL(25,2));
      |  optional fixed_len_byte_array(16) d38 (DECIMAL(38,10));
      |  optional group arr (LIST) {
      |    repeated group list {
      |      required int32 element;
      |    }
      |  }
      |  optional group sarr (LIST) {
      |    repeated group list {
      |      optional binary element (STRING);
      |    }
      |  }
      |  optional group m (MAP) {
      |    repeated group key_value {
      |      required binary key (STRING);
      |      required int64 value;
      |    }
      |  }
      |  optional group st {
      |    optional int32 a;
      |    optional binary b (STRING);
      |    optional fixed_len_byte_array(11) c (DECIMAL(25,2));
      |  }
      |  optional group nest (LIST) {
      |    repeated group list {
      |      optional group element {
      |        optional binary k (STRING);
      |        optional group v (LIST) {
      |          repeated group list {
      |            optional int64 element (DECIMAL(12,2));
      |          }
      |        }
      |      }
      |    }
      |  }
      |  optional group mm (MAP) {
      |    repeated group key_value {
      |      required int32 key;
      |      optional group value (MAP) {
      |        repeated group key_value {
      |          required binary key (STRING);
      |          optional int64 value (TIMESTAMP(MICROS,true));
      |        }
      |      }
      |    }
      |  }
      |}""".stripMargin)

  private def dec(s: String) = new java.math.BigDecimal(s)

  private def latticeRows: Seq[Row] = Seq(
    Row(1L, 2, 3.5, 4.5f, "s1", true,
      Timestamp.valueOf("2024-03-01 12:00:00.123456"),
      LocalDateTime.parse("2024-03-01T12:00:00.654321"),
      Date.valueOf("2024-03-01"), Array[Byte](1, 2, 3),
      dec("-12345.67"), dec("1234567890.12"),
      dec("-12345678901234567890123.45"),
      dec("1234567890123456789012345678.0123456789"),
      Seq(1, 2, 3), Seq("a", null, "c"), Map("k1" -> 1L, "k2" -> 2L),
      Row(7, "b", dec("99.99")),
      Seq(Row("k", Seq(dec("1.25"), null)), null),
      Map(1 -> Map("x" -> Timestamp.valueOf("1999-12-31 23:59:59")), 2 -> null)),
    Row(2L, null, null, null, null, null, null, null, null, null,
      null, null, null, null, null, null, null, null, null, null),
    Row(3L, -1, Double.NaN, Float.MinValue, "", false,
      Timestamp.valueOf("1900-01-01 00:00:00"),
      LocalDateTime.parse("1900-01-01T00:00:00"),
      Date.valueOf("1900-01-01"), Array.emptyByteArray,
      dec("0.01"), dec("-0.01"), dec("0.00"), dec("-0.0000000001"),
      Seq.empty[Int], Seq.empty[String], Map.empty[String, Long],
      Row(null, null, null), Seq.empty[Row], Map.empty[Int, Map[String, Timestamp]]))

  private def freshTable(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    dir
  }

  private def append(df: DataFrame, dir: String): Seq[String] = {
    df.write.format("graft").mode("append").save(dir)
    FileTableCatalog.loadOrThrow(dir).files.filter(_.content == "data").map(_.path)
  }

  private def footer(path: String): FileMetaData = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(path), new Configuration()))
    try r.getFooter.getFileMetaData finally r.close()
  }

  private def latticeDf: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(latticeRows, 1), lattice)

  /** Set `confs` on the shared session for `body`, restoring after. */
  private def withSessionConf[A](confs: (String, String)*)(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Spark's footer key for files written with a calendar rebase. */
  private val LegacyKeys = Set(
    "org.apache.spark.legacyDateTime", "org.apache.spark.legacyINT96")

  test("DSv2 writer footer fields equal the codec schema over the full lattice") {
    val dir = freshTable("enc-lattice")
    val files = append(latticeDf, dir)
    assert(files.nonEmpty)
    files.foreach { p =>
      val meta = footer(p)
      assert(meta.getSchema.getFields == CodecSchema.getFields,
        s"$p footer:\n${meta.getSchema}")
      assert(LegacyKeys.intersect(meta.getKeyValueMetaData.keySet.toArray
        .map(_.toString).toSet).isEmpty)
    }
    // Spark's own reader resolves every shape back to the lattice
    val back = spark.read.parquet(files: _*)
    // (Spark's reader reports every nested level nullable)
    assert(back.schema.map(f => (f.name, f.dataType.catalogString)) ==
      lattice.map(f => (f.name, f.dataType.catalogString)))
    def rendered(df: DataFrame): Seq[String] =
      df.withColumn("bin", org.apache.spark.sql.functions.hex(df("bin")))
        .orderBy("l").collect().map(_.toString).toSeq
    assert(rendered(back) == rendered(latticeDf))
  }

  test("session parquet settings cannot change the files; pre-1582 values " +
    "round-trip through both graft readers") {
    import org.apache.spark.sql.functions._
    val oldRows = Seq(
      Row(1L, Date.valueOf("1000-01-01"),
        Timestamp.valueOf("1000-01-01 12:34:56.789"),
        LocalDateTime.parse("1000-01-01T12:34:56.789")),
      Row(2L, Date.valueOf("1582-10-04"),
        Timestamp.valueOf("1582-10-04 00:00:00"),
        LocalDateTime.parse("1582-10-04T00:00:00")),
      Row(3L, Date.valueOf("2020-02-29"),
        Timestamp.valueOf("2020-02-29 23:59:59.999999"),
        LocalDateTime.parse("2020-02-29T23:59:59.999999")))
    val oldSchema = StructType.fromDDL(
      "id BIGINT, d DATE, ts TIMESTAMP, ntz TIMESTAMP_NTZ")
    val old = spark.createDataFrame(spark.sparkContext.parallelize(oldRows, 1), oldSchema)
    // the calendar-independent internal values: epoch days and micros
    def internal(df: DataFrame): Seq[Row] =
      df.select(col("id"), unix_date(col("d")), unix_micros(col("ts")),
          unix_micros(col("ntz").cast("timestamp")))
        .orderBy("id").collect().toSeq
    val expected = internal(old)

    val (latticeFiles, oldDir) = withSessionConf(
        "spark.sql.parquet.outputTimestampType" -> "INT96",
        "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY",
        "spark.sql.parquet.int96RebaseModeInWrite" -> "LEGACY",
        "spark.sql.parquet.writeLegacyFormat" -> "true") {
      val dir = freshTable("enc-old")
      append(old, dir)
      (append(latticeDf, freshTable("enc-session")), dir)
    }
    latticeFiles.foreach { p =>
      val meta = footer(p)
      assert(meta.getSchema.getFields == CodecSchema.getFields,
        s"$p footer under session overrides:\n${meta.getSchema}")
      assert(LegacyKeys.intersect(meta.getKeyValueMetaData.keySet.toArray
        .map(_.toString).toSet).isEmpty)
    }

    val columnar = spark.read.format("graft").load(oldDir)
    val scan = columnar.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.supportsColumnar)
    assert(internal(columnar) == expected, "columnar reader")
    val rowPath = spark.read.format("graft").option("vectorizedRead", false).load(oldDir)
    assert(internal(rowPath) == expected, "row reader")
  }
}
