package graft.sources

import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetReadSupport, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

/** Spark's own parquet reader, the one decoder behind every graft read:
  * the DSv2 scan, the streaming tails and the delete-file loaders. Each
  * call opens one file (or one byte range of it) through Spark's
  * `ParquetPartitionReaderFactory` — vectorized where Spark's batch
  * gate allows, parquet-mr rows otherwise — so INT96, TIMESTAMP(MILLIS),
  * the Julian rebase, nested types, type promotion and row-group
  * filtering are Spark's, not graft's.
  *
  * Files are read under their PHYSICAL column names, typed by the table
  * (a promoted column reads its narrower stored type widened). A name the
  * file lacks reads as null. Adding [[RowIndex]] to the read schema makes
  * each row carry its file-absolute position, across byte ranges and
  * skipped row groups.
  *
  * Built on the Spark driver per scan ([[apply]]): the session's SQL settings
  * are copied once, with `vectorizedRead=false` turning the vectorized
  * reader off for this scan only, and the hadoop conf travels as entries
  * inside this object — once per scan, rebuilt once per file read. Dates
  * and timestamps read in the CORRECTED calendar unless the file's own
  * footer says Spark wrote it rebased, as `spark.read.parquet` does. */
private[graft] final class SparkFileReader(sqlSettings: Map[String, String],
    confEntries: Array[(String, String)]) extends Serializable {

  // SQLConf does not survive serialization; rebuilt once per task
  @transient private lazy val sqlConf: SQLConf = {
    val c = new SQLConf
    sqlSettings.foreach { case (k, v) => c.setConfString(k, v) }
    c
  }

  private def factory(schema: StructType, filters: Seq[Filter])
      : ParquetPartitionReaderFactory = {
    // every column is read nullable: one a file lacks reads as null
    val readSchema = StructType(schema.fields.map(_.copy(nullable = true)))
    val conf = hadoopConf
    val json = readSchema.json
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, json)
    // what Spark's own parquet scan sets before its readers open files
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    Seq(SQLConf.CASE_SENSITIVE, SQLConf.NESTED_SCHEMA_PRUNING_ENABLED,
      SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
      SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG,
      SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION
    ).foreach(e => conf.setBoolean(e.key, sqlConf.getConf(e).asInstanceOf[Boolean]))
    ParquetPartitionReaderFactory(sqlConf, new SparkFileReader.LocalConf(conf),
      readSchema, readSchema, new StructType(), filters.toArray, None,
      new ParquetOptions(SparkFileReader.ReadOptions, sqlConf))
  }

  private def file(path: String, start: Long, end: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path),
      start, end - start)

  /** Rows of `path` whose row group starts in `[start, end)`. */
  def rows(path: String, readSchema: StructType, filters: Seq[Filter] = Nil,
      start: Long = 0L, end: Long = Long.MaxValue): PartitionReader[InternalRow] =
    factory(readSchema, filters).buildReader(file(path, start, end))

  /** [[rows]] as Spark's columnar batches. */
  def batches(path: String, readSchema: StructType, filters: Seq[Filter] = Nil,
      start: Long = 0L, end: Long = Long.MaxValue): PartitionReader[ColumnarBatch] =
    factory(readSchema, filters).buildColumnarReader(file(path, start, end))

  /** The hadoop conf this reader opens files with. */
  def hadoopConf: org.apache.hadoop.conf.Configuration =
    graft.io.FileIO.confFrom(confEntries)

  /** Spark's batch gate (`supportBatch`) for reads of `schema`. */
  def batchable(schema: StructType): Boolean =
    factory(schema, Nil).supportColumnarReads(null)
}

private[graft] object SparkFileReader {

  /** The column Spark fills with each row's position in its file. */
  val RowIndex: String = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME
  val RowIndexField: StructField = StructField(RowIndex, LongType)

  private val ReadOptions = Map(
    ParquetOptions.DATETIME_REBASE_MODE -> "CORRECTED",
    ParquetOptions.INT96_REBASE_MODE -> "CORRECTED")

  /** A reader for the active session; `vectorized = false` pins
    * parquet-mr's row reader. */
  def apply(vectorized: Boolean = true): SparkFileReader = {
    val settings = SQLConf.get.getAllConfs
    new SparkFileReader(
      if (vectorized) settings
      else settings + (SQLConf.PARQUET_VECTORIZED_READER_ENABLED.key -> "false"),
      graft.io.FileIO.hadoopConfEntries())
  }

  /** The factory takes its hadoop conf as a broadcast; this one is the
    * conf itself, already shipped inside the reader. */
  private final class LocalConf(conf: org.apache.hadoop.conf.Configuration)
      extends Broadcast[SerializableConfiguration](-1L) {
    private val value0 = new SerializableConfiguration(conf)
    override protected def getValue(): SerializableConfiguration = value0
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }
}
