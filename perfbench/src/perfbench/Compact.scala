package perfbench

import graft.compaction.{Compaction, SparkCompactionExecutor}
import graft.core.{CompactionConfig, CompactionMetrics, RetryConfig, RewriteFilesRequest}
import graft.sinks.RollingWriter
import graft.sources.ScanPlanner
import graft.txn.{CommitManager, FileEntry, FileTableCatalog, TableMetadata, TableSnapshot}
import graft.validate.Validator
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.io.File

/** `compact`: one op restores the pre-image (untimed) and runs a full,
  * validated `compact()` — every table layer once: load, plan, scan,
  * delete application, write, commit and validate.
  *
  * The pre-image is a lineitem-shaped table of small files landed over
  * 20 append batches, with position deletes on ~5 % of rows and
  * equality deletes on `(l_orderkey, l_linenumber)` and `(l_suppkey)` at
  * sequence numbers interleaved with the appends, so the strict
  * `data.seq < delete.seq` rule decides which rows die. */
final class Compact(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import Compact._

  private val tableDir = s"$dir/table"
  private val template = s"$dir/template"
  private val config = CompactionConfig(enableValidateCompaction = true)
  private val registry = new CompactionMetrics
  private val labels = registry.Labels("local", tableDir)
  private var expected = (0L, 0L)
  /** Bytes of the pre-image's data and delete files. */
  private var inputBytes = 0L

  def generate(): Unit = {
    Dirs.delete(dir)
    expected = build()
    inputBytes = TableMetadata.loadOrThrow(tableDir).files.map(_.sizeBytes).sum
    Dirs.copy(tableDir, template)
  }

  def cycle = 1

  def warmUp(rec: Recorder): Unit = op(rec)

  def op(rec: Recorder): Unit = {
    restore()
    rec.op("compact")(compact())(_ => verify())
    rec.count("compact_in_bytes", inputBytes.toDouble)
  }

  private def restore(): Unit = {
    Dirs.delete(tableDir)
    Dirs.copy(template, tableDir)
  }

  private def compact() =
    Compaction.builder().withSpark(spark).withTableDir(tableDir)
      .withConfig(config).withMetrics(registry).build().compact()

  /** Post-compaction snapshot against the oracle: no delete file is left
    * and the data files hold exactly the expected live rows. */
  private def verify(): Option[String] = {
    val snap = TableMetadata.loadOrThrow(tableDir)
    val data = snap.files.filter(_.content == "data")
    if (data.size != snap.files.size) return Some("delete files survived the compaction")
    val got = Gen.fingerprint(spark.read.parquet(data.map(_.path): _*)
      .select(Gen.lineitemCols.map(col): _*))
    if (got != expected) Some(s"live rows (count, hash) $got, expected $expected")
    else None
  }

  /** Writes the pre-image table and returns the oracle's fingerprint of
    * its live rows. */
  private def build(): (Long, Long) = {
    val versions = Gen.lineitemVersions(spark, seed, shape)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      versions.select((col("batch") +: Gen.lineitemCols.map(col)): _*)
        .repartition(WriteTasks, col("batch"), pmod(Gen.h(seed, "f", col("l_orderkey")),
          lit(shape.filesPerBatch.toLong)))
        .write.partitionBy("batch").parquet(s"$tableDir/data/appends")
      val data = entries(s"$tableDir/data/appends", "data", Nil, "batch")(b => 2L * b + 1)

      versions.filter(col("version") === 1)
        .select(col("l_orderkey"), col("l_linenumber"),
          coalesce(col("b2") - 1, col("del_after")).as("k"))
        .filter(col("k").isNotNull)
        .repartition(1).write.partitionBy("k").parquet(s"$tableDir/data/eq-line")
      val eqLine = entries(s"$tableDir/data/eq-line", "equality-deletes",
        Seq("l_orderkey", "l_linenumber"), "k")(k => 2L * k + 2)

      Gen.suppDeleteAfter.map { k =>
        spark.range(shape.suppliers)
          .filter(Gen.suppDeleted(seed, k, col("id")))
          .select(col("id").as("l_suppkey"), lit(k).as("k"))
      }.reduce(_ unionByName _)
        .repartition(1).write.partitionBy("k").parquet(s"$tableDir/data/eq-supp")
      val eqSupp = entries(s"$tableDir/data/eq-supp", "equality-deletes",
        Seq("l_suppkey"), "k")(k => 2L * k + 2)

      // locate the position-deleted rows by reading the data files back
      val pathOf = data.map(e => new File(e.path).getParentFile.getName + "/" +
        new File(e.path).getName -> e.path)
      val paths = spark.createDataFrame(pathOf).toDF("rel", "file_path")
      val posSeq = 2L * shape.batches + 1
      spark.read.parquet(data.map(_.path): _*)
        .filter(Gen.posDeleted(seed))
        .select(regexp_extract(col("_metadata.file_path"), "([^/]+/[^/]+)$", 1).as("rel"),
          col("_metadata.row_index").as("pos"))
        .join(broadcast(paths), "rel")
        .select("file_path", "pos")
        .repartition(1).sortWithinPartitions("file_path", "pos")
        .write.option("maxRecordsPerFile", posDeleteFileRows)
        .parquet(s"$tableDir/data/pos")
      val pos = entries(s"$tableDir/data/pos", "position-deletes", Nil, "")(_ => posSeq)

      TableMetadata.commit(tableDir, TableSnapshot(version = 1, schemaId = 1,
        lastSequenceNumber = posSeq, files = data ++ eqLine ++ eqSupp ++ pos))
      Gen.fingerprint(Gen.lineitemLive(versions, seed))
    } finally versions.unpersist()
  }

  /** File entries of the parquet files under `root`, each at the
    * sequence number its `part=<n>` directory maps to. */
  private def entries(root: String, content: String, eqIds: Seq[String],
      part: String)(seq: Int => Long): Seq[FileEntry] =
    Dirs.parquetFiles(root).map { case (path, len) =>
      val n = if (part.isEmpty) 0
        else s"$part=(\\d+)".r.findFirstMatchIn(path).get.group(1).toInt
      Gen.fileEntry(path, len, content, seq(n), eqIds)
    }

  /** `compact()` replayed through the same public calls, one span each. */
  def traced(t: Tracer, rec: Recorder): Unit = {
    restore()
    val commits0 = registry.counterValue("compaction_commit_counter", labels)
    val failed0 = registry.counterValue("compaction_commit_failed_counter", labels)
    rec.op("traced") {
      t.op("compact") {
        val snap = t.span("txn.load")(FileTableCatalog.load(tableDir).get)
        val tasks = t.span("sources.plan") {
          val all = ScanPlanner.toInputTasks(snap.files.map(_.toTask))
          all.copy(dataFiles = ScanPlanner.splitTasks(all.dataFiles, config.splitTargetBytes))
        }
        val rowsOut = t.span("plans.live_rows") {
          val obs = Observation("live")
          SparkCompactionExecutor.liveRows(spark, tasks)
            .observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          obs.get("n").asInstanceOf[Long]
        }
        val outDir = s"$tableDir/data/${config.dataFilePrefix}-" +
          java.util.UUID.randomUUID().toString.take(8)
        val request = RewriteFilesRequest(tasks, null, config, outDir,
          schemas = snap.schemas, currentSchemaId = snap.schemaId)
        val seq = tasks.dataFiles.map(_.sequenceNumber).max
        val written = t.span("sinks.write") {
          RollingWriter.write(SparkCompactionExecutor.liveRows(spark, tasks), request, seq)
        }
        t.span("txn.commit") {
          new CommitManager(tableDir, RetryConfig(), registry, labels)
            .rewriteFiles(written, snap.files.map(_.path).toSet, snap.schemaId, seq)
        }
        t.span("validate") {
          val input = SparkCompactionExecutor.liveRows(spark, tasks)
          val output = spark.read.parquet(written.map(_.filePath): _*)
            .select(input.columns.map(col).toSeq: _*)
          Validator.validate(input, output)
        }
        val bytes = written.map(_.fileSizeBytes)
        rec.count("live_rows_in", snap.files.filter(_.content == "data").map(_.recordCount).sum.toDouble)
        rec.count("live_rows_out", rowsOut.toDouble)
        rec.facts ++= Seq(
          "bytes_written" -> bytes.sum, "files_written" -> bytes.size,
          "file_fill_frac" -> (bytes.sum.toDouble / bytes.size) /
            math.min(config.targetFileSizeBytes, bytes.sum).toDouble)
      }
    }(_ => verify())
    rec.facts ++= Seq(
      "commit_attempts" -> (registry.counterValue("compaction_commit_counter", labels) - commits0),
      "commit_failed" -> (registry.counterValue("compaction_commit_failed_counter", labels) - failed0))
  }

  override def finish(rec: Recorder): Unit =
    rec.facts ++= Seq("live_rows" -> expected._1,
      "out_data_bytes" -> TableMetadata.loadOrThrow(tableDir).files.map(_.sizeBytes).sum)
}

object Compact {
  /** About 100k rows in 20 data files over 20 batches. */
  val shape = Gen.CompactShape(orders = 25000L, batches = 20, filesPerBatch = 1,
    suppliers = 1000L, parts = 20000L)

  /** Rows per position-delete file: one file. */
  val posDeleteFileRows = 10000L
  val WriteTasks = 4
}
