package graft.compaction

import graft.SparkTestSession
import graft.core._
import graft.sinks.RollingWriter
import graft.sources.TableReader
import graft.txn.{TableMetadata, TableSnapshot, TableWrites}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Compaction's input and its validation: the group's live rows come
  * from a scan pinned to the run's snapshot and scoped to the group's
  * data files, count validation compares a fresh count of that read
  * against the committed files' record counts, and strict validation
  * diffs the rows. The executors below corrupt a correct rewrite after
  * the fact, so validation has something to catch. */
class CompactionInputSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `files` appended files of 10 ids each; with `deletes`, plus an
    * equality delete of ids {5, 25} and a position delete of the first
    * file's row 0. */
  private def mkTable(files: Int, deletes: Boolean): String = {
    val dir = Files.createTempDirectory("graft-cin").toString
    TableMetadata.commit(dir, TableSnapshot(1, 1, 0, Nil))
    (0 until files).foreach { b =>
      TableWrites.appendData(dir,
        (b * 10 until (b + 1) * 10).map(_.toLong).toDF("id").coalesce(1))
    }
    if (deletes) {
      val f0 = TableMetadata.loadOrThrow(dir).files
        .filter(_.content == "data").minBy(_.sequenceNumber)
      TableWrites.appendEqualityDeletes(dir, Seq(5L, 25L).toDF("id"), Seq("id"))
      TableWrites.appendPositionDeletes(dir,
        Seq((f0.path, 0L)).toDF("file_path", "pos"))
    }
    dir
  }

  /** The real rewrite, then `corrupt` applied to its first output file:
    * the corrupted rows land in a new file that replaces it. */
  private def corrupting(corrupt: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame): CompactionExecutor =
    new CompactionExecutor {
      override def rewriteFiles(spark: SparkSession, request: RewriteFilesRequest,
          sequenceNumber: Long): RewriteFilesResponse = {
        val r = SparkCompactionExecutor.rewriteFiles(spark, request, sequenceNumber)
        val victim = r.dataFiles.head
        val outDir = request.outputDir + "-corrupt"
        corrupt(spark.read.parquet(victim.filePath)).coalesce(1)
          .write.parquet(outDir)
        r.copy(dataFiles = r.dataFiles.tail ++
          RollingWriter.listDataFiles(outDir, sequenceNumber))
      }
    }

  private def compact(dir: String, executor: CompactionExecutor,
      config: CompactionConfig) =
    Compaction.builder().withSpark(spark).withTableDir(dir)
      .withExecutor(executor).withConfig(config).build().compact()

  private val validated = CompactionConfig(enableValidateCompaction = true)

  test("count validation catches an executor that loses one live row") {
    Seq(true, false).foreach { deletes =>
      val dir = mkTable(4, deletes)
      val dropOne = corrupting { df =>
        val n = df.count()
        df.orderBy("id").limit((n - 1).toInt)
      }
      val e = intercept[CompactionError.Validation] {
        compact(dir, dropOne, validated)
      }
      assert(e.getMessage.contains("row count mismatch"),
        s"deletes=$deletes: ${e.getMessage}")
    }
  }

  test("strict validation catches a changed value under an equal count") {
    val dir = mkTable(4, deletes = true)
    val changeOne = corrupting { df =>
      val first = df.agg(org.apache.spark.sql.functions.min("id")).head().getLong(0)
      df.withColumn("id",
        when(col("id") === first, lit(1000000L)).otherwise(col("id")))
    }
    // count validation cannot see it...
    compact(dir, changeOne, validated)
    // ...strict validation does
    val dir2 = mkTable(4, deletes = true)
    val e = intercept[CompactionError.Validation] {
      compact(dir2, changeOne, validated.copy(strictValidation = true))
    }
    assert(e.getMessage.contains("content mismatch"), e.getMessage)
  }

  test("a pinned, file-scoped read holds only the scoped files, also " +
    "for metadata-answered COUNT(*) and LIMIT") {
    val dir = mkTable(4, deletes = false)
    val snap = TableMetadata.loadOrThrow(dir)
    val data = snap.files.filter(_.content == "data").sortBy(_.sequenceNumber)
    val scope = data.take(2).map(_.path).toSet
    def scoped = TableReader.read(spark, dir, asOfVersion = Some(snap.version),
      dataFiles = Some(scope))
    // no delete file: COUNT(*) is answered from the snapshot metadata,
    // which must be the scoped metadata
    assert(scoped.count() == 20L)
    assert(scoped.as[Long].collect().toSet == (0L until 20L).toSet)
    assert(TableReader.plannedDataFiles(scoped).toSet == scope)
    assert(scoped.limit(5).as[Long].collect().forall(_ < 20L))
    // a later commit does not move the pinned, scoped read
    TableWrites.appendData(dir, Seq(100L).toDF("id").coalesce(1))
    assert(scoped.count() == 20L)
    // a scoped file the snapshot does not hold fails the read
    val e = intercept[CompactionError.Config] {
      TableReader.read(spark, dir, asOfVersion = Some(snap.version),
        dataFiles = Some(scope + s"$dir/data/missing.parquet")).count()
    }
    assert(e.getMessage.contains("not in snapshot"), e.getMessage)
  }

  test("the compaction's split target reaches the scoped scan's " +
    "row-group splitting") {
    val dir = Files.createTempDirectory("graft-cin-split").toString
    TableMetadata.commit(dir, TableSnapshot(1, 1, 0, Nil))
    // small row groups, so one file holds several
    spark.conf.set("parquet.block.size", "16384")
    try TableWrites.appendData(dir, spark.range(50000L).toDF("id").coalesce(1))
    finally spark.conf.unset("parquet.block.size")
    val snap = TableMetadata.loadOrThrow(dir)
    val file = snap.files.filter(_.content == "data").head
    def tasksAt(split: Long): Int = {
      val request = RewriteFilesRequest(
        InputFileScanTasks(Seq(file.toTask), Nil, Nil), null,
        CompactionConfig(splitTargetBytes = split), s"$dir/unused",
        source = Some(SnapshotRef(dir, snap.version,
          graft.txn.FileTableCatalog)))
      val rows = SparkCompactionExecutor.groupRows(spark, request)
      assert(rows.count() == 50000L)
      rows.rdd.getNumPartitions
    }
    assert(tasksAt(CompactionConfig().splitTargetBytes) == 1)
    assert(tasksAt(file.sizeBytes / 4) > 1,
      s"a ${file.sizeBytes}-byte file must split under a smaller target")
  }

  test("validated incremental and partial-progress runs compare each " +
    "group against its own scoped input") {
    // incremental: one large file stays out of the rewrite set
    val dir = mkTable(3, deletes = false)
    TableWrites.appendData(dir, spark.range(1000L, 60000L).toDF("id").coalesce(1))
    val big = TableMetadata.loadOrThrow(dir).files
      .filter(_.content == "data").maxBy(_.sizeBytes)
    Compaction.builder().withSpark(spark).withTableDir(dir)
      .withConfig(validated.copy(
        compactionType = CompactionType.Incremental(0.5),
        targetFileSizeBytes = big.sizeBytes))
      .build().compact()
    val after = TableMetadata.loadOrThrow(dir).files
    assert(after.exists(_.path == big.path), "the large file must be kept")
    assert(TableReader.read(spark, dir).count() == 30L + 59000L)
    // partial progress, with and without deletes
    Seq(true, false).foreach { deletes =>
      val d = mkTable(6, deletes)
      val expected = TableReader.read(spark, d).as[Long].collect().toSet
      Compaction.builder().withSpark(spark).withTableDir(d)
        .withConfig(validated.copy(partialProgressMaxCommits = 3))
        .build().compact()
      assert(TableReader.read(spark, d).as[Long].collect().toSet == expected)
    }
  }

  /** Spark jobs `body` starts, counted once a marker job run after it
    * has ended (the listener bus delivers events in order). */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new AtomicInteger(0)
    val markerJob = new AtomicLong(-1L)
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "marker"))
          markerJob.set(e.jobId)
        else jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) markerDone.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("marker", "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerDone.await(60, TimeUnit.SECONDS), "marker job end never arrived")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("a validated compact() runs no more Spark jobs as equality-delete " +
    "files accumulate") {
    def withEqDeletes(n: Int): String = {
      val dir = mkTable(4, deletes = false)
      (0 until n).foreach { i =>
        TableWrites.appendEqualityDeletes(dir, Seq(i.toLong * 3).toDF("id"), Seq("id"))
      }
      dir
    }
    val one = withEqDeletes(1)
    val six = withEqDeletes(6)
    // warm-up run: first-use class loading and caches stay out of the count
    compact(mkTable(4, deletes = true), SparkCompactionExecutor, validated)
    val jobsOne = jobsOf(compact(one, SparkCompactionExecutor, validated))
    val jobsSix = jobsOf(compact(six, SparkCompactionExecutor, validated))
    info(s"Spark jobs: 1 equality-delete file $jobsOne, 6 files $jobsSix")
    assert(jobsSix <= jobsOne,
      s"jobs grew with equality-delete files: 1 file $jobsOne, 6 files $jobsSix")
    assert(TableReader.read(spark, six).count() == 40L - 6L)
  }
}
