package graft.sources

import graft.SparkTestSession
import graft.core._
import graft.sinks.RollingWriter
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

class ScanPlannerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def writeOne(df: org.apache.spark.sql.DataFrame, target: String): Long = {
    val tmp = Files.createTempDirectory("sp").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(target).getParent)
    Files.move(part.toPath, Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
    new File(target).length()
  }

  test("consecutive-run grouping preserves reference semantics") {
    // consecutive runs, NOT global distinct (datafusion_processor.rs:481-504)
    val t = Seq(
      FileScanTask("a", FileContent.EqualityDeletes, 1, equalityIds = Seq("id")),
      FileScanTask("b", FileContent.EqualityDeletes, 1, equalityIds = Seq("id")),
      FileScanTask("c", FileContent.EqualityDeletes, 1, equalityIds = Seq("name")),
      FileScanTask("d", FileContent.EqualityDeletes, 1, equalityIds = Seq("id")))
    val runs = ScanPlanner.consecutiveRuns(t)(_.equalityIds)
    assert(runs.map(_.map(_.filePath)) == Seq(Seq("a", "b"), Seq("c"), Seq("d")))
  }

  test("oversized data file splits into tiling byte-range tasks") {
    val t = FileScanTask("/t/big.parquet", FileContent.Data, 300L,
      recordCount = 10, sequenceNumber = 7)
    val parts = ScanPlanner.splitTask(t, targetSplitBytes = 128L)
    assert(parts.size == 3)
    // ranges tile the file exactly, in order
    assert(parts.map(p => (p.start, p.lengthBytes)) ==
      Seq((0L, 128L), (128L, 128L), (256L, 44L)))
    assert(parts.map(_.lengthBytes).sum == t.lengthBytes)
    // metadata carried through; record count apportioned without loss
    assert(parts.forall(p => p.sequenceNumber == 7 && p.filePath == t.filePath))
    assert(parts.map(_.recordCount).sum == t.recordCount)
    // small files and delete files never split
    assert(ScanPlanner.splitTask(t.copy(lengthBytes = 100), 128L).size == 1)
    assert(ScanPlanner.splitTask(
      t.copy(content = FileContent.PositionDeletes), 128L) ==
      Seq(t.copy(content = FileContent.PositionDeletes)))
    // a split read still scans each physical file exactly once
    val dir = Files.createTempDirectory("sp-split").toString
    val f1 = s"$dir/d1.parquet"
    writeOne(spark.range(0, 1000).toDF("id"), f1)
    val ranges = ScanPlanner.splitTask(
      FileScanTask(f1, FileContent.Data, new File(f1).length()), 1024L)
    assert(ranges.size >= 2, "fixture file should split")
    val df = ScanPlanner.readDataFiles(spark, ranges,
      needSeqNum = false, needFilePathAndPos = false)
    assert(df.count() == 1000, "each row read exactly once despite range tasks")
  }

  test("byte-range tasks drive the physical scan partitioning") {
    // one multi-row-group file, ~hundreds of KB
    val f = s"${Files.createTempDirectory("sp-range")}/big.parquet"
    val bytes = writeOne(
      (0 until 200000).map(i => (i.toLong, s"val_$i")).toDF("id", "v"), f)
    val whole = Seq(FileScanTask(f, FileContent.Data, bytes, recordCount = 200000))

    // unsplit: one task -> Spark's default session splitting (1 partition
    // for a file this small under the 128 MiB default)
    val dfWhole = ScanPlanner.readDataFiles(spark, whole,
      needSeqNum = false, needFilePathAndPos = false)
    val wholeParts = dfWhole.rdd.getNumPartitions

    // split into ~8 byte-range tasks: the engine's plan must change the
    // actual scan fan-out, not just the model
    val target = bytes / 8 + 1
    val ranges = ScanPlanner.splitTasks(whole, target)
    assert(ranges.size >= 8 - 1 && ranges.forall(_.lengthBytes <= target))
    val dfRanges = ScanPlanner.readDataFiles(spark, ranges,
      needSeqNum = false, needFilePathAndPos = false)
    val rangeParts = dfRanges.rdd.getNumPartitions
    assert(rangeParts > wholeParts,
      s"range tasks must raise scan parallelism: $rangeParts vs $wholeParts")

    // the scoped setting must NOT leak into the caller's session
    assert(spark.conf.get("spark.sql.files.maxPartitionBytes") != target.toString)
    // and the data still reads completely
    assert(dfRanges.count() == 200000)
  }

  test("fanout partitioned write routes rows to partition dirs") {
    val outDir = Files.createTempDirectory("sp-fanout").toString + "/out"
    val df = Seq((1, "x", "p1"), (2, "y", "p2"), (3, "z", "p1"))
      .toDF("id", "v", "part")
    val req = RewriteFilesRequest(
      InputFileScanTasks(Nil, Nil, Nil), null,
      CompactionConfig(targetPartitions = 2), outDir)
    val written = RollingWriter.write(df, req, sequenceNumber = 5,
      partitionSpec = graft.core.PartitionTransform.identity(Seq("part")))
    assert(written.nonEmpty)
    assert(written.forall(_.sequenceNumber == 5))
    // fanout directories use the MIRRORED partition columns...
    assert(written.exists(_.filePath.contains("__p_part=p1")))
    assert(written.exists(_.filePath.contains("__p_part=p2")))
    // ...so committed leaf files stay self-contained (the original column
    // is IN the data, not only in the directory name)
    val leaf = spark.read.parquet(written.map(_.filePath): _*)
    assert(leaf.columns.toSet == Set("id", "v", "part"))
    assert(leaf.count() == 3)
    val back = spark.read.parquet(outDir)
    assert(back.count() == 3)
    assert(back.columns.toSet == Set("id", "v", "part", "__p_part"))
  }

  test("metrics record compaction counters") {
    val m = new CompactionMetrics
    val l = m.Labels("cat", "tbl")
    m.incCommit(l); m.addRewrittenFiles(l, 4); m.addAddedFiles(l, 2)
    m.addRewrittenBytes(l, 1024); m.observeDuration(l, 2.5)
    m.observeCommitDuration(l, 0.05)
    assert(m.counterValue("compaction_commit_counter", l) == 1)
    assert(m.counterValue("compaction_rewritten_files_count", l) == 4)
    assert(m.counterValue("compaction_added_files_count", l) == 2)
    assert(m.counterValue("compaction_rewritten_bytes", l) == 1024)
    assert(m.snapshot.exists { case (k, v) =>
      k.startsWith("compaction_commit_counter") && v == 1 })
  }
}
