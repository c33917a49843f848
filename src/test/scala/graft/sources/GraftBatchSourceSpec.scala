package graft.sources

import graft.SparkTestSession
import graft.core.CompactionError
import graft.txn.{FileTableCatalog, SchemaEvolution, SchemaOp, TableSnapshot, TableWrites}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** DSv2 batch surface: MoR read equivalence vs TableReader, time
  * travel, pushdown (columns pruned at the reader, filters pruning
  * files), metadata statistics, the append writer's commit/abort
  * safety, and the evolved-table refusal. */
class GraftBatchSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Table with data + eq-delete + pos-delete and a later append that
    * survives the delete — every MoR code path in one fixture. */
  private def mkMorTable(): String = {
    val dir = Files.createTempDirectory("graft-batch").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir, // seq 1
      (1L to 20L).map(i => (i, s"v$i")).toDF("id", "name").coalesce(1))
    TableWrites.appendEqualityDeletes(dir, // seq 2: kills 3,6,9,12,15,18
      (1L to 20L).filter(_ % 3 == 0).toDF("id"), Seq("id"))
    TableWrites.appendData(dir, // seq 3: re-insert 3 — newer, survives
      Seq((3L, "again")).toDF("id", "name").coalesce(1))
    // seq 4: position-delete ordinals 0 and 4 of the FIRST file (ids 1, 5)
    val firstFile = FileTableCatalog.loadOrThrow(dir)
      .files.filter(_.content == "data").minBy(_.sequenceNumber).path
    TableWrites.appendPositionDeletes(dir,
      Seq((firstFile, 0L), (firstFile, 4L)).toDF("file_path", "pos"))
    dir
  }

  private def dsv2(dir: String): DataFrame =
    spark.read.format("graft").load(dir)

  test("batch read applies position and equality deletes like TableReader") {
    val dir = mkMorTable()
    val viaDsv2 = dsv2(dir).as[(Long, String)].collect().toSet
    val viaJoin = TableReader.read(spark, dir).as[(Long, String)].collect().toSet
    assert(viaDsv2 == viaJoin)
    // spot semantics: 1,5 position-deleted; %3 eq-deleted except the
    // re-inserted (3,"again")
    assert(!viaDsv2.exists(_._1 == 1L) && !viaDsv2.exists(_._1 == 5L))
    assert(viaDsv2.filter(_._1 % 3 == 0) == Set((3L, "again")))
    assert(viaDsv2.contains((2L, "v2")))
  }

  test("asOfVersion reads a retained snapshot") {
    val dir = mkMorTable()
    val atV2 = dsv2(dir).count() // sanity: current has deletes applied
    val preDeletes = spark.read.format("graft")
      .option("asOfVersion", "2").load(dir).count()
    assert(preDeletes == 20L && atV2 < preDeletes)
  }

  test("column pruning reaches the reader and a pruned read stays correct") {
    val dir = mkMorTable()
    val names = dsv2(dir).select("name").as[String].collect().toSet
    assert(names.contains("again") && !names.contains("v3") && !names.contains("v1"))
    // the optimized plan's scan schema must have shed the other column
    val scanLine = dsv2(dir).select("name").queryExecution.executedPlan.toString
    assert(scanLine.contains("name") && !scanLine.contains("id"),
      s"expected id pruned from the DSv2 scan:\n$scanLine")
  }

  test("pushed bounds prune files from the scan; residual still applied") {
    val dir = Files.createTempDirectory("graft-batch-prune").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    // two files with disjoint id ranges
    TableWrites.appendData(dir,
      (1L to 100L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1))
    TableWrites.appendData(dir,
      (1000L to 1100L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1))
    val q = dsv2(dir).filter(col("id") <= 50)
    val parts = { // bounds must drop the 1000..1100 file before any task runs
      val scan = q.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.getOrElse(fail("no BatchScanExec in plan"))
      scan.partitions.size
    }
    assert(parts == 1, s"expected the out-of-bounds file pruned, got $parts partitions")
    assert(q.count() == 50L)
  }

  test("impossible extreme predicates prune files instead of disabling pruning") {
    val dir = Files.createTempDirectory("graft-batch-extreme").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      (1L to 100L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1))
    TableWrites.appendData(dir,
      (1000L to 1100L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1))
    def partsOf(q: org.apache.spark.sql.DataFrame): Int =
      q.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.getOrElse(fail("no BatchScanExec in plan")).partitions.size
    // id > Long.MaxValue used to wrap to (MinValue, MaxValue) and keep
    // both files; saturation yields lo > hi → every file pruned, zero
    // tasks planned, no file IO
    val qHi = dsv2(dir).filter(col("id") > Long.MaxValue)
    assert(partsOf(qHi) == 0, "expected > MaxValue to prune everything")
    assert(qHi.count() == 0L)
    val qLo = dsv2(dir).filter(col("id") < Long.MinValue)
    assert(partsOf(qLo) == 0, "expected < MinValue to prune everything")
    assert(qLo.count() == 0L)
  }

  test("runtime In-filters prune files before tasks launch") {
    val dir = Files.createTempDirectory("graft-batch-rtf").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      (1L to 100L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1))
    TableWrites.appendData(dir,
      (1000L to 1100L).map(i => (i, i * 2)).toDF("id", "v").coalesce(1))
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.{sources => f}
    def freshScan() = {
      val builder = new GraftScanBuilder(dir,
        dsv2(dir).schema, None, FileTableCatalog, "1", skipDeletes = false)
      builder.build()
    }
    val scan = freshScan()
    // unpruned scan exposes both integral columns for runtime filtering
    assert(scan.asInstanceOf[SupportsRuntimeFiltering]
      .filterAttributes().map(_.describe()).toSet == Set("id", "v"))
    assert(scan.toBatch.planInputPartitions().length == 2)
    // a column-pruned scan must only expose columns it still outputs
    // (Spark resolves filterAttributes against the scan output)
    val prunedBuilder = new GraftScanBuilder(dir,
      dsv2(dir).schema, None, FileTableCatalog, "1", skipDeletes = false)
    prunedBuilder.pruneColumns(org.apache.spark.sql.types.StructType(
      dsv2(dir).schema.fields.filter(_.name == "id")))
    assert(prunedBuilder.build().asInstanceOf[SupportsRuntimeFiltering]
      .filterAttributes().map(_.describe()).toSet == Set("id"))
    // join-side values all land in the first file's [1,100] range
    val filtered = freshScan()
    filtered.asInstanceOf[SupportsRuntimeFiltering]
      .filter(Array[f.Filter](f.In("id", Array(7L, 42L))))
    val parts = filtered.toBatch.planInputPartitions()
    assert(parts.length == 1 &&
      parts.head.asInstanceOf[GraftMorPartition].dataPath.contains("/data/"))
    // values inside NEITHER file's range -> zero partitions, no file
    // opens; the scan schema still resolves from the table metadata
    val none = freshScan()
    none.asInstanceOf[SupportsRuntimeFiltering]
      .filter(Array[f.Filter](f.In("id", Array(500L))))
    assert(none.toBatch.planInputPartitions().length == 0)
    // and a real broadcast join over the source stays correct
    val dim = Seq((7L, "a"), (42L, "b")).toDF("id", "tag")
    val joined = dsv2(dir).join(broadcast(dim), "id")
    assert(joined.count() == 2)
  }

  test("position-delete files are scoped per task by file_path footer range") {
    val dir = Files.createTempDirectory("graft-batch-posscope").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir, (1L to 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    TableWrites.appendData(dir, (11L to 20L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    val files = FileTableCatalog.loadOrThrow(dir)
      .files.filter(_.content == "data").sortBy(_.sequenceNumber).map(_.path)
    // delete positions 0..2 of the FIRST file only (sorted single file)
    TableWrites.appendPositionDeletes(dir,
      (0L to 2L).map(p => (files.head, p)).toDF("file_path", "pos").coalesce(1))
    val scan = new GraftScanBuilder(dir, dsv2(dir).schema, None,
      FileTableCatalog, "1", skipDeletes = false).build()
    val parts = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[GraftMorPartition])
    val byPath = parts.map(p => p.dataPath -> p.posDeletes).toMap
    assert(byPath(files.head).nonEmpty,
      "first file's task must carry the delete file")
    assert(byPath(files(1)).isEmpty,
      "second file's task must skip the delete file via the footer range")
    // and the read stays correct
    assert(dsv2(dir).count() == 17)
  }

  test("large files split into row-group range tasks with exact ordinals") {
    val dir = Files.createTempDirectory("graft-batch-split").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    // one physical file with MANY row groups (tiny block size)
    (0L until 20000L).map(i => (i, "x" * 32)).toDF("id", "pad")
      .coalesce(1)
      .write.mode("append").option("compression", "snappy")
      .option("parquet.block.size", "16384")
      .parquet(s"$dir/data/manual")
    val files = graft.io.FileIO.listFilesRecursive(s"$dir/data/manual")
      .filter(_._1.endsWith(".parquet"))
    assert(files.size == 1)
    val (fpath, flen) = files.head
    new graft.txn.CommitManager(dir).appendFiles(
      Seq(graft.txn.FileEntry(fpath, "data", flen,
        graft.txn.TableWrites.parquetRowCount(fpath), -1L)),
      expectedSchemaId = 1)
    assert(ParquetStats.rowGroups(fpath).size > 3,
      "fixture needs several row groups")
    // position-delete ordinals spread across row groups
    TableWrites.appendPositionDeletes(dir,
      Seq(0L, 7000L, 19999L).map(p => (fpath, p)).toDF("file_path", "pos"))

    def scanWith(split: Long) = {
      val b = new GraftScanBuilder(dir, dsv2(dir).schema, None,
        FileTableCatalog, "1", skipDeletes = false, splitTargetBytes = split)
      b.build().toBatch.planInputPartitions()
    }
    // default threshold: one task; tiny threshold: several range tasks
    assert(scanWith(Long.MaxValue).length == 1)
    val parts = scanWith(32 * 1024)
    assert(parts.length > 1, s"expected range splits, got ${parts.length}")
    // a split read must agree with the unsplit read AND the oracle:
    // rows minus the three deleted ordinals
    val split = spark.read.format("graft")
      .option("splitTargetBytes", (32 * 1024).toString).load(dir)
    assert(split.count() == 20000L - 3)
    assert(split.agg(sum("id")).head.getLong(0) ==
      (0L until 20000L).sum - 0L - 7000L - 19999L)
  }

  test("statistics come from snapshot metadata") {
    val dir = mkMorTable()
    val snap = FileTableCatalog.loadOrThrow(dir)
    val expectBytes = snap.files.filter(_.content == "data").map(_.sizeBytes).sum
    val rel = dsv2(dir).queryExecution.optimizedPlan
    assert(rel.stats.sizeInBytes == BigInt(expectBytes),
      s"expected $expectBytes from metadata, got ${rel.stats.sizeInBytes}")
  }

  test("metadata statistics drive a broadcast of the small graft side") {
    val dir = Files.createTempDirectory("graft-batch-bcast").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      (1L to 100L).map(i => (i, s"t$i")).toDF("id", "tag").coalesce(1))
    val big = spark.range(0, 1000000L).toDF("id")
    val plan = big.join(dsv2(dir), "id").queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the KB-sized graft side broadcast from metadata stats:\n$plan")
  }

  test("DSv2 append commits through the CAS line and rolls on the byte target") {
    val dir = Files.createTempDirectory("graft-batch-wr").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    // the W2 policy is consulted once per 1024-row batch, so the
    // fixture needs several batches' worth of bytes to roll
    val rows = (1L to 5000L).map(i => (i, "x" * 64)).toDF("id", "pad")
    rows.coalesce(1)
      .write.format("graft").mode("append")
      .option("targetFileSizeBytes", "16384")
      .save(dir)
    val snap = FileTableCatalog.loadOrThrow(dir)
    val data = snap.files.filter(_.content == "data")
    assert(snap.version == 2 && snap.lastSequenceNumber == 1)
    assert(data.map(_.recordCount).sum == 5000L)
    assert(data.size > 1, s"16 KiB target over ~350 KB of rows should roll: ${data.size} file(s)")
    // every non-final file of a task sits in a sane band around the
    // target: the policy forbids rolling under 10% and forces it past
    // 1.5x (on-disk size differs from the in-flight estimate, so allow 2x)
    val target = 16384L
    val fileOf = """part-(\d+)-(\d+)\.parquet$""".r.unanchored
    data.groupBy(f => f.path match { case fileOf(task, _) => task })
      .values.foreach { files =>
        files.sortBy(f => f.path match { case fileOf(_, i) => i.toInt })
          .dropRight(1).foreach { f =>
            assert(f.sizeBytes >= target / 10, s"${f.path} too small: ${f.sizeBytes}")
            assert(f.sizeBytes <= target * 2, s"${f.path} too large: ${f.sizeBytes}")
          }
      }
    assert(data.forall(f => f.sequenceNumber == 1L && f.path.contains("/data/dsv2-")))
    // no attempt debris next to the committed files
    val leftover = graft.io.FileIO.listFilesRecursive(s"$dir/data")
      .filter(_._1.contains("_attempt-"))
    assert(leftover.isEmpty, s"attempt debris: $leftover")
    // and the written rows read back, as the same multiset
    val back = dsv2(dir)
    assert(back.count() == 5000L)
    assert(back.exceptAll(rows).isEmpty && rows.exceptAll(back).isEmpty)
  }

  test("an ALTER TABLE between write planning and commit aborts the commit") {
    val dir = Files.createTempDirectory("graft-batch-drift").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir, Seq((1L, 2L)).toDF("id", "v").coalesce(1))
    val writeSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.LongType)))
    val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
      override def options() =
        org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
      override def queryId(): String = "q-drift"
      override def schema() = writeSchema
    }
    val batch = new graft.sinks.GraftWriteBuilder(dir, info).build().toBatch
    // concurrent evolution AFTER planning: files written with the old
    // column set must not be stamped with the new schema id
    SchemaEvolution.evolve(dir, Seq(SchemaOp.Rename("v", "w")))
    val w = batch.createBatchWriterFactory(null).createWriter(0, 7L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(5L, 6L))
    val msg = w.commit()
    val e = intercept[CompactionError] { batch.commit(Array(msg)) }
    assert(e.isInstanceOf[CompactionError.SchemaDrift], s"got $e")
  }

  test("NaN equality-delete keys delete NaN rows (Spark NaN = NaN semantics)") {
    val dir = Files.createTempDirectory("graft-batch-nan").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      Seq((1L, 1.5), (2L, Double.NaN), (3L, 3.5), (4L, Double.NaN), (5L, -0.0))
        .toDF("id", "v").coalesce(1))
    // a 0.0 key deletes the -0.0 row too (Spark's join equality)
    TableWrites.appendEqualityDeletes(dir, Seq(Double.NaN, 0.0).toDF("v"), Seq("v"))
    // both reader paths and the plan-level anti-join must agree
    val vec = dsv2(dir).select("id").as[Long].collect().sorted.toSeq
    val row = spark.read.format("graft").option("vectorizedRead", false)
      .load(dir).select("id").as[Long].collect().sorted.toSeq
    assert(vec == Seq(1L, 3L), s"columnar kept NaN rows: $vec")
    assert(row == Seq(1L, 3L), s"row reader kept NaN rows: $row")
    assert(graft.sources.TableReader.read(spark, dir)
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    val antiJoin = graft.compaction.SparkCompactionExecutor.liveRows(spark,
      ScanPlanner.toInputTasks(FileTableCatalog.loadOrThrow(dir).files.map(_.toTask)))
    assert(antiJoin.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L),
      "anti-join kept NaN or -0.0 rows")
  }

  test("append schema is validated by name against the table") {
    val dir = Files.createTempDirectory("graft-batch-wrbad").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    Seq((1L, "a")).toDF("id", "name")
      .write.format("graft").mode("append").save(dir)
    val e = intercept[Exception] {
      Seq((2L, 7L)).toDF("id", "other")
        .write.format("graft").mode("append").save(dir)
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage.contains("does not match the table schema")))
    // table unchanged: one data commit only
    assert(FileTableCatalog.loadOrThrow(dir).version == 2)
  }

  test("an evolved table reads through per-task reconciliation") {
    val dir = Files.createTempDirectory("graft-batch-evolved").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir, Seq((1L, "a")).toDF("id", "name").coalesce(1))
    SchemaEvolution.evolve(dir, Seq(
      SchemaOp.Rename("name", "label"), SchemaOp.Add("score", "BIGINT")))
    TableWrites.appendData(dir,
      Seq((2L, "b", 9L)).toDF("id", "label", "score").coalesce(1))
    // delete keyed on the RENAMED column, recorded under the new name —
    // must still kill the old file's row via field-id translation
    TableWrites.appendEqualityDeletes(dir, Seq("a").toDF("label"), Seq("label"))
    val viaDsv2 = dsv2(dir).select("id", "label", "score")
      .as[(Long, String, Option[Long])].collect().toSet
    val viaJoin = TableReader.read(spark, dir).select("id", "label", "score")
      .as[(Long, String, Option[Long])].collect().toSet
    assert(viaDsv2 == viaJoin)
    assert(viaDsv2 == Set((2L, "b", Some(9L))))
  }

  test("empty bootstrap table scans as empty and the first append defines the schema") {
    val dir = Files.createTempDirectory("graft-batch-empty").toString
    FileTableCatalog.commitCas(dir, TableSnapshot(1, 1, 0, Nil))
    assert(dsv2(dir).count() == 0L)
    Seq((1L, "a")).toDF("id", "name")
      .write.format("graft").mode("append").save(dir)
    assert(dsv2(dir).columns.toSeq == Seq("id", "name"))
    assert(dsv2(dir).count() == 1L)
  }
}
