package graft.sources

import graft.SparkTestSession
import graft.txn.{FileEntry, TableMetadata, TableSnapshot}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.Files

class ScanPruningSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("constraint extraction: comparisons, conjunction, both orientations") {
    val constraints = ScanPruning.constraintsOfSql _
    assert(constraints("x = 5") == Map("x" -> (5L, 5L)))
    assert(constraints("5 = x") == Map("x" -> (5L, 5L)))
    assert(constraints("x > 5") == Map("x" -> (6L, Long.MaxValue)))
    assert(constraints("x >= 5") == Map("x" -> (5L, Long.MaxValue)))
    assert(constraints("x < 5") == Map("x" -> (Long.MinValue, 4L)))
    assert(constraints("x <= 5") == Map("x" -> (Long.MinValue, 5L)))
    assert(constraints("5 < x") == Map("x" -> (6L, Long.MaxValue)))
    assert(constraints("x >= 2 AND x <= 9 AND y = 1")
      == Map("x" -> (2L, 9L), "y" -> (1L, 1L)))
  }

  test("constraint extraction is conservative: OR, strings, arithmetic yield nothing") {
    val constraints = ScanPruning.constraintsOfSql _
    assert(constraints("x = 1 OR x = 2").isEmpty)
    assert(constraints("s = 'abc'").isEmpty)
    assert(constraints("x % 2 = 0").isEmpty)
    // the supported half of an AND still contributes
    assert(constraints("x <= 3 AND s = 'abc'")
      == Map("x" -> (Long.MinValue, 3L)))
  }

  private def writeFile(rows: Seq[(Long, String)], path: String): FileEntry = {
    val tmp = Files.createTempDirectory("prune-w").toString
    rows.toDF("id", "v").repartition(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(new File(path).getParentFile.toPath)
    Files.move(part.toPath, new File(path).toPath)
    FileEntry(path, "data", new File(path).length(),
      rows.size.toLong, sequenceNumber = 1)
  }

  test("typeless constraints never consume decimal stats (value vs unscaled domain)") {
    // price 1.00..2.00 stores unscaled stats [100, 200]; the typeless
    // SQL-text path extracts the raw literal 5 — comparing the two
    // domains would wrongly prune a file full of matching rows
    val dir = Files.createTempDirectory("prune-dec").toString
    val tmp = Files.createTempDirectory("prune-dec-w").toString
    spark.range(0, 101)
      .selectExpr("id", "CAST(1.00 + id * 0.01 AS DECIMAL(12,2)) AS price")
      .repartition(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    val target = new File(s"$dir/data/f1.parquet")
    Files.createDirectories(target.getParentFile.toPath)
    Files.move(part.toPath, target.toPath)
    val fe = FileEntry(target.getPath, "data", target.length(), 101L, 1L)
    val kept = ScanPruning.pruneDataFilesWithBounds(Seq(fe),
      ScanPruning.constraintsOfSql("price < 5"))
    assert(kept.map(_.path) == Seq(fe.path),
      "a decimal column must not be pruned by an untyped literal bound")
    // the type-aware path (bounds already unscaled) MAY prune via the
    // same stats when opted in: unscaled bound < 100 excludes the file
    val keptAware = ScanPruning.pruneDataFilesWithBounds(
      Seq(fe, fe.copy(path = fe.path)), Map("price" -> (Long.MinValue, 99L)),
      decimalAsUnscaled = Set("price"))
    assert(keptAware.count(_.content == "data") == 0,
      "opted-in unscaled bounds prune every excluded file")
  }

  test("footer bounds prune non-intersecting files; deletes pass through") {
    val dir = Files.createTempDirectory("prune-t").toString
    val f1 = writeFile((1L to 10L).map(i => (i, s"a$i")), s"$dir/data/f1.parquet")
    val f2 = writeFile((11L to 20L).map(i => (i, s"b$i")), s"$dir/data/f2.parquet")
    val del = f1.copy(path = f1.path, content = "equality-deletes",
      equalityIds = Seq("id"))
    val files = Seq(f1, f2, del)

    def prune(sql: String) =
      ScanPruning.pruneDataFilesWithBounds(files, ScanPruning.constraintsOfSql(sql))
    val kept = prune("id <= 7")
    assert(kept.map(_.path).contains(f1.path))
    assert(!kept.filter(_.content == "data").map(_.path).contains(f2.path))
    assert(kept.exists(_.content == "equality-deletes"))

    // boundary inclusivity: id <= 10 and id >= 11 each keep exactly one
    assert(prune("id <= 10").count(_.content == "data") == 1)
    assert(prune("id >= 11").count(_.content == "data") == 1)
    // spanning range keeps both
    assert(prune("id >= 5 AND id <= 15").count(_.content == "data") == 2)
    // a bounded column without trustworthy integral stats (string `v`)
    // keeps files on that column only: `id` still prunes f2
    assert(ScanPruning.pruneDataFilesWithBounds(files,
      Map("id" -> (Long.MinValue, 7L), "v" -> (0L, 0L)))
      .filter(_.content == "data").map(_.path) == Seq(f1.path))
  }

  test("all-pruned reads NO data files; schema resolves from the snapshot") {
    val dir = Files.createTempDirectory("prune-e").toString
    val f1 = writeFile((1L to 10L).map(i => (i, s"a$i")), s"$dir/data/f1.parquet")
    val f2 = writeFile((11L to 20L).map(i => (i, s"b$i")), s"$dir/data/f2.parquet")
    TableMetadata.commit(dir, TableSnapshot(1, 1, 1, Seq(f1, f2)))
    val out = TableReader.read(spark, dir, filter = Some(col("id") === 999L))
    // zero data files in the plan: the former keep-one anchor cost a
    // whole file read per fully-pruned query
    assert(TableReader.plannedDataFiles(out).isEmpty,
      s"expected no data files scanned, got ${TableReader.plannedDataFiles(out)}")
    assert(out.count() == 0 && out.columns.toSeq == Seq("id", "v"))
  }

  test("eqDeleteMayApply: stamped key bounds prove disjointness, " +
    "missing stamps keep the delete") {
    def data(bounds: Map[String, Seq[Long]],
        str: Map[String, Seq[String]] = Map.empty) =
      FileEntry("/t/data/d.parquet", "data", 1L, 1L, 1L,
        bounds = bounds, stringBounds = str)
    def del(ids: Seq[String], bounds: Map[String, Seq[Long]],
        str: Map[String, Seq[String]] = Map.empty) =
      FileEntry("/t/data/e.parquet", "equality-deletes", 1L, 1L, 2L,
        equalityIds = ids, bounds = bounds, stringBounds = str)
    import ScanPruning.eqDeleteMayApply
    // integral disjoint -> skip; overlap -> keep
    assert(!eqDeleteMayApply(
      del(Seq("id"), Map("id" -> Seq(1000L, 1100L))),
      data(Map("id" -> Seq(1L, 100L)))))
    assert(eqDeleteMayApply(
      del(Seq("id"), Map("id" -> Seq(90L, 1100L))),
      data(Map("id" -> Seq(1L, 100L)))))
    // missing stamps on either side -> keep (conservative)
    assert(eqDeleteMayApply(
      del(Seq("id"), Map.empty), data(Map("id" -> Seq(1L, 100L)))))
    assert(eqDeleteMayApply(
      del(Seq("id"), Map("id" -> Seq(1000L, 1100L))), data(Map.empty)))
    // multi-key: ONE provably-disjoint column suffices to skip
    assert(!eqDeleteMayApply(
      del(Seq("id", "v"), Map("id" -> Seq(1L, 100L), "v" -> Seq(900L, 999L))),
      data(Map("id" -> Seq(1L, 100L), "v" -> Seq(1L, 10L)))))
    // string key bounds (base64 raw bytes, unsigned order)
    val b64 = java.util.Base64.getEncoder
    def sb(lo: String, hi: String) = Seq(
      b64.encodeToString(lo.getBytes("UTF-8")),
      b64.encodeToString(hi.getBytes("UTF-8")))
    assert(!eqDeleteMayApply(
      del(Seq("k"), Map.empty, Map("k" -> sb("x", "z"))),
      data(Map.empty, Map("k" -> sb("a", "c")))))
    assert(eqDeleteMayApply(
      del(Seq("k"), Map.empty, Map("k" -> sb("b", "z"))),
      data(Map.empty, Map("k" -> sb("a", "c")))))
  }

  test("DSv2: eq-delete files ship only to tasks their key range can hit") {
    val dir = Files.createTempDirectory("prune-eqskip").toString
    TableMetadata.commit(dir, TableSnapshot(1, 1, 0, Nil))
    import spark.implicits._
    graft.txn.TableWrites.appendData(dir,
      (1L to 100L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    graft.txn.TableWrites.appendData(dir,
      (1000L to 1100L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    graft.txn.TableWrites.appendEqualityDeletes(dir,
      (1000L to 1004L).toDF("id"), Seq("id"))
    val snap = graft.txn.FileTableCatalog.loadOrThrow(dir)
    val loPath = snap.files.find(f => f.content == "data" &&
      graft.txn.FileEntry.loHi(f.bounds("id")).exists(_._2 <= 100L)).get.path
    val parts = new GraftScanBuilder(dir,
        spark.read.format("graft").load(dir).schema, None,
        graft.txn.FileTableCatalog, "1", skipDeletes = false)
      .build().toBatch.planInputPartitions()
      .map(_.asInstanceOf[GraftMorPartition])
    val lo = parts.find(_.dataPath == loPath).get
    val hi = parts.find(_.dataPath != loPath).get
    assert(lo.eqDeletes.isEmpty,
      s"delete keys [1000,1004] cannot hit rows [1,100]: ${lo.eqDeletes}")
    assert(hi.eqDeletes.size == 1,
      s"the delete must still ship to the file it can hit: ${hi.eqDeletes}")
    // and the skipping is an IO optimization, never a semantic one
    assert(spark.read.format("graft").load(dir).count() == 196L)
  }

  test("DSv2: fully-pruned scan plans ZERO input partitions") {
    val dir = Files.createTempDirectory("prune-dsv2").toString
    val f1 = writeFile((1L to 10L).map(i => (i, s"a$i")), s"$dir/data/f1.parquet")
    val f2 = writeFile((11L to 20L).map(i => (i, s"b$i")), s"$dir/data/f2.parquet")
    TableMetadata.commit(dir, TableSnapshot(1, 1, 1, Seq(f1, f2)))
    val q = spark.read.format("graft").load(dir).filter(col("id") === 999L)
    val parts = q.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan")).partitions.size
    assert(parts == 0, s"expected no tasks for a fully-pruned scan, got $parts")
    assert(q.count() == 0 && q.columns.toSeq == Seq("id", "v"))
  }

  test("contradictory bounds prune everything without footer reads") {
    val dir = Files.createTempDirectory("prune-c").toString
    val f1 = writeFile((1L to 10L).map(i => (i, s"a$i")), s"$dir/data/f1.parquet")
    val f2 = writeFile((11L to 20L).map(i => (i, s"b$i")), s"$dir/data/f2.parquet")
    val del = f1.copy(content = "equality-deletes", equalityIds = Seq("id"))
    val files = Seq(f1, f2, del)
    // merged x > 5 AND x < 3 → lo > hi: no data survives, deletes kept
    val kept = ScanPruning.pruneDataFilesWithBounds(files, Map("id" -> (6L, 2L)))
    assert(kept.count(_.content == "data") == 0)
    assert(kept.exists(_.content == "equality-deletes"))
  }

  test("TableReader prunes partitioned tables through the transforms") {
    import graft.core.{BucketTransform, PartitionSpecCodec}
    val dir = Files.createTempDirectory("prune-part").toString
    // four bucket files by the engine's own transform, spec on the snapshot
    val spec = Seq(BucketTransform(4, "id"))
    val rows = (1L to 400L).map(i => (i, s"v$i"))
    val byBucket = rows.groupBy { case (i, _) =>
      spec.head.eval(i, org.apache.spark.sql.types.LongType) }
    val entries = byBucket.toSeq.map { case (b, rs) =>
      writeFile(rs, s"$dir/data/g1-id_bucket=$b.part-0-$b.parquet")
    }
    TableMetadata.commit(dir, TableSnapshot(1, 1, 1, entries,
      properties = Map(PartitionSpecCodec.Property -> PartitionSpecCodec.encode(spec))))
    val out = TableReader.read(spark, dir, filter = Some(col("id") === 7L))
    // exactly one bucket file feeds the plan; result intact
    val planned = TableReader.plannedDataFiles(out)
    assert(planned.length == 1, s"read $planned")
    assert(planned.head.contains(
      s"id_bucket=${spec.head.eval(7L, org.apache.spark.sql.types.LongType)}"))
    assert(out.select("v").head.getString(0) == "v7")
  }

  test("unsupported filters prune nothing") {
    val dir = Files.createTempDirectory("prune-u").toString
    val f1 = writeFile((1L to 10L).map(i => (i, s"a$i")), s"$dir/data/f1.parquet")
    val f2 = writeFile((11L to 20L).map(i => (i, s"b$i")), s"$dir/data/f2.parquet")
    val files = Seq(f1, f2)
    assert(ScanPruning.pruneDataFilesWithBounds(files,
      ScanPruning.constraintsOfSql("v = 'a3'")).size == 2)
  }
}
