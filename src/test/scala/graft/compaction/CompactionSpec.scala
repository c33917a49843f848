package graft.compaction

import graft.SparkTestSession
import graft.core._
import graft.txn.{FileEntry, TableMetadata, TableSnapshot}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}

/** End-to-end compaction round-trip, mirroring the reference e2e test
  * (core/src/compaction/mod.rs:807-886): inserts + deletes -> compact with
  * validation on -> assert rewritten file counts and surviving rows. */
class CompactionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Write df as exactly one parquet file at `target`; returns (size, rows). */
  private def writeFile(df: DataFrame, target: String): (Long, Long) = {
    val tmp = Files.createTempDirectory("graft-wf").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(target).getParent)
    Files.move(part.toPath, Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
    val rows = spark.read.parquet(target).count()
    (new File(target).length(), rows)
  }

  private def mkTable(): String = {
    val dir = Files.createTempDirectory("graft-table").toString

    // data file 1 (seq 1): ids 1..5
    val f1 = s"$dir/data/f1.parquet"
    val (s1, r1) = writeFile(
      Seq((1, "Alice"), (2, "Bob"), (3, "Charlie"), (4, "Dave"), (5, "Eve"))
        .toDF("id", "name"), f1)

    // data file 2 (seq 3): ids 6..8 plus a RE-INSERT of id 2 (newer than
    // the eq-delete at seq 2, so it must survive)
    val f2 = s"$dir/data/f2.parquet"
    val (s2, r2) = writeFile(
      Seq((6, "Frank"), (7, "Grace"), (8, "Heidi"), (2, "Bob2"))
        .toDF("id", "name"), f2)

    // position-delete file: row 0 of f1 (Alice)
    val pd = s"$dir/data/pos-del.parquet"
    val (s3, r3) = writeFile(
      Seq((f1, 0L)).toDF("file_path", "pos"), pd)

    // equality-delete file (seq 2) on id: deletes ids 2 and 5 from data
    // with seq < 2 (only f1's copies)
    val ed = s"$dir/data/eq-del.parquet"
    val (s4, r4) = writeFile(Seq(Tuple1(2), Tuple1(5)).toDF("id"), ed)

    TableMetadata.commit(dir, TableSnapshot(
      version = 1, schemaId = 7, lastSequenceNumber = 3,
      files = Seq(
        FileEntry(f1, "data", s1, r1, sequenceNumber = 1),
        FileEntry(f2, "data", s2, r2, sequenceNumber = 3),
        FileEntry(pd, "position-deletes", s3, r3, sequenceNumber = 3),
        FileEntry(ed, "equality-deletes", s4, r4, sequenceNumber = 2,
          equalityIds = Seq("id")))))
    dir
  }

  test("full compaction round-trip: MoR, rewrite, commit, validate") {
    val dir = mkTable()
    val stat = Compaction.builder()
      .withSpark(spark).withTableDir(dir)
      .withConfig(CompactionConfig(
        targetPartitions = 2, enableValidateCompaction = true))
      .build()
      .compact()

    // all 4 input files rewritten; both delete files REMOVED by the
    // commit (a full rewrite leaves them nothing to apply to)
    assert(stat.rewrittenFilesCount == 4)
    assert(stat.removedDeleteFilesCount == 2)
    assert(stat.addedFilesCount > 0)

    val snap = TableMetadata.loadOrThrow(dir)
    assert(snap.version == 2)
    assert(snap.files.forall(_.content == "data"))
    // starting sequence number preserved (max data seq = 3)
    assert(snap.files.forall(_.sequenceNumber == 3))

    val result = spark.read
      .parquet(snap.files.map(_.path): _*)
      .as[(Int, String)].collect().toSet
    // survivors: f1 minus Alice (pos-del) minus 2/5 (eq-del, seq 1 < 2);
    // all of f2 (seq 3 >= 2, eq-del does not apply)
    assert(result == Set(
      (3, "Charlie"), (4, "Dave"),
      (6, "Frank"), (7, "Grace"), (8, "Heidi"), (2, "Bob2")))
  }

  test("incremental compaction rewrites only the small-file backlog") {
    val dir = Files.createTempDirectory("graft-incr").toString
    // big: 2000 rows; small: 5 + 4 rows; deletes touch both sides
    val big = s"$dir/data/big.parquet"
    val (sb, rb) = writeFile((100 until 2100).map(i => (i, s"n$i")).toDF("id", "name"), big)
    val f1 = s"$dir/data/f1.parquet"
    val (s1, r1) = writeFile(
      Seq((1, "Alice"), (2, "Bob"), (3, "Charlie"), (4, "Dave"), (5, "Eve"))
        .toDF("id", "name"), f1)
    val f2 = s"$dir/data/f2.parquet"
    val (s2, r2) = writeFile(
      Seq((6, "Frank"), (7, "Grace"), (8, "Heidi"), (2, "Bob2"))
        .toDF("id", "name"), f2)
    val pd = s"$dir/data/pos-del.parquet"
    val (s3, r3) = writeFile(Seq((f1, 0L)).toDF("file_path", "pos"), pd)
    // eq-delete at seq 2 hits seq-1 data: {2,5} in f1 and {100} in big
    val ed = s"$dir/data/eq-del.parquet"
    val (s4, r4) = writeFile(
      Seq(Tuple1(2), Tuple1(5), Tuple1(100)).toDF("id"), ed)
    TableMetadata.commit(dir, TableSnapshot(
      version = 1, schemaId = 1, lastSequenceNumber = 3,
      files = Seq(
        FileEntry(big, "data", sb, rb, sequenceNumber = 1),
        FileEntry(f1, "data", s1, r1, sequenceNumber = 1),
        FileEntry(f2, "data", s2, r2, sequenceNumber = 3),
        FileEntry(pd, "position-deletes", s3, r3, sequenceNumber = 3),
        FileEntry(ed, "equality-deletes", s4, r4, sequenceNumber = 2,
          equalityIds = Seq("id")))))

    val stat = Compaction.builder()
      .withSpark(spark).withTableDir(dir)
      .withConfig(CompactionConfig(
        enableValidateCompaction = true, strictValidation = true,
        targetFileSizeBytes = sb,
        compactionType = CompactionType.Incremental(0.75)))
      .build().compact()
    // input-file accounting (reference executor/mod.rs:56-60): the two
    // small data files PLUS the pos+eq delete files the merge consumed;
    // nothing but the data files left the table (deletes are retained
    // for the untouched big file)
    assert(stat.rewrittenFilesCount == 4)
    assert(stat.removedDeleteFilesCount == 0)

    val snap = TableMetadata.loadOrThrow(dir)
    val paths = snap.files.map(_.path).toSet
    // untouched big file and BOTH delete files survive the commit
    assert(paths.contains(big) && paths.contains(pd) && paths.contains(ed))
    assert(!paths.contains(f1) && !paths.contains(f2))
    // new files carry the SELECTED files' max sequence number (3), so
    // the retained eq-delete (seq 2) does not re-apply to them
    val added = snap.files.filter(f => f.content == "data" && f.path != big)
    assert(added.nonEmpty && added.forall(_.sequenceNumber == 3))

    // full MoR read: retained eq-delete still applies to the untouched
    // big file (kills id=100), rewrite already applied it to f1
    val rows = graft.sources.TableReader.read(spark, dir)
      .as[(Int, String)].collect().toSet
    val expectedBig = (100 until 2100).filter(_ != 100).map(i => (i, s"n$i")).toSet
    assert(rows == expectedBig ++ Set((3, "Charlie"), (4, "Dave"),
      (6, "Frank"), (7, "Grace"), (8, "Heidi"), (2, "Bob2")))
  }

  test("mock executor plugs in and commits an empty rewrite (reference mock.rs)") {
    val dir = mkTable()
    val stat = Compaction.builder()
      .withSpark(spark).withTableDir(dir)
      .withExecutor(MockCompactionExecutor)
      .build().compact()
    assert(stat.addedFilesCount == 0 && stat.rewrittenFilesCount == 4)
    // the commit removed everything and added nothing
    val snap = TableMetadata.loadOrThrow(dir)
    assert(snap.version == 2 && snap.files.isEmpty)
  }

  test("compaction against an in-memory catalog (reference memory-catalog example)") {
    val dir = Files.createTempDirectory("graft-memcat").toString
    val f1 = s"$dir/data/f1.parquet"
    val (s1, r1) = writeFile(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name"), f1)
    val ed = s"$dir/data/eq.parquet"
    val (s2, r2) = writeFile(Seq(Tuple1(2)).toDF("id"), ed)
    val cat = new graft.txn.MemoryCatalog
    cat.commitCas(dir, TableSnapshot(1, 1, 2, Seq(
      FileEntry(f1, "data", s1, r1, sequenceNumber = 1),
      FileEntry(ed, "equality-deletes", s2, r2, sequenceNumber = 2,
        equalityIds = Seq("id")))))

    val stat = Compaction.builder().withSpark(spark).withTableDir(dir)
      .withCatalog(cat)
      .withConfig(CompactionConfig(enableValidateCompaction = true))
      .build().compact()
    assert(stat.rewrittenFilesCount == 2)
    // the snapshot lives ONLY in the memory catalog — nothing on disk
    assert(!new File(s"$dir/metadata").exists())
    val snap = cat.loadOrThrow(dir)
    assert(snap.version == 2)
    val rows = spark.read.parquet(snap.files.map(_.path): _*)
      .as[(Int, String)].collect().toSet
    assert(rows == Set((1, "a"), (3, "c")))
    // CAS semantics hold in memory too
    assertThrows[CompactionError.CommitConflict] {
      cat.commitCas(dir, snap)
    }
    // expiry drops v1 from the catalog and its unreferenced files from disk
    val expired = Compaction.builder().withSpark(spark).withTableDir(dir)
      .withCatalog(cat).build().expireSnapshots()
    assert(expired == Seq(1L) && cat.versions(dir) == Seq(2L))
    assert(!new File(f1).exists() && !new File(ed).exists())
  }

  test("write-side API: appends and deletes round-trip through compaction") {
    import graft.txn.TableWrites
    val dir = Files.createTempDirectory("graft-writes").toString
    TableMetadata.commit(dir, TableSnapshot(1, 1, 0, Nil))
    // seq 1: three rows
    TableWrites.appendData(dir,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name").coalesce(1))
    // seq 2: equality-delete id=2 (hits only older data)
    TableWrites.appendEqualityDeletes(dir, Seq(Tuple1(2)).toDF("id"), Seq("id"))
    // seq 3: re-insert id=2 (newer than the delete -> must survive) + id=4
    TableWrites.appendData(dir,
      Seq((2, "b2"), (4, "d")).toDF("id", "name").coalesce(1))
    // seq 4: position-delete row 0 of the FIRST data file (id=1)
    val snap = TableMetadata.loadOrThrow(dir)
    val firstData = snap.files.filter(_.content == "data")
      .minBy(_.sequenceNumber).path
    TableWrites.appendPositionDeletes(dir,
      Seq((firstData, 0L)).toDF("file_path", "pos"))
    // sequence numbers were assigned by the commits, in order
    assert(TableMetadata.loadOrThrow(dir).lastSequenceNumber == 4)

    val stat = Compaction.builder().withSpark(spark).withTableDir(dir)
      .withConfig(CompactionConfig(
        enableValidateCompaction = true, strictValidation = true))
      .build().compact()
    assert(stat.rewrittenFilesCount == 4)
    val rows = spark.read
      .parquet(TableMetadata.loadOrThrow(dir).files.map(_.path): _*)
      .as[(Int, String)].collect().toSet
    // id1 position-deleted; id2@seq1 equality-deleted; the seq-3
    // re-insert of id2 survives the seq-2 delete; 3 and 4 untouched
    assert(rows == Set((2, "b2"), (3, "c"), (4, "d")))
  }

  test("upsert delete keys are derived from the LANDED data files " +
    "(nondeterministic input evaluated once)") {
    import graft.txn.TableWrites
    import org.apache.spark.sql.functions.{lit, udf}
    val dir = Files.createTempDirectory("graft-upsert-nd").toString
    TableMetadata.commit(dir, TableSnapshot(1, 1, 0, Nil))
    // a genuinely nondeterministic source: every evaluation of the plan
    // yields different ids, so deriving the delete keys by re-evaluating
    // `rows` would commit keys that disagree with the committed data
    val nd = udf(() =>
      java.util.concurrent.ThreadLocalRandom.current().nextLong())
      .asNondeterministic()
    val rows = spark.range(0, 64, 1, 8)
      .select(nd().as("id"), lit("x").as("name"))
    TableWrites.upsert(dir, rows, keyCols = Seq("id"))
    val snap = TableMetadata.loadOrThrow(dir)
    val dataKeys = spark.read
      .parquet(snap.files.filter(_.content == "data").map(_.path): _*)
      .select("id").as[Long].collect().toSet
    val delKeys = spark.read
      .parquet(snap.files.filter(_.content == "equality-deletes").map(_.path): _*)
      .select("id").as[Long].collect().toSet
    assert(dataKeys == delKeys, "delete keys must match the landed rows")
    assert(dataKeys.size == 64, "input was not actually nondeterministic")
  }

  test("TableReader: MoR reads, time travel, and version diff") {
    import graft.txn.TableWrites
    import graft.sources.TableReader
    val dir = Files.createTempDirectory("graft-reader").toString
    TableMetadata.commit(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir,
      Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name").coalesce(1)) // v2
    TableWrites.appendEqualityDeletes(dir,
      Seq(Tuple1(2)).toDF("id"), Seq("id"))                             // v3

    // current read applies the delete chain WITHOUT compaction
    val now = TableReader.read(spark, dir).as[(Int, String)].collect().toSet
    assert(now == Set((1, "a"), (3, "c")))
    // time travel to before the delete
    val v2 = TableReader.read(spark, dir, asOfVersion = Some(2))
      .as[(Int, String)].collect().toSet
    assert(v2 == Set((1, "a"), (2, "b"), (3, "c")))
    // version diff: the delete shows as one removed row
    val diff = TableReader.changes(spark, dir, fromVersion = 2, toVersion = 3)
      .as[(Int, String, String)].collect().toSet
    assert(diff == Set((2, "b", "-")))
    // diff against the bootstrap (no data files) = everything added
    val first = TableReader.changes(spark, dir, fromVersion = 1, toVersion = 2)
      .as[(Int, String, String)].collect().toSet
    assert(first == Set((1, "a", "+"), (2, "b", "+"), (3, "c", "+")))

    // reads are invariant under compaction
    Compaction.builder().withSpark(spark).withTableDir(dir)
      .withConfig(CompactionConfig(enableValidateCompaction = true))
      .build().compact()
    assert(TableReader.read(spark, dir).as[(Int, String)].collect().toSet == now)
    // expired/unknown versions fail with a clear error
    assertThrows[CompactionError.Config] {
      TableReader.read(spark, dir, asOfVersion = Some(99))
    }
  }

  test("z-ordered compaction bounds both key columns per output file") {
    val dir = Files.createTempDirectory("graft-zorder").toString
    // 128x128 grid in row-major order, but on a WIDE key domain (stride
    // 1e6, offset -8e6 so negatives appear): the writer must normalize
    // onto 16 bits — raw low-bit interleaving would alias and cluster
    // nothing. A plain write would give every file the full x domain.
    val grid = (0 until (1 << 14))
      .map(i => ((i % 128L) * 1000000L - 8000000L, (i / 128L) * 1000000L - 8000000L))
      .toDF("x", "y")
    val f1 = s"$dir/data/f1.parquet"
    val (s1, r1) = writeFile(grid, f1)
    TableMetadata.commit(dir, TableSnapshot(1, 1, 1,
      Seq(FileEntry(f1, "data", s1, r1, sequenceNumber = 1))))

    Compaction.builder().withSpark(spark).withTableDir(dir)
      .withConfig(CompactionConfig(targetPartitions = 8,
        zOrderBy = Seq("x", "y"), enableValidateCompaction = true))
      .build().compact()

    val files = TableMetadata.loadOrThrow(dir).files.map(_.path)
    assert(files.size > 1, "expected multiple z-range files")
    val step = 1000000L
    val full = 128L * 128L
    val boxes: Seq[Long] = files.map { p =>
      val r = spark.read.parquet(p)
        .agg(org.apache.spark.sql.functions.min($"x"),
          org.apache.spark.sql.functions.max($"x"),
          org.apache.spark.sql.functions.min($"y"),
          org.apache.spark.sql.functions.max($"y"))
        .as[(Long, Long, Long, Long)].head()
      ((r._2 - r._1) / step + 1) * ((r._4 - r._3) / step + 1)
    }
    // every row kept...
    assert(spark.read.parquet(files: _*).count() == (1 << 14))
    // ...and the per-file bounding boxes cover far less than the full
    // domain each (the property that makes min/max stats prune scans on
    // EITHER column; an unclustered layout gives ~full-domain boxes)
    assert(boxes.sum <= files.size * full / 2,
      s"z-order boxes too loose: $boxes vs full=$full")
  }

  test("empty table compacts to empty stats (reference early-exit)") {
    val dir = Files.createTempDirectory("graft-empty").toString
    TableMetadata.commit(dir, TableSnapshot(1, 0, 0, Nil))
    val stat = Compaction.builder().withSpark(spark).withTableDir(dir)
      .build().compact()
    assert(stat == RewriteFilesStat())
  }

  test("executor failure increments the error counter, duration still recorded") {
    val dir = mkTable()
    // corrupt the snapshot to point at a missing data file
    val snap = TableMetadata.loadOrThrow(dir)
    TableMetadata.commit(dir, snap.copy(version = snap.version + 1,
      files = snap.files.map(f =>
        if (f.content == "data") f.copy(path = f.path + ".missing") else f)))
    val m = new CompactionMetrics
    val c = new Compaction(spark, dir, CompactionConfig(), RetryConfig(),
      "cat", m)
    intercept[Throwable] { c.compact() }
    val l = m.Labels("cat", dir)
    assert(m.counterValue("compaction_executor_error_counter", l) == 1)
  }

  test("builder validates required fields") {
    assertThrows[CompactionError.Config] {
      Compaction.builder().withTableDir("/tmp").build()
    }
    assertThrows[CompactionError.Config] {
      Compaction.builder().withSpark(spark).build()
    }
    assertThrows[CompactionError.Config] {
      Compaction.builder().withSpark(spark)
        .withTableDir("/no/such/dir").build()
    }
  }

  test("partitioned compaction fans out by partition value, strict-validated") {
    val dir = mkTable()
    val stat = Compaction.builder()
      .withSpark(spark).withTableDir(dir)
      .withConfig(CompactionConfig(
        targetPartitions = 2, enableValidateCompaction = true,
        strictValidation = true, partitionSpec = PartitionTransform.identity(Seq("name"))))
      .build()
      .compact()
    assert(stat.rewrittenFilesCount == 4)
    val snap = TableMetadata.loadOrThrow(dir)
    // fanout dirs use mirrored __p_ columns; the DATA keeps `name`
    assert(snap.files.forall(_.path.contains("__p_name=")))
    // committed leaf files must be self-contained (regression: partition
    // columns must not live only in directory names)
    val leafRead = spark.read.parquet(snap.files.map(_.path): _*)
    assert(leafRead.columns.toSet == Set("id", "name"))
    val result = leafRead
      .select("id", "name").as[(Int, String)].collect().toSet
    assert(result == Set(
      (3, "Charlie"), (4, "Dave"),
      (6, "Frank"), (7, "Grace"), (8, "Heidi"), (2, "Bob2")))
  }

  test("partitioned table survives a SECOND compaction intact (data-loss regression)") {
    val dir = mkTable()
    val cfg = CompactionConfig(targetPartitions = 2, partitionSpec = PartitionTransform.identity(Seq("name")),
      enableValidateCompaction = true)
    val c = Compaction.builder().withSpark(spark).withTableDir(dir)
      .withConfig(cfg).build()
    c.compact() // v2, partitioned output
    c.compact() // v3: re-reads committed leaf files — `name` must survive
    val snap = TableMetadata.loadOrThrow(dir)
    assert(snap.version == 3)
    val rows = spark.read.parquet(snap.files.map(_.path): _*)
    assert(rows.columns.toSet == Set("id", "name"))
    assert(rows.select("id", "name").as[(Int, String)].collect().toSet == Set(
      (3, "Charlie"), (4, "Dave"),
      (6, "Frank"), (7, "Grace"), (8, "Heidi"), (2, "Bob2")))
  }

  test("second compaction is idempotent on row content") {
    val dir = mkTable()
    val c = Compaction.builder().withSpark(spark).withTableDir(dir).build()
    c.compact()
    val rows1 = spark.read
      .parquet(TableMetadata.loadOrThrow(dir).files.map(_.path): _*)
      .as[(Int, String)].collect().toSet
    c.compact()
    val snap = TableMetadata.loadOrThrow(dir)
    assert(snap.version == 3)
    val rows2 = spark.read.parquet(snap.files.map(_.path): _*)
      .as[(Int, String)].collect().toSet
    assert(rows1 == rows2)
  }

  test("maintenance policy: deletes or small-file backlog trigger, else skip") {
    import graft.txn.{FileEntry, TableSnapshot}
    val cfg = CompactionConfig(targetFileSizeBytes = 1000L)
    def snap(files: FileEntry*) = TableSnapshot(1, 1, 1, files)
    def data(p: String, sz: Long) = FileEntry(p, "data", sz, 1L, 1L)

    assert(Maintenance.shouldCompact(snap(), cfg).isInstanceOf[Maintenance.Skip])
    // deletes always trigger
    assert(Maintenance.shouldCompact(snap(data("a", 5000),
      FileEntry("d", "equality-deletes", 10, 1, 2, Seq("id"))), cfg)
      .isInstanceOf[Maintenance.Run])
    // two small files trigger; one does not; two LARGE files do not
    assert(Maintenance.shouldCompact(snap(data("a", 100), data("b", 100)), cfg)
      .isInstanceOf[Maintenance.Run])
    assert(Maintenance.shouldCompact(snap(data("a", 100), data("b", 5000)), cfg)
      .isInstanceOf[Maintenance.Skip])
    assert(Maintenance.shouldCompact(snap(data("a", 5000), data("b", 5000)), cfg)
      .isInstanceOf[Maintenance.Skip])
    // factor scales the smallness threshold: 750 < 1000*0.76 counts small
    assert(Maintenance.shouldCompact(snap(data("a", 750), data("b", 750)),
      cfg, smallFileFactor = 0.76).isInstanceOf[Maintenance.Run])
  }

  test("compactIfNeeded runs once then quiesces (no rewrite loop)") {
    val dir = mkTable() // 2 small data files + deletes -> must Run
    // one output partition: at test scale the default 4-way round-robin
    // would re-create a small-file backlog out of 8 rows (at production
    // scale output files sit at targetFileSizeBytes and read as large)
    val c = Compaction.builder()
      .withSpark(spark).withTableDir(dir)
      .withConfig(CompactionConfig(enableValidateCompaction = true,
        targetPartitions = 1))
      .build()
    val first = c.compactIfNeeded()
    assert(first.nonEmpty, "table with deletes + small files must compact")
    val after = TableMetadata.loadOrThrow(dir)
    assert(after.files.forall(_.content == "data"))
    // the fresh state holds one data file and no deletes -> Skip forever
    assert(c.compactIfNeeded().isEmpty, "freshly compacted table must quiesce")
    assert(TableMetadata.loadOrThrow(dir).version == after.version,
      "a Skip decision must not commit anything")
  }

  test("expire snapshots removes old versions and unreferenced files") {
    val dir = mkTable()
    val c = Compaction.builder().withSpark(spark).withTableDir(dir).build()
    c.compact() // v2
    val oldDataFile = s"$dir/data/f1.parquet"
    assert(new File(oldDataFile).exists()) // still on disk, unreferenced
    val expired = c.expireSnapshots(keepLast = 1)
    assert(expired == Seq(1L))
    assert(!new File(oldDataFile).exists())
    assert(TableMetadata.versions(dir) == Seq(2L))
    // current snapshot's files untouched
    val snap = TableMetadata.loadOrThrow(dir)
    assert(snap.files.forall(f => new File(f.path).exists()))
  }
}
