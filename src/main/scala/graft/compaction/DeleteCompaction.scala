package graft.compaction

import graft.core._
import graft.plans.MergeOnRead._
import graft.sources.ScanPlanner
import graft.txn.{FileEntry, FileTableCatalog, TableCatalog, TableSnapshot, TableWrites}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Result of one delete-conversion run. */
final case class DeleteConvertStat(
    removedDeleteFiles: Long,
    addedDeleteFiles: Long,
    deletedPositions: Long,
    snapshot: TableSnapshot
)

/** MINOR compaction: consolidate every live delete file — equality AND
  * position — into one sorted set of position-delete files, touching no
  * data file. The reference ships Full data rewrites only
  * (`CompactionType::Full`, core/src/compaction/mod.rs:45-47); this is
  * the other maintenance job real MoR tables run between full rewrites,
  * because equality deletes are the expensive delete shape: every read
  * must stream EVERY older data row through the eq anti-join, while a
  * position delete is a narrow (path, pos) broadcast probe. Converting
  * makes every subsequent read cheaper at the cost of one join
  * proportional to the DELETE volume — no data file is rewritten.
  *
  * Scale design (100 TB):
  *  - the dead set is computed as a UNION OF SEMI-JOINS — one per
  *    equality-delete run, each broadcasting the (byte-gated) delete
  *    side — so the data side is scanned once per run, never shuffled,
  *    and the only shuffle is the `distinct` over the DEAD positions
  *    (∝ deleted rows, not table size);
  *  - existing position deletes join the union verbatim (they are
  *    already (path, pos) pairs — no data scan at all);
  *  - output files are range-partitioned and sorted by
  *    (file_path, pos), the Iceberg position-delete file ordering, so a
  *    reader merging them against one data file touches one range.
  *
  * Concurrency: commits through the shared CAS loop with a staleness
  * guard — every delete file this conversion replaces and every data
  * file its positions reference must still be current at commit time
  * (a racing full compaction invalidates both, and positions computed
  * against rewritten files would delete arbitrary rows). A delete file
  * appended AFTER planning simply survives the conversion untouched —
  * removal is by explicit path, never wholesale.
  */
object DeleteCompaction {

  /** Convert when worthwhile: any equality delete exists, or the
    * position deletes are fragmented across more than one file. Returns
    * None when there is nothing to gain. */
  def convertIfNeeded(
      spark: SparkSession,
      tableDir: String,
      config: CompactionConfig = CompactionConfig(),
      retry: RetryConfig = RetryConfig(),
      catalog: TableCatalog = FileTableCatalog
  ): Option[DeleteConvertStat] = {
    val snap = catalog.loadOrThrow(tableDir)
    val eqFiles = snap.files.filter(_.content == "equality-deletes")
    val posFiles = snap.files.filter(_.content == "position-deletes")
    // dv-format tables additionally fold any parquet position deletes
    // into deletion vectors (the migration path); vectors themselves are
    // already consolidated (one per data file), so they never trigger
    val worthIt =
      if (dvMode(snap)) eqFiles.nonEmpty || posFiles.nonEmpty
      else eqFiles.nonEmpty || posFiles.size > 1
    if (!worthIt) None
    else Some(convert(spark, tableDir, config, retry, catalog, snap))
  }

  private def dvMode(snap: TableSnapshot): Boolean =
    snap.properties
      .get(graft.sinks.GraftDeltaBatchWrite.DeletesFormatProp)
      .contains("dv")

  private def convert(
      spark: SparkSession,
      tableDir: String,
      config: CompactionConfig,
      retry: RetryConfig,
      catalog: TableCatalog,
      snap: TableSnapshot
  ): DeleteConvertStat = {
    val tasks = ScanPlanner.toInputTasks(snap.files.map(_.toTask))
    if (graft.plans.SchemaReconcile.needed(snap.schemas, snap.schemaId, tasks))
      throw CompactionError.Config(
        "delete conversion over mixed-schema-layout files is not supported; " +
          "run a full compaction first (it heals layouts AND folds deletes)")
    val deletePaths = (tasks.positionDeleteFiles ++ tasks.equalityDeleteFiles)
      .map(_.filePath).toSet
    val dataPaths = tasks.dataFiles.map(_.filePath).toSet

    val dead = deadPositions(spark, tasks)
    val added: Seq[FileEntry] = dead match {
      case None => Nil // deletes that delete nothing -> just drop them
      case Some(df) =>
        val outDir =
          s"$tableDir/data/delconv-${java.util.UUID.randomUUID().toString.take(8)}"
        // output fan-out sized from the INPUT delete bytes (the dead set
        // is never larger than what the delete files encode), so a small
        // backlog converges to ONE file — a fixed fan-out would keep
        // re-splitting a tiny delete set forever and never quiesce
        val deleteBytes = (tasks.positionDeleteFiles ++ tasks.equalityDeleteFiles)
          .map(_.lengthBytes).sum
        val parts = math.max(1L, math.min(config.targetPartitions.toLong,
          (deleteBytes + config.targetFileSizeBytes - 1) /
            config.targetFileSizeBytes)).toInt
        if (dvMode(snap)) writeDvs(spark, df, outDir, parts)
        else {
          val sorted = df
            .repartitionByRange(parts, col("file_path"), col("pos"))
            .sortWithinPartitions(col("file_path"), col("pos"))
          TableWrites.writeParquet(sorted, outDir, config.parquetCompression)
            .map { case (p, len, rc) =>
              FileEntry(p, "position-deletes", len, rc, -1L)
            }
            .filter(_.recordCount > 0) // drop empty part files, keep quiescence
        }
    }
    // all-empty outputs (every row of the dead set vanished in a write
    // that produced zero-row part files) still count zero positions
    val deadCount = added.map(_.recordCount).sum

    if (config.enableValidateCompaction) {
      // the conversion is an identity on live rows BY CONSTRUCTION; with
      // validation on, prove it before committing: |data| - |dead| must
      // equal the live-row count of a read pinned to the planned snapshot
      val liveBefore = graft.sources.TableReader
        .readOption(spark, tableDir, Some(snap.version), catalog)
        .fold(0L)(_.count())
      val totalRows = dataRowCount(spark, tasks)
      if (totalRows - deadCount != liveBefore)
        throw CompactionError.Validation(
          s"delete conversion would change live rows: $totalRows data rows - " +
            s"$deadCount dead positions != $liveBefore live rows before")
    }

    val committed = commitReplaceDeletes(
      tableDir, retry, catalog, added, deletePaths, dataPaths, snap.schemaId)
    DeleteConvertStat(
      removedDeleteFiles = deletePaths.size.toLong,
      addedDeleteFiles = added.size.toLong,
      deletedPositions = deadCount,
      snapshot = committed)
  }

  /** Write the dead set as deletion vectors — one single-blob Puffin
    * container per data file (the 1:1 identity the snapshot machinery
    * relies on). The dead pairs hash-partition BY data path, so every
    * file's positions land in exactly one task and each task streams
    * path-sorted runs into per-file bitmaps — memory is one bitmap at a
    * time, and no two tasks ever write the same file's vector. */
  private def writeDvs(spark: SparkSession, dead: DataFrame,
      outDir: String, parts: Int): Seq[FileEntry] = {
    import spark.implicits._
    val confEntries = graft.io.FileIO.hadoopConfEntries()
    val written = dead
      // normalize spellings BEFORE grouping: two forms of one path must
      // land in the same bitmap, or the scan would refuse the snapshot
      // (one-vector-per-file invariant). Engine-written deletes are
      // already normalized; this covers adopted/foreign delete files.
      .withColumn("file_path",
        regexp_replace(col("file_path"), "^file:/+", "/"))
      .repartition(parts, col("file_path"))
      .sortWithinPartitions(col("file_path"), col("pos"))
      .as[(String, Long)]
      .mapPartitions { it =>
        val conf = graft.io.FileIO.confFrom(confEntries)
        // attempt-scoped subdir: a failed/speculative attempt's files
        // stay out of the committed namespace and are swept below
        val attemptDir = s"$outDir/_attempt-" +
          org.apache.spark.TaskContext.get().taskAttemptId()
        val out = scala.collection.mutable
          .ArrayBuffer.empty[(String, String, Long, Long, Long, Long)]
        var cur: String = null
        var bm: org.roaringbitmap.longlong.Roaring64Bitmap = null
        def flush(): Unit = if (cur != null) {
          val p = s"$attemptDir/dv-" +
            s"${java.util.UUID.randomUUID().toString.take(12)}.puffin"
          val w = graft.io.Puffin.writeDvFile(p, Seq(cur -> bm), conf)
          val d = w.blobs.head
          out += ((p, cur, d.contentOffset, d.contentSizeBytes,
            d.cardinality, w.sizeBytes))
        }
        it.foreach { case (fp, pos) =>
          if (fp != cur) {
            flush(); cur = fp
            bm = new org.roaringbitmap.longlong.Roaring64Bitmap()
          }
          bm.addLong(pos)
        }
        flush()
        out.iterator
      }
      .collect().toSeq
    // publish winners (names are uuid-unique; offsets survive rename),
    // then sweep every attempt dir — losers' files with them
    val entries = written.map { case (p, ref, off, size, card, fileBytes) =>
      val target = s"$outDir/${p.substring(p.lastIndexOf('/') + 1)}"
      if (!graft.io.FileIO.rename(p, target))
        throw CompactionError.Io(s"failed to publish $p -> $target")
      FileEntry(target, "deletion-vectors", fileBytes, card, -1L,
        referencedDataFile = Some(ref), contentOffset = off,
        contentSizeBytes = size)
    }
    graft.io.FileIO.listDirectories(outDir)
      .filter(_.substring(outDir.length + 1).startsWith("_attempt-"))
      .foreach(graft.io.FileIO.deleteRecursive)
    entries
  }

  /** The DEAD (path, pos) set under the full delete chain, or None when
    * no position can be dead. A row is dead iff it matches ANY delete
    * predicate — position pairs verbatim, or any equality run with
    * `data.seq < delete.seq` — so the union of per-predicate semi-joins
    * is exactly the complement of the anti-join chain's survivors. */
  private def deadPositions(
      spark: SparkSession,
      tasks: InputFileScanTasks
  ): Option[DataFrame] = {
    val posPairs = ScanPlanner.readPositionDeletes(spark, tasks.positionDeleteFiles)
    val eqDead: Seq[DataFrame] =
      if (tasks.equalityDeleteFiles.isEmpty || tasks.dataFiles.isEmpty) Nil
      else {
        val data = ScanPlanner
          .readDataFiles(spark, tasks.dataFiles,
            needSeqNum = true, needFilePathAndPos = true)
          .as("d")
        ScanPlanner.readEqualityDeletes(spark, tasks.equalityDeleteFiles)
          .map { eq =>
            val del0 = eq.df.as("del")
            val del = if (eq.broadcastHint) broadcast(del0) else del0
            val eqCond = eq.equalityIds.map(c => col(s"del.$c") === col(s"d.$c"))
              .reduceOption(_ && _)
            val seqCond = col(s"d.$SysHiddenSeqNum") < col(s"del.$SysHiddenSeqNum")
            data.join(del, eqCond.fold(seqCond)(_ && seqCond), "left_semi")
              .select(col(SysHiddenFilePath), col(SysHiddenPos))
          }
      }
    val parts = posPairs.toSeq ++ eqDead
    if (parts.isEmpty) None
    else Some(
      parts.reduce(_ unionByName _).distinct()
        .select(col(SysHiddenFilePath).as("file_path"),
          col(SysHiddenPos).as("pos")))
  }

  /** Total data-row count from footer record counts when every task has
    * one (commits always stamp them); falls back to a count job. */
  private def dataRowCount(spark: SparkSession, tasks: InputFileScanTasks): Long =
    if (tasks.dataFiles.forall(_.recordCount >= 0))
      tasks.dataFiles.map(_.recordCount).sum
    else if (tasks.dataFiles.isEmpty) 0L
    else ScanPlanner.readDataFiles(spark, tasks.dataFiles,
      needSeqNum = false, needFilePathAndPos = false).count()

  /** Atomic swap of the delete-file set: remove `removedDeletePaths`,
    * add `added` at a fresh sequence number. Stale (non-retryable) if any
    * replaced delete file OR any data file the new positions reference
    * is no longer current — a concurrent rewrite invalidated the plan. */
  private def commitReplaceDeletes(
      tableDir: String,
      retry: RetryConfig,
      catalog: TableCatalog,
      added: Seq[FileEntry],
      removedDeletePaths: Set[String],
      requiredDataPaths: Set[String],
      expectedSchemaId: Long
  ): TableSnapshot =
    new graft.txn.CommitManager(tableDir, retry, catalog = catalog)
      .replaceFiles(added, removedDeletePaths, requiredDataPaths, expectedSchemaId)
}
