package graft.sources

import graft.core._
import graft.io.FileIO
import graft.operators.BinPack
import graft.plans.MergeOnRead._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scan planning: the Spark analog of the reference's S1-S5 layer.
  *
  *  - Manifest scan (S1, core/src/compaction/mod.rs:363-392): enumerate the
  *    physical files of a table directory, classified by content. Without
  *    an Iceberg runtime jar the "manifest" is the directory listing plus a
  *    caller-provided content/sequence assignment — the engine core is
  *    format-agnostic over [[FileScanTask]]s, exactly like the reference's
  *    `RewriteFilesRequest` decoupling (core/src/executor/mod.rs:38-45).
  *  - MoR scan planning (S2, core/src/compaction/mod.rs:394-444): split
  *    tasks by content into [[InputFileScanTasks]].
  *  - File-group scan + hidden columns (S3/S5,
  *    iceberg_file_task_scan.rs:100-406): one `spark.read.parquet` over the
  *    group's files — Spark's vectorized Parquet reader replaces the
  *    hand-rolled Arrow reader; hidden columns come from Parquet metadata
  *    columns (`_metadata.file_path`, `_metadata.row_index` — exact
  *    per-physical-file ordinals, matching Iceberg pos-delete semantics)
  *    and a literal file→sequence-number map (constant-folded, stays in
  *    whole-stage codegen).
  *
  * Scale note: Spark plans one task per parquet row-group split
  * (`spark.sql.files.maxPartitionBytes`), so a 100 TB scan parallelizes
  * across executors without the explicit bin-packing the reference needs;
  * [[BinPack.splitNGroups]] is still used on the WRITE side for
  * deterministic output-file grouping.
  */
object ScanPlanner {

  /** Split an oversized data task into contiguous byte-range tasks of at
    * most `targetSplitBytes` each (reference FileScanTask carries
    * {start, length}, iceberg_file_task_scan.rs:446-462). Ranges tile the
    * file exactly; the parent's record count is apportioned by range size
    * (it only feeds the write-side bytes-per-row estimate). Delete files
    * are never split — they are read whole as join sides. */
  def splitTask(task: FileScanTask, targetSplitBytes: Long): Seq[FileScanTask] = {
    require(targetSplitBytes > 0, "targetSplitBytes must be > 0")
    if (task.content != FileContent.Data || task.lengthBytes <= targetSplitBytes)
      Seq(task)
    else {
      val n = ((task.lengthBytes + targetSplitBytes - 1) / targetSplitBytes).toInt
      (0 until n).map { i =>
        val start = task.start + i.toLong * targetSplitBytes
        val len = math.min(targetSplitBytes, task.start + task.lengthBytes - start)
        val rc =
          if (task.recordCount < 0) -1L
          else if (i == n - 1)
            task.recordCount - (task.recordCount / n) * (n - 1)
          else task.recordCount / n
        task.copy(start = start, lengthBytes = len, recordCount = rc)
      }
    }
  }

  /** Apply [[splitTask]] across a task list. */
  def splitTasks(tasks: Seq[FileScanTask], targetSplitBytes: Long): Seq[FileScanTask] =
    tasks.flatMap(splitTask(_, targetSplitBytes))

  /** Split planned tasks by content (reference S2). Deletion vectors are
    * position deletes semantically, so they ride in
    * `positionDeleteFiles` — [[readPositionDeletes]] decodes each kind
    * by its physical format. */
  def toInputTasks(tasks: Seq[FileScanTask]): InputFileScanTasks =
    InputFileScanTasks(
      dataFiles = tasks.filter(_.content == FileContent.Data),
      positionDeleteFiles = tasks.filter(t =>
        t.content == FileContent.PositionDeletes ||
          t.content == FileContent.DeletionVectors),
      equalityDeleteFiles = tasks.filter(_.content == FileContent.EqualityDeletes)
    )

  /** Read a set of data-file tasks as ONE DataFrame with hidden columns
    * attached as needed (reference S3+S5).
    *
    * @param needSeqNum         attach `sys_hidden_seq_num` from each task's
    *                           sequence number (constant per file)
    * @param needFilePathAndPos attach `sys_hidden_file_path` and
    *                           `sys_hidden_pos` from Parquet metadata
    */
  def readDataFiles(
      spark: SparkSession,
      tasks: Seq[FileScanTask],
      needSeqNum: Boolean,
      needFilePathAndPos: Boolean
  ): DataFrame = {
    require(tasks.nonEmpty, "no data files to read")
    // Several byte-range tasks may reference the same physical file —
    // each file is read once, but when the planner SPLIT a file into
    // {start, length} ranges (reference task model,
    // iceberg_file_task_scan.rs:301-354 reads per-range), the ranges
    // must drive the actual scan parallelism, not Spark's session
    // default: a single 1 TB file's read fan-out is the engine's
    // decision. Spark's file splitting is governed by
    // `spark.sql.files.maxPartitionBytes`, so the read runs in a child
    // session scoped to the plan's range size — split boundaries then
    // align to parquet row groups at execution, which is the correct
    // physical realization of byte-range tasks over parquet.
    val paths = tasks.map(_.filePath).distinct
    val rangeSize: Option[Long] = {
      val splitFiles = tasks.groupBy(_.filePath).values.filter(_.size > 1)
      if (splitFiles.isEmpty) None
      else Some(splitFiles.flatMap(_.map(_.lengthBytes)).max)
    }
    val session = rangeSize.fold(spark) { bytes =>
      // newSession shares the SparkContext and builder options but owns
      // its conf, so the setting cannot leak into the caller's session
      // (the round-1 session-mutation bug class)
      val s = spark.newSession()
      s.conf.set("spark.sql.files.maxPartitionBytes", bytes)
      s
    }
    var df = session.read.parquet(paths: _*)
    // _metadata.file_path is a file: URI; normalize to a plain absolute
    // path so it compares equal to task paths and position-delete entries.
    val normPath = regexp_replace(col("_metadata.file_path"), "^file:/+", "/")
    if (needFilePathAndPos) {
      df = df
        .withColumn(SysHiddenFilePath, normPath)
        .withColumn(SysHiddenPos, col("_metadata.row_index"))
    }
    if (needSeqNum) {
      // literal path->seq map; element_at on a literal map is
      // constant-folded per row and codegen-friendly
      val seqByPath = tasks.map(t => normalizePath(t.filePath) -> t.sequenceNumber).toMap
      val mapExpr = typedLit(seqByPath)
      df = df.withColumn(SysHiddenSeqNum, element_at(mapExpr, normPath))
    }
    df
  }

  def normalizePath(p: String): String =
    p.replaceFirst("^file:/*", "/") match {
      case s if s.startsWith("/") => s
      case s                      => "/" + s
    }

  /** Read position-delete files as ONE (file_path, pos) DataFrame under
    * the hidden names (reference datafusion_processor.rs:455-473).
    * Parquet delete files read through Spark's scan; deletion-vector
    * blobs decode task-side — descriptors parallelize to executors and
    * each task ranged-reads its own blob, so the driver never holds a
    * bitmap and the expansion to rows is distributed. */
  def readPositionDeletes(spark: SparkSession, tasks: Seq[FileScanTask]): Option[DataFrame] = {
    val (dvs, parquet) = tasks.partition(_.content == FileContent.DeletionVectors)
    val parquetDf =
      if (parquet.isEmpty) None
      else Some(spark.read.parquet(parquet.map(_.filePath): _*)
        .toDF(SysHiddenFilePath, SysHiddenPos))
    val dvDf =
      if (dvs.isEmpty) None
      else {
        import spark.implicits._
        val confEntries = FileIO.hadoopConfEntries()
        // refs NORMALIZED here: the data side's sys_hidden_file_path is
        // normalized by readDataFiles, and an unnormalized ref (foreign
        // writer, file: prefix) would silently miss the anti-join
        val descriptors = dvs.map { t =>
          (t.filePath, t.contentOffset, t.contentSizeBytes,
            normalizePath(t.referencedDataFile.getOrElse(
              throw CompactionError.Config(
                s"deletion-vector entry ${t.filePath} lacks a referenced data file"))))
        }
        Some(spark.createDataset(descriptors)
          .repartition(math.min(descriptors.size,
            spark.sparkContext.defaultParallelism))
          .flatMap { case (path, off, size, ref) =>
            val conf = FileIO.confFrom(confEntries)
            val bm = graft.io.Puffin.readDvBlob(path, off, size, conf)
            // lazy iterator, not a materialized buffer: a dense vector
            // (100M dead ordinals) must stream through the task, not
            // stage multi-GB of boxed tuples on one heap
            val it = bm.getLongIterator
            new Iterator[(String, Long)] {
              override def hasNext: Boolean = it.hasNext
              override def next(): (String, Long) = (ref, it.next())
            }
          }.toDF(SysHiddenFilePath, SysHiddenPos))
      }
    (parquetDf, dvDf) match {
      case (Some(a), Some(b)) => Some(a.unionByName(b))
      case (a, b)             => a.orElse(b)
    }
  }

  /** Read equality-delete files as joinable delete tables: grouped by
    * CONSECUTIVE runs of identical key columns (the reference groups
    * consecutive runs, not global distinct —
    * datafusion_processor.rs:481-504) with each FILE's sequence number
    * attached as `sys_hidden_seq_num` (without it the seq-aware
    * anti-join cannot enforce `data.seq < delete.seq`). Each run makes
    * one broadcast decision from its files' bytes ([[broadcastable]]).
    *
    * `keys` maps a delete file to its key columns as (table column
    * name, expression over the file's own columns); by default a file's
    * `equalityIds` are read as written. The live-row builder passes a
    * field-id translation for files written under an older schema, so
    * deletes keyed on a renamed column's old and new name share a run. */
  def readEqualityDeletes(
      spark: SparkSession,
      tasks: Seq[FileScanTask],
      keys: FileScanTask => Seq[(String, Column)] =
        t => t.equalityIds.map(n => n -> col(n))
  ): Seq[EqDeleteTable] =
    consecutiveRuns(tasks.map(t => (t, keys(t))))(_._2.map(_._1)).map { run =>
      val df = run.map { case (t, ks) =>
        spark.read.parquet(t.filePath)
          .select(ks.map(_._2): _*)
          .withColumn(SysHiddenSeqNum, lit(t.sequenceNumber))
      }.reduce(_ unionByName _)
      EqDeleteTable(df, run.head._2.map(_._1),
        broadcastHint = broadcastable(spark, run.map(_._1.lengthBytes).sum))
    }

  /** The delete-side broadcast gate: a delete table whose files total
    * `bytes` is broadcast iff it is non-empty and under the session's
    * `spark.sql.autoBroadcastJoinThreshold` (-1 disables). Spark's own
    * byte-string parser handles every valid suffix (k/m/g/t/p, with or
    * without trailing b). */
  def broadcastable(spark: SparkSession, bytes: Long): Boolean = {
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val threshold = raw.toLongOption.getOrElse(
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw))
    bytes > 0 && bytes < threshold
  }

  /** Group consecutive elements sharing a key, preserving order. */
  def consecutiveRuns[T, K](items: Seq[T])(key: T => K): Seq[Seq[T]] =
    items.foldLeft(Vector.empty[Vector[T]]) { (acc, it) =>
      acc.lastOption match {
        case Some(run) if key(run.head) == key(it) => acc.init :+ (run :+ it)
        case _                                     => acc :+ Vector(it)
      }
    }
}
