package graft.compaction

import graft.core._
import graft.plans.{MergeOnRead, SchemaReconcile}
import graft.sinks.RollingWriter
import graft.sources.{ScanPlanner, TableReader}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Pluggable rewrite executor — reference `trait CompactionExecutor`
  * (core/src/executor/mod.rs:33-36,77-87): given a bare
  * [[RewriteFilesRequest]] (tasks + config + output location, decoupled
  * from any catalog), produce the rewritten data files.
  */
trait CompactionExecutor {
  def rewriteFiles(spark: SparkSession, request: RewriteFilesRequest,
      sequenceNumber: Long): RewriteFilesResponse
}

/** The Spark executor: the group's live rows from a DSv2 scan pinned to
  * the request's snapshot and scoped to its data files (per-task delete
  * application, the engine every read uses), then a size-targeted
  * write — the analog of the reference's DataFusion executor
  * (core/src/executor/datafusion/) and of Iceberg's Spark
  * `rewrite_data_files`, which reads each file group through its own
  * source scan. */
object SparkCompactionExecutor extends CompactionExecutor {

  override def rewriteFiles(spark: SparkSession, request: RewriteFilesRequest,
      sequenceNumber: Long): RewriteFilesResponse = {
    val written = RollingWriter.write(groupRows(spark, request), request,
      sequenceNumber, partitionSpec = request.config.partitionSpec)
    RewriteFilesResponse(
      dataFiles = written,
      stat = RewriteFilesStat(
        rewrittenFilesCount =
          (request.tasks.dataFiles ++ request.tasks.positionDeleteFiles ++
            request.tasks.equalityDeleteFiles).size.toLong,
        addedFilesCount = written.size.toLong,
        rewrittenBytes = request.tasks.inputTotalBytes))
  }

  /** Live rows of the request's data files: a read pinned to
    * `request.source` and scoped to those files, each read in full
    * under every delete file of the snapshot. Evolved tables read by
    * field id, so the output carries the CURRENT schema — a rewrite
    * migrates old-layout files as a side effect. Each call plans a new
    * scan: nothing is reused from an earlier call's plan. */
  def groupRows(spark: SparkSession, request: RewriteFilesRequest): DataFrame = {
    val src = request.source.getOrElse(throw CompactionError.Config(
      "rewrite request names no source snapshot (RewriteFilesRequest.source)"))
    TableReader.read(spark, src.tableDir, Some(src.version), src.catalog,
      dataFiles = Some(request.tasks.dataFiles.map(_.filePath).toSet),
      splitTargetBytes = request.config.splitTargetBytes)
  }

  /** Merge-on-read live rows for the given tasks through the anti-join
    * chain (reference §3.1 steps 3-6): hidden columns only as needed,
    * delete tables broadcast when their file bytes are under the session
    * broadcast threshold. Compaction reads through [[groupRows]]
    * instead; the batch changelog ([[TableReader.changes]] and
    * [[TableReader.changelog]]) still builds its live rows here.
    * `keepLineage` retains `sys_hidden_file_path`/`sys_hidden_pos` in
    * the output — `TableReader.changelog` stamps a folded append run's
    * commit versions from the file path and matches a position-delete
    * commit's newly dead rows on both.
    *
    * With a schema history (`schemas` + `currentSchemaId`) every file —
    * data and equality-delete alike — is reconciled to the CURRENT
    * schema by field id before the delete chain applies:
    *
    *  - data files are grouped by schema id — one scan per PHYSICAL
    *    layout (not per file), each projected by id onto the current
    *    schema ([[SchemaReconcile.project]]: renames alias, added
    *    columns fill, dropped ids vanish), then a unionByName. At
    *    100 TB a table has a handful of historical layouts, so this adds
    *    a constant number of scan nodes, each column-pruned and
    *    filter-pushed independently by Catalyst;
    *  - equality-delete keys recorded under an old schema are translated
    *    id-wise, so a delete keyed on a since-renamed column still kills
    *    exactly the rows it targeted; a key the current schema dropped
    *    fails with [[CompactionError.Config]].
    *
    * When no live file was written under a non-current schema there is
    * one data group, no projection and no key translation — the plan is
    * exactly the history-less one. */
  def liveRows(spark: SparkSession, tasks: InputFileScanTasks,
      keepLineage: Boolean = false,
      schemas: Seq[TableSchema] = Nil,
      currentSchemaId: Long = -1L): DataFrame = {
    // (schema of a file, current schema) when any file needs reconciling
    val reconcile: Option[(FileScanTask => TableSchema, TableSchema)] =
      if (!SchemaReconcile.needed(schemas, currentSchemaId, tasks)) None
      else {
        val byId = schemas.map(s => s.schemaId -> s).toMap
        val current = byId.getOrElse(currentSchemaId,
          throw CompactionError.Config(
            s"current schema id $currentSchemaId not in schema history " +
              s"(${schemas.map(_.schemaId).mkString(", ")})"))
        val schemaOf = (t: FileScanTask) =>
          if (t.schemaId < 0 || t.schemaId == currentSchemaId) current
          else byId.getOrElse(t.schemaId, throw CompactionError.Config(
            s"file ${t.filePath} written under unknown schema id ${t.schemaId}"))
        Some((schemaOf, current))
      }

    val needSeq = tasks.equalityDeleteFiles.nonEmpty
    val needPos = keepLineage || tasks.positionDeleteFiles.nonEmpty
    // one scan per physical layout, projected by id onto the current one
    val data = tasks.dataFiles
      .groupBy(t => reconcile.map(_._1(t).schemaId)).toSeq.sortBy(_._1)
      .map { case (sid, group) =>
        val df = ScanPlanner.readDataFiles(spark, group, needSeq, needPos)
        reconcile match {
          case Some((schemaOf, current)) if !sid.contains(current.schemaId) =>
            SchemaReconcile.project(df, schemaOf(group.head), current)
          case _ => df
        }
      }.reduce(_ unionByName _)
    val userCols = reconcile.fold(
      data.columns.filterNot(MergeOnRead.HiddenCols.contains).toSeq)(
      _._2.fields.map(_.name)) ++
      (if (keepLineage) Seq(MergeOnRead.SysHiddenFilePath, MergeOnRead.SysHiddenPos)
       else Nil)

    // Broadcast gate for position deletes mirrors the equality-delete
    // gate: a heavily-deleted table can carry tens of GB of position
    // deletes, and a forced broadcast would OOM the executors — over the
    // threshold, fall back to a shuffled anti-join (AQE may still convert
    // it back at runtime if the actual size turns out small). Reference J1
    // (datafusion_processor.rs:315-345) delegates the same choice to its
    // engine at any delete volume.
    val posDel = ScanPlanner.readPositionDeletes(spark, tasks.positionDeleteFiles)
    val broadcastPos = ScanPlanner.broadcastable(spark,
      tasks.positionDeleteFiles.map(_.lengthBytes).sum)

    val eqTables = reconcile.fold(
      ScanPlanner.readEqualityDeletes(spark, tasks.equalityDeleteFiles)) {
      case (schemaOf, current) =>
        ScanPlanner.readEqualityDeletes(spark, tasks.equalityDeleteFiles,
          t => translateKeys(t, schemaOf(t), current))
    }
    MergeOnRead.liveRows(data, userCols, posDel, eqTables,
      broadcastPosDeletes = broadcastPos)
  }

  /** An equality-delete file's keys, written under `fileSchema`, as
    * (current name, column read from the file under its physical name
    * and cast to the current type). */
  private def translateKeys(t: FileScanTask, fileSchema: TableSchema,
      current: TableSchema): Seq[(String, Column)] =
    t.equalityIds.map { n =>
      val id = fileSchema.idByName.getOrElse(n,
        throw CompactionError.Config(
          s"equality column '$n' of ${t.filePath} not in its schema " +
            s"${fileSchema.schemaId}"))
      val cur = current.fieldById.getOrElse(id, throw CompactionError.Config(
        s"equality-delete ${t.filePath} keys on field $id ('$n'), which " +
          "the current schema dropped — the delete cannot apply"))
      cur.name -> col(n).cast(cur.dataType).as(cur.name)
    }
}

/** Mock executor — reference core/src/executor/mock.rs:22-29: performs no
  * IO and returns an empty rewrite (interface/wiring tests). */
object MockCompactionExecutor extends CompactionExecutor {
  override def rewriteFiles(spark: SparkSession, request: RewriteFilesRequest,
      sequenceNumber: Long): RewriteFilesResponse =
    RewriteFilesResponse(Nil, RewriteFilesStat())
}
