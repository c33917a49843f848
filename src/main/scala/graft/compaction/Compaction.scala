package graft.compaction

import graft.core._
import graft.io.FileIO
import graft.sources.ScanPlanner
import graft.txn.{CommitManager, FileTableCatalog, TableCatalog}
import graft.validate.Validator
import org.apache.spark.sql.SparkSession

/** Full-compaction driver — the reference's `Compaction::compact()`
  * lifecycle (core/src/compaction/mod.rs:197-352) on Spark:
  *
  *  1. load the current table snapshot (catalog resolve);
  *  2. plan: classify snapshot files into data / pos-delete / eq-delete
  *     scan tasks (S1+S2) and select the file groups to rewrite;
  *  3. read each group's live rows through a DSv2 scan pinned to the
  *     snapshot and scoped to the group's data files: each task applies
  *     its file's position deletes, deletion vector and equality deletes
  *     as it streams the file (J1-J3, P3 — the engine every read uses);
  *  4. write size-targeted parquet (S7-S9, X2);
  *  5. commit the atomic rewrite with retry + schema guard (T1/T2);
  *  6. optionally validate (V1): a fresh count of the same pinned,
  *     scoped read against the committed files' footer record counts;
  *     record metrics (M1).
  *
  * Empty table (no snapshot / no files) short-circuits to empty stats,
  * like the reference's early exit (mod.rs:227-232).
  */
final class Compaction(
    spark: SparkSession,
    tableDir: String,
    config: CompactionConfig = CompactionConfig(),
    retry: RetryConfig = RetryConfig(),
    catalogName: String = "local",
    metrics: CompactionMetrics = CompactionMetrics.global,
    executor: CompactionExecutor = SparkCompactionExecutor,
    /** Snapshot store (reference `Arc<dyn Catalog>`); file-backed by
      * default, in-memory or Iceberg-backed implementations slot in. */
    catalog: TableCatalog = FileTableCatalog
) {
  private val labels = metrics.Labels(catalogName, tableDir)

  def compact(): RewriteFilesStat = {
    val t0 = System.nanoTime()
    try {
      val snapOpt = catalog.load(tableDir)
      if (snapOpt.isEmpty || snapOpt.get.files.isEmpty)
        return RewriteFilesStat()
      val snap = snapOpt.get

      // plan (S1/S2): classify by content, select the rewrite set
      // (Full = everything; Incremental = the small-file backlog), then
      // split oversized data files into byte-range tasks (reference
      // {start, length} task model)
      val allTasks = ScanPlanner.toInputTasks(snap.files.map(_.toTask))
      if (allTasks.dataFiles.isEmpty) return RewriteFilesStat()
      // a PARTITIONED table (SQL `PARTITIONED BY`, carried as a snapshot
      // property) keeps its layout through compaction: the rewrite fans
      // out per partition value unless the caller configured a spec
      val config0 = this.config.partitionSpec match {
        case Nil => graft.core.PartitionSpecCodec.of(Some(snap)) match {
          case Nil  => this.config
          case spec => this.config.copy(partitionSpec = spec)
        }
        case _ => this.config
      }
      // a table with a declared write order keeps it through compaction
      // (unless the caller picked an explicit layout: zorder or its own
      // sortBy) — otherwise a rewrite would destroy the disjoint file
      // bounds the sorted writes paid a range exchange to create
      val config1 =
        if (config0.sortBy.nonEmpty || config0.zOrderBy.nonEmpty) config0
        else graft.core.WriteOrderCodec.of(Some(snap)) match {
          case Nil   => config0
          case order => config0.copy(sortBy = order)
        }
      // ...and its configured point-lookup bloom filters
      val config =
        if (config1.bloomColumns.nonEmpty) config1
        else graft.core.BloomColumns.of(Some(snap)) match {
          case Nil   => config1
          case specs => config1.copy(bloomColumns = specs)
        }
      val (selected0, kept0) = config.compactionType match {
        case CompactionType.Full => (allTasks.dataFiles, Nil)
        case CompactionType.Incremental(factor) =>
          val threshold = (config.targetFileSizeBytes * factor).toLong
          allTasks.dataFiles.partition(_.lengthBytes < threshold)
      }
      // filter scoping: stamped-bounds decision over the snapshot
      // entries — files the predicate provably misses are KEPT verbatim
      val (selected, kept) = config.filter match {
        case None => (selected0, kept0)
        case Some(sql) =>
          // a predicate that does not even PARSE, or that names columns
          // outside the schema, must FAIL the call — silently degrading
          // to a full-table rewrite would turn a typo into hours of
          // unrequested work. (A valid predicate whose shape the bounds
          // walker cannot use still conservatively scopes everything.)
          val parsed =
            try org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseExpression(sql)
            catch { case scala.util.control.NonFatal(e) =>
              throw CompactionError.Config(
                s"rewrite filter failed to parse: $sql — ${e.getMessage}")
            }
          snap.currentSchema.foreach { sc =>
            val known = sc.fields.map(_.name.toLowerCase).toSet
            val unknown = parsed.collect {
              case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
                  if !known(a.nameParts.mkString(".").toLowerCase) =>
                a.nameParts.mkString(".")
            }
            if (unknown.nonEmpty) throw CompactionError.Config(
              s"rewrite filter references unknown column(s) " +
                s"${unknown.distinct.mkString(", ")}: $sql (schema: " +
                s"${sc.fields.map(_.name).mkString(", ")})")
          }
          val inScope = graft.sources.ScanPruning.pruneDataFilesWithBounds(
            snap.files.filter(_.content == "data"),
            graft.sources.ScanPruning.constraintsOfSql(sql)).map(_.path).toSet
          val (in, out) = selected0.partition(t => inScope(t.filePath))
          (in, kept0 ++ out)
      }
      if (selected.isEmpty) return RewriteFilesStat()

      // PARTIAL PROGRESS: > 1 splits the rewrite set into byte-balanced
      // groups, each executed + committed independently (a mid-run
      // failure keeps earlier groups' work durable). 1 = the reference's
      // single atomic commit.
      val groups: Seq[Seq[graft.core.FileScanTask]] =
        if (config.partialProgressMaxCommits <= 1) Seq(selected)
        else graft.operators.BinPack
          .splitNGroups(selected, config.partialProgressMaxCommits)(_.lengthBytes)
          .filter(_.nonEmpty)

      var agg = RewriteFilesStat()
      groups.zipWithIndex.foreach { case (group, gi) =>
        val isLast = gi == groups.size - 1
        // each group commits against the CURRENT snapshot (its own CAS
        // loop re-guards staleness); schemas cannot drift mid-run — the
        // per-commit expectedSchemaId aborts the remaining groups if a
        // concurrent ALTER lands
        val cur =
          if (gi == 0) snap
          else catalog.loadOrThrow(tableDir)
        val tasks0 = allTasks.copy(dataFiles = group)
        val tasks = tasks0.copy(dataFiles =
          ScanPlanner.splitTasks(tasks0.dataFiles, config.splitTargetBytes))

        // execute (S3-S9) via the pluggable executor (reference
        // CompactionExecutor trait). The output dir is UNIQUE per run
        // (reference dataFilePrefix + run id): a concurrent compaction of
        // the same snapshot must never mode("overwrite") the winner's
        // already-committed data files.
        val outDir = s"$tableDir/data/${config.dataFilePrefix}-" +
          java.util.UUID.randomUUID().toString.take(8)
        val request = RewriteFilesRequest(tasks, null, config, outDir,
          schemas = snap.schemas, currentSchemaId = snap.schemaId,
          source = Some(SnapshotRef(tableDir, snap.version, catalog)))
        val startingSeq = tasks.dataFiles.map(_.sequenceNumber).max
        val response = executor.rewriteFiles(spark, request, startingSeq)
        val written = response.dataFiles

        // commit (T1/T2). Incremental removes ONLY the rewritten data
        // files: untouched data files stay, and delete files stay with
        // them (they still apply at read time; re-application to the
        // rewritten output is idempotent since it keeps the selected max
        // sequence number). When every data file was selected, the
        // delete files have nothing left to apply to and are removed by
        // the LAST commit — degenerating to the reference's full rewrite
        // for a single group.
        val groupPaths = group.map(_.filePath).toSet
        val groupNorm = groupPaths.map(ScanPlanner.normalizePath)
        // a deletion vector is 1:1 with its data file — once that file
        // is rewritten the vector is provably inert, so drop it in the
        // same commit instead of accreting dead metadata
        val deadVectors = cur.files.filter(f =>
          f.content == "deletion-vectors" &&
            f.referencedDataFile.exists(r =>
              groupNorm.contains(ScanPlanner.normalizePath(r)))).map(_.path)
        val removed: Set[String] =
          if (kept.isEmpty && isLast) {
            // every ORIGINAL delete file is inert now: all original data
            // files are (or just became) rewritten outputs whose live
            // rows already had the deletes applied (re-application was
            // idempotent); delete files committed DURING the run are not
            // listed and stay. Filter through the RELOADED snapshot — an
            // earlier group's commit may have already dropped a vector,
            // and re-listing a gone path would trip the staleness guard.
            val originalDeletes =
              snap.files.filter(_.content != "data").map(_.path).toSet
            val stillPresent = cur.files.map(_.path).toSet
            groupPaths ++ deadVectors ++
              (originalDeletes intersect stillPresent)
          } else groupPaths ++ deadVectors
        val committed = new CommitManager(tableDir, retry, metrics, labels,
            catalog = catalog)
          .rewriteFiles(
            addedFiles = written,
            removedPaths = removed,
            // the RUN-START schema id, not the reloaded one: every
            // group's rewrite request was planned (and its bytes laid
            // out) under snap's schema, so a concurrent ALTER must
            // abort the remaining groups — comparing the reloaded id
            // against itself would wave old-schema bytes through
            // stamped as current-schema files
            expectedSchemaId = snap.schemaId,
            startingSequenceNumber = startingSeq,
            useStartingSequenceNumber = config.useStartingSequenceNumber,
            sketches = outputSketches(cur, removed, written, config),
            // sort-layout rewrites through the DEFAULT executor land
            // each file as a contiguous slice of a sortWithinPartitions
            // stream (RollingWriter) — stamp the physical order so the
            // scan can report it. Custom executors are a contract, not
            // a proof — never stamped. Z-order is a space-filling
            // curve, not a lexicographic order: no stamp.
            sortedBy =
              if (config.sortBy.nonEmpty && config.zOrderBy.isEmpty &&
                  (executor eq SparkCompactionExecutor))
                graft.core.WriteOrderCodec.encode(config.sortBy)
              else "")

        // validate (V1): the group's live rows, counted by a NEW pinned,
        // scoped scan (nothing reused from the write's plan; with no
        // delete file the scoped snapshot's record counts answer it),
        // against the rows of the files this commit added, from the
        // footer record counts the commit stamped. A custom executor is
        // checked against the same pinned input.
        if (config.enableValidateCompaction) {
          val input = SparkCompactionExecutor.groupRows(spark, request)
          val writtenPaths = written.map(_.filePath).toSet
          val added = committed.files.filter(f => writtenPaths(f.path))
          if (config.strictValidation) {
            // fanout data files carry every original column, so the
            // committed leaf files read plainly; an empty rewrite
            // validates as 0 rows instead of a schema-less read
            val output =
              if (added.isEmpty) input.limit(0)
              else spark.read.parquet(added.map(_.path): _*)
                .select(input.columns.map(org.apache.spark.sql.functions.col): _*)
            Validator.validate(input, output, strict = true)
          } else
            Validator.validateCounts(input.count(), added.map(f =>
              if (f.recordCount >= 0) f.recordCount
              else graft.txn.TableWrites.parquetRowCount(f.path)).sum)
        }

        // stats: rewrittenFilesCount is the reference's INPUT-file
        // accounting (executor/mod.rs:56-60) — this group's data files
        // plus the delete files (incl. DVs) its merge consumed —
        // computed commit-side from FILE counts because the executor's
        // task list may hold several byte-range tasks per file. What
        // the commit REMOVED beyond the group's data files (dead DVs;
        // for the last group of a full rewrite, the original delete
        // files) is a separate stat: counting removals as "rewritten"
        // both inflated the last group and mislabeled delete files as
        // rewritten data files.
        val stat = response.stat.copy(
          rewrittenFilesCount = (groupPaths.size +
            tasks0.positionDeleteFiles.size +
            tasks0.equalityDeleteFiles.size).toLong,
          addedFilesCount = written.size.toLong,
          removedDeleteFilesCount = (removed -- groupPaths).size.toLong)
        metrics.addRewrittenFiles(labels, stat.rewrittenFilesCount)
        metrics.addAddedFiles(labels, stat.addedFilesCount)
        metrics.addRewrittenBytes(labels, stat.rewrittenBytes)
        agg = RewriteFilesStat(
          rewrittenFilesCount = agg.rewrittenFilesCount + stat.rewrittenFilesCount,
          addedFilesCount = agg.addedFilesCount + stat.addedFilesCount,
          rewrittenBytes = agg.rewrittenBytes + stat.rewrittenBytes,
          failedDataFilesCount = agg.failedDataFilesCount + stat.failedDataFilesCount,
          removedDeleteFilesCount =
            agg.removedDeleteFilesCount + stat.removedDeleteFilesCount)
      }
      agg
    } catch {
      case e: Throwable =>
        metrics.incExecutorError(labels)
        throw e
    } finally
      metrics.observeDuration(labels, (System.nanoTime() - t0) / 1e9)
  }

  /** NDV sketches for the rewrite's output files, or empty when the
    * pass shouldn't run (see [[CompactionConfig.sketchOutputs]]).
    *
    * AUTO rule — sketch only when it keeps the table's NDV statistic
    * serviceable ([[graft.txn.TableAnalyze.sketchNdv]] needs EVERY data
    * file sketched): every surviving (kept) data file already carries a
    * sketch, and at least one current data file does (so a table that
    * never had sketches pays nothing). Because a full compaction also
    * folds delete files away, this is the path that RESTORES the
    * statistic a delete-heavy table had lost.
    *
    * Safety: the pass reads the output files back (column-pruned to the
    * eligible columns); a path Spark reports that is NOT one of the
    * written files means the spelling normalization drifted — stamp
    * NOTHING rather than risk keying a sketch to the wrong file. A
    * written file with no observed rows legitimately sketches EMPTY for
    * every eligible column (zero rows or all nulls). */
  private def outputSketches(snap: graft.txn.TableSnapshot,
      removed: Set[String], written: Seq[DataFileMeta],
      config: CompactionConfig): Map[String, Map[String, String]] = {
    val data = snap.files.filter(_.content == "data")
    val kept = data.filterNot(f => removed.contains(f.path))
    val run = config.sketchOutputs.getOrElse(
      kept.forall(_.ndvSketch.nonEmpty) && data.exists(_.ndvSketch.nonEmpty))
    if (!run || written.isEmpty) return Map.empty
    val res = graft.core.NdvSketch.sketchFiles(spark, written.map(_.filePath))
    if (res.columns.isEmpty) return Map.empty
    // input_file_name reports URI-ENCODED paths (a space comes back as
    // %20); decode through java.net.URI before normalizing, falling
    // back to the raw string for paths that are not URI-parseable
    // (a literal space means the path was never encoded)
    def decode(p: String): String =
      try Option(new java.net.URI(p).getPath).getOrElse(p)
      catch { case _: java.net.URISyntaxException => p }
    val byNorm = res.byPath.map { case (p, m) =>
      ScanPlanner.normalizePath(decode(p)) -> m
    }
    val writtenNorm = written.map(m => ScanPlanner.normalizePath(m.filePath)).toSet
    if (byNorm.keySet.exists(!writtenNorm.contains(_))) return Map.empty
    val empty = res.columns.map(_ ->
      graft.core.NdvSketch.serialize(Array.empty[Long])).toMap
    written.map { m =>
      m.filePath ->
        (empty ++ byNorm.getOrElse(ScanPlanner.normalizePath(m.filePath),
          Map.empty[String, String]))
    }.toMap
  }

  /** [[Maintenance.shouldCompact]] gate in front of [[compact]] — the
    * call a scheduled maintenance tick makes: None means the table did
    * not need work (and no Spark job ran). Self-quiescing: the rewrite
    * leaves a state the policy then Skips. */
  def compactIfNeeded(
      minSmallFiles: Int = 2,
      smallFileFactor: Double = 0.75
  ): Option[RewriteFilesStat] =
    catalog.load(tableDir).flatMap { snap =>
      Maintenance.shouldCompact(snap, config, minSmallFiles, smallFileFactor) match {
        case Maintenance.Run(_)  => Some(compact())
        case Maintenance.Skip(_) => None
      }
    }

  /** Reference T3. */
  def expireSnapshots(keepLast: Int = 1): Seq[Long] =
    new CommitManager(tableDir, retry, metrics, labels, catalog = catalog)
      .expireSnapshots(keepLast)
}

object Compaction {
  /** Builder mirroring the reference's `CompactionBuilder` validation
    * (core/src/compaction/mod.rs:61-164): required session + table dir,
    * table must exist. */
  final case class Builder(
      spark: SparkSession = null,
      tableDir: String = null,
      config: CompactionConfig = CompactionConfig(),
      retry: RetryConfig = RetryConfig(),
      catalogName: String = "local",
      executor: CompactionExecutor = SparkCompactionExecutor,
      metrics: CompactionMetrics = CompactionMetrics.global,
      catalog: TableCatalog = FileTableCatalog
  ) {
    def withSpark(s: SparkSession): Builder = copy(spark = s)
    def withTableDir(d: String): Builder = copy(tableDir = d)
    def withConfig(c: CompactionConfig): Builder = copy(config = c)
    def withRetryConfig(r: RetryConfig): Builder = copy(retry = r)
    def withCatalogName(n: String): Builder = copy(catalogName = n)
    def withExecutor(e: CompactionExecutor): Builder = copy(executor = e)
    /** Reference `with_registry`: inject a metrics registry. */
    def withMetrics(m: CompactionMetrics): Builder = copy(metrics = m)
    /** Reference `with_catalog`: where snapshots resolve and commit. */
    def withCatalog(c: TableCatalog): Builder = copy(catalog = c)
    def build(): Compaction = {
      if (spark == null) throw CompactionError.Config("SparkSession is required")
      if (tableDir == null) throw CompactionError.Config("tableDir is required")
      if (!FileIO.exists(tableDir))
        throw CompactionError.Config(s"table dir does not exist: $tableDir")
      new Compaction(spark, tableDir, config, retry, catalogName,
        metrics, executor, catalog)
    }
  }
  def builder(): Builder = Builder()
}
