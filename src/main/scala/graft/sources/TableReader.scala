package graft.sources

import graft.compaction.SparkCompactionExecutor
import graft.core.CompactionError
import graft.plans.SchemaReconcile
import graft.streaming.{GraftTable, GraftTableSource}
import graft.txn.{FileEntry, FileTableCatalog, TableCatalog, TableSnapshot}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.graftbridge.DatasetBridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** User-facing merge-on-read table reads: resolve a snapshot through the
  * catalog and return its LIVE rows — what a query engine shows for the
  * table.
  *
  * Two engines serve the callers here:
  *  - [[read]] / [[readOption]] read through the DSv2 scan
  *    ([[GraftScan]]): per-task delete application, file pruning from the
  *    pushed filters, no join and no shuffle — the same scan SQL and
  *    `format("graft")` use, and, scoped to a file group, compaction's
  *    input and validation;
  *  - [[changes]] and the [[changelog]] family read scoped file subsets
  *    with the anti-join chain ([[SparkCompactionExecutor.liveRows]]).
  *
  * Time travel: pass `asOfVersion` to read any retained snapshot
  * (snapshots exist until [[graft.txn.CommitManager.expireSnapshots]]
  * drops them).
  */
object TableReader {

  def snapshot(
      tableDir: String,
      asOfVersion: Option[Long] = None,
      catalog: TableCatalog = FileTableCatalog
  ): TableSnapshot =
    asOfVersion match {
      case None => catalog.loadOrThrow(tableDir)
      case Some(v) => catalog.loadVersion(tableDir, v).getOrElse(
        throw CompactionError.Config(
          s"snapshot v$v does not exist (expired or never committed) under $tableDir"))
    }

  /** Earliest RETAINED version — the oldest point a changelog interval
    * can start from. A lagging checkpoint consumer compares its stored
    * `fromVersion` against this before calling [[changelog]]: below it,
    * the interval expired and the consumer must resync (full-read the
    * current table, re-checkpoint the current version). */
  def earliestVersion(
      tableDir: String,
      catalog: TableCatalog = FileTableCatalog): Option[Long] =
    catalog.versions(tableDir).minOption

  /** Live rows at a snapshot, or None when it holds no data files (a
    * bootstrap snapshot, or a fully-deleted table after compaction) —
    * the schema is unknowable without data files, so "empty" cannot be
    * represented as a DataFrame here.
    *
    * The frame is a DSv2 read PINNED to the snapshot resolved here: it
    * keeps returning that snapshot's rows after later commits, and the
    * materialized-view rewrite never substitutes it. */
  def readOption(
      spark: SparkSession,
      tableDir: String,
      asOfVersion: Option[Long] = None,
      catalog: TableCatalog = FileTableCatalog,
      /** Optional predicate over user columns, applied with `.filter`:
        * Spark pushes it into the scan, which prunes files by partition
        * transform, stamped bounds and null counts before any IO. */
      filter: Option[Column] = None,
      /** ALREADY-TRANSFORMED partition-value pruning (partition FIELD
        * name → allowed rendered values), see
        * [[graft.streaming.GraftTable]]. Callers must guarantee the rows
        * they consume can only live in the named partitions. */
      partitionFieldCandidates: Map[String, Set[String]] = Map.empty,
      /** Read only these data files of the snapshot, each in full, under
        * every delete file (see [[graft.streaming.GraftTable]]'s
        * `dataFileScope`) — a compaction file group's live rows. */
      dataFiles: Option[Set[String]] = None,
      /** Files above this size split into row-group-aligned tasks. */
      splitTargetBytes: Long = GraftBatchScan.DefaultSplitTargetBytes
  ): Option[DataFrame] = {
    val snap = snapshot(tableDir, asOfVersion, catalog)
    if (!GraftBatchScan.scopedSnapshot(snap, dataFiles).files
        .exists(_.content == "data")) None
    else {
      val table = new GraftTable(tableDir, GraftTableSource.schemaOf(snap),
        pinnedVersion = Some(snap.version), catalog = catalog,
        partitionFieldCandidates = partitionFieldCandidates,
        dataFileScope = dataFiles)
      val options =
        if (splitTargetBytes == GraftBatchScan.DefaultSplitTargetBytes)
          org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()
        else new org.apache.spark.sql.util.CaseInsensitiveStringMap(
          java.util.Map.of("splitTargetBytes", splitTargetBytes.toString))
      val df = DatasetBridge.ofRows(spark,
        DataSourceV2Relation.create(table, None, None, options))
      Some(filter.fold(df)(df.filter))
    }
  }

  /** Live rows of the table at the current (or `asOfVersion`) snapshot. */
  def read(
      spark: SparkSession,
      tableDir: String,
      asOfVersion: Option[Long] = None,
      catalog: TableCatalog = FileTableCatalog,
      filter: Option[Column] = None,
      partitionFieldCandidates: Map[String, Set[String]] = Map.empty,
      dataFiles: Option[Set[String]] = None,
      splitTargetBytes: Long = GraftBatchScan.DefaultSplitTargetBytes
  ): DataFrame =
    readOption(spark, tableDir, asOfVersion, catalog, filter,
      partitionFieldCandidates, dataFiles, splitTargetBytes).getOrElse(
      throw CompactionError.Config(
        s"table has no data files at the requested version under $tableDir"))

  /** Data files the graft scans under `df` plan, after static pruning
    * (partition transforms, stamped bounds, null counts) and before any
    * pushed LIMIT/TopN truncation — the evidence a pruning self-assert
    * compares against the unfiltered read. */
  def plannedDataFiles(df: DataFrame): Seq[String] =
    plannedDataEntries(df).map(_.path).distinct

  /** The snapshot entries behind [[plannedDataFiles]]. */
  private[graft] def plannedDataEntries(df: DataFrame): Seq[FileEntry] =
    df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan match {
        case g: GraftScan => g.plannedDataFiles
        case _ => Nil
      }
    }.flatten

  /** Change set between two retained snapshots: rows present at
    * `toVersion` but not `fromVersion` (`+`) and vice versa (`-`) —
    * multiset semantics (duplicate-row cardinality changes surface too).
    *
    * Scale design, in two layers:
    *
    *  1. *Metadata scoping.* A data file present in BOTH snapshots whose
    *     applicable delete chain cannot have changed produces the same
    *     live rows on each side, and identical multisets cancel in the
    *     diff — so such files are dropped from both reads before any IO.
    *     For an append-only interval (the common case) the diff scans
    *     ONLY the files added between the versions, not the table.
    *  2. *One-shuffle diff.* Instead of two `exceptAll`s (each of which
    *     re-plans both MoR reads and shuffles full-width rows twice),
    *     tag `after` rows +1 and `before` rows -1, union, and aggregate:
    *     `sum(tag) > 0` replicated that many times is `+`, `< 0` is `-`.
    *     Each side is scanned once; one hash aggregation total.
    */
  def changes(
      spark: SparkSession,
      tableDir: String,
      fromVersion: Long,
      toVersion: Long,
      catalog: TableCatalog = FileTableCatalog
  ): DataFrame = {
    import graft.txn.FileEntry
    val beforeSnap = snapshot(tableDir, Some(fromVersion), catalog)
    val afterSnap = snapshot(tableDir, Some(toVersion), catalog)

    def deletes(s: TableSnapshot) = s.files.filter(_.content != "data")
    def delKey(f: FileEntry) = (f.path, f.sequenceNumber, f.content)
    val commonDelKeys = deletes(beforeSnap).map(delKey).toSet intersect
      deletes(afterSnap).map(delKey).toSet
    val changedDeleteEntries: Seq[FileEntry] =
      (deletes(beforeSnap) ++ deletes(afterSnap))
        .filterNot(f => commonDelKeys(delKey(f)))
        .groupBy(delKey).values.map(_.head).toSeq
    val changedDeletes = changedDeleteEntries.map(delKey).toSet
    // An equality delete at sequence s applies to data files with seq < s.
    // Position deletes and deletion vectors name their target files
    // EXACTLY: vectors carry the referenced path in snapshot metadata,
    // and a position-delete file's referenced paths are read once at
    // plan time (delete files are small; the task readers share the
    // same per-JVM parse) — so a pos-delete commit scopes the diff to
    // just the files it touches, not every older-or-equal common file.
    // An unreadable pos-delete file (concurrent expiry mid-plan) falls
    // back to the old conservative rule for that file alone.
    val posScopes: Seq[(FileEntry, Option[Set[String]])] =
      changedDeleteEntries.filter(_.content == "position-deletes").map { e =>
        e -> (try Some(GraftBatchScan.posDeleteReferencedPaths(
            e.path, e.sizeBytes))
          catch { case scala.util.control.NonFatal(_) => None })
      }
    val exactTargets: Set[String] =
      changedDeleteEntries.collect {
        case e if e.content == "deletion-vectors" =>
          e.referencedDataFile.map(ScanPlanner.normalizePath).toSeq
      }.flatten.toSet ++ posScopes.flatMap(_._2.getOrElse(Set.empty))
    val conservativePos = posScopes.collect { case (e, None) => e }
    def affected(f: FileEntry): Boolean =
      exactTargets.contains(ScanPlanner.normalizePath(f.path)) ||
        changedDeletes.exists {
          case (_, seq, "equality-deletes") => f.sequenceNumber < seq
          case _ => false
        } ||
        conservativePos.exists(e => f.sequenceNumber <= e.sequenceNumber)
    def dataKey(f: FileEntry) = (f.path, f.sequenceNumber)
    val commonData =
      beforeSnap.files.filter(_.content == "data").map(dataKey).toSet intersect
        afterSnap.files.filter(_.content == "data").map(dataKey).toSet
    def scoped(s: TableSnapshot): Seq[FileEntry] = s.files.filter { f =>
      f.content != "data" || !commonData(dataKey(f)) || affected(f)
    }

    def live(snap: TableSnapshot, files: Seq[FileEntry]): Option[DataFrame] = {
      val tasks = ScanPlanner.toInputTasks(files.map(_.toTask))
      if (tasks.dataFiles.isEmpty) None
      else Some(SparkCompactionExecutor.liveRows(spark, tasks,
        schemas = snap.schemas, currentSchemaId = snap.schemaId))
    }
    // When the interval straddles the FIRST schema evolution, the before
    // snapshot predates a schema history, so its files still carry
    // schemaId -1 (the evolve commit stamps only its own snapshot
    // onward). Under the after history "-1" would read as current-schema
    // and skip reconciliation — stamp those files with the before
    // snapshot's schema id (the evolve stamped the same value on the
    // after side), so both sides reconcile identically.
    def stampLegacy(snap: TableSnapshot, files: Seq[FileEntry]): Seq[FileEntry] =
      if (afterSnap.schemas.isEmpty) files
      else files.map(f =>
        if (f.schemaId >= 0) f else f.copy(schemaId = snap.schemaId))
    // both sides reconcile to the AFTER snapshot's schema (its history
    // contains every older schema), so the diff compares like with like
    // even when the interval straddles a schema evolution
    val (before, after) =
      (live(afterSnap, stampLegacy(beforeSnap, scoped(beforeSnap))),
        live(afterSnap, stampLegacy(afterSnap, scoped(afterSnap)))) match {
      case (Some(b), Some(a)) => (b, a)
      case (Some(b), None)    => (b, b.limit(0))
      case (None, Some(a))    => (a.limit(0), a)
      case (None, None) =>
        // Nothing in scope — either every common file cancelled (a
        // properties-only / schema-only interval: the diff is genuinely
        // EMPTY) or neither snapshot holds data at all (schema unknowable
        // — that alone is an error). Borrow one retained data file for
        // its schema and diff zero rows against zero rows.
        val donor = Seq(afterSnap, beforeSnap)
          .flatMap(s => s.files.filter(_.content == "data").map(s -> _))
          .headOption.getOrElse(throw CompactionError.Config(
            s"neither v$fromVersion nor v$toVersion has any data files " +
              s"under $tableDir — nothing to diff"))
        val empty = live(afterSnap, stampLegacy(donor._1, Seq(donor._2)))
          .get.limit(0)
        (empty, empty)
    }
    require(!after.columns.contains("_change"),
      "column name _change is reserved by changes()")
    multisetDiff(after = after, before = before)
  }

  /** Per-commit CHANGELOG between two retained snapshots — the batch
    * CDC read (Iceberg's changelog scan / Delta's `table_changes`):
    * every row-level change in `(fromVersion, toVersion]`, attributed
    * to the main-lineage commit that made it:
    *
    *   - `_change_type`: `insert` | `delete` (an update is a delete +
    *     insert of the same key at one `_commit_version`);
    *   - `_commit_version`: the snapshot version the change landed in.
    *
    * Step costs, by commit shape:
    *
    *  - compaction rewrites (outputs at RETAINED sequence numbers) and
    *    delete-layout conversions (delete files swapped, data
    *    untouched) are row-preserving BY CONSTRUCTION — the
    *    [[graft.txn.CommitManager]] rewrite paths guard it — and are
    *    skipped with NO IO at all;
    *  - a pure append whose files no later-retained delete file can
    *    touch is emitted by READING the added files — no shuffle;
    *  - everything else pays one [[changes]] diff, metadata-scoped to
    *    the files the commit touched.
    *
    * Total cost is therefore proportional to the data the interval
    * actually changed, not to interval length × table size. WAP-staged
    * and branch snapshots are not main history and never surface.
    *
    * Downstream incremental pipelines drive this with a version
    * checkpoint: process `changelog(lastSeen, current)`, persist
    * `current`, repeat. */
  def changelog(
      spark: SparkSession,
      tableDir: String,
      fromVersion: Long,
      toVersion: Long,
      catalog: TableCatalog = FileTableCatalog
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    require(fromVersion < toVersion,
      s"changelog needs fromVersion < toVersion, got $fromVersion >= $toVersion")
    // endpoints must exist (same contract as changes()); interior
    // versions already expired simply merge their step into the next —
    // the diff across the gap still yields every net change, attributed
    // to the first surviving version after the gap. An EXPIRED endpoint
    // is the lagging-consumer case: routine `expireSnapshots` on the
    // source outran a checkpoint-driven reader. The missing interval is
    // unrecoverable by definition, so the error names the earliest
    // retained version and the resync recipe instead of leaving the
    // consumer to spelunk table metadata.
    def endpoint(v: Long, which: String): Unit =
      try { snapshot(tableDir, Some(v), catalog); () }
      catch { case _: CompactionError.Config =>
        val earliest = earliestVersion(tableDir, catalog)
        throw CompactionError.Config(
          s"changelog $which v$v is not retained under $tableDir" +
            earliest.fold(" (no versions retained)")(ev =>
              s" (earliest retained: v$ev, current: " +
                s"v${catalog.versions(tableDir).max})") +
            ". The interval before the earliest retained version " +
            "expired and cannot be replayed. To resync a lagging " +
            "checkpoint consumer: (1) full-read the CURRENT table " +
            "(TableReader.read), (2) rebuild downstream state from it, " +
            "(3) checkpoint the current version as the new fromVersion " +
            "— the same fallback MaterializedView.refresh applies " +
            "automatically.")
      }
    endpoint(fromVersion, "fromVersion")
    endpoint(toVersion, "toVersion")
    val mainVs: Seq[(Long, TableSnapshot)] = catalog.versions(tableDir)
      .filter(v => v >= fromVersion && v <= toVersion)
      .flatMap(v => catalog.loadVersion(tableDir, v).map(v -> _))
      .filterNot { case (_, s) => graft.txn.Branch.isOutOfMain(s) }
    // step classification first, DataFrame construction second: runs of
    // CONSECUTIVE pure-append commits fold into ONE multi-file scan with
    // a per-file _commit_version stamp, so a thousand-append history
    // plans O(1) scans instead of a thousand — driver-side plan size
    // must not grow linearly in commit count at 100 TB scale
    sealed trait ClStep
    case class ClAppend(version: Long, snap: TableSnapshot,
        files: Seq[graft.txn.FileEntry]) extends ClStep
    case class ClDiff(df: DataFrame) extends ClStep
    val rawSteps: Seq[ClStep] = mainVs.sliding(2).filter(_.size == 2).flatMap {
      case Seq((a, sa), (b, sb)) =>
        // a step where NEITHER side holds data is zero changes by
        // definition (schema-/property-only on an empty table) — and
        // changes() could not even derive a schema for it
        val anyData = (sa.files ++ sb.files).exists(_.content == "data")
        if (!anyData) None
        else {
          // shared commit-shape derivation ([[graft.txn.CommitShape]]):
          // row-preserving steps (rewrites, delete-layout conversions)
          // skip with no IO — the SAME classification the streaming
          // changelog and the .snapshots operation column use
          val d = graft.txn.CommitShape.diff(sa, sb)
          // do the interval-end snapshot's delete files provably leave
          // the commit's ADDED data untouched? (eq-deletes apply to
          // STRICTLY older sequence numbers, so a commit's own deletes
          // never hit its own data)
          def addedDataUntouched: Boolean = {
            val minSeq = d.addedData.map(_.sequenceNumber).min
            sb.files.filter(_.content != "data").forall {
              case del if del.content == "equality-deletes" =>
                del.sequenceNumber <= minSeq // applies to STRICTLY older
              case del if del.content == "deletion-vectors" =>
                !del.referencedDataFile.exists(p =>
                  d.addedData.exists(_.path == p))
              case _ => false // position deletes: targets unknown here
            }
          }
          // pure append no later-retained delete can touch: the change
          // set IS the added files' rows — read them, no diff shuffle
          val pureAppend = d.removed.isEmpty && d.addedDeletes.isEmpty &&
            d.addedData.nonEmpty && d.freshData.size == d.addedData.size &&
            addedDataUntouched
          // pure DELETE commits (no data files touched) don't need the
          // two-scan multiset diff: the change set is exactly the
          // before-live rows the new delete files kill — one scoped
          // scan semi-joined against the (small, broadcast) keys or
          // positions. Falls back to the diff when the fast path can't
          // apply exactly (schema evolution in play, unreadable refs).
          lazy val pureEqDelete = d.addedData.isEmpty &&
            d.removed.isEmpty && d.addedDeletes.nonEmpty &&
            d.addedDeletes.forall(_.content == "equality-deletes")
          lazy val purePosDelete = d.addedData.isEmpty &&
            d.removedData.isEmpty && d.addedDeletes.nonEmpty &&
            d.addedDeletes.forall(f =>
              f.content == "position-deletes" ||
                f.content == "deletion-vectors") &&
            // replaced vectors (OR-merge writes a fresh container) are
            // the only legal removals in a pure pos-delete commit
            d.removedDeletes.forall(_.content == "deletion-vectors")
          // UPSERT commit (eq-deletes + fresh data, nothing removed) —
          // the streaming CDC sink's per-batch shape. The generic diff
          // is catastrophic here at scale: the new eq-delete's sequence
          // number marks EVERY prior data file affected, so both
          // whole-table sides enter the multiset diff and per-batch
          // changelog cost grows with the TABLE (observed: 6.3→10 s
          // per shrinking batch at sf0.1). Instead: dying rows = the
          // before-live rows the new keys kill (one scan + broadcast
          // semi-join, no table-sized shuffle); born rows = the added
          // files' rows. The two batch-sized frames then cross-cancel
          // with exceptAll for multiset exactness (an upsert rewriting
          // identical row content nets to zero, same as the diff).
          lazy val upsertCommit = d.removed.isEmpty &&
            d.addedData.nonEmpty && d.freshData.size == d.addedData.size &&
            d.addedDeletes.nonEmpty &&
            d.addedDeletes.forall(_.content == "equality-deletes") &&
            addedDataUntouched
          if (sys.env.contains("GRAFT_CHANGELOG_DEBUG"))
            System.err.println(s"[changelog] step $a->$b rowPreserving=" +
              s"${d.isRowPreserving} pureAppend=$pureAppend upsert=" +
              s"$upsertCommit addedData=${d.addedData.size} addedDeletes=" +
              s"${d.addedDeletes.size} removed=${d.removed.size}")
          if (d.isRowPreserving) None
          else if (pureAppend) Some(ClAppend(b, sb, d.addedData))
          else if (upsertCommit)
            (for {
              dying <- eqDeleteStep(spark, sa, d.addedDeletes)
              born <- liveOf(spark, sb, d.addedData)
            } yield {
              val cols = born.columns.toSeq
              val dyingRows = dying.select(cols.map(col): _*)
              val plus = born.exceptAll(dyingRows)
                .withColumn("_change", lit("+"))
              val minus = dyingRows.exceptAll(born)
                .withColumn("_change", lit("-"))
              ClDiff(plus.unionByName(minus)
                .withColumn("_commit_version", lit(b)))
            })
              .orElse(Some(ClDiff(changes(spark, tableDir, a, b, catalog)
                .withColumn("_commit_version", lit(b)))))
          else if (pureEqDelete)
            eqDeleteStep(spark, sa, d.addedDeletes)
              .map(df => ClDiff(df.withColumn("_commit_version", lit(b))))
              .orElse(Some(ClDiff(changes(spark, tableDir, a, b, catalog)
                .withColumn("_commit_version", lit(b)))))
          else if (purePosDelete)
            posDeleteStep(spark, sa, d.addedDeletes)
              .map(df => ClDiff(df.withColumn("_commit_version", lit(b))))
              .orElse(Some(ClDiff(changes(spark, tableDir, a, b, catalog)
                .withColumn("_commit_version", lit(b)))))
          else Some(ClDiff(changes(spark, tableDir, a, b, catalog)
            .withColumn("_commit_version", lit(b))))
        }
    }.toSeq
    // group maximal runs of consecutive appends
    val groups: Seq[Seq[ClStep]] = rawSteps
      .foldLeft(List.empty[List[ClStep]]) {
        case ((cur @ ((_: ClAppend) :: _)) :: rest, s: ClAppend) =>
          (s :: cur) :: rest
        case (acc, s) => List(s) :: acc
      }.map(_.reverse).reverse
    val steps: Seq[DataFrame] = groups.flatMap {
      case Seq(ClDiff(df)) => Some(df)
      case Seq(ClAppend(v, snap, files)) =>
        liveOf(spark, snap, files).map(
          _.withColumn("_change", lit("+"))
            .withColumn("_commit_version", lit(v)))
      case appends =>
        val run = appends.collect { case a: ClAppend => a }
        foldedAppendRun(spark, run.map(a => (a.version, a.snap, a.files))).orElse {
          // schema reconciliation inside the run: per-commit scans —
          // each resolves its files under its own interval-end snapshot
          val perCommit = run.flatMap(a =>
            liveOf(spark, a.snap, a.files).map(
              _.withColumn("_change", lit("+"))
                .withColumn("_commit_version", lit(a.version))))
          if (perCommit.isEmpty) None
          else Some(perCommit.reduce(
            _.unionByName(_, allowMissingColumns = true)))
        }
    }
    if (steps.isEmpty) {
      // every step skipped (rewrite-/conversion-only interval) or no
      // data anywhere: an EMPTY changelog, shaped by the interval-end
      // schema when one is derivable
      val donor = mainVs.reverseIterator.flatMap { case (_, s) =>
        val data = s.files.filter(_.content == "data")
        if (data.isEmpty) None else liveOf(spark, s, data.take(1))
      }.nextOption().getOrElse(throw CompactionError.EmptyInterval(
        s"no data-bearing snapshots in [$fromVersion, $toVersion] under " +
          s"$tableDir — nothing to attribute"))
      return donor.limit(0)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(toVersion))
    }
    // unionByName(allowMissing): steps straddling a schema evolution
    // widen to the union; pre-evolution steps carry nulls for columns
    // born later (each step's rows are already reconciled to ITS
    // interval-end schema by changes()). BALANCED-TREE reduce: a linear
    // fold nests the plan `steps` deep and analyzer/optimizer recursion
    // cost grows superlinearly with commit count — the tree keeps plan
    // DEPTH logarithmic in the step count.
    balancedUnion(steps)
      .withColumn("_change_type",
        when(col("_change") === "+", lit("insert")).otherwise(lit("delete")))
      .drop("_change")
  }

  /** NET changes over `[fromVersion, toVersion]`: the per-commit
    * [[changelog]] collapsed per row VALUE. A row inserted and later
    * deleted inside the interval cancels out; a delete followed by a
    * re-insert of the same value nets to nothing; duplicate rows carry
    * their net multiplicity. The result is exactly the multiset
    * difference between the two endpoint states — but computed FROM the
    * changelog, so the cost is ∝ changed data (one shuffle grouping the
    * change rows by value), never two full endpoint scans.
    *
    *   - `_change_type`: `insert` (net-new row values) | `delete`
    *     (net-removed);
    *   - `_change_count`: that value's net multiplicity (≥ 1).
    *
    * Per-commit attribution is intentionally absent: a netted change
    * has no single version to attribute to (that is what [[changelog]]
    * is for). The shape downstream MERGE-style consumers want — apply
    * the interval's effect once, without replaying intermediate
    * churn. */
  def netChangelog(
      spark: SparkSession,
      tableDir: String,
      fromVersion: Long,
      toVersion: Long,
      catalog: TableCatalog = FileTableCatalog,
      /** Net over this column subset instead of the full row (the
        * Iceberg changelog-view "identifier columns" shape): the
        * changelog projects to these BEFORE the netting shuffle, so the
        * exchange carries only what the consumer keys on. Netting a
        * projection is only row-equivalent to projecting the net when
        * the subset distinguishes rows the way the consumer means it to
        * — exactly the identifier-column contract. Empty = full row. */
      columns: Seq[String] = Nil
  ): DataFrame = {
    import org.apache.spark.sql.functions._
    val ch0 = changelog(spark, tableDir, fromVersion, toVersion, catalog)
    val ch =
      if (columns.isEmpty) ch0
      else ch0.select((columns :+ "_change_type").map(col): _*)
    val dataCols = ch.columns.toSeq
      .filterNot(c => c == "_change_type" || c == "_commit_version")
    // GROUP BY the full row value (SQL groups NULLs together — exactly
    // the multiset-equality we want); map-side partial aggregation
    // makes the one shuffle carry distinct changed values, not rows
    ch.groupBy(dataCols.map(col): _*)
      .agg(sum(when(col("_change_type") === "insert", 1L).otherwise(-1L))
        .as("_net"))
      .filter(col("_net") =!= 0L)
      .withColumn("_change_type",
        when(col("_net") > 0L, lit("insert")).otherwise(lit("delete")))
      .withColumn("_change_count", abs(col("_net")))
      .drop("_net")
  }

  /** [[changelog]] with UPDATE PAIRING (the Iceberg changelog-view
    * `compute_updates` shape): inside one commit, a delete and an
    * insert sharing the same identifier-column tuple are one logical
    * UPDATE — re-typed `update_preimage` / `update_postimage` — and a
    * pair whose FULL rows are identical is a carry-over (e.g. an upsert
    * rewriting an unchanged row) and is dropped entirely. Everything
    * else stays a plain `insert`/`delete`.
    *
    * Pairing applies only when the key has EXACTLY one delete and one
    * insert in the commit — with duplicate keys on either side there is
    * no deterministic pre→post correspondence, so the rows honestly
    * stay unpaired rather than guessing.
    *
    * Cost: the changelog itself plus ONE shuffle on
    * (identifiers, commit) — the three window aggregates below share a
    * single window spec, so Spark plans one exchange + one sort over
    * the changed rows only. */
  def changelogUpdates(
      spark: SparkSession,
      tableDir: String,
      fromVersion: Long,
      toVersion: Long,
      identifierColumns: Seq[String],
      catalog: TableCatalog = FileTableCatalog
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(identifierColumns.nonEmpty,
      "changelogUpdates needs identifier columns (the UPDATE key)")
    val ch = changelog(spark, tableDir, fromVersion, toVersion, catalog)
    identifierColumns.foreach(c => require(ch.columns.contains(c),
      s"identifier column '$c' not in the changelog output " +
        s"(${ch.columns.mkString(", ")})"))
    val dataCols = ch.columns.toSeq
      .filterNot(c => c == "_change_type" || c == "_commit_version")
    // the carry-over test compares FULL pre/post rows (max + <=> over a
    // struct of every data column), which Spark only supports for
    // orderable types — a map column would fail deep in analysis, so
    // refuse up front with the recovery path instead
    val unorderable = ch.schema.fields
      .filter(f => dataCols.contains(f.name) && !orderableType(f.dataType))
    if (unorderable.nonEmpty) throw CompactionError.Config(
      "changelogUpdates compares full pre/post images, which requires " +
        "orderable column types; column(s) " +
        unorderable.map(f => s"${f.name}: ${f.dataType.simpleString}")
          .mkString("[", ", ", "]") +
        " are not orderable (maps) — consume the raw changelog() or " +
        "project the table without them before pairing")
    val w = Window.partitionBy(
      (identifierColumns :+ "_commit_version").map(col): _*)
    val isDel = col("_change_type") === "delete"
    val isIns = col("_change_type") === "insert"
    val row = struct(dataCols.map(col): _*)
    ch
      .withColumn("__d", sum(when(isDel, 1L).otherwise(0L)).over(w))
      .withColumn("__i", sum(when(isIns, 1L).otherwise(0L)).over(w))
      // each side's full row, visible to the other for the carry-over
      // test (defined only in the paired 1:1 case, which is when read)
      .withColumn("__drow", max(when(isDel, row)).over(w))
      .withColumn("__irow", max(when(isIns, row)).over(w))
      .withColumn("__paired", col("__d") === 1L && col("__i") === 1L)
      // carry-over: the pre-image equals the post-image on EVERY column
      .filter(!(col("__paired") && col("__drow") <=> col("__irow")))
      .withColumn("_change_type",
        when(col("__paired") && isDel, lit("update_preimage"))
          .when(col("__paired") && isIns, lit("update_postimage"))
          .otherwise(col("_change_type")))
      .drop("__d", "__i", "__drow", "__irow", "__paired")
  }

  /** Can rows of this type be compared/ordered by Spark? (Maps cannot;
    * structs/arrays inherit from their elements.) */
  private def orderableType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case _: MapType => false
      case s: StructType => s.fields.forall(f => orderableType(f.dataType))
      case a: ArrayType => orderableType(a.elementType)
      case u: UserDefinedType[_] => orderableType(u.sqlType)
      case _ => true
    }
  }

  /** unionByName(allowMissing) over `dfs` as a balanced tree (depth
    * O(log n) instead of the linear fold's O(n)). */
  private def balancedUnion(dfs: Seq[DataFrame]): DataFrame =
    if (dfs.size == 1) dfs.head
    else balancedUnion(dfs.grouped(2).map {
      case Seq(a, b) => a.unionByName(b, allowMissingColumns = true)
      case Seq(a) => a
    }.toSeq)

  /** A run of >= 2 consecutive pure-append commits as ONE scan: all the
    * runs' added files read together (they share one snapshot's schema
    * resolution — the run's LAST), each row's `_commit_version` stamped
    * from a literal path→version map on the hidden file-path column.
    * None when the run straddles a schema evolution (per-file schema
    * ids differ from the final snapshot's resolution) — the caller
    * falls back to per-commit scans. */
  private def foldedAppendRun(spark: SparkSession,
      run: Seq[(Long, TableSnapshot, Seq[graft.txn.FileEntry])]): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    val last = run.last._2
    val files = run.flatMap(_._3)
    val stamped =
      if (last.schemas.isEmpty) files
      else files.map(f =>
        if (f.schemaId >= 0) f else f.copy(schemaId = last.schemaId))
    val tasks = ScanPlanner.toInputTasks(stamped.map(_.toTask))
    if (tasks.dataFiles.isEmpty) return None
    if (SchemaReconcile.needed(last.schemas, last.schemaId, tasks)) return None
    val rows = SparkCompactionExecutor.liveRows(spark, tasks, keepLineage = true)
    val verByPath: Map[String, Long] = run.flatMap { case (v, _, fs) =>
      fs.map(f => ScanPlanner.normalizePath(f.path) -> v)
    }.toMap
    val userCols = rows.columns.toSeq.filterNot(c =>
      c == graft.plans.MergeOnRead.SysHiddenFilePath ||
        c == graft.plans.MergeOnRead.SysHiddenPos)
    Some(rows
      .withColumn("_commit_version",
        element_at(typedLit(verByPath),
          col(graft.plans.MergeOnRead.SysHiddenFilePath)))
      .withColumn("_change", lit("+"))
      .select((userCols :+ "_commit_version" :+ "_change").map(col): _*))
  }

  /** Change rows of a PURE equality-delete commit: before-live rows
    * matching any added delete file's keys, as `-` rows — one scan +
    * per-file (broadcast-gated) semi-joins instead of the two-scan
    * multiset diff. None when exactness can't be guaranteed without the
    * diff (schema evolution in play). */
  private def eqDeleteStep(spark: SparkSession, sa: TableSnapshot,
      added: Seq[graft.txn.FileEntry]): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    // the raw parquet key read below uses the files' own column names:
    // only exact when no schema history complicates resolution
    if (sa.schemas.nonEmpty &&
        (sa.files ++ added).exists(f => f.schemaId >= 0 && f.schemaId != sa.schemaId))
      return None
    if (added.exists(_.equalityIds.isEmpty)) return None
    // files sharing the SAME key columns merge into ONE key set and
    // ONE semi/anti pair: a commit's key set routinely lands as many
    // parquet part files (one per shuffle partition), and a per-FILE
    // chain would pay one table-wide join pair per part file. Distinct
    // groups (different key columns) still chain so a row claimed by
    // an earlier group never dies twice (multiset exactness); file
    // order within a commit is immaterial — every file shares the
    // commit's sequence number.
    val keyFrames: Seq[(Seq[String], DataFrame, Long)] =
      added.groupBy(_.equalityIds).toSeq.sortBy(_._1.mkString(" "))
        .map { case (ids, files) =>
          (ids, spark.read.parquet(files.map(_.path): _*)
            .select(ids.map(col): _*).distinct(),
            files.map(_.sizeBytes).sum)
        }
    // BEFORE-IMAGE scan pruning: a dying row must EQUAL one of the
    // commit's key tuples, so a data file whose stamped bounds exclude
    // the keys' [min, max] on any integral key column cannot hold one —
    // a CDC batch's keys usually cluster, so the pre-image scan scopes
    // to the touched range instead of the whole table. One driver-side
    // aggregate over the (batch-sized) key set, zero footer IO (bounds
    // come from the snapshot stamps; unstamped files are kept).
    // Single-key-set commits only: several sets would need a UNION of
    // keeps, which this conservative pass skips.
    val scanFiles: Seq[graft.txn.FileEntry] = keyFrames match {
      case Seq((_, keys, _)) =>
        import org.apache.spark.sql.types._
        val integral = keys.schema.fields.collect {
          case f if f.dataType == ByteType || f.dataType == ShortType ||
            f.dataType == IntegerType || f.dataType == LongType => f.name
        }.toSeq
        if (integral.isEmpty) sa.files
        else try {
          val aggs = integral.flatMap(c => Seq(
            min(col(c)).cast("long").as(s"mn_$c"),
            max(col(c)).cast("long").as(s"mx_$c")))
          val row = keys.agg(aggs.head, aggs.tail: _*).head()
          val bounds: ScanPruning.Bounds = integral.flatMap { c =>
            val (mi, ma) = (row.fieldIndex(s"mn_$c"), row.fieldIndex(s"mx_$c"))
            if (row.isNullAt(mi) || row.isNullAt(ma)) None
            else Some(c -> (row.getLong(mi), row.getLong(ma)))
          }.toMap
          ScanPruning.pruneDataFilesWithBounds(sa.files, bounds)
        } catch { case scala.util.control.NonFatal(_) => sa.files }
      case _ => sa.files
    }
    // every data file pruned = NOTHING can die: an empty frame with the
    // table schema (limit(0) collapses to an empty relation), not a
    // fallback to the expensive generic diff
    val live0Opt = liveOf(spark, sa, scanFiles).orElse(
      if (scanFiles.exists(_.content == "data")) None
      else liveOf(spark, sa, sa.files).map(_.limit(0)))
    live0Opt.map { live0 =>
      var remaining = live0
      val dying = keyFrames.map { case (ids, keys0, bytes) =>
        val keys = if (ScanPlanner.broadcastable(spark, bytes))
          broadcast(keys0) else keys0
        val d = remaining.as("d")
        val k = keys.as("k")
        val cond = ids
          .map(c => col(s"d.$c") === col(s"k.$c")).reduce(_ && _)
        val hit = d.join(k, cond, "left_semi")
        remaining = d.join(k, cond, "left_anti")
        hit
      }
      dying.reduce(_ unionByName _).withColumn("_change", lit("-"))
    }
  }

  /** Change rows of a PURE position-delete / deletion-vector commit:
    * before-live rows of the REFERENCED files at the newly-deleted
    * ordinals, as `-` rows. Scans only the referenced files; rows a
    * replaced vector had already killed are absent from the before-live
    * frame, so the semi-join emits exactly the newly-dead rows. */
  private def posDeleteStep(spark: SparkSession, sa: TableSnapshot,
      added: Seq[graft.txn.FileEntry]): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    val refs: Set[String] =
      try added.flatMap { e =>
        e.content match {
          case "deletion-vectors" =>
            Seq(e.referencedDataFile.map(ScanPlanner.normalizePath)
              .getOrElse(return None))
          case _ =>
            GraftBatchScan.posDeleteReferencedPaths(
              e.path, e.sizeBytes).toSeq
        }
      }.toSet
      catch { case scala.util.control.NonFatal(_) => return None }
    val scoped = sa.files.filter(f =>
      f.content != "data" || refs.contains(ScanPlanner.normalizePath(f.path)))
    val stamped =
      if (sa.schemas.isEmpty) scoped
      else scoped.map(f =>
        if (f.schemaId >= 0) f else f.copy(schemaId = sa.schemaId))
    val tasks = ScanPlanner.toInputTasks(stamped.map(_.toTask))
    if (tasks.dataFiles.isEmpty) return None
    if (SchemaReconcile.needed(sa.schemas, sa.schemaId, tasks)) return None
    val rows = SparkCompactionExecutor.liveRows(spark, tasks, keepLineage = true)
    val posTasks = added.map(_.toTask)
    val pos0 = ScanPlanner.readPositionDeletes(spark, posTasks)
      .getOrElse(return None)
    val pos = if (ScanPlanner.broadcastable(spark, added.map(_.sizeBytes).sum))
      broadcast(pos0) else pos0
    val userCols = rows.columns.toSeq.filterNot(c =>
      c == graft.plans.MergeOnRead.SysHiddenFilePath ||
        c == graft.plans.MergeOnRead.SysHiddenPos)
    Some(rows
      .join(pos, Seq(graft.plans.MergeOnRead.SysHiddenFilePath,
        graft.plans.MergeOnRead.SysHiddenPos), "left_semi")
      .select(userCols.map(col): _*)
      .withColumn("_change", lit("-")))
  }

  /** Live rows of a FILE SUBSET under `snap`'s schema resolution — the
    * changelog's pure-append fast path (no delete files in the task
    * set, so live rows are just the files' rows). */
  private def liveOf(spark: SparkSession, snap: TableSnapshot,
      files: Seq[graft.txn.FileEntry]): Option[DataFrame] = {
    val stamped =
      if (snap.schemas.isEmpty) files
      else files.map(f =>
        if (f.schemaId >= 0) f else f.copy(schemaId = snap.schemaId))
    val tasks = ScanPlanner.toInputTasks(stamped.map(_.toTask))
    if (tasks.dataFiles.isEmpty) None
    else Some(SparkCompactionExecutor.liveRows(spark, tasks,
      schemas = snap.schemas, currentSchemaId = snap.schemaId))
  }

  /** `after − before` as `+` rows and `before − after` as `-` rows,
    * multiset semantics, in ONE aggregation: tag, union, sum the tags,
    * replicate each survivor |sum| times. */
  private def multisetDiff(after: DataFrame, before: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val cols = after.columns.toSeq
    val tagged = after.withColumn("_graft_w", lit(1L))
      .unionByName(before.withColumn("_graft_w", lit(-1L)))
    tagged
      .groupBy(cols.map(col): _*)
      .agg(sum(col("_graft_w")).as("_graft_c"))
      .filter(col("_graft_c") =!= 0L)
      .withColumn("_change", when(col("_graft_c") > 0, lit("+")).otherwise(lit("-")))
      .withColumn("_graft_dup",
        explode(array_repeat(lit(1), abs(col("_graft_c")).cast("int"))))
      .select((cols :+ "_change").map(col): _*)
  }
}
