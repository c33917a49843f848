package graft.sql

import graft.compaction.{Compaction, OrphanCleanup}
import graft.core.{CompactionConfig, CompactionError, CompactionType, RetryConfig}
import graft.txn.{CommitManager, TableCatalog}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** SQL `CALL` maintenance procedures (Spark 4 [[org.apache.spark.sql
  * .connector.catalog.ProcedureCatalog]]) — the operational surface an
  * Iceberg user expects, over this engine's primitives:
  *
  * {{{
  *   CALL g.system.rewrite_data_files(`table` => 'db.t')
  *   CALL g.system.rewrite_data_files(`table` => 'db.t',
  *        mode => 'incremental', small_file_factor => 0.5)
  *   CALL g.system.expire_snapshots(`table` => 'db.t', retain_last => 5)
  *   CALL g.system.remove_orphan_files(`table` => 'db.t', dry_run => true)
  * }}}
  *
  * Results come back as driver-local rows ([[LocalScan]] — the work
  * itself runs as ordinary Spark jobs inside the engine calls).
  * Parallels Iceberg's SparkProcedures registry; the reference exposes
  * the same operations as its library API (BergLoom
  * `CompactionExecutor`), not SQL — procedures are this engine's
  * last-mile addition.
  */
private[sql] object GraftProcedures {

  val Names: Seq[String] = Seq(
    "rewrite_data_files", "rewrite_delete_files", "expire_snapshots",
    "remove_orphan_files", "create_tag", "drop_tag", "analyze_table",
    "evolve_partition_spec", "publish_wap", "discard_wap", "list_waps",
    "rollback_to_version", "create_branch", "drop_branch", "fast_forward",
    "list_branches", "rewrite_manifests", "create_materialized_view",
    "refresh_materialized_view", "drop_materialized_view",
    "create_replica", "sync_replica")

  def load(name: String, resolveDir: String => String,
      catalog: TableCatalog, catalogName: String): UnboundProcedure =
    name match {
      case "rewrite_data_files" => new RewriteDataFiles(resolveDir, catalog, catalogName)
      case "rewrite_delete_files" => new RewriteDeleteFiles(resolveDir, catalog)
      case "expire_snapshots"   => new ExpireSnapshots(resolveDir, catalog)
      case "create_tag"          => new CreateTag(resolveDir, catalog)
      case "drop_tag"            => new DropTag(resolveDir, catalog)
      case "remove_orphan_files" => new RemoveOrphanFiles(resolveDir, catalog)
      case "analyze_table"       => new AnalyzeTable(resolveDir, catalog)
      case "evolve_partition_spec" => new EvolvePartitionSpec(resolveDir, catalog)
      case "publish_wap"           => new PublishWap(resolveDir, catalog)
      case "rollback_to_version"   => new RollbackToVersion(resolveDir, catalog)
      case "discard_wap"           => new DiscardWap(resolveDir, catalog)
      case "list_waps"             => new ListWaps(resolveDir, catalog)
      case "create_branch"         => new CreateBranch(resolveDir, catalog)
      case "rewrite_manifests"     => new RewriteManifests(resolveDir, catalog)
      case "create_materialized_view" => new CreateMaterializedView(resolveDir, catalog)
      case "refresh_materialized_view" => new RefreshMaterializedView(resolveDir, catalog)
      case "drop_materialized_view" => new DropMaterializedView(resolveDir, catalog)
      case "create_replica" => new CreateReplica(resolveDir, catalog)
      case "sync_replica" => new SyncReplica(resolveDir, catalog)
      case "refresh_index" => new RefreshIndex(resolveDir, catalog)
      case "rebuild_index" => new RebuildIndex(resolveDir, catalog)
      case "drop_branch"           => new DropBranch(resolveDir, catalog)
      case "fast_forward"          => new FastForward(resolveDir, catalog)
      case "list_branches"         => new ListBranches(resolveDir, catalog)
      case other => throw CompactionError.Config(
        s"unknown procedure $other (available: ${Names.mkString(", ")})")
    }

  private def in(name: String, dt: DataType): ProcedureParameter =
    ProcedureParameter.in(name, dt).build()
  private def inDefault(name: String, dt: DataType, default: String): ProcedureParameter =
    ProcedureParameter.in(name, dt).defaultValue(default).build()

  private def localScan(out: StructType, data: Array[InternalRow],
      desc: String): java.util.Iterator[Scan] =
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = out
      override def rows(): Array[InternalRow] = data
      override def description(): String = desc
    }).iterator()

  /** Shared base: one-step bind (parameters are static per procedure). */
  private abstract class GraftProcedure(procName: String)
      extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false
  }

  private final class RewriteDataFiles(resolveDir: String => String,
      catalog: TableCatalog, catalogName: String)
      extends GraftProcedure("rewrite_data_files") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      inDefault("mode", StringType, "'full'"),
      inDefault("target_file_size_bytes", LongType,
        CompactionConfig().targetFileSizeBytes.toString),
      inDefault("small_file_factor", DoubleType, "0.75"),
      inDefault("validate", BooleanType, "false"),
      // 'colA,colB': OPTIMIZE-ZORDER-style rewrite — Morton-interleave
      // the two columns so output files carry tight min/max on both
      inDefault("zorder_by", StringType, "''"),
      // > 1: PARTIAL PROGRESS — up to N independent per-group commits,
      // so a mid-run failure keeps the committed groups' work
      inDefault("partial_progress_max_commits", IntegerType, "1"),
      // SQL predicate scoping the rewrite to files that may match
      // (metadata-only bounds decision); '' = everything
      inDefault("where", StringType, "''"))

    private val out = StructType(Seq(
      StructField("rewritten_files", LongType, nullable = false),
      StructField("added_files", LongType, nullable = false),
      StructField("rewritten_bytes", LongType, nullable = false),
      StructField("removed_delete_files", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val mode = input.getUTF8String(1).toString match {
        case "full" => CompactionType.Full
        case "incremental" => CompactionType.Incremental(input.getDouble(3))
        case other => throw CompactionError.Config(
          s"rewrite_data_files mode must be 'full' or 'incremental', got '$other'")
      }
      val zorder = input.getUTF8String(5).toString.split(',')
        .map(_.trim).filter(_.nonEmpty).toSeq
      val stat = Compaction.builder()
        .withSpark(SparkSession.active)
        .withTableDir(dir)
        .withCatalog(catalog)
        .withConfig(CompactionConfig(
          targetFileSizeBytes = input.getLong(2),
          compactionType = mode,
          enableValidateCompaction = input.getBoolean(4),
          zOrderBy = zorder,
          partialProgressMaxCommits = input.getInt(6),
          // NULL behaves like the '' default (the getUTF8String result
          // itself can be null — toString first would NPE)
          filter = Option(input.getUTF8String(7))
            .map(_.toString).filter(_.nonEmpty)))
        .build().compact()
      localScan(out, Array(InternalRow(
        stat.rewrittenFilesCount, stat.addedFilesCount, stat.rewrittenBytes,
        stat.removedDeleteFilesCount)),
        s"rewrite_data_files($catalogName.$dir)")
    }
  }

  /** MINOR compaction ([[graft.compaction.DeleteCompaction]]): fold
    * every live equality + position delete into one sorted set of
    * position-delete files without touching data files — the job that
    * keeps read-side anti-joins cheap between full rewrites. No-op
    * (zero rows) when there is nothing to gain. */
  private final class RewriteDeleteFiles(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("rewrite_delete_files") {

    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType))

    private val out = StructType(Seq(
      StructField("removed_delete_files", LongType, nullable = false),
      StructField("added_delete_files", LongType, nullable = false),
      StructField("deleted_positions", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val rows = graft.compaction.DeleteCompaction
        .convertIfNeeded(SparkSession.active, dir, catalog = catalog)
        .map(s => InternalRow(
          s.removedDeleteFiles, s.addedDeleteFiles, s.deletedPositions))
        .toArray
      localScan(out, rows, s"rewrite_delete_files($dir)")
    }
  }

  /** `CALL cat.system.analyze_table(table => 'db.t', columns => 'a,b')`
    * — distinct-count statistics for the CBO ([[graft.txn.TableAnalyze]]);
    * empty `columns` analyzes every top-level column. Returns the
    * committed counts; the scan reports them as `distinctCount` while
    * the table's file set is unchanged. */
  private final class AnalyzeTable(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("analyze_table") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      inDefault("columns", StringType, "''"),
      // equi-height histograms for the CBO (served through the DSv2
      // columnStats histogram surface under the same staleness guard)
      inDefault("histogram", BooleanType, "false"),
      inDefault("bins", IntegerType, "32"))

    private val out = StructType(Seq(
      StructField("column", StringType, nullable = false),
      StructField("ndv", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val cols =
        if (input.isNullAt(1)) Nil
        else input.getUTF8String(1).toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq
      val ndv = graft.txn.TableAnalyze.analyze(
        SparkSession.active, dir, cols, catalog,
        histogram = !input.isNullAt(2) && input.getBoolean(2),
        histogramBins = if (input.isNullAt(3)) 32 else input.getInt(3))
      val rows = ndv.toSeq.sortBy(_._1).map { case (c, n) =>
        InternalRow(org.apache.spark.unsafe.types.UTF8String.fromString(c), n)
      }.toArray
      localScan(out, rows, s"analyze_table($dir)")
    }
  }

  private final class ExpireSnapshots(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("expire_snapshots") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      inDefault("retain_last", IntegerType, "1"),
      // Iceberg's older_than: only versions committed before this
      // wall-clock ms expire; -1 disables the age gate
      inDefault("older_than_ms", LongType, "-1"))

    private val out = StructType(Seq(
      StructField("expired_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      // tagged versions survive expiration — enforced INSIDE
      // CommitManager.expireSnapshots, on every caller
      val expired = new CommitManager(dir, RetryConfig(), catalog = catalog)
        .expireSnapshots(keepLast = input.getInt(1),
          olderThanMs = if (input.isNullAt(2)) -1L else input.getLong(2))
      localScan(out, expired.map(v => InternalRow(v)).toArray,
        s"expire_snapshots($dir)")
    }
  }

  /** Named TAG over a snapshot version (Iceberg refs): readable via
    * `VERSION AS OF '<tag>'`, protected from expiration. Stored as the
    * `graft.ref.<name>` snapshot property. */
  private final class CreateTag(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("create_tag") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("tag", StringType),
      inDefault("version", LongType, "-1")) // -1 = current

    private val out = StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val tag = input.getUTF8String(1).toString
      // an all-numeric name would be shadowed by VERSION AS OF's
      // snapshot-number branch — unreachable, so refuse it up front
      if (tag.isEmpty || tag.forall(_.isDigit)) throw CompactionError.Config(
        s"tag name '$tag' must contain a non-digit (numeric strings " +
          "resolve as snapshot numbers)")
      val cur = catalog.loadOrThrow(dir)
      val v = input.getLong(2) match {
        case -1L => cur.version
        case x =>
          if (catalog.loadVersion(dir, x).isEmpty) throw CompactionError.Config(
            s"cannot tag version $x: not a retained snapshot")
          x
      }
      val key = s"${GraftCatalog.RefPropPrefix}$tag"
      new CommitManager(dir, RetryConfig(), catalog = catalog)
        .setTableProperties(Map(key -> v.toString), Set.empty,
          expectedSchemaId = cur.schemaId,
          // duplicate check against each attempt's RELOADED snapshot —
          // a concurrent create_tag of the same name loses loudly
          validate = reloaded =>
            if (reloaded.properties.contains(key)) throw CompactionError.Config(
              s"tag '$tag' already exists (drop_tag first)"))
      localScan(out, Array(InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(tag), v)),
        s"create_tag($dir, $tag)")
    }
  }

  private final class DropTag(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("drop_tag") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), in("tag", StringType))

    private val out = StructType(Seq(
      StructField("tag", StringType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val tag = input.getUTF8String(1).toString
      val cur = catalog.loadOrThrow(dir)
      val key = s"${GraftCatalog.RefPropPrefix}$tag"
      if (!cur.properties.contains(key)) throw CompactionError.Config(
        s"tag '$tag' does not exist")
      new CommitManager(dir, RetryConfig(), catalog = catalog)
        .setTableProperties(Map.empty, Set(key), expectedSchemaId = cur.schemaId)
      localScan(out, Array(InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(tag))),
        s"drop_tag($dir, $tag)")
    }
  }

  /** `CALL rollback_to_version(table, version)` — restore a retained
    * snapshot's content as a NEW commit (Iceberg's
    * `rollback_to_snapshot`): the bad commits stay time-travelable,
    * nothing is rewritten, and expiry reaps them later. */
  private final class RollbackToVersion(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("rollback_to_version") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("version", LongType))

    private val out = StructType(Seq(
      StructField("rolled_back_to", LongType, nullable = false),
      StructField("new_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val target = input.getLong(1)
      val committed = new CommitManager(dir, RetryConfig(), catalog = catalog)
        .rollbackTo(target)
      localScan(out, Array(InternalRow(target, committed.version)),
        s"rollback_to_version($dir, $target)")
    }
  }

  /** `CALL publish_wap(table, wap_id)` — cherry-pick a write-audit-
    * publish staged append ([[graft.txn.Wap]]) onto the live table.
    * The staged snapshot resolves by its wap id (the newest unpublished
    * one, so re-used ids behave like Iceberg's). */
  private final class PublishWap(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("publish_wap") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("wap_id", StringType))

    private val out = StructType(Seq(
      StructField("wap_id", StringType, nullable = false),
      StructField("staged_version", LongType, nullable = false),
      StructField("published_version", LongType, nullable = false),
      StructField("files_published", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val id = input.getUTF8String(1).toString
      val cur = catalog.loadOrThrow(dir)
      val staged = graft.txn.Wap.findStaged(catalog, dir, cur, id)
        .getOrElse(throw CompactionError.Config(
          s"no unpublished staged snapshot with wap id '$id'"))
      val before = cur.files.map(_.path).toSet
      val committed = new CommitManager(dir, RetryConfig(), catalog = catalog)
        .publishWap(staged.version)
      val added = committed.files.count(f => !before.contains(f.path))
      localScan(out, Array(InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(id),
        staged.version, committed.version, added.toLong)),
        s"publish_wap($dir, $id)")
    }
  }

  /** `CALL discard_wap(table, wap_id)` — drop an unpublished staged
    * snapshot and delete the files only it referenced. */
  private final class DiscardWap(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("discard_wap") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("wap_id", StringType))

    private val out = StructType(Seq(
      StructField("wap_id", StringType, nullable = false),
      StructField("staged_version", LongType, nullable = false),
      StructField("files_deleted", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val id = input.getUTF8String(1).toString
      val cur = catalog.loadOrThrow(dir)
      val staged = graft.txn.Wap.findStaged(catalog, dir, cur, id)
        .getOrElse(throw CompactionError.Config(
          s"no unpublished staged snapshot with wap id '$id'"))
      val deleted = new CommitManager(dir, RetryConfig(), catalog = catalog)
        .discardWap(staged.version)
      localScan(out, Array(InternalRow(
        org.apache.spark.unsafe.types.UTF8String.fromString(id),
        staged.version, deleted.size.toLong)),
        s"discard_wap($dir, $id)")
    }
  }

  /** `CALL list_waps(table)` — every staged snapshot, newest first,
    * with its published state. */
  private final class ListWaps(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("list_waps") {

    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType))

    private val out = StructType(Seq(
      StructField("wap_id", StringType, nullable = false),
      StructField("staged_version", LongType, nullable = false),
      StructField("parent_version", LongType, nullable = true),
      StructField("state", StringType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val cur = catalog.loadOrThrow(dir)
      val rows = graft.txn.Wap.listStaged(catalog, dir, cur).map {
        case (s, state) => InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(
            s.properties(graft.txn.Wap.IdProp)),
          s.version,
          s.properties.get(graft.txn.Wap.ParentProp)
            .flatMap(_.toLongOption).map(Long.box).orNull,
          org.apache.spark.unsafe.types.UTF8String.fromString(state))
      }.toArray
      localScan(out, rows, s"list_waps($dir)")
    }
  }

  /** `CALL create_materialized_view(table, view, group_by, aggs)` —
    * materialize a grouped sum/count over `table` as the catalog table
    * `view` ([[graft.mv.MaterializedView]]): readable like any table,
    * refreshed incrementally via `refresh_materialized_view`, and
    * substituted for matching aggregates by the optimizer when
    * registered in `spark.graft.mv.views`. `aggs` is
    * `fn:col:alias[,...]` with fn ∈ sum|count (`count:*:n` = count(*)).
    * STAR views: `dim_table` + `dim_on` (`factCol=dimCol[,...]`) join
    * the fact against that dimension — pinned at its current version —
    * before aggregating, so `group_by`/`aggs` may name dim columns. */
  private final class CreateMaterializedView(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("create_materialized_view") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("view", StringType),
      in("group_by", StringType),
      in("aggs", StringType),
      inDefault("dim_table", StringType, "''"),
      inDefault("dim_on", StringType, "''"),
      // LIVE-LIVE join view: both tables keep changing (no pin);
      // join_on uses leftCol=rightCol pairs like dim_on
      inDefault("join_table", StringType, "''"),
      inDefault("join_on", StringType, "''"))

    private val out = StructType(Seq(
      StructField("view", StringType, nullable = false),
      StructField("refreshed_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val srcDir = resolveDir(input.getUTF8String(0).toString)
      val viewName = input.getUTF8String(1).toString
      val viewDir = resolveDir(viewName)
      val group = input.getUTF8String(2).toString
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      val aggs = input.getUTF8String(3).toString
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { s =>
          s.split(":") match {
            case Array(fn, c, alias) =>
              graft.mv.MaterializedView.Agg(fn.trim, c.trim, alias.trim)
            case _ => throw CompactionError.Config(
              s"agg '$s' must be fn:col:alias (e.g. sum:v:sum_v, count:*:n)")
          }
        }
      val dimTable = input.getUTF8String(4).toString.trim
      val dimOn = input.getUTF8String(5).toString.trim
      val dim: Option[graft.mv.MaterializedView.Dim] =
        if (dimTable.isEmpty && dimOn.isEmpty) None
        else {
          if (dimTable.isEmpty || dimOn.isEmpty) throw CompactionError.Config(
            "star views need BOTH dim_table and dim_on (factCol=dimCol,...)")
          val pairs = dimOn.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
            .map { p =>
              p.split("=") match {
                case Array(f, d) => (f.trim, d.trim)
                case _ => throw CompactionError.Config(
                  s"dim_on pair '$p' must be factCol=dimCol")
              }
            }
          Some(graft.mv.MaterializedView.Dim(resolveDir(dimTable),
            pairs.map(_._1), pairs.map(_._2)))
        }
      val joinTable = input.getUTF8String(6).toString.trim
      val joinOn = input.getUTF8String(7).toString.trim
      val join: Option[graft.mv.MaterializedView.LiveJoin] =
        if (joinTable.isEmpty && joinOn.isEmpty) None
        else {
          if (joinTable.isEmpty || joinOn.isEmpty) throw CompactionError.Config(
            "live-join views need BOTH join_table and join_on " +
              "(leftCol=rightCol,...)")
          val pairs = joinOn.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
            .map { p =>
              p.split("=") match {
                case Array(l, r) => (l.trim, r.trim)
                case _ => throw CompactionError.Config(
                  s"join_on pair '$p' must be leftCol=rightCol")
              }
            }
          Some(graft.mv.MaterializedView.LiveJoin(resolveDir(joinTable),
            pairs.map(_._1), pairs.map(_._2)))
        }
      val spec = graft.mv.MaterializedView.Spec(group, aggs, dim, join)
      // cheap pre-validation BEFORE any commit: an invalid spec or an
      // occupied view path must not burn source versions (each bump
      // staleness-drops every other fresh view on the source)
      graft.mv.MaterializedView.validateSpec(spec)
      if (catalog.load(viewDir).isDefined) throw CompactionError.Config(
        s"'$viewName' already exists; drop_materialized_view first")
      // register next: the registry stamp is itself a source commit,
      // and the view must materialize the post-registration version or
      // it would be born stale. A failed create unregisters again
      // (best-effort — a dangling entry is harmless: the rewrite skips
      // dirs that do not load).
      graft.mv.MaterializedView.registerOnSource(srcDir, viewDir, catalog)
      // refresh the same-JVM negative-probe cache so the new view
      // substitutes immediately (other JVMs converge within the TTL)
      graft.mv.MaterializedViewRewrite.recordRegistryProbe(srcDir, has = true)
      val snap =
        try graft.mv.MaterializedView.create(
          SparkSession.active, viewDir, srcDir, spec, catalog)
        catch {
          case e: Throwable =>
            try graft.mv.MaterializedView
              .unregisterFromSource(srcDir, viewDir, catalog)
            catch { case _: Throwable => () }
            throw e
        }
      localScan(out, Array(InternalRow(
        UTF8String.fromString(viewName),
        snap.properties(graft.mv.MaterializedView.RefreshedVersionProp).toLong)),
        s"create_materialized_view($srcDir -> $viewDir)")
    }
  }

  /** `CALL drop_materialized_view(view)` — unregister from the source's
    * registry and delete the view table. */
  private final class DropMaterializedView(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("drop_materialized_view") {

    override def parameters(): Array[ProcedureParameter] =
      Array(in("view", StringType))

    private val out = StructType(Seq(
      StructField("view", StringType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val viewName = input.getUTF8String(0).toString
      val viewDir = resolveDir(viewName)
      val mv = catalog.loadOrThrow(viewDir)
      val src = mv.properties.getOrElse(graft.mv.MaterializedView.SourceProp,
        throw CompactionError.Config(s"$viewName is not a materialized view"))
      // unregister FIRST: once gone from the registry, no query can
      // substitute a half-deleted view. A source that was itself
      // already dropped has no registry left to clean.
      if (catalog.load(src).isDefined)
        graft.mv.MaterializedView.unregisterFromSource(src, viewDir, catalog)
      // release a star view's dim-pin tag so a dropped view never pins
      // dimension history forever (best-effort: an unparsable spec or a
      // dim dropped first leaves nothing to release)
      try graft.mv.MaterializedView.releaseDimPin(viewDir,
        graft.mv.MaterializedView.decodeSpec(
          mv.properties(graft.mv.MaterializedView.SpecProp)), catalog)
      catch { case _: Throwable => () }
      // same per-version cache concern as DROP TABLE (the view IS a
      // table): invalidate before and after the delete
      graft.txn.IcebergTableCatalog.invalidateTable(viewDir)
      graft.io.FileIO.deleteRecursive(viewDir)
      graft.txn.IcebergTableCatalog.invalidateTable(viewDir)
      localScan(out, Array(InternalRow(UTF8String.fromString(viewName))),
        s"drop_materialized_view($viewName)")
    }
  }

  /** `CALL refresh_materialized_view(view)` — apply the source's
    * changes since the last refresh (cost ∝ changed rows). */
  private final class RefreshMaterializedView(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("refresh_materialized_view") {

    override def parameters(): Array[ProcedureParameter] =
      Array(in("view", StringType))

    private val out = StructType(Seq(
      StructField("view", StringType, nullable = false),
      StructField("refreshed_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val viewName = input.getUTF8String(0).toString
      val v = graft.mv.MaterializedView.refresh(
        SparkSession.active, resolveDir(viewName), catalog)
      localScan(out, Array(InternalRow(UTF8String.fromString(viewName), v)),
        s"refresh_materialized_view($viewName)")
    }
  }

  /** `CALL create_replica(table, replica, keys)` — bootstrap a keyed
    * CDC replica of `table` at its current version
    * ([[graft.txn.Replicate.bootstrap]]); `sync_replica` then applies
    * net changes per call, cost ∝ changed data. */
  private final class CreateReplica(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("create_replica") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("replica", StringType),
      in("keys", StringType))

    private val out = StructType(Seq(
      StructField("replica", StringType, nullable = false),
      StructField("synced_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val srcDir = resolveDir(input.getUTF8String(0).toString)
      val replicaName = input.getUTF8String(1).toString
      val dstDir = resolveDir(replicaName)
      val keys = input.getUTF8String(2).toString
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      if (catalog.load(dstDir).isDefined) throw CompactionError.Config(
        s"'$replicaName' already exists")
      val v = graft.txn.Replicate.bootstrap(
        SparkSession.active, srcDir, dstDir, keys, catalog = catalog)
      localScan(out,
        Array(InternalRow(UTF8String.fromString(replicaName), v)),
        s"create_replica($srcDir -> $dstDir)")
    }
  }

  /** `CALL sync_replica(table, replica, keys)` — one atomic net-change
    * application ([[graft.txn.Replicate.sync]]). */
  private final class SyncReplica(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("sync_replica") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("replica", StringType),
      in("keys", StringType))

    private val out = StructType(Seq(
      StructField("replica", StringType, nullable = false),
      StructField("synced_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val srcDir = resolveDir(input.getUTF8String(0).toString)
      val replicaName = input.getUTF8String(1).toString
      val keys = input.getUTF8String(2).toString
        .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      val v = graft.txn.Replicate.sync(
        SparkSession.active, srcDir, resolveDir(replicaName), keys, catalog)
      localScan(out,
        Array(InternalRow(UTF8String.fromString(replicaName), v)),
        s"sync_replica($srcDir)")
    }
  }

  /** `CALL refresh_index(index)` — bring a serving index (IVF / IVF-PQ
    * vector index or tf / positional text index, dispatched on its own
    * metadata) up to its source corpus's current version via the
    * one-atomic-commit changelog catch-up. The corpus location comes
    * from the index's stored source property — an index always knows
    * what it indexes. Returns (kind, synced_version). */
  private final class RefreshIndex(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("refresh_index") {

    override def parameters(): Array[ProcedureParameter] =
      Array(in("index", StringType))

    private val out = StructType(Seq(
      StructField("kind", StringType, nullable = false),
      StructField("synced_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      import graft.pipeline.IndexMaintenance
      val idxDir = resolveDir(input.getUTF8String(0).toString)
      val props = catalog.loadOrThrow(idxDir).properties
      val spark = SparkSession.active
      // one dispatch table for every maintenance surface — see
      // IndexMaintenance.kinds for the marker ordering contract
      val ik = IndexMaintenance.kindOfOrThrow(props, idxDir)
      val (kind, v) = (ik.kind, ik.refresh(spark,
        IndexMaintenance.sourceOf(ik, props, idxDir), idxDir, catalog))
      localScan(out,
        Array(InternalRow(UTF8String.fromString(kind), v)),
        s"refresh_index($idxDir)")
    }
  }

  /** `CALL rebuild_index(index, when_drift_over => 1.5)` — the
    * drift-gated retrain for a frozen-model ANN index: when the last
    * refresh's stamped quantization error exceeds when_drift_over x
    * the build baseline, retrain over the current corpus and swap all
    * rows + model metadata in ONE atomic commit; when_drift_over <= 0
    * forces the rebuild unconditionally. Returns
    * (rebuilt, synced_version).
    *
    * TEXT indexes rebuild too, with layout as the "model": refresh
    * deltas land unpartitioned (correct but unprunable), so rebuild =
    * changelog catch-up + a FULL compaction that folds every delta back
    * into the bucket(term) layout — post-rebuild, a term lookup plans
    * only its buckets again. No drift signal exists for text, so the
    * rebuild is unconditional (when_drift_over is ignored). */
  private final class RebuildIndex(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("rebuild_index") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("index", StringType),
      inDefault("when_drift_over", DoubleType, "1.5"))

    private val out = StructType(Seq(
      StructField("rebuilt", BooleanType, nullable = false),
      StructField("synced_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      import graft.pipeline.AnnIndex
      val idxDir = resolveDir(input.getUTF8String(0).toString)
      val ratio = input.getDouble(1)
      val props = catalog.loadOrThrow(idxDir).properties
      val spark = SparkSession.active
      val (rebuilt, v) = props.get(AnnIndex.SourceProp) match {
        case Some(corpus) =>
          if (ratio <= 0.0)
            (true, AnnIndex.rebuild(spark, corpus, idxDir, catalog))
          else AnnIndex.rebuildIfDrifted(spark, corpus, idxDir,
            whenDriftOverX1000 = math.round(ratio * 1000), catalog) match {
            case Some(v2) => (true, v2)
            case None => (false, props.get(AnnIndex.SyncedProp)
              .flatMap(_.toLongOption).getOrElse(-1L))
          }
        case None =>
          import graft.pipeline.IndexMaintenance
          // non-frozen-model kinds (text/positional/bands) rebuild as
          // catch-up + delta fold; the shared dispatch table routes the
          // catch-up and validates the stored source structurally
          val ik = IndexMaintenance.kindOfOrThrow(props, idxDir)
          val corpus = IndexMaintenance.sourceOf(ik, props, idxDir)
          val v2 = ik.refresh(spark, corpus, idxDir, catalog)
          Compaction.builder()
            .withSpark(spark)
            .withTableDir(idxDir)
            .withCatalog(catalog)
            .withConfig(CompactionConfig(
              compactionType = CompactionType.Full))
            .build().compact()
          (true, v2)
      }
      localScan(out, Array(InternalRow(rebuilt, v)),
        s"rebuild_index($idxDir)")
    }
  }

  /** `CALL rewrite_manifests(table)` — consolidate an iceberg-format
    * table's manifests into one data + one deletes manifest (metadata
    * only; no data file moves). Incremental commits reuse previous
    * manifests, so a long append history accumulates one small manifest
    * per commit until the auto-merge threshold — this procedure is the
    * explicit compaction for planners that want single-manifest scans
    * NOW. Refused for graft-format tables (one JSON file list per
    * snapshot; nothing to consolidate). */
  private final class RewriteManifests(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("rewrite_manifests") {

    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType))

    private val out = StructType(Seq(
      StructField("manifests_before", IntegerType, nullable = false),
      StructField("manifests_after", IntegerType, nullable = false),
      StructField("version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val ice = catalog match {
        case c: graft.txn.IcebergTableCatalog.type => c
        case _ => throw CompactionError.Config(
          "rewrite_manifests applies to iceberg-format tables; the graft " +
            "format keeps one file list per snapshot")
      }
      val before = ice.manifestCount(dir)
      val cur = ice.loadOrThrow(dir)
      val snap = graft.txn.IcebergTableCatalog.withFullManifests {
        new CommitManager(dir, RetryConfig(), catalog = ice)
          .setTableProperties(Map.empty, Set.empty,
            expectedSchemaId = cur.schemaId)
      }
      localScan(out, Array(InternalRow(
        before, ice.manifestCount(dir), snap.version)),
        s"rewrite_manifests($dir)")
    }
  }

  /** `CALL create_branch(table, branch [, version])` — open a named
    * writable branch at a main snapshot ([[graft.txn.Branch]]). Write
    * to it with the session conf `spark.graft.branch = '<name>'` (the
    * `spark.wap.branch` analog) or `TableWrites.appendData(branch=…)`;
    * read it via `VERSION AS OF 'branch:<name>'`. */
  private final class CreateBranch(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("create_branch") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("branch", StringType),
      inDefault("version", LongType, "-1")) // -1 = current

    private val out = StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("fork_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val name = input.getUTF8String(1).toString
      val at = input.getLong(2) match {
        case -1L => None
        case x   => Some(x)
      }
      val snap = new CommitManager(dir, RetryConfig(), catalog = catalog)
        .createBranch(name, at)
      localScan(out, Array(InternalRow(
        UTF8String.fromString(name),
        graft.txn.Branch.refs(snap)(name))),
        s"create_branch($dir, $name)")
    }
  }

  /** `CALL drop_branch(table, branch)` — close the branch without
    * publishing; its snapshots become expiry-reapable tombstones. */
  private final class DropBranch(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("drop_branch") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), in("branch", StringType))

    private val out = StructType(Seq(
      StructField("branch", StringType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val name = input.getUTF8String(1).toString
      new CommitManager(dir, RetryConfig(), catalog = catalog).dropBranch(name)
      localScan(out, Array(InternalRow(UTF8String.fromString(name))),
        s"drop_branch($dir, $name)")
    }
  }

  /** `CALL fast_forward(table, branch)` — publish the branch head onto
    * main (refused if main's data changed since the fork) and close
    * the branch. Iceberg's `fast_forward` procedure, on this engine's
    * version chain. */
  private final class FastForward(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("fast_forward") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType), in("branch", StringType))

    private val out = StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("published_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val name = input.getUTF8String(1).toString
      val snap = new CommitManager(dir, RetryConfig(), catalog = catalog)
        .fastForward(name)
      localScan(out, Array(InternalRow(
        UTF8String.fromString(name), snap.version)),
        s"fast_forward($dir, $name)")
    }
  }

  /** `CALL list_branches(table)` — every OPEN branch with its fork and
    * resolved head version. */
  private final class ListBranches(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("list_branches") {

    override def parameters(): Array[ProcedureParameter] =
      Array(in("table", StringType))

    private val out = StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("fork_version", LongType, nullable = false),
      StructField("head_version", LongType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val cur = catalog.loadOrThrow(dir)
      val listing = catalog.versions(dir)
      val rows = graft.txn.Branch.refs(cur).toSeq.sortBy(_._1).map {
        case (name, fork) => InternalRow(
          UTF8String.fromString(name), fork,
          graft.txn.Branch.headFrom(catalog, dir, cur, name, listing).version)
      }.toArray
      localScan(out, rows, s"list_branches($dir)")
    }
  }

  private final class RemoveOrphanFiles(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("remove_orphan_files") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      inDefault("older_than_ms", LongType, OrphanCleanup.DefaultGraceMs.toString),
      inDefault("dry_run", BooleanType, "false"))

    private val out = StructType(Seq(
      StructField("orphan_path", StringType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      val grace = input.getLong(1)
      val stat =
        if (input.getBoolean(2)) OrphanCleanup.find(dir, catalog, graceMs = grace)
        else OrphanCleanup.remove(dir, catalog, graceMs = grace)
      localScan(out,
        stat.orphans.sorted.map(p => InternalRow(UTF8String.fromString(p))).toArray,
        s"remove_orphan_files($dir)")
    }
  }

  /** `CALL cat.system.evolve_partition_spec(table => 'db.t',
    * spec => 'l_returnflag|bucket:4:l_orderkey')` — layout evolution
    * (the Iceberg per-file spec-id model,
    * [[graft.txn.CommitManager.evolvePartitionSpec]]). The new spec
    * applies to files written from now on; existing files keep their
    * own spec for pruning; compaction migrates them. Spec syntax is
    * '|'-separated fields: a bare column name (identity),
    * `bucket:<n>:<col>`, `truncate:<w>:<col>`, `day:<col>`; empty
    * string evolves to unpartitioned. */
  private final class EvolvePartitionSpec(resolveDir: String => String,
      catalog: TableCatalog)
      extends GraftProcedure("evolve_partition_spec") {

    override def parameters(): Array[ProcedureParameter] = Array(
      in("table", StringType),
      in("spec", StringType))

    private val out = StructType(Seq(
      StructField("spec_id", LongType, nullable = false),
      StructField("spec", StringType, nullable = false)))

    override def call(input: InternalRow): java.util.Iterator[Scan] = {
      val dir = resolveDir(input.getUTF8String(0).toString)
      // bare-name fragments are identity-transform sugar
      val encoded = input.getUTF8String(1).toString.split('|')
        .map(_.trim).filter(_.nonEmpty)
        .map(f => if (f.contains(':')) f else s"identity:$f")
        .mkString("|")
      val spec = graft.core.PartitionSpecCodec.decode(encoded)
      val snap = catalog.loadOrThrow(dir)
      // every source column must exist in the table schema — a typo'd
      // spec would silently never fan out
      val cols: Set[String] =
        graft.streaming.GraftTableSource.schemaOf(snap).fieldNames.toSet
      if (cols.nonEmpty)
        spec.map(_.source).find(!cols.contains(_)).foreach(c =>
          throw CompactionError.Config(
            s"partition source column '$c' is not in the table schema " +
              s"(${cols.toSeq.sorted.mkString(", ")})"))
      val committed = new CommitManager(dir, RetryConfig(), catalog = catalog)
        .evolvePartitionSpec(spec, expectedSchemaId = snap.schemaId)
      localScan(out, Array(InternalRow(
        graft.core.PartitionSpecCodec.currentId(Some(committed)),
        UTF8String.fromString(graft.core.PartitionSpecCodec.encode(
          graft.core.PartitionSpecCodec.of(Some(committed)))))),
        s"evolve_partition_spec($dir)")
    }
  }
}
