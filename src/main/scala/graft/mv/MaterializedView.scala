package graft.mv

import graft.core.CompactionError
import graft.sources.TableReader
import graft.txn.{FileTableCatalog, TableCatalog, TableMetadata, TableSnapshot, TableWrites}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MATERIALIZED VIEWS with incremental, changelog-driven refresh — the
  * aggregation-maintenance layer a 100 TB pipeline needs: a grouped
  * SUM/COUNT over a big fact table is computed ONCE, then each refresh
  * applies only the rows the source actually changed since, via
  * [[TableReader.changelog]]:
  *
  *   refresh cost ∝ changed data + affected groups,
  *   not ∝ source table size.
  *
  * The view is an ordinary graft table (time-travelable, compactable,
  * readable by anything that reads tables) holding one row per group:
  * the group columns, the aggregate aliases, and [[RowCountCol]] — the
  * live source-row count per group, which is what makes DELETES
  * maintainable: a group's aggregates are adjusted by the signed delta,
  * and when its count reaches zero the row is removed.
  *
  * Aggregates: SUM and COUNT (over integral columns; `count(*)` as
  * `count` of `*`) are RETRACTABLE — a delete's contribution subtracts
  * without re-reading the group. MIN/MAX are maintained too, with the
  * honest asymmetry stated up front: inserts merge incrementally
  * (least/greatest), but a deleted row may BE the stored extreme, so
  * groups the interval DELETED from get their min/max recomputed from
  * the source — scoped to exactly those groups (column-pruned scan,
  * semi-join on the group key; sums/counts and every untouched group
  * stay incremental), so a delete-bearing refresh costs
  * ∝ changed data + affected groups' source rows, never ∝ view or
  * table size.
  *
  * STAR views ([[Dim]]): the spec may name a dimension table to join
  * the fact source against before aggregating — `GROUP BY` columns and
  * aggregates may then reference dim columns. The dim is pinned at one
  * immutable version, so refresh deltas (inserts and delete
  * before-images alike) enrich identically and retraction stays exact;
  * the incremental cost model is unchanged (the changelog delta joins
  * a broadcast-sized dim).
  *
  * Concurrency: the refreshed-version marker commits ATOMICALLY with
  * the merged rows (one upsert commit), and a per-attempt validate
  * aborts if another refresh advanced the marker first — a delta can
  * never apply twice. Refresh is idempotent: re-running at the same
  * source version is a no-op.
  */
object MaterializedView {

  /** MV table properties: the source dir, the spec, and the source
    * version the stored state reflects. */
  val SourceProp = "graft.mv.source"
  val SpecProp = "graft.mv.spec"
  val RefreshedVersionProp = "graft.mv.refreshed-version"
  /** Session conf listing view dirs the optimizer may substitute for
    * matching aggregates ([[MaterializedViewRewrite]]). */
  val ViewsConf = "spark.graft.mv.views"
  /** SOURCE-table property listing its views (comma-separated dirs) —
    * stamped by [[registerOnSource]] (the create procedure does) so
    * substitution works for every session with zero conf, the way a
    * database's MVs behave. The session conf ADDS to this registry. */
  val RegisteredProp = "graft.mv.registered"

  /** The one registry list codec — writers and readers of
    * [[RegisteredProp]] must agree on it. */
  def parseList(raw: String): Seq[String] =
    raw.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
  def encodeList(dirs: Seq[String]): String = dirs.mkString(",")

  /** Record `mvDir` in the source table's registry property (CAS'd,
    * merge-safe under concurrent registrations). */
  def registerOnSource(sourceDir: String, mvDir: String,
      catalog: TableCatalog = FileTableCatalog): Unit = {
    val cur = catalog.loadOrThrow(sourceDir)
    new graft.txn.CommitManager(sourceDir, catalog = catalog)
      .updateTableProperties(cur.schemaId) { reloaded =>
        val existing = reloaded.properties.get(RegisteredProp)
          .map(parseList).getOrElse(Nil)
        (Map(RegisteredProp -> encodeList((existing :+ mvDir).distinct)),
          Set.empty)
      }
  }

  /** Remove `mvDir` from the source registry (no-op when absent). */
  def unregisterFromSource(sourceDir: String, mvDir: String,
      catalog: TableCatalog = FileTableCatalog): Unit = {
    val cur = catalog.loadOrThrow(sourceDir)
    new graft.txn.CommitManager(sourceDir, catalog = catalog)
      .updateTableProperties(cur.schemaId) { reloaded =>
        val remaining = reloaded.properties.get(RegisteredProp)
          .map(parseList).getOrElse(Nil).filterNot(_ == mvDir)
        if (remaining.isEmpty) (Map.empty[String, String], Set(RegisteredProp))
        else (Map(RegisteredProp -> encodeList(remaining)), Set.empty[String])
      }
  }
  /** Live source rows per group — the delete-maintenance column. */
  val RowCountCol = "mv_rowcount"
  /** Hidden NEVER-NULL canonical group-key column — the view's physical
    * upsert/merge key. Group columns with NULL values are legal SQL
    * groups, but the engine's equality-delete semantics are `===` (a
    * NULL-containing key matches nothing, by design, plan and readers
    * agreeing), so keying the stored state by the group columns
    * directly would leave a NULL-group row un-replaceable: refresh
    * would append a second row for that group and never delete the
    * stale one. Encoding the whole group tuple into one injective,
    * session-independent string makes the physical key total: NULL
    * groups merge, update and delete exactly like any other group. */
  val KeyCol = "mv_key"

  /** Injective, session-independent encoding of the group tuple:
    * length-prefixed per-column tokens (`v<len>:<canonical>;` or `n;`
    * for NULL). Canonical forms avoid every session-dependent
    * rendering: instants encode as epoch micros (cast-to-string honors
    * the session time zone), dates as epoch days, binary as base64;
    * everything else casts to string (deterministic per value). */
  private[graft] def keyExpr(group: Seq[String],
      schema: org.apache.spark.sql.types.StructType): Column = {
    import org.apache.spark.sql.types._
    val parts = group.map { g =>
      val dt = schema.fields.find(_.name == g).map(_.dataType)
        .getOrElse(StringType)
      val canon: Column = dt match {
        case TimestampType => unix_micros(col(g)).cast("string")
        case DateType => datediff(col(g), to_date(lit("1970-01-01")))
          .cast("string")
        case BinaryType => base64(col(g))
        case _ => col(g).cast("string")
      }
      when(col(g).isNull, lit("n;"))
        .otherwise(concat(lit("v"), length(canon), lit(":"), canon, lit(";")))
    }
    if (parts.size == 1) parts.head else concat(parts: _*)
  }

  /** Append [[KeyCol]] to an aggregated state/delta frame. */
  private def withKey(spec: Spec, df: DataFrame): DataFrame =
    df.withColumn(KeyCol, keyExpr(spec.group, df.schema))
  /** Per-sum non-null count column — what keeps SQL null semantics
    * exact: `sum(x)` over a group whose x is entirely null is NULL,
    * which a 0-initialized running total cannot represent. The stored
    * sum is 0-based; [[read]] and the optimizer rewrite serve NULL
    * whenever this count is zero. */
  def nnCol(alias: String): String = s"mv_nn_$alias"

  /** One aggregate: `fn` ∈ sum|count, `col` a source column (`*` for
    * count), `alias` the MV output column. */
  final case class Agg(fn: String, col: String, alias: String)

  /** STAR-SCHEMA enrichment: the view aggregates `source ⋈ dim` instead
    * of the bare source — `GROUP BY n_name` over a fact keyed by
    * nation, the bread-and-butter reporting MV. The dimension is PINNED
    * at `version` (0 = pin the current version at create): every
    * refresh joins both the inserts and the delete before-images to the
    * SAME immutable dim snapshot, which is what keeps retraction exact
    * — a fact row leaves with precisely the enriched tuple it arrived
    * with. The join is INNER (unmatched fact rows don't reach the
    * view), and a dim change does NOT flow into the stored state until
    * the view is recreated against a new pin — the honest contract for
    * slowly-changing dimensions. */
  final case class Dim(dir: String, factKeys: Seq[String],
      dimKeys: Seq[String], version: Long = 0L)

  /** LIVE-LIVE JOIN view: the aggregate maintains `source ⋈ right`
    * where BOTH tables keep changing — no pin. Refresh applies the
    * bilinear delta rule
    * `Δ(A⋈B) = ΔA ⋈ B@old  +  A@new ⋈ ΔB` (signed), each term a
    * changelog joined against the OTHER side's snapshot via time travel,
    * so refresh cost is ∝ changed rows × their matches, never either
    * table. sum/count only (retractable); min/max needs the pinned-dim
    * star form, where deleted-from groups can be recomputed against a
    * stable enrichment. */
  final case class LiveJoin(dir: String, leftKeys: Seq[String],
      rightKeys: Seq[String])
  final case class Spec(group: Seq[String], aggs: Seq[Agg],
      dim: Option[Dim] = None, join: Option[LiveJoin] = None)

  /** Right-side refresh marker of a [[LiveJoin]] view (the left side
    * uses [[RefreshedVersionProp]], like every other view). */
  val Refreshed2Prop = "graft.mv.refreshed-version-2"

  /** The tag name [[create]] stamps on the dimension table to protect
    * the pinned version from `expire_snapshots` (tag targets always
    * survive expiry). Deterministic in the view dir so drop can remove
    * it; two views pinning the same dim get distinct tags. */
  def dimPinTag(mvDir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(mvDir.getBytes("UTF-8"))
      .take(6).map(b => f"$b%02x").mkString
    s"graft.ref.mvpin-$h"
  }

  /** Remove the dim-pin tag for `mvDir` (no-op for dim-less views or an
    * already-dropped dim table). Drop paths call this so a deleted view
    * never pins dim history forever. */
  def releaseDimPin(mvDir: String, spec: Spec,
      catalog: TableCatalog = FileTableCatalog): Unit =
    spec.dim.foreach { d =>
      catalog.load(d.dir).foreach { cur =>
        new graft.txn.CommitManager(d.dir, catalog = catalog)
          .updateTableProperties(cur.schemaId) { _ =>
            (Map.empty[String, String], Set(dimPinTag(mvDir)))
          }
      }
    }

  /** `df` joined to the spec's pinned dimension snapshot (identity
    * when the spec has none). Shared by create, refresh deltas, the
    * min/max group recompute and the full-recompute fallback — every
    * path MUST enrich identically or retraction breaks. */
  private def enriched(spark: SparkSession, df: DataFrame, spec: Spec,
      catalog: TableCatalog): DataFrame = spec.dim match {
    case None => df
    case Some(d) =>
      val dimDf = (try TableReader.readOption(spark, d.dir,
          asOfVersion = Some(d.version), catalog = catalog)
        catch { case e: CompactionError.Config =>
          // unlike a lagging source marker (full-recompute fallback),
          // a lost dim pin is unrecoverable by definition: the exact
          // snapshot the stored rows joined against is gone
          throw CompactionError.Config(
            s"star view's pinned dimension ${d.dir}@v${d.version} is no " +
              "longer readable. The pin is tag-protected from " +
              "expire_snapshots; if the tag was removed manually, drop " +
              "and recreate the view to re-pin against the current " +
              s"dimension. Cause: ${e.getMessage}")
        }).getOrElse(
          throw CompactionError.Config(
            s"dimension table ${d.dir}@v${d.version} holds no data rows; " +
              "a star-schema view needs a non-empty pinned dimension"))
      val overlap = df.columns.toSet.intersect(dimDf.columns.toSet)
      if (overlap.nonEmpty) throw CompactionError.Config(
        s"fact and dimension share column names (${overlap.toSeq.sorted
          .mkString(", ")}); rename one side before creating the view")
      val cond = d.factKeys.zip(d.dimKeys)
        .map { case (f, k) => df(f) === dimDf(k) }.reduce(_ && _)
      df.join(dimDf, cond, "inner")
  }

  /** Inner equi-join of live-join view rows; `left` may carry the
    * refresh weight column, which never collides (reserved `__` name).
    * Shared by create, both refresh delta terms, and the join full
    * recompute — every path MUST join identically or retraction
    * breaks. */
  private def joinRows(left: DataFrame, right: DataFrame,
      j: LiveJoin): DataFrame = {
    val overlap = left.columns.toSet.intersect(right.columns.toSet)
    if (overlap.nonEmpty) throw CompactionError.Config(
      s"live-join sides share column names (${overlap.toSeq.sorted
        .mkString(", ")}); rename one side before creating the view")
    val cond = j.leftKeys.zip(j.rightKeys)
      .map { case (l, r) => left(l) === right(r) }.reduce(_ && _)
    left.join(right, cond, "inner")
  }

  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }
  def encodeSpec(s: Spec): String = mapper.writeValueAsString(s)
  def decodeSpec(json: String): Spec = mapper.readValue(json, classOf[Spec])

  private[graft] def validateSpec(s: Spec): Unit = {
    if (s.group.isEmpty) throw CompactionError.Config(
      "materialized view needs at least one group column")
    if (s.aggs.isEmpty) throw CompactionError.Config(
      "materialized view needs at least one aggregate")
    s.aggs.foreach { a =>
      if (!Set("sum", "count", "min", "max").contains(a.fn))
        throw CompactionError.Config(
          s"aggregate '${a.fn}' is not maintainable; materialized views " +
            "maintain sum/count (retractable) and min/max (merged on " +
            "inserts, group-scoped source recompute when a refresh " +
            "interval deletes)")
      if (a.fn != "count" && a.col == "*") throw CompactionError.Config(
        s"${a.fn} needs a column")
      if (a.alias == RowCountCol || s.group.contains(a.alias) ||
          a.alias.startsWith("mv_"))
        throw CompactionError.Config(
          s"alias '${a.alias}' collides (the mv_ prefix is reserved)")
    }
    val aliases = s.aggs.map(_.alias)
    if (aliases.distinct.size != aliases.size)
      throw CompactionError.Config("duplicate aggregate aliases")
    s.dim.foreach { d =>
      if (d.factKeys.isEmpty || d.factKeys.size != d.dimKeys.size)
        throw CompactionError.Config(
          "a dimension join needs equally many (and at least one) fact " +
            "and dim key columns")
      if (d.version < 0) throw CompactionError.Config(
        "dimension version must be >= 0 (0 = pin current at create)")
    }
    s.join.foreach { j =>
      if (s.dim.isDefined) throw CompactionError.Config(
        "a view is either a pinned-dim star (dim) or a live-live join " +
          "(join), not both")
      if (j.leftKeys.isEmpty || j.leftKeys.size != j.rightKeys.size)
        throw CompactionError.Config(
          "a live join needs equally many (and at least one) left and " +
            "right key columns")
      s.aggs.find(a => a.fn == "min" || a.fn == "max").foreach { a =>
        throw CompactionError.Config(
          s"${a.fn} is not maintainable over a live-live join (the " +
            "deleted-from-group recompute needs a stable enrichment); " +
            "pin the right side as a star dimension instead")
      }
    }
  }

  /** The spec's non-retractable aggregates. min/max merge cheaply on
    * inserts (least/greatest) but a deleted row may BE the current
    * extreme — deleting intervals recompute them from the source, for
    * exactly the deleted-from groups. */
  private def minMaxAggs(s: Spec): Seq[Agg] =
    s.aggs.filter(a => a.fn == "min" || a.fn == "max")

  /** Signed aggregation of change rows: `weight` is +1 for inserts, -1
    * for deletes, so the same expression computes both the initial full
    * state (all weights 1) and a refresh delta. */
  private def signedAgg(spec: Spec, rows: DataFrame, weight: Column): DataFrame = {
    val aggCols: Seq[Column] = spec.aggs.flatMap { a =>
      a.fn match {
        case "sum" => Seq(
          // null-safe running total; the paired non-null count decides
          // whether [[read]] serves it or SQL's NULL
          sum(coalesce(col(a.col).cast("long"), lit(0L)) * weight).as(a.alias),
          sum(when(col(a.col).isNotNull, weight).otherwise(0L))
            .as(nnCol(a.alias)))
        case "count" =>
          if (a.col == "*") Seq(sum(weight).as(a.alias))
          else Seq(sum(when(col(a.col).isNotNull, weight).otherwise(0L))
            .as(a.alias))
        // min/max over INSERT rows only (weight > 0): a delete's value
        // cannot retract from the stored extreme — [[refresh]] recomputes
        // the deleted-from groups from the source instead, and this
        // insert-side merge only ever applies to untouched groups.
        // Stored in the source column's own type; an all-null (or
        // delete-only) group stores SQL's NULL directly.
        case "min" => Seq(
          min(when(weight > 0, col(a.col))).as(a.alias))
        case "max" => Seq(
          max(when(weight > 0, col(a.col))).as(a.alias))
      }
    } :+ sum(weight).as(RowCountCol)
    rows.groupBy(spec.group.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
  }

  /** Every stored state column beyond the group: aggregate aliases,
    * their non-null counts (sums), and the row count. */
  private def stateColumns(spec: Spec): Seq[String] =
    spec.aggs.flatMap(a =>
      a.alias +: (if (a.fn == "sum") Seq(nnCol(a.alias)) else Nil)) :+
      RowCountCol

  /** Create the view table at `mvDir` and materialize the CURRENT
    * source state. Returns the committed snapshot. */
  def create(
      spark: SparkSession,
      mvDir: String,
      sourceDir: String,
      spec: Spec,
      catalog: TableCatalog = FileTableCatalog
  ): TableSnapshot = {
    validateSpec(spec)
    val srcSnap = catalog.loadOrThrow(sourceDir)
    if (spec.join.isDefined)
      return createJoin(spark, mvDir, sourceDir, srcSnap, spec, catalog)
    // pin the dimension: version 0 resolves to the dim's CURRENT
    // version, persisted in the stored spec so every later refresh —
    // inserts AND delete before-images — joins the same immutable
    // snapshot
    val pinned: Spec = spec.dim match {
      case Some(d) if d.version == 0L => spec.copy(dim =
        Some(d.copy(version = catalog.loadOrThrow(d.dir).version)))
      case _ => spec
    }
    // protect the pin: a tag property on the dim table (tag targets
    // always survive expire_snapshots). A lost pin is unrecoverable —
    // unlike a lagging source marker, which has the full-recompute
    // fallback — so it must never expire under routine maintenance.
    // drop_materialized_view releases the tag; a failed create does too.
    pinned.dim.foreach { d =>
      val dimSnap = catalog.loadOrThrow(d.dir)
      new graft.txn.CommitManager(d.dir, catalog = catalog)
        .updateTableProperties(dimSnap.schemaId) { _ =>
          (Map(dimPinTag(mvDir) -> d.version.toString), Set.empty)
        }
    }
    try createPinned(spark, mvDir, sourceDir, srcSnap, pinned, catalog)
    catch {
      case e: Throwable =>
        try releaseDimPin(mvDir, pinned, catalog)
        catch { case _: Throwable => () }
        throw e
    }
  }

  /** Resolve spec names CASE-INSENSITIVELY against the schema (the
    * Spark default) and persist the schema's own casing, so the stored
    * spec always matches the physical columns exactly. Dim/join keys
    * resolve the same way — the optimizer's star matching compares them
    * against plan attribute names, which carry schema casing. Also the
    * one place the aggregate TYPE guards live: sums are exact long
    * arithmetic (a double sum would silently truncate), min/max accept
    * any orderable atomic type. No-op on an empty schema map (empty
    * source: validated on first data). */
  private def resolveSpec(spec0: Spec,
      schemaTypes: Map[String, org.apache.spark.sql.types.DataType]): Spec = {
    import org.apache.spark.sql.types._
    if (schemaTypes.isEmpty) return spec0
    val byLower = schemaTypes.keys.map(k => k.toLowerCase -> k).toMap
    def resolve(c: String): String =
      if (schemaTypes.contains(c)) c
      else byLower.getOrElse(c.toLowerCase, throw CompactionError.Config(
        s"column '$c' is not in the source schema " +
          s"(${schemaTypes.keys.toSeq.sorted.mkString(", ")})"))
    val n = spec0.copy(
      group = spec0.group.map(resolve),
      aggs = spec0.aggs.map(a =>
        if (a.col == "*") a else a.copy(col = resolve(a.col))),
      dim = spec0.dim.map(d => d.copy(
        factKeys = d.factKeys.map(resolve),
        dimKeys = d.dimKeys.map(resolve))),
      join = spec0.join.map(j => j.copy(
        leftKeys = j.leftKeys.map(resolve),
        rightKeys = j.rightKeys.map(resolve))))
    // alias/group collisions can APPEAR under case resolution
    // (alias 'k' vs group 'K' -> 'k') — re-validate the resolved spec
    validateSpec(n)
    n.aggs.filter(_.fn == "sum").foreach { a =>
      schemaTypes(a.col) match {
        case LongType | IntegerType | ShortType | ByteType => ()
        case other => throw CompactionError.Config(
          s"sum over '${a.col}': ${other.simpleString} is not integral; " +
            "materialized sums are exact long arithmetic — store the " +
            "column pre-scaled (e.g. cents) instead")
      }
    }
    // min/max do no arithmetic: any orderable atomic type stores in
    // its own type (the merge is least/greatest, not addition)
    n.aggs.filter(a => a.fn == "min" || a.fn == "max").foreach { a =>
      schemaTypes(a.col) match {
        case LongType | IntegerType | ShortType | ByteType |
             DoubleType | FloatType | StringType | DateType |
             TimestampType | TimestampNTZType | BooleanType => ()
        case _: DecimalType => ()
        case other => throw CompactionError.Config(
          s"${a.fn} over '${a.col}': ${other.simpleString} is not an " +
            "orderable atomic type")
      }
    }
    n
  }

  /** Create a [[LiveJoin]] view: materialize γ(A@ca ⋈ B@cb) and stamp
    * BOTH side markers. Both sides must hold data at create — the type
    * guard and key resolution run against the real joined schema, and a
    * view over empty tables can simply be created after first data (or
    * start from the first refresh's full recompute). */
  private def createJoin(
      spark: SparkSession,
      mvDir: String,
      sourceDir: String,
      srcSnap: TableSnapshot,
      spec: Spec,
      catalog: TableCatalog
  ): TableSnapshot = {
    val j = spec.join.get
    val rightSnap = catalog.loadOrThrow(j.dir)
    val left = TableReader.readOption(spark, sourceDir,
        asOfVersion = Some(srcSnap.version), catalog = catalog)
      .getOrElse(throw CompactionError.Config(
        s"live-join view needs a non-empty left table ($sourceDir); " +
          "create the view after first data lands"))
    val right = TableReader.readOption(spark, j.dir,
        asOfVersion = Some(rightSnap.version), catalog = catalog)
      .getOrElse(throw CompactionError.Config(
        s"live-join view needs a non-empty right table (${j.dir}); " +
          "create the view after first data lands"))
    val joined = joinRows(left, right, j)
    val norm = resolveSpec(spec,
      joined.schema.fields.map(f => f.name -> f.dataType).toMap)
    catalog.commitCas(mvDir, TableSnapshot(1, 1, 0, Nil, properties = Map(
      SourceProp -> sourceDir,
      SpecProp -> encodeSpec(norm),
      RefreshedVersionProp -> "1",
      Refreshed2Prop -> "1")))
    val st = withKey(norm,
      signedAgg(norm, joinRows(left, right, norm.join.get), lit(1L)))
    if (!st.isEmpty)
      TableWrites.upsert(mvDir, st, Seq(KeyCol), catalog = catalog,
        setProperties = Map(
          RefreshedVersionProp -> srcSnap.version.toString,
          Refreshed2Prop -> rightSnap.version.toString))
    else
      new graft.txn.CommitManager(mvDir, catalog = catalog)
        .setTableProperties(
          Map(RefreshedVersionProp -> srcSnap.version.toString,
            Refreshed2Prop -> rightSnap.version.toString),
          Set.empty, expectedSchemaId = 1)
  }

  private def createPinned(
      spark: SparkSession,
      mvDir: String,
      sourceDir: String,
      srcSnap: TableSnapshot,
      pinned: Spec,
      catalog: TableCatalog
  ): TableSnapshot = {
    val full = TableReader.readOption(spark, sourceDir,
      asOfVersion = Some(srcSnap.version), catalog = catalog)
      .map(df => enriched(spark, df, pinned, catalog))
    // type guard against the resolvable (fact ⋈ dim) schema: the view's
    // sums are exact long arithmetic — a double/decimal column would be
    // silently truncated by the long cast, so refuse it up front
    // (pre-scale to integer cents instead). When the fact is still
    // EMPTY, fall back to its declared schema — for a star view UNIONED
    // with the pinned dim's schema (read or declared), so an empty fact
    // never skips the guard (an unvalidated create would let the first
    // refresh silently truncate).
    def declared(snap: TableSnapshot): Option[Map[String,
        org.apache.spark.sql.types.DataType]] =
      snap.currentSchema.map(_.fields.map(f =>
        f.name -> org.apache.spark.sql.types.DataType.fromDDL(f.dataType))
        .toMap)
    val schemaTypes: Map[String, org.apache.spark.sql.types.DataType] =
      full.map(_.schema.fields.map(f => f.name -> f.dataType).toMap)
        .orElse {
          val factTypes = declared(srcSnap)
          pinned.dim match {
            case None => factTypes
            case Some(d) =>
              val dimTypes = TableReader.readOption(spark, d.dir,
                  asOfVersion = Some(d.version), catalog = catalog)
                .map(_.schema.fields.map(f => f.name -> f.dataType).toMap)
                .orElse(catalog.loadVersion(d.dir, d.version)
                  .flatMap(declared))
              (factTypes, dimTypes) match {
                case (Some(f0), Some(d0)) =>
                  val overlap = f0.keySet.intersect(d0.keySet)
                  if (overlap.nonEmpty) throw CompactionError.Config(
                    s"fact and dimension share column names (${overlap
                      .toSeq.sorted.mkString(", ")}); rename one side " +
                      "before creating the view")
                  Some(f0 ++ d0)
                case _ => None // schema-less fact: validated on first data
              }
          }
        }
        .getOrElse(Map.empty)
    val norm: Spec = resolveSpec(pinned, schemaTypes)
    catalog.commitCas(mvDir, TableSnapshot(1, 1, 0, Nil, properties = Map(
      SourceProp -> sourceDir,
      SpecProp -> encodeSpec(norm),
      RefreshedVersionProp -> "1")))
    val state = full.map(df => withKey(norm, signedAgg(norm, df, lit(1L))))
    state match {
      case Some(st) if !st.isEmpty =>
        TableWrites.upsert(mvDir, st, Seq(KeyCol), catalog = catalog,
          setProperties = Map(RefreshedVersionProp -> srcSnap.version.toString))
      case _ =>
        // empty source: just advance the marker
        new graft.txn.CommitManager(mvDir, catalog = catalog)
          .setTableProperties(
            Map(RefreshedVersionProp -> srcSnap.version.toString),
            Set.empty, expectedSchemaId = 1)
    }
  }

  /** Incrementally refresh `mvDir` to the source's current version.
    * Returns the refreshed-to version (no-op when already current). */
  def refresh(
      spark: SparkSession,
      mvDir: String,
      catalog: TableCatalog = FileTableCatalog
  ): Long = {
    val mv = catalog.loadOrThrow(mvDir)
    val sourceDir = mv.properties.getOrElse(SourceProp,
      throw CompactionError.Config(s"$mvDir is not a materialized view"))
    val spec = decodeSpec(mv.properties(SpecProp))
    if (spec.join.isDefined)
      return refreshJoin(spark, mvDir, mv, spec, sourceDir, catalog)
    val lastV = mv.properties(RefreshedVersionProp).toLong
    val srcV = catalog.loadOrThrow(sourceDir).version
    if (srcV <= lastV) return lastV

    // stored state (None when the view holds no groups yet). A view
    // written before [[KeyCol]] existed cannot be incrementally merged
    // (its rows are un-replaceable under the new key) — rebuild it.
    val cur = TableReader.readOption(spark, mvDir, catalog = catalog)
    if (cur.exists(st => !st.columns.contains(KeyCol)))
      return fullRecompute(spark, mvDir, mv, spec, sourceDir, lastV, catalog)

    // exact multiset changes since the last refresh, full rows per
    // change (the BATCH changelog — key-deletes are already resolved).
    // ONLY the changelog call lives inside the try: its Config error
    // means "expired source marker" and the full-recompute fallback is
    // the cure. A dim-pin failure from enriched() (below, outside) is a
    // DIFFERENT, deliberately-loud error the fallback cannot cure — it
    // must surface directly, not after a wasted recompute attempt.
    val rawDelta = try {
      TableReader.changelog(spark, sourceDir, lastV, srcV, catalog)
    } catch {
      case _: CompactionError.EmptyInterval =>
        // a still-empty source advanced by schema/property commits:
        // zero changes — just move the marker (guarded like the data
        // path, so a concurrent refresh cannot double-advance)
        new graft.txn.CommitManager(mvDir, catalog = catalog)
          .updateTableProperties(mv.schemaId, validate = reloaded => {
            val nowV = reloaded.properties.get(RefreshedVersionProp)
              .flatMap(_.toLongOption).getOrElse(-1L)
            if (nowV != lastV) throw CompactionError.Config(
              s"concurrent refresh: marker moved v$lastV -> v$nowV")
          })(_ => (Map(RefreshedVersionProp -> srcV.toString), Set.empty))
        return srcV
      case _: CompactionError.Config =>
        // the marker's source snapshot was EXPIRED by routine source
        // maintenance (changelog needs both endpoints retained): a
        // lagging view must not be permanently bricked — fall back to
        // a full recompute of the current source state
        return fullRecompute(spark, mvDir, mv, spec, sourceDir, lastV, catalog)
    }
    // star views: enrich both the inserts AND the delete before-images
    // through the pinned dimension snapshot (deletes join to the SAME
    // dim rows their inserts did, so retraction stays exact)
    val delta = enriched(spark, rawDelta, spec, catalog)
      .withColumn("__w",
        when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L)))
    // min/max cannot retract from the delta alone: a deleted row may BE
    // a group's stored extreme. Only the groups the interval deleted
    // from can have lost one, though — recompute min/max for exactly
    // those groups from the source at the interval end (column-pruned
    // scan, semi-join on the group key; AQE broadcasts the key side
    // when small), while sums/counts — and every untouched group's
    // min/max — stay on the incremental merge. A delete-bearing refresh
    // therefore costs ∝ changed data + affected groups' source rows,
    // never ∝ view or table size, and its commit stays an UPSERT that
    // touches only affected groups (not a file-set swap).
    val minMax = minMaxAggs(spec)
    val deltaP = if (minMax.nonEmpty) delta.persist() else delta
    try {
      val affectedKeys: Option[DataFrame] =
        if (minMax.isEmpty) None
        else {
          val dels = deltaP.filter(col("__w") < 0L)
          if (dels.isEmpty) None
          else Some(dels
            .withColumn(KeyCol, keyExpr(spec.group, deltaP.schema))
            .select(KeyCol).distinct())
        }
      // ground truth for the affected groups: the source AT the interval
      // end. A group absent here lost its last row — its recomputed
      // min/max doesn't matter because its row count reaches zero and
      // the row is removed below. (An empty source means every affected
      // group died: skip the scan entirely.)
      val recomputed: Option[DataFrame] = affectedKeys.flatMap { keys =>
        TableReader.readOption(spark, sourceDir,
            asOfVersion = Some(srcV), catalog = catalog)
          .map(df => enriched(spark, df, spec, catalog))
          .map { srcDf =>
            val need = (spec.group ++ minMax.map(_.col)).distinct
            val scoped = srcDf.select(need.map(col): _*)
              .withColumn(KeyCol, keyExpr(spec.group, srcDf.schema))
              .join(keys, Seq(KeyCol), "left_semi")
            val aggs = minMax.map(a =>
              (if (a.fn == "min") min(col(a.col)) else max(col(a.col)))
                .as(s"_r_${a.alias}"))
            scoped.groupBy(col(KeyCol)).agg(aggs.head, aggs.tail: _*)
              .withColumn("_mv_aff", lit(true))
          }
      }

      val dAliases = stateColumns(spec)
      val dRenamed = dAliases.foldLeft(withKey(spec, signedAgg(spec, deltaP, col("__w"))))(
        (df, a) => df.withColumnRenamed(a, s"_d_$a"))

      // merge with the stored state for AFFECTED groups only: join the
      // delta (small) against the view on the total KEY column (NULL
      // group values are data here, not join keys); AQE broadcasts the
      // delta side
      val merged = cur match {
        case None => dRenamed
        case Some(st) =>
          dRenamed.join(st.select((KeyCol +: dAliases).map(col): _*),
            Seq(KeyCol), "left")
      }
      val mergedAll = recomputed.fold(merged)(r =>
        merged.join(r, Seq(KeyCol), "left"))
      def oldOf(a: String): Column =
        if (cur.isEmpty) lit(0L) else coalesce(col(a), lit(0L))
      // per-aggregate merge: sums/counts ADD (both sides null-safe — a
      // delta whose sum-column values are all null aggregates to a NULL
      // delta, and adding it un-coalesced would corrupt the stored total
      // to NULL); min/max take least/greatest, which skip NULLs exactly
      // right (new group -> delta value; all-null delta -> stored value)
      // — except deleted-from groups, which take the recomputed source
      // truth verbatim (the flag is true or NULL, so `when` routes
      // untouched groups to the incremental branch)
      val mergeFn: Map[String, String] = spec.aggs.collect {
        case a if a.fn == "min" || a.fn == "max" => a.alias -> a.fn
      }.toMap
      val next = dAliases.foldLeft(mergedAll)((df, a) =>
        df.withColumn(s"_n_$a", mergeFn.get(a) match {
          case Some(fn @ ("min" | "max")) =>
            val inc =
              if (cur.isEmpty) col(s"_d_$a")
              else if (fn == "min") least(col(a), col(s"_d_$a"))
              else greatest(col(a), col(s"_d_$a"))
            if (recomputed.isEmpty) inc
            else when(col("_mv_aff"), col(s"_r_$a")).otherwise(inc)
          case _ => oldOf(a) + coalesce(col(s"_d_$a"), lit(0L))
        }))
      val outCols: Seq[Column] = spec.group.map(col) ++
        (col(KeyCol) +: dAliases.map(a => col(s"_n_$a").as(a)))
      val out = next.select(outCols: _*).persist()
      try {
        val dead = out.filter(col(RowCountCol) === 0L).select(col(KeyCol))
        val live = out.filter(col(RowCountCol) =!= 0L)
        // the marker advances ATOMICALLY with the merged rows; the
        // validate aborts if a concurrent refresh advanced it first
        TableWrites.upsert(mvDir, live, Seq(KeyCol), catalog = catalog,
          deleteKeys = Some(dead),
          setProperties = Map(RefreshedVersionProp -> srcV.toString),
          validate = reloaded => {
            val nowV = reloaded.properties.get(RefreshedVersionProp)
              .flatMap(_.toLongOption).getOrElse(-1L)
            if (nowV != lastV) throw CompactionError.Config(
              s"concurrent refresh: marker moved v$lastV -> v$nowV; " +
                "re-run refresh (the newer state already includes these rows)")
          })
      } finally out.unpersist()
    } finally if (minMax.nonEmpty) deltaP.unpersist()
    srcV
  }

  /** Incremental refresh of a [[LiveJoin]] view. The bilinear delta
    * rule: with A the left table over (lastA → curA) and B the right
    * over (lastB → curB),
    *
    *   Δ(A⋈B) = ΔA ⋈ B@lastB  +  A@curA ⋈ ΔB     (signed)
    *
    * — each term a changelog (small, ∝ changed rows) joined to the
    * OTHER side's snapshot via time travel, weights riding the change
    * rows. Correct for inner equi-joins by the multiset identity
    * A1⋈B1 − A0⋈B0 = (A1−A0)⋈B0 + A1⋈(B1−B0). At scale each term's
    * big side prunes through the join (runtime filtering on the small
    * delta), so refresh cost is ∝ the deltas and their matches, never
    * either full table. An expired changelog endpoint or time-travel
    * snapshot on EITHER side falls back to a full recompute of
    * γ(A@curA ⋈ B@curB) — live-join views (unlike dim pins) are always
    * derivable from current state. */
  private def refreshJoin(
      spark: SparkSession,
      mvDir: String,
      mv: TableSnapshot,
      spec: Spec,
      aDir: String,
      catalog: TableCatalog): Long = {
    val j = spec.join.get
    val lastA = mv.properties(RefreshedVersionProp).toLong
    val lastB = mv.properties.getOrElse(Refreshed2Prop,
      throw CompactionError.Config(
        s"$mvDir is a live-join view without a right-side marker; " +
          "drop and recreate the view")).toLong
    val curA = catalog.loadOrThrow(aDir).version
    val curB = catalog.loadOrThrow(j.dir).version
    if (curA <= lastA && curB <= lastB) return lastA
    val cur = TableReader.readOption(spark, mvDir, catalog = catalog)
    if (cur.exists(st => !st.columns.contains(KeyCol)))
      return fullRecomputeJoin(spark, mvDir, mv, spec, aDir,
        lastA, lastB, catalog)

    val guard: TableSnapshot => Unit = reloaded => {
      val nowA = reloaded.properties.get(RefreshedVersionProp)
        .flatMap(_.toLongOption).getOrElse(-1L)
      val nowB = reloaded.properties.get(Refreshed2Prop)
        .flatMap(_.toLongOption).getOrElse(-1L)
      if (nowA != lastA || nowB != lastB) throw CompactionError.Config(
        s"concurrent refresh: markers moved (v$lastA,v$lastB) -> " +
          s"(v$nowA,v$nowB); re-run refresh")
    }
    val markers = Map(RefreshedVersionProp -> curA.toString,
      Refreshed2Prop -> curB.toString)

    val weight =
      when(col("_change_type") === "insert", lit(1L)).otherwise(lit(-1L))
    def deltaOf(dir: String, from: Long, to: Long): Option[DataFrame] =
      if (to <= from) None
      else try Some(
        TableReader.changelog(spark, dir, from, to, catalog)
          .withColumn("__w", weight)
          .drop("_change_type", "_commit_version"))
      catch { case _: CompactionError.EmptyInterval => None }

    val changes: Option[DataFrame] = try {
      val termA = deltaOf(aDir, lastA, curA).flatMap { dA =>
        TableReader.readOption(spark, j.dir, asOfVersion = Some(lastB),
            catalog = catalog)
          .map(b0 => joinRows(dA, b0, j))
      }
      val termB = deltaOf(j.dir, lastB, curB).flatMap { dB =>
        TableReader.readOption(spark, aDir, asOfVersion = Some(curA),
            catalog = catalog)
          .map(a1 => joinRows(a1, dB, j))
      }
      (termA, termB) match {
        case (Some(a), Some(b)) => Some(a.unionByName(b))
        case (a, b) => a.orElse(b)
      }
    } catch {
      case _: CompactionError.Config =>
        // an expired changelog endpoint or time-travel snapshot on
        // either side: routine source maintenance outran this view's
        // markers — rebuild from current state, never brick
        return fullRecomputeJoin(spark, mvDir, mv, spec, aDir,
          lastA, lastB, catalog)
    }

    changes match {
      case None =>
        // both sides advanced by property-only/empty commits: just move
        // the markers under the concurrency guard
        new graft.txn.CommitManager(mvDir, catalog = catalog)
          .updateTableProperties(mv.schemaId, validate = guard)(_ =>
            (markers, Set.empty))
      case Some(ch) =>
        // sum/count only (validateSpec enforces it) — the merge is the
        // plain additive half of the ungrouped path: delta += stored
        val dAliases = stateColumns(spec)
        val dRenamed = dAliases.foldLeft(
            withKey(spec, signedAgg(spec, ch, col("__w"))))(
          (df, a) => df.withColumnRenamed(a, s"_d_$a"))
        val merged = cur match {
          case None => dRenamed
          case Some(st) =>
            dRenamed.join(st.select((KeyCol +: dAliases).map(col): _*),
              Seq(KeyCol), "left")
        }
        def oldOf(a: String): Column =
          if (cur.isEmpty) lit(0L) else coalesce(col(a), lit(0L))
        val next = dAliases.foldLeft(merged)((df, a) =>
          df.withColumn(s"_n_$a", oldOf(a) + coalesce(col(s"_d_$a"), lit(0L))))
        val outCols: Seq[Column] = spec.group.map(col) ++
          (col(KeyCol) +: dAliases.map(a => col(s"_n_$a").as(a)))
        val out = next.select(outCols: _*).persist()
        try {
          val dead = out.filter(col(RowCountCol) === 0L).select(col(KeyCol))
          val live = out.filter(col(RowCountCol) =!= 0L)
          TableWrites.upsert(mvDir, live, Seq(KeyCol), catalog = catalog,
            deleteKeys = Some(dead), setProperties = markers,
            validate = guard)
        } finally out.unpersist()
    }
    curA
  }

  /** [[fullRecompute]] for live-join views: rebuild γ(A@cur ⋈ B@cur) in
    * one atomic file-set swap, both markers advancing together under
    * the two-marker concurrency guard. */
  private def fullRecomputeJoin(
      spark: SparkSession,
      mvDir: String,
      mv: TableSnapshot,
      spec: Spec,
      aDir: String,
      lastA: Long,
      lastB: Long,
      catalog: TableCatalog): Long = {
    if (mv.schemas.nonEmpty) throw CompactionError.Config(
      s"$mvDir carries a declared schema history (schema id " +
        s"${mv.schemaId}); materialized-view state tables are " +
        "schema-less — rebuild requires dropping and recreating the view")
    val j = spec.join.get
    val aSnap = catalog.loadOrThrow(aDir)
    val bSnap = catalog.loadOrThrow(j.dir)
    val guard: TableSnapshot => Unit = reloaded => {
      val nowA = reloaded.properties.get(RefreshedVersionProp)
        .flatMap(_.toLongOption).getOrElse(-1L)
      val nowB = reloaded.properties.get(Refreshed2Prop)
        .flatMap(_.toLongOption).getOrElse(-1L)
      if (nowA != lastA || nowB != lastB) throw CompactionError.Config(
        s"concurrent refresh: markers moved (v$lastA,v$lastB) -> " +
          s"(v$nowA,v$nowB)")
    }
    val markers = Map(RefreshedVersionProp -> aSnap.version.toString,
      Refreshed2Prop -> bSnap.version.toString)
    val state = for {
      a <- TableReader.readOption(spark, aDir,
        asOfVersion = Some(aSnap.version), catalog = catalog)
      b <- TableReader.readOption(spark, j.dir,
        asOfVersion = Some(bSnap.version), catalog = catalog)
    } yield withKey(spec, signedAgg(spec, joinRows(a, b, j), lit(1L)))
    val cm = new graft.txn.CommitManager(mvDir, catalog = catalog)
    state match {
      case Some(st) if !st.isEmpty =>
        val tag = java.util.UUID.randomUUID().toString.take(8)
        val files = TableWrites.writeParquet(st,
          s"$mvDir/data/mvfull-$tag",
          graft.core.CompactionConfig().parquetCompression)
        cm.overwriteAll(
          files.filter(_._3 > 0).map { case (p, len, rc) =>
            graft.sources.ParquetStats.stampBounds(
              graft.txn.FileEntry(p, "data", len, rc, -1L))
          },
          expectedSchemaId = mv.schemaId,
          setProperties = markers, validate = guard)
      case _ =>
        cm.overwriteAll(Nil, mv.schemaId,
          setProperties = markers, validate = guard)
    }
    aSnap.version
  }

  /** Rebuild the whole stored state from the source's CURRENT version
    * in ONE atomic commit (file-set swap + marker; prior view versions
    * stay time-travelable). The incremental path's safety net: used
    * when the marker's source snapshot was expired, or when the stored
    * state predates [[KeyCol]]. The validate inside the CAS loop keeps
    * the concurrent-refresh guard: if another refresh advanced the
    * marker meanwhile, this rebuild aborts rather than double-applying. */
  private def fullRecompute(
      spark: SparkSession,
      mvDir: String,
      mv: TableSnapshot,
      spec: Spec,
      sourceDir: String,
      lastV: Long,
      catalog: TableCatalog): Long = {
    // view tables created by [[create]] are schema-LESS (files describe
    // themselves); this rebuild relies on that: it commits mv_key-bearing
    // files without stamping a schema change, and on a table WITH a
    // declared schema history readers would reconcile the files to a
    // current schema missing mv_key — the rebuilt state would read back
    // keyless and every refresh would silently re-trigger a full
    // recompute (correct results, quadratic cost). Refuse loudly instead.
    if (mv.schemas.nonEmpty) throw CompactionError.Config(
      s"$mvDir carries a declared schema history (schema id " +
        s"${mv.schemaId}); materialized-view state tables are " +
        "schema-less — rebuild requires dropping and recreating the view")
    val srcSnap = catalog.loadOrThrow(sourceDir)
    val guard: TableSnapshot => Unit = reloaded => {
      val nowV = reloaded.properties.get(RefreshedVersionProp)
        .flatMap(_.toLongOption).getOrElse(-1L)
      if (nowV != lastV) throw CompactionError.Config(
        s"concurrent refresh: marker moved v$lastV -> v$nowV")
    }
    val state = TableReader.readOption(spark, sourceDir,
        asOfVersion = Some(srcSnap.version), catalog = catalog)
      .map(df => withKey(spec,
        signedAgg(spec, enriched(spark, df, spec, catalog), lit(1L))))
    val cm = new graft.txn.CommitManager(mvDir, catalog = catalog)
    state match {
      case Some(st) if !st.isEmpty =>
        val tag = java.util.UUID.randomUUID().toString.take(8)
        val files = TableWrites.writeParquet(st,
          s"$mvDir/data/mvfull-$tag",
          graft.core.CompactionConfig().parquetCompression)
        cm.overwriteAll(
          files.filter(_._3 > 0).map { case (p, len, rc) =>
            graft.sources.ParquetStats.stampBounds(
              graft.txn.FileEntry(p, "data", len, rc, -1L))
          },
          expectedSchemaId = mv.schemaId,
          setProperties = Map(RefreshedVersionProp -> srcSnap.version.toString),
          validate = guard)
      case _ =>
        // empty source: swap to an empty file set + marker
        cm.overwriteAll(Nil, mv.schemaId,
          setProperties = Map(RefreshedVersionProp -> srcSnap.version.toString),
          validate = guard)
    }
    srcSnap.version
  }

  /** The view's rows (group columns + aggregates; the row-count
    * maintenance column is dropped). */
  def read(spark: SparkSession, mvDir: String,
      catalog: TableCatalog = FileTableCatalog): DataFrame = {
    val mv = catalog.loadOrThrow(mvDir)
    val spec = decodeSpec(mv.properties.getOrElse(SpecProp,
      throw CompactionError.Config(s"$mvDir is not a materialized view")))
    TableReader.readOption(spark, mvDir, catalog = catalog) match {
      case Some(df) =>
        // SQL null semantics for sums: a group whose sum column held
        // only nulls serves NULL, decided by the non-null count
        val outCols = spec.group.map(col) ++ spec.aggs.map { a =>
          if (a.fn == "sum")
            when(col(nnCol(a.alias)) > 0, col(a.alias))
              .otherwise(lit(null).cast("long")).as(a.alias)
          else col(a.alias)
        }
        df.select(outCols: _*)
      case None =>
        throw CompactionError.Config(
          s"materialized view $mvDir holds no groups (empty source)")
    }
  }
}
