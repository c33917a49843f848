package graft.mv

import graft.sources.TableReader
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{ByteType, DoubleType, IntegerType, LongType, ShortType}

import scala.util.control.NonFatal

/** Catalyst optimizer rule substituting a FRESH materialized view for a
  * matching aggregate — the query side of [[MaterializedView]]: a
  * grouped sum/count over a 100 TB catalog table becomes a scan of the
  * (tiny) view table, with zero user query changes.
  *
  * Registration: list view dirs in the session conf
  * [[MaterializedView.ViewsConf]] (comma-separated); the rule is
  * injected by [[graft.functions.GraftExtensions]].
  *
  * A rewrite fires only when ALL of:
  *  - the aggregate sits DIRECTLY on a graft catalog-table scan (no
  *    filter/projection in between — exact-match substitution, the
  *    conservative line);
  *  - the grouping columns are exactly the view's group columns, and
  *    every output is a group column, `sum(intCol)`, `count(col)`,
  *    `count(*)` or `avg(intCol)` the view can serve (non-distinct,
  *    unfiltered) — `avg(x)` needs only a maintained `sum(x)`: every
  *    stored sum carries its non-null row count (the NULL-semantics
  *    companion), and avg is exactly stored-sum ÷ stored-nn-count;
  *  - the view is FRESH: its refreshed-version marker equals the
  *    source's current version (two metadata reads per candidate — a
  *    stale view silently falls back to the real aggregate, never to
  *    stale answers).
  *
  * The substituted plan preserves the aggregate's output attribute ids
  * (required of any optimizer rewrite); aggregate outputs become
  * nullable-typed reads of the view columns, which is the safe
  * direction. */
class MaterializedViewRewrite(session: SparkSession) extends Rule[LogicalPlan] {

  private def registeredViews: Seq[String] =
    session.conf.getOption(MaterializedView.ViewsConf)
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Nil)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val sessionViews = registeredViews
    // metadata loads are memoized for the LIFE OF ONE apply: a query
    // with several aggregates over the same table probes its registry
    // once, not once per Aggregate node (each load can be a network
    // RPC on a REST/object-store catalog)
    val snapMemo = scala.collection.mutable.Map[
      (graft.txn.TableCatalog, String), Option[graft.txn.TableSnapshot]]()
    def loadMemo(catalog: graft.txn.TableCatalog, dir: String) =
      snapMemo.getOrElseUpdate((catalog, dir), {
        MaterializedViewRewrite.metadataOps.incrementAndGet()
        catalog.load(dir)
      })
    // the aggregate's child may carry a column-pruning Project (pure
    // attribute selection — semantics-neutral for the match)
    // a pinned table (VERSION/TIMESTAMP AS OF, branch/wap refs), a
    // per-read asOfVersion option, or a CDC/tail read mode
    // (changelog/skipDeletes/startingVersion) is NOT a current-state
    // live-row scan — the view must never answer for those
    def usable(rel: DataSourceV2Relation): Option[graft.streaming.GraftTable] =
      rel.table match {
        case t: graft.streaming.GraftTable
            if t.pinned.isEmpty &&
              rel.options.get("asOfVersion") == null &&
              rel.options.get("changelog") == null &&
              rel.options.get("skipDeletes") == null &&
              rel.options.get("startingVersion") == null =>
          Some(t)
        case _ => None
      }
    // A deterministic, subquery-free Filter between aggregate and scan
    // is COMPENSATABLE when it references only the view's group columns
    // (checked later against the candidate spec): filtering the view's
    // rows removes exactly the same whole groups the source filter
    // removes. The returned condition is None for a bare scan.
    def plainFilter(cond: Expression): Boolean =
      cond.deterministic &&
        cond.find(_.isInstanceOf[PlanExpression[_]]).isEmpty
    def attrsOnly(projList: Seq[NamedExpression]): Boolean =
      projList.forall(_.isInstanceOf[AttributeReference])
    def scanOf(child: LogicalPlan)
        : Option[(graft.streaming.GraftTable, Option[Expression])] =
      child match {
        case rel: DataSourceV2Relation => usable(rel).map(_ -> None)
        case Project(p, rel: DataSourceV2Relation) if attrsOnly(p) =>
          usable(rel).map(_ -> None)
        case Filter(cond, rel: DataSourceV2Relation) if plainFilter(cond) =>
          usable(rel).map(_ -> Some(cond))
        case Project(p, Filter(cond, rel: DataSourceV2Relation))
            if attrsOnly(p) && plainFilter(cond) =>
          usable(rel).map(_ -> Some(cond))
        case Filter(cond, Project(p, rel: DataSourceV2Relation))
            if attrsOnly(p) && plainFilter(cond) =>
          usable(rel).map(_ -> Some(cond))
        case _ => None
      }
    // STAR shape: Aggregate over an INNER equi-join of two bare catalog
    // scans (an attrs-only Project above the join is fine; a plain
    // deterministic Filter above the join compensates on the view
    // exactly like the bare-scan path — checked later against the
    // spec's group columns). Returns both orientations — (fact, dim)
    // is decided by which side has a registered star view, tried in
    // order.
    def starShapes(child: LogicalPlan): Seq[(graft.streaming.GraftTable,
        graft.streaming.GraftTable, Seq[(String, String)],
        Option[Expression])] = {
      val (core, topFilter) = child match {
        case Project(p, j: Join) if attrsOnly(p) => (j, None)
        case Filter(c, j: Join) if plainFilter(c) => (j, Some(c))
        case Project(p, Filter(c, j: Join))
            if attrsOnly(p) && plainFilter(c) => (j, Some(c))
        case j: Join => (j, None)
        case _ => return Nil
      }
      core match {
        case Join(l, r, Inner, Some(cond), _) =>
          val shape = for {
            (lt, lf) <- scanOf(l); (rt, rf) <- scanOf(r)
          } yield {
            // the condition must be a pure conjunction of cross-side
            // attribute equalities
            def conjuncts(e: Expression): Seq[Expression] = e match {
              case And(a, b) => conjuncts(a) ++ conjuncts(b)
              case other => Seq(other)
            }
            val lOut = l.outputSet
            val rOut = r.outputSet
            val pairs = conjuncts(cond).map {
              case EqualTo(a: AttributeReference, b: AttributeReference)
                  if lOut.contains(a) && rOut.contains(b) =>
                (a.name, b.name) // (left col, right col)
              case EqualTo(a: AttributeReference, b: AttributeReference)
                  if rOut.contains(a) && lOut.contains(b) =>
                (b.name, a.name)
              case _ => return Nil
            }
            // the optimizer may have PUSHED the user's WHERE below the
            // join by the time this rule sees it — a side filter is the
            // same compensable condition (it references one side's
            // columns; the group-columns-only gate decides later)
            val combined = (topFilter.toSeq ++ lf.toSeq ++ rf.toSeq)
              .reduceOption(And)
            Seq((lt, rt, pairs, combined), // fact = left
              (rt, lt, pairs.map(_.swap), combined)) // fact = right
          }
          shape.getOrElse(Nil)
        case _ => Nil
      }
    }
    def candidates(tbl: graft.streaming.GraftTable,
        srcSnap: graft.txn.TableSnapshot): Seq[String] = {
      val registered = srcSnap.properties
        .get(MaterializedView.RegisteredProp)
        .toSeq.flatMap(MaterializedView.parseList)
      MaterializedViewRewrite.recordRegistryProbe(tbl.dir, registered.nonEmpty)
      (sessionViews ++ registered).distinct
    }
    plan.transformUp {
      // the ProbedTag records WHEN an Aggregate was last evaluated (and
      // MISSED): the optimizer's fixed-point batch re-runs the rule
      // until the plan is stable, and without the tag every iteration
      // would re-pay the metadata loads. The tag is NOT a sticky
      // boolean — Spark copies TreeNodeTags through
      // withNewChildren/makeCopy, and a cached/re-executed DataFrame
      // re-optimizes the SAME analyzed tree, so a permanent mark would
      // silently never re-probe even after a view turns fresh. A short
      // expiry window covers every iteration of one optimization run
      // (milliseconds) while letting a later re-optimization of the
      // same tree probe again; a miss inside the window only delays a
      // substitution (the real aggregate is always correct).
      case agg @ Aggregate(ges, aes, child, _)
          if scanOf(child).isDefined &&
            agg.getTagValue(MaterializedViewRewrite.ProbedTag).forall(t =>
              System.nanoTime() - t >= MaterializedViewRewrite.ProbeSkipNanos) =>
        val (tbl, srcFilter) = scanOf(child).get
        (try {
          // fast path: with no session views AND a recent negative
          // probe of this table's registry, skip the metadata load
          // entirely — falling back to the real aggregate is always
          // correct, so the short staleness window only delays when a
          // BRAND-NEW view starts substituting
          if (sessionViews.isEmpty &&
              MaterializedViewRewrite.knownRegistryless(tbl.dir)) None
          else loadMemo(tbl.tableCatalog, tbl.dir).flatMap { srcSnap =>
            // candidate views: the session conf PLUS the source
            // table's own registry property (stamped by
            // create_materialized_view — zero session setup)
            candidates(tbl, srcSnap).iterator
              .flatMap(mv =>
                tryRewrite(mv, tbl.dir, tbl.tableCatalog, srcSnap, ges, aes,
                  srcFilter, loadMemo, dimShape = None))
              .nextOption()
          }
        } catch { case NonFatal(_) => None }) match {
          case Some(rewritten) => rewritten
          case None =>
            agg.setTagValue(MaterializedViewRewrite.ProbedTag,
              System.nanoTime())
            agg
        }
      // STAR substitution: GROUP BY over fact ⋈ dim answered by a star
      // view whose spec joins the SAME dim on the SAME keys — valid
      // only while the live dim's FILE SET equals the pinned version's
      // (property-only commits, like the pin tag itself, don't change
      // data; any data commit makes the pin stale and the rewrite falls
      // back to the real join, never to pinned-but-drifted answers).
      case agg @ Aggregate(ges, aes, child, _)
          // cheap structural pre-check only (the shallow head patterns
          // starShapes accepts) — the full shape (scan usability,
          // conjunct pairs, orientations) is derived ONCE in the body,
          // not re-done between guard and body
          if (child match {
            case _: Join | Project(_, _: Join) | Filter(_, _: Join) |
                 Project(_, Filter(_, _: Join)) => true
            case _ => false
          }) &&
            agg.getTagValue(MaterializedViewRewrite.ProbedTag).forall(t =>
              System.nanoTime() - t >= MaterializedViewRewrite.ProbeSkipNanos) =>
        (try {
          starShapes(child).iterator.flatMap {
            case (fact, dim, pairs, topFilter) =>
              if (sessionViews.isEmpty &&
                  MaterializedViewRewrite.knownRegistryless(fact.dir)) None
              else loadMemo(fact.tableCatalog, fact.dir).flatMap { srcSnap =>
                candidates(fact, srcSnap).iterator
                  .flatMap(mv =>
                    tryRewrite(mv, fact.dir, fact.tableCatalog, srcSnap, ges,
                      aes, topFilter, loadMemo,
                      dimShape = Some((dim.dir, pairs))))
                  .nextOption()
              }
          }.nextOption()
        } catch { case NonFatal(_) => None }) match {
          case Some(rewritten) => rewritten
          case None =>
            agg.setTagValue(MaterializedViewRewrite.ProbedTag,
              System.nanoTime())
            agg
        }
    }
  }

  /** Integral types whose Spark `sum` equals the view's long-cast sum. */
  private def integral(e: Expression): Boolean = e.dataType match {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }

  private def tryRewrite(
      mvDir: String,
      srcDir: String,
      catalog: graft.txn.TableCatalog,
      srcSnap: graft.txn.TableSnapshot,
      ges: Seq[Expression],
      aes: Seq[NamedExpression],
      srcFilter: Option[Expression],
      loadMemo: (graft.txn.TableCatalog, String) => Option[graft.txn.TableSnapshot],
      /** The query's join shape when the aggregate sits on fact ⋈ dim:
        * (dim table dir, (factCol, dimCol) equi-pairs). None for a bare
        * source aggregate. */
      dimShape: Option[(String, Seq[(String, String)])]
  ): Option[LogicalPlan] =
    try {
      // the SOURCE table's catalog also resolves the view: the MV
      // procedures create views through the session catalog's format
      val mv = loadMemo(catalog, mvDir).getOrElse(return None)
      if (!mv.properties.get(MaterializedView.SourceProp).contains(srcDir))
        return None
      val spec = MaterializedView.decodeSpec(
        mv.properties(MaterializedView.SpecProp))
      // shape gate: a STAR view answers exactly the join it maintains —
      // same dim table, same equi-key pairs (order-insensitive); a
      // LIVE-JOIN view answers the same join under a TWO-marker
      // freshness gate (both sides' stored markers must equal their
      // tables' current versions — either side moving falls back to the
      // real join until the next refresh); a dim-less, join-less view
      // only answers the bare source aggregate.
      def normPath(p: String) =
        java.nio.file.Paths.get(p).normalize().toString
      (spec.dim, spec.join, dimShape) match {
        case (None, None, None) => ()
        case (Some(d), None, Some((qDimDir, qPairs))) =>
          if (normPath(d.dir) != normPath(qDimDir)) return None
          if (d.factKeys.zip(d.dimKeys).toSet != qPairs.toSet) return None
          // the stored state reflects the dim AT ITS PIN: substitution
          // is sound only while the live dim's data/delete FILE SET
          // equals the pinned version's (property-only commits — the
          // pin tag, comments — keep it valid; any data commit breaks
          // it and the rewrite must fall back to the real join)
          val dimCur = loadMemo(catalog, qDimDir).getOrElse(return None)
          val dimPin = catalog.loadVersion(qDimDir, d.version)
            .getOrElse(return None)
          def fileSet(s: graft.txn.TableSnapshot) =
            s.files.map(f => (f.path, f.content)).toSet
          if (fileSet(dimCur) != fileSet(dimPin)) return None
        case (None, Some(j), Some((qRightDir, qPairs))) =>
          if (normPath(j.dir) != normPath(qRightDir)) return None
          if (j.leftKeys.zip(j.rightKeys).toSet != qPairs.toSet) return None
          // right-side freshness: the stored state must reflect the
          // right table's CURRENT version (the left marker is checked
          // with every view below). A property-only right commit still
          // bumps the version and falls back — conservative but never
          // wrong; the next refresh re-enables substitution.
          val rightCur = loadMemo(catalog, qRightDir).getOrElse(return None)
          val refreshed2 = mv.properties
            .get(MaterializedView.Refreshed2Prop)
            .flatMap(_.toLongOption).getOrElse(return None)
          if (rightCur.version != refreshed2) return None
        case _ => return None
      }

      // grouping: exactly the view's group columns (direct
      // substitution), or a STRICT SUBSET of them (rollup
      // compensation — the view's per-group sums/counts re-aggregate)
      val groupNames = ges.map {
        case a: AttributeReference => a.name
        case _ => return None
      }
      if (groupNames.distinct.size != groupNames.size) return None
      val isExact = groupNames.toSet == spec.group.toSet &&
        groupNames.size == spec.group.size
      val isRollup = !isExact && groupNames.toSet.subsetOf(spec.group.toSet)
      if (!isExact && !isRollup) return None

      // filter compensation: a WHERE on view GROUP columns removes
      // whole groups, so applying it to the stored state is exact;
      // anything referencing a non-group column kills the match
      srcFilter.foreach { cond =>
        val refs = cond.references.toSeq.map(_.name)
        if (!refs.forall(spec.group.contains)) return None
      }

      // every aggregate call resolves against the stored view columns
      val byFnCol: Map[(String, String), String] =
        spec.aggs.map(a => (a.fn, a.col) -> a.alias).toMap

      // freshness: the stored state must reflect the source's CURRENT
      // version — a stale view falls back to the real aggregate
      val refreshed = mv.properties
        .get(MaterializedView.RefreshedVersionProp)
        .flatMap(_.toLongOption).getOrElse(return None)
      if (srcSnap.version != refreshed)
        return None

      // the OPTIMIZED subtree: this rule runs mid-optimization, so an
      // analyzed subtree's analysis-only nodes (SubqueryAlias etc.)
      // would reach physical planning unstripped. Built ONCE per view
      // version (the build itself re-reads metadata and re-optimizes),
      // cached across queries, and re-instantiated with FRESH attribute
      // ids on every use — the same query may substitute the view twice
      // (self-join of two aggregates) and duplicate expr ids across
      // branches would corrupt the join.
      val mvPlan = MaterializedViewRewrite
        .substitutedPlan(session, mvDir, catalog, mv)
        .getOrElse(return None)
      val mvAttr0 = mvPlan.output.map(a => a.name -> a).toMap
      // compensated filter: the source condition re-anchored on the
      // view's own attributes (names match; group columns are stored
      // verbatim)
      val mvBase: LogicalPlan = srcFilter match {
        case None => mvPlan
        case Some(cond) =>
          val mapped = cond.transformUp {
            case a: AttributeReference =>
              mvAttr0.getOrElse(a.name, return None)
          }
          Filter(mapped, mvPlan)
      }
      val mvAttr = mvAttr0

      // ---- output substitution -----------------------------------
      // An output expression is servable when every AggregateExpression
      // inside it maps onto stored state and every attribute it
      // references OUTSIDE an aggregate is a current grouping column.
      // Wrapping expressions — casts, round(avg(x)*1e6), sum(x)/100,
      // concat of group columns — ride along unchanged: each aggregate
      // call is replaced by a stored-state expression of the SAME type,
      // so the surrounding tree keeps its typing. Anything uncertain
      // (non-deterministic, subqueries, unknown aggregates) aborts the
      // whole rewrite via [[Unservable]].
      object Unservable extends Exception
      def viewAttr(c: String): Attribute =
        mvAttr.getOrElse(c, throw Unservable)
      def nn(c: String): Attribute = viewAttr(MaterializedView.nnCol(c))
      def countStarCol: Attribute =
        viewAttr(byFnCol.getOrElse(("count", "*"), throw Unservable))
      // rollup re-aggregation: stored partials SUM across the coarser
      // groups; counts coalesce to 0 so even a GROUP BY () over an
      // all-deleted view matches SQL (count 0, sum NULL)
      def reAgg(e: Expression): Expression = Sum(e).toAggregateExpression()
      def reCount(e: Expression): Expression =
        Coalesce(Seq(reAgg(e), Literal(0L)))

      // one aggregate call → stored state. Exact mode reads the view
      // row verbatim; rollup mode re-aggregates the stored partials.
      def substAgg(ae: AggregateExpression): Expression = {
        if (ae.filter.nonEmpty) throw Unservable
        if (ae.isDistinct) ae.aggregateFunction match {
          // COUNT(DISTINCT g) over a view GROUP column: the stored
          // state holds exactly one row per full group tuple, so the
          // distinct g values inside any coarser group survive
          // verbatim in the (tiny) view — re-counting them there is
          // exact, and NULLs are ignored on both sides. In exact
          // grouping g is one of the current grouping columns, so the
          // distinct count is 1 for a non-null group value, 0 for the
          // NULL group. Every other distinct aggregate refuses.
          case c: Count =>
            c.children match {
              case Seq(a: AttributeReference) if spec.group.contains(a.name) =>
                if (isExact)
                  If(IsNotNull(viewAttr(a.name)), Literal(1L), Literal(0L))
                else
                  Count(viewAttr(a.name))
                    .toAggregateExpression(isDistinct = true)
              case _ => throw Unservable
            }
          case _ => throw Unservable
        }
        else ae.aggregateFunction match {
          case s: Sum =>
            s.child match {
              case a: AttributeReference
                  if integral(a) && ae.dataType == LongType =>
                val c = byFnCol.getOrElse(("sum", a.name), throw Unservable)
                // SQL null semantics: the stored total is 0-based; the
                // paired non-null count decides NULL
                if (isExact)
                  If(GreaterThan(nn(c), Literal(0L)), viewAttr(c),
                    Literal.create(null, LongType))
                else
                  If(GreaterThan(reCount(nn(c)), Literal(0L)),
                    reAgg(viewAttr(c)), Literal.create(null, LongType))
              case _ => throw Unservable
            }
          case av: Average =>
            av.child match {
              // integral child → Average's output is DOUBLE (guarded:
              // a drifted typing falls back, never substitutes a
              // mistyped column). avg needs no stored avg at all:
              // stored-sum ÷ stored-non-null-count divides the same
              // two exact longs a source-side avg would divide.
              case a: AttributeReference
                  if integral(a) && ae.dataType == DoubleType =>
                val c = byFnCol.getOrElse(("sum", a.name), throw Unservable)
                if (isExact)
                  If(GreaterThan(nn(c), Literal(0L)),
                    new Divide(Cast(viewAttr(c), DoubleType),
                      Cast(nn(c), DoubleType)),
                    Literal.create(null, DoubleType))
                else {
                  val totNn = reCount(nn(c))
                  If(GreaterThan(totNn, Literal(0L)),
                    new Divide(Cast(reAgg(viewAttr(c)), DoubleType),
                      Cast(totNn, DoubleType)),
                    Literal.create(null, DoubleType))
                }
              case _ => throw Unservable
            }
          case _: Min | _: Max =>
            // a maintained min/max column serves directly (stored in
            // the source column's own type; NULL for an all-null group,
            // exactly SQL) — and min/max OVER A GROUP COLUMN serves
            // from the group values themselves, which the view stores
            // verbatim one row per live tuple. Rollup takes min of
            // mins / max of maxes; NULL group values are skipped by
            // both engines.
            val isMin = ae.aggregateFunction.isInstanceOf[Min]
            val fn = if (isMin) "min" else "max"
            val child = ae.aggregateFunction.children.head
            child match {
              case a: AttributeReference =>
                val stored = byFnCol.get((fn, a.name)) match {
                  case Some(alias) => viewAttr(alias)
                  case None if spec.group.contains(a.name) => viewAttr(a.name)
                  case None => throw Unservable
                }
                if (stored.dataType != ae.dataType) throw Unservable
                if (isExact) stored
                else if (isMin) Min(stored).toAggregateExpression()
                else Max(stored).toAggregateExpression()
              case _ => throw Unservable
            }
          case c: Count =>
            c.children match {
              // count(*) lowers to count(1); count(NULL) is NOT it
              // (always 0) and must never map to the row count
              case Seq(Literal(v, _)) if v != null =>
                if (isExact) countStarCol else reCount(countStarCol)
              case Seq(a: AttributeReference) =>
                byFnCol.get(("count", a.name)) match {
                  case Some(alias) =>
                    if (isExact) viewAttr(alias)
                    else reCount(viewAttr(alias))
                  case None if spec.group.contains(a.name) =>
                    // count over a GROUP column (current or finer):
                    // each view row holds count(*) rows sharing that
                    // value, so non-null values contribute their whole
                    // row count
                    val contrib = If(IsNotNull(viewAttr(a.name)),
                      countStarCol, Literal(0L))
                    if (isExact) contrib else reCount(contrib)
                  case None => throw Unservable
                }
              case _ => throw Unservable
            }
          case _ => throw Unservable
        }
      }

      def subst(e: Expression): Expression = e match {
        case ae: AggregateExpression => substAgg(ae)
        case a: AttributeReference =>
          if (groupNames.contains(a.name)) viewAttr(a.name)
          else throw Unservable
        case _: PlanExpression[_] =>
          // a subquery's inner plan could reference source attributes
          // this rewrite removes — conservative refusal
          throw Unservable
        case other => other.mapChildren(subst)
      }

      val projections: Seq[NamedExpression] =
        try aes.map { ne =>
          if (!ne.deterministic) throw Unservable
          val target = ne.toAttribute
          val replaced = ne match {
            case a: AttributeReference => subst(a)
            case Alias(child, _) => subst(child)
            case _ => throw Unservable
          }
          // the substituted plan preserves the aggregate's output
          // attribute ids — required of any optimizer rewrite
          Alias(replaced, target.name)(exprId = target.exprId)
        } catch { case Unservable => return None }

      if (isExact) {
        logInfo(s"rewriting aggregate over $srcDir to materialized view $mvDir")
        Some(Project(projections, mvBase))
      } else {
        // ROLLUP COMPENSATION: GROUP BY a strict subset of the view's
        // group columns re-aggregates the (tiny) view
        val groupingExprs: Seq[Expression] =
          groupNames.map(n => mvAttr.getOrElse(n, return None))
        val rolled = Aggregate(groupingExprs, projections, mvBase)
        // the new Aggregate sits over the VIEW's scan: pre-tag it so
        // later fixed-point iterations don't probe the view table's
        // (nonexistent) registry
        rolled.setTagValue(MaterializedViewRewrite.ProbedTag,
          System.nanoTime())
        logInfo(s"rolling up materialized view $mvDir for a subset " +
          s"grouping over $srcDir")
        Some(rolled)
      }
    } catch { case NonFatal(_) => None }
}


object MaterializedViewRewrite {
  /** DSv2 scans in `plan` other than PINNED graft reads — the scans a
    * substitution must remove (a view answers through a pinned read of
    * its own table, which never counts). */
  private[graft] def unpinnedScans(plan: LogicalPlan): Seq[LogicalPlan] =
    scans(plan, pinned = false)

  /** PINNED graft reads in `plan` — how a substituted view answers. */
  private[graft] def pinnedScans(plan: LogicalPlan): Seq[LogicalPlan] =
    scans(plan, pinned = true)

  private def scans(plan: LogicalPlan, pinned: Boolean): Seq[LogicalPlan] = {
    def isPinned(t: org.apache.spark.sql.connector.catalog.Table): Boolean = t match {
      case g: graft.streaming.GraftTable => g.pinned.isDefined
      case _ => false
    }
    plan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
          if isPinned(r.relation.table) == pinned => r
      case r: DataSourceV2Relation if isPinned(r.table) == pinned => r
    }
  }

  /** Stamps an Aggregate node with WHEN it was last probed (and missed)
    * for MV substitution — later fixed-point iterations of the same
    * optimization run skip it without metadata IO, while a
    * re-optimization of the same analyzed tree (cached DataFrame
    * re-execution) re-probes once the window lapses, so a view that
    * turned fresh meanwhile is not silently missed forever. */
  private[mv] val ProbedTag =
    org.apache.spark.sql.catalyst.trees.TreeNodeTag[Long]("graft.mv.probed")

  /** How long a probe miss is honored. One optimization run's
    * fixed-point iterations complete in milliseconds; 5 s bounds the
    * window in which a freshly-refreshed view can still be missed. */
  private[mv] val ProbeSkipNanos = 5000000000L

  /** Rule-initiated metadata operations (snapshot loads + view plan
    * builds) — observable so a spec can pin the per-query IO bound. */
  private[graft] val metadataOps = new java.util.concurrent.atomic.AtomicLong

  /** Substituted view plans keyed by (SESSION, catalog, dir), valid
    * while the view's (version, committedAtMs) pair is unchanged —
    * committedAtMs disambiguates a drop/recreate that lands on the same
    * version number. The session is part of the key so a plan built
    * by one session never serves another. Each use re-instances the
    * cached relation with fresh attribute ids, which is what makes a
    * twice-substituted view safe in one query. The cap + clear keeps
    * retained sessions bounded. */
  private val planCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, graft.txn.TableCatalog, String), (Long, Long, LogicalPlan)]()
  private val PlanCacheCap = 200

  /** The view's scan plan with FRESH attribute ids: the pinned DSv2
    * relation [[TableReader.readOption]] builds, substituted before scan
    * pushdown so the query's filters and column pruning still reach it. */
  private[mv] def substitutedPlan(
      session: SparkSession,
      mvDir: String,
      catalog: graft.txn.TableCatalog,
      mv: graft.txn.TableSnapshot): Option[LogicalPlan] = {
    val key = (session, catalog, mvDir)
    val cached = planCache.get(key)
    if (cached != null && cached._1 == mv.version &&
        cached._2 == mv.committedAtMs)
      // fresh attribute ids per USE: the same query may substitute the
      // view twice (self-join of two aggregates), and duplicate ids
      // across branches would corrupt the join. The cached plan is one
      // DataSourceV2Relation leaf, so re-instancing cannot dangle
      // references from parent operators.
      return Some(cached._3
        .asInstanceOf[org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation]
        .newInstance().asInstanceOf[LogicalPlan])
    metadataOps.incrementAndGet()
    val p = TableReader.readOption(session, mvDir, catalog = catalog)
      .getOrElse(return None).queryExecution.analyzed
    if (planCache.size > PlanCacheCap) planCache.clear()
    planCache.put(key, (mv.version, mv.committedAtMs, p))
    Some(p)
  }

  /** Negative registry cache: (source dir → (probedAtMs, hasRegistry)).
    * Used ONLY to skip the per-query metadata load when no session
    * views are configured and a recent probe found no registry — the
    * safe direction (fall back to the real aggregate). Freshness checks
    * for ACTUAL substitution never go through this cache. */
  private val registryProbe =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Boolean)]()
  private val ProbeTtlMs = 30000L
  private val ProbeCap = 10000

  private[mv] def knownRegistryless(dir: String): Boolean = {
    val e = registryProbe.get(dir)
    e != null && !e._2 && System.currentTimeMillis() - e._1 < ProbeTtlMs
  }
  private[graft] def recordRegistryProbe(dir: String, has: Boolean): Unit = {
    if (registryProbe.size > ProbeCap) registryProbe.clear()
    registryProbe.put(dir, (System.currentTimeMillis(), has))
  }
}
