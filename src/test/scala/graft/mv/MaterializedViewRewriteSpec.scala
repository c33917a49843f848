package graft.mv

import graft.SparkTestSession
import graft.mv.MaterializedView.{Agg, Spec}
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Optimizer MV substitution ([[MaterializedViewRewrite]]): a matching
  * fresh view replaces the aggregate; stale views, shape mismatches and
  * uncovered aggregates fall back to the real plan — never to stale
  * answers. */
class MaterializedViewRewriteSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = SparkTestSession.spark
    val wh = Files.createTempDirectory("graft-mvrw-wh").toString
    s.conf.set("spark.sql.catalog.gmvr", classOf[graft.sql.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gmvr.warehouse", wh)
    s
  }
  private def sql(q: String) = spark.sql(q)
  private def wh = spark.conf.get("spark.sql.catalog.gmvr.warehouse")

  private def aggregates(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size

  private def results(df: org.apache.spark.sql.DataFrame): Map[String, (Long, Long)] =
    df.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  private def withViews[A](dirs: String*)(body: => A): A = {
    spark.conf.set(MaterializedView.ViewsConf, dirs.mkString(","))
    try body finally spark.conf.unset(MaterializedView.ViewsConf)
  }

  test("a fresh view substitutes the aggregate; stale falls back; " +
    "refresh re-enables") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.src (k STRING, v BIGINT)")
    sql("INSERT INTO gmvr.db.src VALUES ('a', 10), ('a', 20), ('b', 5)")
    val srcDir = s"$wh/db/src"
    val mvDir = Files.createTempDirectory("graft-mvrw-v").toString
    MaterializedView.create(spark, mvDir, srcDir, Spec(Seq("k"),
      Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n"))))

    def q = sql("SELECT k, sum(v) AS s, count(*) AS c FROM gmvr.db.src GROUP BY k")
    val want = Map("a" -> (30L, 2L), "b" -> (5L, 1L))
    // no registration: the real aggregate runs
    assert(aggregates(q) == 1 && results(q) == want)

    withViews(mvDir) {
      // fresh view: the aggregate disappears from the optimized plan
      assert(aggregates(q) == 0, "expected the view to substitute")
      assert(results(q) == want)

      // a write makes the view STALE: fall back, stay correct
      sql("INSERT INTO gmvr.db.src VALUES ('b', 7)")
      val want2 = Map("a" -> (30L, 2L), "b" -> (12L, 2L))
      assert(aggregates(q) == 1, "stale view must not substitute")
      assert(results(q) == want2)

      // refresh restores the substitution
      MaterializedView.refresh(spark, mvDir)
      assert(aggregates(q) == 0 && results(q) == want2)
    }
  }

  test("a STAR view substitutes the fact ⋈ dim aggregate; a dim data " +
    "commit breaks the pin and falls back; wrong keys never match") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.sfact (id BIGINT, fk BIGINT, v BIGINT)")
    sql("CREATE TABLE gmvr.db.sdim (dk BIGINT, color STRING, alt BIGINT)")
    sql("INSERT INTO gmvr.db.sdim VALUES (10, 'red', 1), (20, 'blue', 2)")
    sql("INSERT INTO gmvr.db.sfact VALUES (1, 10, 5), (2, 10, 7), (3, 20, 11)")
    val factDir = s"$wh/db/sfact"
    val dimDir = s"$wh/db/sdim"
    val mvDir = Files.createTempDirectory("graft-mvrw-star").toString
    MaterializedView.create(spark, mvDir, factDir, Spec(
      group = Seq("color"),
      aggs = Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n")),
      dim = Some(MaterializedView.Dim(dimDir, Seq("fk"), Seq("dk")))))

    def q = sql("""SELECT color, sum(v) AS s, count(*) AS c
                  |FROM gmvr.db.sfact f JOIN gmvr.db.sdim d ON f.fk = d.dk
                  |GROUP BY color""".stripMargin)
    // reversed join order must match too (orientation is tried both ways)
    def qRev = sql("""SELECT color, sum(v) AS s, count(*) AS c
                     |FROM gmvr.db.sdim d JOIN gmvr.db.sfact f ON d.dk = f.fk
                     |GROUP BY color""".stripMargin)
    val want = Map("red" -> (12L, 2L), "blue" -> (11L, 1L))
    withViews(mvDir) {
      assert(aggregates(q) == 0, "star view must substitute the join+agg")
      assert(results(q) == want)
      assert(aggregates(qRev) == 0, "reversed join order must substitute")
      assert(results(qRev) == want)
      // join on the WRONG key column: no substitution
      val qWrong = sql("""SELECT color, sum(v) AS s, count(*) AS c
                        |FROM gmvr.db.sfact f JOIN gmvr.db.sdim d ON f.fk = d.alt
                        |GROUP BY color""".stripMargin)
      assert(aggregates(qWrong) == 1, "wrong join keys must not match")
      // a dim-less aggregate over the bare fact: the star view must NOT
      // answer it
      assert(aggregates(sql(
        "SELECT fk, sum(v) AS s, count(*) AS c FROM gmvr.db.sfact GROUP BY fk"))
        == 1, "a star view must not answer a bare source aggregate")
      // STAR ROLLUP: a coarser grouping (here GROUP BY ()) re-aggregates
      // the stored per-color state — no source relation may survive
      def v2Count(df: org.apache.spark.sql.DataFrame): Int =
        MaterializedViewRewrite.unpinnedScans(df.queryExecution.optimizedPlan).size
      val qTot = sql("""SELECT sum(v) AS s, count(*) AS c
                      |FROM gmvr.db.sfact f JOIN gmvr.db.sdim d ON f.fk = d.dk
                      |""".stripMargin)
      assert(v2Count(qTot) == 0, "star rollup must substitute")
      assert(qTot.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        == Seq((23L, 3L)))
      // STAR FILTER COMPENSATION: a WHERE on a view group column filters
      // the stored state; a WHERE on a fact column falls back
      val qF = sql("""SELECT color, sum(v) AS s, count(*) AS c
                    |FROM gmvr.db.sfact f JOIN gmvr.db.sdim d ON f.fk = d.dk
                    |WHERE color = 'red' GROUP BY color""".stripMargin)
      assert(v2Count(qF) == 0, "group-column filter must compensate")
      assert(results(qF) == Map("red" -> (12L, 2L)))
      val qBad = sql("""SELECT color, sum(v) AS s, count(*) AS c
                      |FROM gmvr.db.sfact f JOIN gmvr.db.sdim d ON f.fk = d.dk
                      |WHERE v > 5 GROUP BY color""".stripMargin)
      assert(v2Count(qBad) > 0, "non-group filter must fall back")
      assert(results(qBad) == Map("red" -> (7L, 1L), "blue" -> (11L, 1L)))
      // fact churn + refresh: still substitutes
      sql("INSERT INTO gmvr.db.sfact VALUES (4, 20, 3)")
      MaterializedView.refresh(spark, mvDir)
      val want2 = Map("red" -> (12L, 2L), "blue" -> (14L, 2L))
      assert(aggregates(q) == 0 && results(q) == want2)
      // a DIM data commit drifts the live dim past the pin: the rewrite
      // must fall back to the real join (which sees the new dim row)
      sql("INSERT INTO gmvr.db.sdim VALUES (10, 'green', 3)")
      assert(aggregates(q) == 1,
        "a drifted dim must break the star substitution")
      // the real join now double-counts fk=10 through both dim rows —
      // assert on the LIVE truth to prove fallback correctness
      val live = results(q)
      assert(live("green") == (12L, 2L) && live("blue") == (14L, 2L))
    }
  }

  test("a LIVE-JOIN view substitutes the two-table aggregate under the " +
      "two-marker gate; EITHER side moving falls back until refresh") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.lja (id BIGINT, fk BIGINT, v BIGINT)")
    sql("CREATE TABLE gmvr.db.ljb (dk BIGINT, color STRING)")
    sql("INSERT INTO gmvr.db.ljb VALUES (10, 'red'), (20, 'blue')")
    sql("INSERT INTO gmvr.db.lja VALUES (1, 10, 5), (2, 10, 7), (3, 20, 11)")
    val aDir = s"$wh/db/lja"
    val bDir = s"$wh/db/ljb"
    val mvDir = Files.createTempDirectory("graft-mvrw-lj").toString
    MaterializedView.create(spark, mvDir, aDir, Spec(
      group = Seq("color"),
      aggs = Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n")),
      join = Some(MaterializedView.LiveJoin(bDir, Seq("fk"), Seq("dk")))))
    def q = sql("""SELECT color, sum(v) AS s, count(*) AS c
                  |FROM gmvr.db.lja f JOIN gmvr.db.ljb d ON f.fk = d.dk
                  |GROUP BY color""".stripMargin)
    withViews(mvDir) {
      assert(aggregates(q) == 0, "fresh live-join view must substitute")
      assert(results(q) == Map("red" -> (12L, 2L), "blue" -> (11L, 1L)))
      // a bare aggregate over the LEFT table alone: never answered
      assert(aggregates(sql(
        "SELECT fk, sum(v) AS s, count(*) AS c FROM gmvr.db.lja GROUP BY fk"))
        == 1, "a live-join view must not answer a bare source aggregate")
      // LEFT churn: left marker stale -> fall back (exact), refresh
      // re-enables
      sql("INSERT INTO gmvr.db.lja VALUES (4, 20, 3)")
      assert(aggregates(q) == 1, "stale left marker must fall back")
      val want2 = Map("red" -> (12L, 2L), "blue" -> (14L, 2L))
      assert(results(q) == want2)
      MaterializedView.refresh(spark, mvDir)
      assert(aggregates(q) == 0 && results(q) == want2)
      // RIGHT churn (a group move!): right marker stale -> fall back to
      // the real join, which sees the move; refresh re-enables
      sql("UPDATE gmvr.db.ljb SET color = 'green' WHERE dk = 20")
      assert(aggregates(q) == 1, "stale right marker must fall back")
      val want3 = Map("red" -> (12L, 2L), "green" -> (14L, 2L))
      assert(results(q) == want3)
      MaterializedView.refresh(spark, mvDir)
      assert(aggregates(q) == 0 && results(q) == want3)
    }
  }

  test("shape mismatches never substitute") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.src2 (k STRING, v BIGINT, w BIGINT)")
    sql("INSERT INTO gmvr.db.src2 VALUES ('a', 1, 100)")
    val mvDir = Files.createTempDirectory("graft-mvrw-m").toString
    MaterializedView.create(spark, mvDir, s"$wh/db/src2", Spec(Seq("k"),
      Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n"))))
    withViews(mvDir) {
      // covered shape substitutes...
      assert(aggregates(sql(
        "SELECT k, sum(v) AS s, count(*) AS c FROM gmvr.db.src2 GROUP BY k")) == 0)
      // ...but: an uncovered aggregate column
      assert(aggregates(sql(
        "SELECT k, sum(w) AS s, count(*) AS c FROM gmvr.db.src2 GROUP BY k")) == 1)
      // a filter between scan and aggregate
      assert(aggregates(sql(
        "SELECT k, sum(v) AS s, count(*) AS c FROM gmvr.db.src2 " +
          "WHERE v > 0 GROUP BY k")) == 1)
      // different grouping
      assert(aggregates(sql(
        "SELECT k, v, count(*) AS c FROM gmvr.db.src2 GROUP BY k, v")) == 1)
      // distinct aggregation
      assert(aggregates(sql(
        "SELECT k, count(DISTINCT v) AS c, sum(v) AS s, count(*) AS n " +
          "FROM gmvr.db.src2 GROUP BY k")) >= 1)
      // count(NULL) is always 0 — it must never map to the row count.
      // (NullPropagation folds it to literal 0 BEFORE this rule, so the
      // rewrite may legitimately serve the group list from the view —
      // the guarded property is the VALUE, not the plan shape.)
      val cn = sql("SELECT k, count(NULL) AS c FROM gmvr.db.src2 GROUP BY k")
      assert(cn.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("a", 0L)))
    }
  }

  test("pinned time-travel scans are never substituted by a current view") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.tt (k STRING, v BIGINT)")
    sql("INSERT INTO gmvr.db.tt VALUES ('a', 1)")       // v2
    sql("INSERT INTO gmvr.db.tt VALUES ('a', 9)")       // v3
    val mvDir = Files.createTempDirectory("graft-mvrw-tt").toString
    MaterializedView.create(spark, mvDir, s"$wh/db/tt", Spec(Seq("k"),
      Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n"))))
    withViews(mvDir) {
      // current read substitutes...
      assert(aggregates(sql(
        "SELECT k, sum(v) s, count(*) c FROM gmvr.db.tt GROUP BY k")) == 0)
      // ...but a pinned historical read must run the real aggregate
      val hist = sql(
        "SELECT k, sum(v) AS s, count(*) AS c FROM gmvr.db.tt " +
          "VERSION AS OF 2 GROUP BY k")
      assert(aggregates(hist) == 1, "pinned scan was substituted")
      assert(hist.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("a", 1L)))
    }
  }

  test("an all-null sum group serves SQL NULL — via read() AND the rewrite") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.nn (k STRING, v BIGINT)")
    sql("INSERT INTO gmvr.db.nn VALUES ('a', NULL), ('b', 3)")
    val srcDir = s"$wh/db/nn"
    val mvDir = Files.createTempDirectory("graft-mvrw-nn").toString
    MaterializedView.create(spark, mvDir, srcDir, Spec(Seq("k"),
      Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n"))))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(asMap(MaterializedView.read(spark, mvDir).select("k", "sum_v")) ==
      Map("a" -> None, "b" -> Some(3L)))
    // another null row through a refresh keeps NULL (not 0)
    sql("INSERT INTO gmvr.db.nn VALUES ('a', NULL)")
    MaterializedView.refresh(spark, mvDir)
    withViews(mvDir) {
      val q = sql("SELECT k, sum(v) AS s, count(*) AS c FROM gmvr.db.nn GROUP BY k")
      assert(aggregates(q) == 0, "fresh view should substitute")
      assert(asMap(q.select("k", "s")) == Map("a" -> None, "b" -> Some(3L)))
    }
  }

  test("a subset grouping ROLLS UP the view: sums sum, counts sum, " +
    "NULL sums survive, the plan scans the view") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.ru (a STRING, b STRING, v BIGINT)")
    sql("""INSERT INTO gmvr.db.ru VALUES
          |('x', 'p', 1), ('x', 'p', 2), ('x', 'q', 10),
          |('y', 'p', NULL), ('y', 'q', NULL)""".stripMargin)
    val mvDir = Files.createTempDirectory("graft-mvrw-ru").toString
    MaterializedView.create(spark, mvDir, s"$wh/db/ru", Spec(Seq("a", "b"),
      Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n"))))
    withViews(mvDir) {
      // GROUP BY a ⊂ {a,b}: substituted as an aggregate OVER THE VIEW
      val q = sql(
        "SELECT a, sum(v) AS s, count(*) AS c FROM gmvr.db.ru GROUP BY a")
      // the SOURCE is a live DSv2 scan; the view is read through a
      // PINNED graft scan — a plan with no live scan left and a pinned
      // one present proves the source scan was substituted away
      val v2Scans = MaterializedViewRewrite.unpinnedScans(q.queryExecution.optimizedPlan)
      assert(v2Scans.isEmpty, "rollup should replace the source scan")
      val viewScans = MaterializedViewRewrite.pinnedScans(q.queryExecution.optimizedPlan)
      assert(viewScans.nonEmpty, "rollup should scan the view table")
      // ...and no scan of the SOURCE remains (the source has 5 rows,
      // the view 4 — row provenance certifies which table answered)
      val got = q.collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getLong(1))), r.getLong(2))).toMap
      assert(got == Map(
        "x" -> ((Some(13L), 3L)), "y" -> ((None, 2L))))
      // global rollup (GROUP BY nothing): one row, exact NULL/0 logic
      val g = sql("SELECT sum(v) AS s, count(*) AS c FROM gmvr.db.ru")
        .collect().head
      assert(g.getLong(0) == 13L && g.getLong(1) == 5L)
      // count(finerGroupCol): served from the stored count(*), NULL
      // group values contribute nothing
      sql("INSERT INTO gmvr.db.ru VALUES ('x', NULL, 7)")
      MaterializedView.refresh(spark, mvDir)
      val cb = sql("SELECT a, count(b) AS cb FROM gmvr.db.ru GROUP BY a")
      val v2b = MaterializedViewRewrite.unpinnedScans(cb.queryExecution.optimizedPlan)
      assert(v2b.isEmpty, "count(finer group col) should roll up the view")
      assert(cb.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
        Map("x" -> 3L, "y" -> 2L))
      // a stale view must not roll up either
      sql("INSERT INTO gmvr.db.ru VALUES ('z', 'p', 100)")
      val q2 = sql(
        "SELECT a, sum(v) AS s FROM gmvr.db.ru GROUP BY a")
      assert(aggregates(q2) >= 1)
      assert(q2.collect().length == 3)
    }
  }

  test("a WHERE on group columns is COMPENSATED by filtering the view; " +
    "non-group filters fall back") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.fc (a STRING, b STRING, v BIGINT)")
    sql("""INSERT INTO gmvr.db.fc VALUES
          |('x', 'p', 1), ('x', 'q', 2), ('y', 'p', 10), ('y', 'q', 20)""".stripMargin)
    val mvDir = Files.createTempDirectory("graft-mvrw-fc").toString
    MaterializedView.create(spark, mvDir, s"$wh/db/fc", Spec(Seq("a", "b"),
      Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n"))))
    withViews(mvDir) {
      // exact grouping + filter on a group column: view filtered, no
      // aggregate left in the plan
      val q1 = sql("SELECT a, b, sum(v) AS s, count(*) AS c " +
        "FROM gmvr.db.fc WHERE a = 'x' GROUP BY a, b")
      assert(aggregates(q1) == 0, "exact+filter should substitute")
      assert(q1.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
        Set(("x", "p", 1L), ("x", "q", 2L)))
      // subset grouping + filter on the FINER group column: rollup of
      // the filtered view
      val q2 = sql("SELECT a, sum(v) AS s FROM gmvr.db.fc " +
        "WHERE b = 'p' GROUP BY a")
      val v2Scans = MaterializedViewRewrite.unpinnedScans(q2.queryExecution.optimizedPlan)
      assert(v2Scans.isEmpty, "rollup+filter should replace the source scan")
      assert(q2.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("x", 1L), ("y", 10L)))
      // a filter on a NON-group column must never substitute
      val q3 = sql("SELECT a, sum(v) AS s FROM gmvr.db.fc " +
        "WHERE v > 1 GROUP BY a")
      assert(aggregates(q3) >= 1, "non-group filter must fall back")
      assert(q3.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("x", 2L), ("y", 30L)))
    }
  }

  test("avg(x) is served from a stored sum(x): exact grouping, rollup, " +
    "NULL groups, and fall-back for an unmaintained column") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.av (a STRING, b STRING, v BIGINT, w BIGINT)")
    sql("""INSERT INTO gmvr.db.av VALUES
          |('x', 'p', 1, 1), ('x', 'p', 2, 1), ('x', 'q', 10, 1),
          |('y', 'p', NULL, 1), ('y', 'q', NULL, 1)""".stripMargin)
    val mvDir = Files.createTempDirectory("graft-mvrw-av").toString
    // the view maintains NO avg — sum(v)'s non-null companion count is
    // what the rewrite divides by
    MaterializedView.create(spark, mvDir, s"$wh/db/av", Spec(Seq("a", "b"),
      Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n"))))
    def avgMap(df: org.apache.spark.sql.DataFrame): Map[String, Option[Double]] =
      df.collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    withViews(mvDir) {
      // EXACT grouping: avg next to sum/count, all from the stored row
      val qe = sql("SELECT a, b, avg(v) AS m, sum(v) AS s " +
        "FROM gmvr.db.av GROUP BY a, b")
      assert(aggregates(qe) == 0, "exact avg should substitute")
      assert(avgMap(qe.selectExpr("concat(a, b) AS g", "m")) == Map(
        "xp" -> Some(1.5), "xq" -> Some(10.0), "yp" -> None, "yq" -> None))
      // ROLLUP: summed sums ÷ summed non-null counts; the plan
      // aggregates the VIEW, never the source
      val qr = sql("SELECT a, avg(v) AS m FROM gmvr.db.av GROUP BY a")
      val v2 = MaterializedViewRewrite.unpinnedScans(qr.queryExecution.optimizedPlan)
      assert(v2.isEmpty, "rollup avg should replace the source scan")
      assert(avgMap(qr) == Map("x" -> Some(13.0 / 3), "y" -> None))
      // avg over a column with no maintained sum: fall back, stay right
      val qw = sql("SELECT a, avg(w) AS m FROM gmvr.db.av GROUP BY a")
      assert(aggregates(qw) >= 1, "unmaintained avg must fall back")
      assert(avgMap(qw) == Map("x" -> Some(1.0), "y" -> Some(1.0)))
    }
  }

  test("count(DISTINCT groupCol) serves from the view: exact grouping " +
    "(1/0 per group), rollup (re-counted over view rows), NULL-safe") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.cd (a STRING, b STRING, v BIGINT)")
    sql("""INSERT INTO gmvr.db.cd VALUES
          |('x', 'p', 1), ('x', 'p', 2), ('x', 'q', 10),
          |('y', NULL, 5), ('y', 'p', 7)""".stripMargin)
    val mvDir = Files.createTempDirectory("graft-mvrw-cd").toString
    MaterializedView.create(spark, mvDir, s"$wh/db/cd", Spec(Seq("a", "b"),
      Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n"))))
    withViews(mvDir) {
      // ROLLUP: distinct statuses per a — NULL b never counts
      val qr = sql("SELECT a, count(DISTINCT b) AS d FROM gmvr.db.cd GROUP BY a")
      val v2 = MaterializedViewRewrite.unpinnedScans(qr.queryExecution.optimizedPlan)
      assert(v2.isEmpty, "rollup count-distinct should replace the scan")
      assert(qr.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("x", 2L), ("y", 1L)))
      // EXACT grouping: 1 per non-null group value, 0 for the NULL group
      val qe = sql(
        "SELECT a, b, count(DISTINCT b) AS d FROM gmvr.db.cd GROUP BY a, b")
      assert(aggregates(qe) == 0, "exact count-distinct should substitute")
      assert(qe.collect().map(r => (r.getString(0),
          Option(r.getString(1)).getOrElse("-"), r.getLong(2))).toSet ==
        Set(("x", "p", 1L), ("x", "q", 1L), ("y", "-", 0L), ("y", "p", 1L)))
      // distinct over a NON-group column still falls back
      assert(aggregates(sql(
        "SELECT a, count(DISTINCT v) AS d FROM gmvr.db.cd GROUP BY a")) >= 1)
    }
  }

  test("per-query metadata IO is bounded: <= 2 loads once the view " +
    "plan is cached, regardless of optimizer iterations") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.io (k STRING, v BIGINT)")
    sql("INSERT INTO gmvr.db.io VALUES ('a', 10), ('b', 5)")
    val srcDir = s"$wh/db/io"
    val mvDir = Files.createTempDirectory("graft-mvrw-io").toString
    MaterializedView.create(spark, mvDir, srcDir, Spec(Seq("k"),
      Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n"))))
    withViews(mvDir) {
      def ops(body: => Unit): Long = {
        val before = MaterializedViewRewrite.metadataOps.get()
        body
        MaterializedViewRewrite.metadataOps.get() - before
      }
      // warm-up query: pays source load + view load + ONE plan build
      val first = ops {
        assert(aggregates(sql(
          "SELECT k, sum(v) s, count(*) c FROM gmvr.db.io GROUP BY k")) == 0)
      }
      assert(first <= 3, s"first query paid $first metadata ops")
      // every later query: source + view snapshot loads only, however
      // many times the fixed-point optimizer re-runs the rule
      val later = ops {
        assert(aggregates(sql(
          "SELECT k, sum(v) s, count(*) c FROM gmvr.db.io GROUP BY k")) == 0)
      }
      assert(later <= 2, s"warm query paid $later metadata ops (want <= 2)")
      // a MISS (uncovered shape) is also bounded: the ProbedTag stops
      // fixed-point iterations from re-paying the probe
      val miss = ops {
        assert(aggregates(sql(
          "SELECT k, max(v) m FROM gmvr.db.io GROUP BY k")) == 1)
      }
      assert(miss <= 2, s"miss query paid $miss metadata ops (want <= 2)")
    }
  }

  test("one query substituting the view TWICE gets distinct attribute " +
    "ids per branch (self-join of two aggregates)") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.sj (k STRING, v BIGINT)")
    sql("INSERT INTO gmvr.db.sj VALUES ('a', 10), ('a', 20), ('b', 5)")
    val mvDir = Files.createTempDirectory("graft-mvrw-sj").toString
    MaterializedView.create(spark, mvDir, s"$wh/db/sj", Spec(Seq("k"),
      Seq(Agg("sum", "v", "sum_v"), Agg("count", "*", "n"))))
    withViews(mvDir) {
      val q = sql(
        """SELECT l.k, l.s + r.s AS twice
          |FROM (SELECT k, sum(v) AS s FROM gmvr.db.sj GROUP BY k) l
          |JOIN (SELECT k, sum(v) AS s FROM gmvr.db.sj GROUP BY k) r
          |ON l.k = r.k""".stripMargin)
      assert(aggregates(q) == 0, "both branches should substitute")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("a", 60L), ("b", 10L)))
    }
  }

  test("graft_changes table function surfaces the batch changelog in SQL") {
    sql("CREATE NAMESPACE IF NOT EXISTS gmvr.db")
    sql("CREATE TABLE gmvr.db.ch (id BIGINT, s STRING)")
    sql("INSERT INTO gmvr.db.ch VALUES (1, 'x'), (2, 'y')")
    sql("DELETE FROM gmvr.db.ch WHERE id = 1")
    val dir = s"$wh/db/ch"
    val v = graft.txn.FileTableCatalog.loadOrThrow(dir).version
    val rows = sql(
      s"SELECT id, _change_type, _commit_version FROM graft_changes('$dir', 1, $v)")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(rows.exists(_ == (1L, "insert", 2L)))
    assert(rows.contains((2L, "insert", 2L)))
    assert(rows.count(_._2 == "delete") == 1 &&
      rows.exists(r => r._1 == 1L && r._2 == "delete"))
  }
}
