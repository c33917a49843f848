package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** EQUIVALENCE pins for the threshold-early-exit pair-verify
  * expressions ([[ContainmentX1000ThresholdExpr]] /
  * [[JaccardX1000ThresholdExpr]]) against the exact unfused reference
  * formulas they replaced in the dedup verify stages. The contract
  * under test, per expression:
  *
  *  - AT OR ABOVE the threshold the fused value equals the exact
  *    reference EXACTLY (the early exit must be unreachable there —
  *    the filter keeps these rows, so their values are observable
  *    oracle output);
  *  - BELOW the threshold the fused value is also below it (the filter
  *    drops the row either way — the value itself is unspecified);
  *  - null inputs / empty-denominator cases match the reference's null.
  *
  * Checked on the INTERPRETED path (direct eval) and the CODEGEN path
  * (a DataFrame projection) — both execute in production (codegen in
  * whole-stage loops, interpreted under fallback), so both must agree.
  * Inputs sweep seeded random sorted-distinct long sets with planted
  * boundary shapes: identical sets, strict-prefix containment (the
  * containment target), exact-threshold and one-off-threshold overlaps,
  * empty sides. The same sets also run as string arrays (the
  * expressions' UTF8String merge branch).
  */
class ThresholdVerifySpec extends AnyFunSuite {
  private lazy val spark = graft.SparkTestSession.spark

  private val thresholds = Seq(1, 300, 500, 900, 1000)

  /** Exact reference: (|A∩B| * 1000) div min(|A|,|B|), null on empty min
    * — the old sortedIntersectCount + div formula. */
  private def refContainment(a: Array[Long], b: Array[Long]): Option[Long] = {
    val inter = intersect(a, b)
    val mn = math.min(a.length, b.length)
    if (mn == 0) None else Some(inter * 1000L / mn)
  }

  /** Exact reference: floor(1000 * |A∩B| / |A∪B|), null on empty union
    * — JaccardX1000Expr's formula. */
  private def refJaccard(a: Array[Long], b: Array[Long]): Option[Long] = {
    val inter = intersect(a, b)
    val union = a.length.toLong + b.length - inter
    if (union == 0) None
    else Some(math.floor(1000.0 * inter / union).toLong)
  }

  private def intersect(a: Array[Long], b: Array[Long]): Long = {
    var i = 0; var j = 0; var c = 0L
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1 else j += 1
    }
    c
  }

  private def lit(a: Array[Long]): Literal =
    Literal.create(new GenericArrayData(a.map(x => x: Any)),
      ArrayType(LongType, containsNull = false))

  /** A long set as sorted-distinct strings: zero-padded, so UTF-8 byte
    * order (the order the string branch merges by) is the numeric order
    * and every overlap count, hence every reference value, carries over. */
  private def strs(a: Array[Long]): Array[String] = a.map(x => f"s$x%06d")

  private def strLit(a: Array[Long]): Literal =
    Literal.create(new GenericArrayData(strs(a).map(UTF8String.fromString(_): Any)),
      ArrayType(StringType, containsNull = false))

  private def sortedDistinct(xs: Seq[Long]): Array[Long] =
    xs.distinct.sorted.toArray

  /** Seeded corpus of array pairs with planted boundary shapes. */
  private def pairs(seed: Int): Seq[(Array[Long], Array[Long])] = {
    val rnd = new scala.util.Random(seed)
    val random = (1 to 40).map { _ =>
      val na = rnd.nextInt(30)
      val nb = rnd.nextInt(30)
      // small value range forces heavy overlap variation
      (sortedDistinct(Seq.fill(na)(rnd.nextInt(40).toLong)),
        sortedDistinct(Seq.fill(nb)(rnd.nextInt(40).toLong)))
    }
    val base = sortedDistinct((1L to 20L).map(_ * 7L))
    val planted = Seq(
      (base, base),                               // identical: 1000/1000
      (base.take(10), base),                      // strict prefix: cont 1000
      (base.take(9) :+ 9999L, base),              // 9/10 = 900 exact
      (base.take(8) ++ Seq(9998L, 9999L), base),  // 8/10 = 800, off-by-one
      (Array.empty[Long], base),                  // empty side
      (Array.empty[Long], Array.empty[Long]),     // both empty
      (base, base.map(_ + 1L)))                   // disjoint
    random ++ planted
  }

  /** Interpreted eval of `expr` over `pairs(seed)` against `ref`: exact
    * at/above each threshold, below it below, nulls where `ref` is null. */
  private def checkInterpreted(
      expr: (Expression, Expression, Int) => Expression,
      ref: (Array[Long], Array[Long]) => Option[Long],
      seed: Int, litOf: Array[Long] => Literal): Unit =
    for (t <- thresholds; (a, b) <- pairs(seed)) {
      val fused = expr(litOf(a), litOf(b), t).eval(null)
      ref(a, b) match {
        case None => assert(fused == null, s"t=$t: expected null")
        case Some(r) =>
          val f = fused.asInstanceOf[Long]
          if (r >= t) assert(f == r,
            s"t=$t a=${a.mkString(",")} b=${b.mkString(",")}: $f != $r")
          else assert(f < t,
            s"t=$t: below-threshold pair must stay below ($f vs ref $r)")
      }
    }

  test("containment threshold expression: exact at/above t, below-t " +
    "stays below-t, nulls match — interpreted eval") {
    checkInterpreted(ContainmentX1000ThresholdExpr(_, _, _), refContainment, 41, lit)
  }

  test("jaccard threshold expression: exact at/above t, below-t stays " +
    "below-t, nulls match — interpreted eval") {
    checkInterpreted(JaccardX1000ThresholdExpr(_, _, _), refJaccard, 42, lit)
  }

  test("string-element arrays: both threshold expressions exact at/above t, " +
    "below-t stays below-t, nulls match — interpreted eval") {
    checkInterpreted(ContainmentX1000ThresholdExpr(_, _, _), refContainment, 41, strLit)
    checkInterpreted(JaccardX1000ThresholdExpr(_, _, _), refJaccard, 42, strLit)
  }

  /** Codegen (DataFrame) check over array columns `a`, `b`: the fused
    * expressions' filtered output equals the unfused formulas'. */
  private def checkCodegen(df: DataFrame): Unit = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.col
    def filtered(v: Column, t: Int): Seq[(String, Long)] =
      df.withColumn("v", v).filter(col("v") >= t).select("a", "v")
        .collect().map(r => (r.getSeq[Any](0).mkString(","), r.getLong(1)))
        .sortBy(identity).toSeq
    for (t <- Seq(500, 900)) {
      // reference path: unfused intersect + div (empty-min guard keeps
      // ANSI division happy; those rows are filtered out either way)
      val refC = org.apache.spark.sql.functions.expr(
        "CASE WHEN least(size(a), size(b)) = 0 THEN NULL ELSE " +
          "(cast(size(array_intersect(a, b)) as bigint) * 1000) " +
          "div least(size(a), size(b)) END")
      assert(filtered(HashColumns.containmentX1000Threshold(col("a"), col("b"), t), t) ==
        filtered(refC, t), s"containment t=$t filtered mismatch")
      assert(filtered(HashColumns.jaccardX1000Threshold(col("a"), col("b"), t), t) ==
        filtered(HashColumns.jaccardX1000(col("a"), col("b")), t),
        s"jaccard t=$t filtered mismatch")
    }
  }

  test("codegen path agrees with the unfused expressions row-for-row " +
    "on the filtered output (the observable surface)") {
    import spark.implicits._
    checkCodegen(pairs(43).map { case (a, b) => (a.toSeq, b.toSeq) }.toDF("a", "b"))
  }

  test("string-element arrays: codegen path agrees with the unfused " +
    "expressions on the filtered output") {
    import spark.implicits._
    val df = pairs(43).map { case (a, b) => (strs(a).toSeq, strs(b).toSeq) }
      .toDF("a", "b")
    // the string branch must be what runs: no long elements here
    assert(df.schema("a").dataType == ArrayType(StringType, containsNull = true))
    checkCodegen(df)
  }
}
