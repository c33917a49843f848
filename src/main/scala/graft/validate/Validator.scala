package graft.validate

import graft.core.CompactionError
import org.apache.spark.sql.DataFrame

/** Post-compaction validation — reference V1 (`CompactionValidator`,
  * core/src/compaction/validator.rs:36-166): compare the input's live
  * row count against the output's TOTAL ROW COUNT; error on mismatch.
  * Runs only when `enableValidateCompaction`. Compaction counts its
  * input with one pinned scan and takes the output count from the
  * committed files' footer record counts ([[validateCounts]]).
  *
  * `strict` upgrades the check to full multiset equality via ONE
  * signed-tag aggregate (input rows +1, output rows -1, grouped on all
  * columns — exceptAll's null-safe equality, half its scans/shuffles) —
  * a stronger oracle than the reference's count compare (SURVEY §7.2
  * step 6). At 100 TB use counts (one pass, no shuffle); strict mode
  * still shuffles both sides on all columns — reserve it for sampled
  * audits.
  */
object Validator {
  final case class Result(inputRows: Long, outputRows: Long, valid: Boolean)

  /** The count compare alone, over counts the caller already has. */
  def validateCounts(in: Long, out: Long): Result = {
    if (in != out)
      throw CompactionError.Validation(
        s"row count mismatch after compaction: input=$in output=$out")
    Result(in, out, valid = true)
  }

  def validate(inputLive: DataFrame, output: DataFrame, strict: Boolean = false): Result = {
    val counted = validateCounts(inputLive.count(), output.count())
    if (strict) {
      // ONE-SHUFFLE multiset diff (the TableReader.changes discipline):
      // tag input rows +1 and output rows -1, aggregate per distinct
      // row, and read both directions from the signed excess —
      // Σ_{d>0} d = |input \ output| and Σ_{d<0} -d = |output \ input|
      // under exceptAll's multiset semantics (groupBy and exceptAll
      // share null-safe equality). The two-exceptAll form scanned each
      // side twice and shuffled full-width rows twice.
      import org.apache.spark.sql.functions._
      val cols = inputLive.columns.toSeq
      // the tag/diff columns must not shadow (and silently replace) a
      // real data column — a table named like this would corrupt the
      // multiset check rather than fail it
      Seq("__vtag", "__d").foreach { t =>
        if (cols.contains(t))
          throw CompactionError.Validation(
            s"strict validation reserves column name '$t'; " +
              "rename the table column or use count validation")
      }
      val diff = inputLive.withColumn("__vtag", lit(1L))
        .unionByName(output.select(cols.map(col): _*)
          .withColumn("__vtag", lit(-1L)))
        .groupBy(cols.map(col): _*)
        .agg(sum(col("__vtag")).as("__d"))
        .filter(col("__d") =!= 0L)
        .agg(
          coalesce(sum(when(col("__d") > 0, col("__d"))), lit(0L)),
          coalesce(sum(when(col("__d") < 0, -col("__d"))), lit(0L)))
        .head()
      val missing = diff.getLong(0)
      val extra = diff.getLong(1)
      if (missing != 0 || extra != 0)
        throw CompactionError.Validation(
          s"content mismatch after compaction: missing=$missing extra=$extra")
    }
    counted
  }
}
