package graft.tools

import org.apache.spark.sql.SparkSession

/** Diagnostic main: print the formatted physical plan (and a shuffle /
  * sort / broadcast / scan summary) for named [[graft.SparkEntry]]
  * queries — the plan-iteration loop for new operators.
  *
  * Usage:
  *   sbt "Test/runMain graft.tools.ExplainProbe <sfDir> <query>[,<query>...]"
  *
  * With SPARK_GRAFT_PLAN_DIR=<dir> set, additionally writes each
  * query's `.explain("formatted")` text (initial plan — stable operator
  * ids, no AQE runtime noise) plus the executed-plan node summary to
  * `<dir>/<query><SPARK_GRAFT_PLAN_SUFFIX>.txt` — the before/after
  * plan evidence an optimization round commits under `plans/`.
  */
object ExplainProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args(1).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val planDir = sys.env.get("SPARK_GRAFT_PLAN_DIR")
    val planSuffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "")
    planDir.foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name'"))
      val df = fn(spark, sfDir)
      println(s"\n===== $name =====")
      // execute so AQE finalizes the real plan, then summarize it
      df.collect()
      val plan = df.queryExecution.executedPlan
      def flatten(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          p +: flatten(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          p +: flatten(q.plan)
        case _ => p +: p.children.flatMap(flatten)
      }
      val nodes = flatten(plan)
      def n(pred: org.apache.spark.sql.execution.SparkPlan => Boolean) =
        nodes.count(pred)
      val summary =
        f"shuffles=${n(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])}%d  " +
        f"sorts=${n(_.isInstanceOf[org.apache.spark.sql.execution.SortExec])}%d  " +
        f"broadcasts=${n(_.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeLike])}%d  " +
        f"smj=${n(_.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec])}%d  " +
        f"bhj=${n(_.isInstanceOf[org.apache.spark.sql.execution.joins.BroadcastHashJoinExec])}%d"
      println(summary)
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode))
      planDir.foreach { d =>
        val txt = s"== $name (sfDir=$sfDir) ==\n" +
          s"executed-plan summary: $summary\n\n" +
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(d, s"$name$planSuffix.txt"),
          txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    spark.stop()
  }
}
