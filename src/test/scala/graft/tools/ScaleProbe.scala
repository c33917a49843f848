package graft.tools

import org.apache.spark.sql.SparkSession

/** Straggler evidence for SCALE.md: run named SparkEntry queries
  * against a (skew-planted) ScaleGen fixture under [[StragglerProbe]]
  * and print each query's worst task-balance stages — the
  * max-over-median task-time ratio the skew-stress pin bounds at 4×.
  * One untimed warm-up per query absorbs whole-stage-codegen compile
  * spikes (first-task JIT reads as a phantom straggler otherwise).
  *
  * Usage: `sbt "Test/runMain graft.tools.ScaleProbe <sfDir> <q1,q2,…>"` */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleProbe <sfDir> <q1,q2,...>")
    val dir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      def run(): Unit =
        fn(spark, dir).write.mode("overwrite").format("noop").save()
      run() // warm-up: codegen + fixture build
      val (_, balances) = StragglerProbe.measure(spark)(run())
      val judged = balances.filter(b => b.nTasks >= 8 && b.maxMs >= 400)
      val worst = (if (judged.nonEmpty) judged else balances)
        .sortBy(-_.ratio).take(3)
      val verdict =
        if (judged.exists(_.ratio > 4.0)) "STRAGGLER" else "balanced"
      println(s"[scaleprobe] $name: $verdict; worst stages: " +
        worst.mkString(" | "))
    }
    spark.stop()
  }
}
