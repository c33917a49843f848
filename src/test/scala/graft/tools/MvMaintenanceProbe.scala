package graft.tools

import graft.mv.MaterializedView
import graft.mv.MaterializedView.{Agg, Spec}
import graft.txn.{TableMetadata, TableSnapshot}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Diagnostic main: per-batch phase costs of streaming materialized-view
  * maintenance ([[graft.streaming.StreamingIngest.withMvMaintenance]]).
  *
  * Replays the `mv_stream` fixture shape (CDC upsert batches over
  * lineitem at `SPARK_GRAFT_SF_DIR`) and prints, per batch: the WRITE
  * phase (upsert commit: eq-delete + data files + bounds/NDV stamping)
  * vs the REFRESH phase (changelog-driven view merge), plus the source
  * version before/after — verifying the refresh's changelog interval is
  * exactly the one new commit (marker → current), i.e. per-batch cost
  * scales with the batch, never the table history.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sf0.1 fixture dir> sbt "Test/runMain
  * graft.tools.MvMaintenanceProbe"
  */
object MvMaintenanceProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.graft.mv.maintenance.verbose", "true")

    val keyCols = Seq("l_orderkey", "l_linenumber", "l_partkey",
      "l_suppkey", "lq", "lep")
    val src = java.nio.file.Files.createTempDirectory("mvprobe-src").toString
    val mv = java.nio.file.Files.createTempDirectory("mvprobe-mv").toString
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .selectExpr("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "CAST(round(l_quantity * 100) AS BIGINT) AS lq",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS lep",
        "l_returnflag")
      .persist()
    val total = li.count()
    TableMetadata.commit(src, TableSnapshot(1, 1, 0, Nil))
    MaterializedView.registerOnSource(src, mv)
    MaterializedView.create(spark, mv, src, Spec(Seq("l_returnflag"),
      Seq(Agg("sum", "lq", "sum_lq"), Agg("count", "*", "n_rows"))))
    val w = graft.streaming.StreamingIngest.withMvMaintenance(spark, src,
      graft.streaming.StreamingIngest.upsertWriter(src, schemaId = 1,
        keyCols, deleteFlagCol = Some("_cdc_delete")))
    def up(df: DataFrame) = df.withColumn("_cdc_delete", lit(false))
    def del(df: DataFrame) = df.withColumn("_cdc_delete", lit(true))
    def srcV = TableMetadata.loadOrThrow(src).version
    def mvV = TableMetadata.loadOrThrow(mv)
      .properties(MaterializedView.RefreshedVersionProp)

    def batch(id: Long, rows: DataFrame): Unit = {
      val n = rows.count()
      val v0 = srcV
      w(rows, id)
      val (wn, rn) = graft.streaming.StreamingIngest.lastBatchPhaseNanos.get()
      println(f"[probe] batch=$id rows=$n srcV $v0->$srcV " +
        f"(interval=${srcV - v0} commit) mvMarker=$mvV " +
        f"write=${wn / 1e9}%.2fs refresh=${rn / 1e9}%.2fs")
      // decompose the refresh: re-run the same changelog interval and
      // time (a) the read alone, (b) the grouped delta aggregation
      if (srcV > v0) {
        val t0 = System.nanoTime()
        val cl = graft.sources.TableReader.changelog(spark, src, v0, srcV)
        val nCl = cl.count()
        val t1 = System.nanoTime()
        val agg = cl.groupBy("l_returnflag")
          .agg(sum(when(col("_change_type") === "insert", col("lq"))
            .otherwise(-col("lq"))).as("d"))
          .count()
        val t2 = System.nanoTime()
        println(f"[probe]   changelog rows=$nCl read=${(t1 - t0) / 1e9}%.2fs " +
          f"delta-agg=${(t2 - t1) / 1e9}%.2fs (groups=$agg)")
      }
    }
    println(s"[probe] lineitem rows=$total sf=$sfDir")
    batch(0L, up(li.filter(col("l_orderkey") % 2 === 0)))
    batch(1L, up(li.filter(col("l_orderkey") % 4 === 0)
        .withColumn("l_returnflag", lit("U")))
      .unionByName(up(li.filter(col("l_orderkey") % 4 === 1)
        .withColumn("l_returnflag", lit("I")))))
    batch(2L, del(li.filter(col("l_orderkey") % 8 === 0))
      .unionByName(up(li.filter(col("l_orderkey") % 8 === 2)
        .withColumn("l_returnflag", lit("V")))))
    // replayed batch: the sink skips the commit; refresh must no-op
    batch(1L, up(li.filter(col("l_orderkey") % 4 === 0)
      .withColumn("l_returnflag", lit("X"))))
    li.unpersist()
    spark.stop()
  }
}
