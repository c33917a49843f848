package perfbench

import graft.pipeline.{Dedup, Export, Packing, Similarity, TextAnalysis}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `curate`: the training-data half. One cycle is the curation pipeline,
  * one stage per op: exact dedup plus MinHash-LSH near-dup removal,
  * benchmark decontamination, sequence packing, shuffled shard export,
  * IVF-PQ index training and a batch of indexed searches. Every stage
  * writes plain Parquet and the next reads it: nothing here touches a
  * graft table, so a table-layer change predicts no change on this
  * workload.
  *
  * Checks: the export and the search results hash the same in every
  * cycle, and recall@10 against `Similarity.bruteForceTopK` (computed
  * during set-up) stays at or above [[Curate.RecallFloor]]. */
final class Curate(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import Curate._

  private val docsPath = s"$dir/documents"
  private val vecsPath = s"$dir/embeddings"
  private val queriesPath = s"$dir/queries"
  private var truth: Map[Long, Set[Long]] = Map.empty
  private var firstExport: Option[(Long, Long)] = None
  private var firstSearch: Option[Seq[(Long, Long)]] = None
  private var model: (Seq[(Long, Seq[Long])], Seq[(Int, Long, Seq[Long])]) = (Nil, Nil)
  /** Stages run so far. */
  private var step = 0

  def cycle = Stages.size

  def generate(): Unit = {
    Dirs.delete(dir)
    Gen.documents(spark, seed, Docs).write.parquet(docsPath)
    Gen.embeddings(spark, seed, Vectors, Dims).write.parquet(vecsPath)
    Gen.embeddings(spark, seed, Vectors + Queries, Dims).filter(col("vec_id") >= Vectors)
      .select((col("vec_id") + QueryIdBase).as("query_id"), col("v").as("qv"))
      .write.parquet(queriesPath)
    firstExport = None
    firstSearch = None
    step = 0
  }

  /** Computes the exact neighbours the recall is measured against, then
    * runs one cycle. */
  def warmUp(rec: Recorder): Unit = {
    truth = Similarity.bruteForceTopK(spark.read.parquet(queriesPath),
        spark.read.parquet(vecsPath), K)
      .select("query_id", "vec_id").collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    (0 until cycle).foreach(_ => op(rec))
  }

  def op(rec: Recorder): Unit = runStep(rec, None)

  def traced(t: Tracer, rec: Recorder): Unit =
    (0 until cycle).foreach(_ => runStep(rec, Some(t)))

  /** Runs stage `step % cycle` of cycle `step / cycle`, reading the
    * previous stage's output from the cycle's directory. */
  private def runStep(rec: Recorder, tracer: Option[Tracer]): Unit = {
    val stage = Stages(step % cycle)
    val out = s"$dir/cycle-${step / cycle}"
    step += 1
    def traced[T](body: => T): T =
      tracer.fold(body)(t => t.op(stage)(t.span(s"pipeline.$stage")(body)))
    val docs = spark.read.parquet(docsPath)
    stage match {
      case "dedup" =>
        rec.op(stage)(traced {
          val unique = docs.join(Dedup.exact(docs, col("text"), col("doc_id"))
            .select(col("survivor_id").as("doc_id")), "doc_id")
          val nearDup = Dedup.minhashLsh(unique, "doc_id", "text", 32, 4, 500)
            .select(col("b_id").as("doc_id")).distinct()
          unique.join(nearDup, Seq("doc_id"), "left_anti").write.parquet(s"$out/clean")
        })(_ => None)
        rec.facts("dedup_losers") = Docs - spark.read.parquet(s"$out/clean").count()

      case "decontam" =>
        rec.op(stage)(traced {
          val clean = spark.read.parquet(s"$out/clean")
          val bench = docs.filter(col("doc_id") % BenchmarkEvery === 0)
          val hit = TextAnalysis.contamination(clean, bench, "doc_id", "text", n = 5).select("doc_id")
          clean.join(hit, Seq("doc_id"), "left_anti").write.parquet(s"$out/survivors")
        })(_ => None)

      case "pack" =>
        rec.op(stage)(traced {
          val toks = TextAnalysis.tokenCounts(spark.read.parquet(s"$out/survivors"), "doc_id", "text")
          Packing.packSequences(toks.select("doc_id", "n_ws_tokens"), "doc_id", "n_ws_tokens",
            budget = 256L, buckets = 8).write.parquet(s"$out/packed")
        })(_ => None)

      case "export" =>
        rec.op(stage)(traced {
          val shards = Export.shuffleShards(
            spark.read.parquet(s"$out/survivors").select("doc_id"), "doc_id", shards = 8)
          // one file per shard, the layout a training reader consumes
          spark.read.parquet(s"$out/packed").join(shards, Seq("doc_id"))
            .select("doc_id", "bucket", "pack", "pack_pos", "shard", "seq")
            .repartition(col("shard")).write.partitionBy("shard").parquet(s"$out/export")
        }) { _ =>
          val got = Gen.fingerprint(spark.read.parquet(s"$out/export"))
          rec.count("export_bytes", Dirs.parquetBytes(s"$out/export").toDouble)
          rec.count("export_rows", got._1.toDouble)
          val first = firstExport.getOrElse { firstExport = Some(got); got }
          if (got != first) Some(s"export (rows, hash) $got differs from the first cycle's $first")
          else None
        }

      case "ann_train" =>
        rec.op(stage)(traced {
          val (cents, codebook, codes) = Similarity.ivfPqIndex(spark.read.parquet(vecsPath), Dims,
            numCentroids = Centroids, lloydIters = 2, numSubs = 4, codebookSize = 8)
          codes.write.partitionBy("cid").parquet(s"$out/pqidx")
          model = (cents, codebook)
        })(_ => None)

      case "ann_search" =>
        rec.op(stage)(traced {
          Similarity.ivfPqSearchIndexed(spark.read.parquet(queriesPath), Dims, model._1, model._2,
              readIndex = cids =>
                spark.read.parquet(s"$out/pqidx").filter(col("cid").isin(cids: _*)),
              k = K, nProbe = 2, numSubs = 4)
            .select("query_id", "vec_id").collect()
            .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
        }) { hits =>
          val found = hits.groupBy(_._1)
          val recall = truth.map { case (q, want) =>
            found.getOrElse(q, Nil).count(h => want(h._2)).toDouble
          }.sum / truth.values.map(_.size).sum
          rec.facts("recall_at_10") = recall
          Dirs.delete(out)
          val first = firstSearch.getOrElse { firstSearch = Some(hits); hits }
          if (hits != first) Some("search results differ from the first cycle's")
          else if (recall < RecallFloor) Some(s"recall@$K $recall below $RecallFloor")
          else None
        }
    }
  }

  /** Records the bytes of the inputs one cycle reads. */
  override def finish(rec: Recorder): Unit =
    rec.facts("input_bytes") = Dirs.parquetBytes(docsPath) + Dirs.parquetBytes(vecsPath)
}

object Curate {
  val Stages = Seq("dedup", "decontam", "pack", "export", "ann_train", "ann_search")
  val Docs = 2000L
  val Vectors = 1000L
  val Queries = 200L
  val Dims = 64
  val Centroids = 8
  val K = 10
  val QueryIdBase = 1000000000L
  /** Every 17th document is also a benchmark item, so decontamination
    * has hits to remove. */
  val BenchmarkEvery = 17L
  /** Recall@10 at the commit that added the benchmark ranged 0.33-0.39
    * over seeds 1-20; a change that drops it below this fails the run. */
  val RecallFloor = 0.30
}
