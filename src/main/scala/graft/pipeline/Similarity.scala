package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k per query — the correctness
  *    baseline. Cost O(|Q| * |corpus|); at scale, broadcast the (small)
  *    query set so the corpus is scanned once with no shuffle, and top-k
  *    is a per-partition window (rank <= k prunes before the final sort).
  *  - [[lshTopK]]: random-hyperplane LSH — deterministic sign sketches
  *    from [[TextFunctions.hash64]]; candidates = same bucket, then exact
  *    re-rank within bucket. The 100 TB path: bucket join replaces the
  *    full cross product.
  */
object Similarity {

  /** The shared scoring+ranking leg of [[bruteForceTopK]] and
    * [[hardNegatives]]: broadcast queries against one corpus scan,
    * ×1e6 fixed-point cosine, optional similarity band applied BEFORE
    * the per-query WindowGroupLimit top-k. One definition so the
    * scoring convention (rounding, tie-break, self-pair filter) cannot
    * silently diverge between the two legs. */
  private def rankedByCosine(
      queries: DataFrame, corpus: DataFrame, k: Int,
      band: Option[(Long, Long)]): DataFrame = {
    val scored0 = corpus.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_x1e6",
        round(cosine(col("qv"), col("v")) * 1e6).cast("long"))
    val scored = band match {
      case Some((lo, hi)) =>
        scored0.filter(col("cos_x1e6") >= lo && col("cos_x1e6") < hi)
      case None => scored0
    }
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_x1e6").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos_x1e6")
  }

  /** Exact top-k by cosine. Returns (query_id, rank, vec_id, cos_x1e6).
    * Scores are emitted as rounded integers (x1e6) to keep oracle
    * comparisons float-free; ranking ties break by vec_id. */
  def bruteForceTopK(
      queries: DataFrame, // (query_id, qv)
      corpus: DataFrame,  // (vec_id, v)
      k: Int
  ): DataFrame = rankedByCosine(queries, corpus, k, None)

  /** Hard-negative mining for contrastive training (the in-batch /
    * mined-negatives recipe of DPR — Karpukhin et al. 2020 — and
    * sentence-embedding training generally): for each anchor, the
    * top-k most-similar corpus vectors whose cosine falls INSIDE a
    * band `[lo, hi)` — above `lo` so the negative is confusable
    * (informative gradient), below `hi` so near-duplicates/positives
    * are excluded. Scores are the same ×1e6 fixed-point cosines as
    * [[bruteForceTopK]]; ranking ties break by vec_id.
    *
    * Scale shape: identical to the brute-force leg (anchors broadcast,
    * corpus scanned once, per-partition WindowGroupLimit prunes to k
    * before the shuffle) — and the band filter drops rows BEFORE the
    * window. For corpus-scale anchor sets swap the scored input for an
    * IVF/LSH candidate generator; the band + window stages are
    * unchanged. */
  def hardNegatives(
      queries: DataFrame, // (query_id, qv)
      corpus: DataFrame,  // (vec_id, v)
      k: Int,
      loX1e6: Long,
      hiX1e6: Long
  ): DataFrame = rankedByCosine(queries, corpus, k, Some((loX1e6, hiX1e6)))

  /** Maximal-Marginal-Relevance diversity re-rank (Carbonell &
    * Goldstein 1998, "The Use of MMR, Diversity-Based Reranking for
    * Reordering Documents and Producing Summaries") — the standard
    * retrieval post-pass that trades raw relevance for novelty:
    * greedily pick `argmax_a [ λ·rel(a) − (1−λ)·max_{s∈selected}
    * sim(a,s) ]` until `k` results are chosen. All arithmetic is
    * integer fixed-point (cosines ×1e6, λ as `lambdaX1e6`), so the
    * selection — including every tie-break (score desc, vec_id asc;
    * an empty selection scores zero penalty) — replays bit-for-bit in
    * any engine.
    *
    * Execution shape: relevance comes from [[bruteForceTopK]] (swap in
    * any ANN candidate generator), the pairwise-similarity table is
    * bounded by `|Q| · poolK²`, and the inherently-sequential greedy
    * loop runs per-query via `flatMapGroups` — queries parallelize
    * across the cluster, per-group state is poolK² longs, and nothing
    * ever collects to the driver. */
  def mmrTopK(
      queries: DataFrame, // (query_id, qv)
      corpus: DataFrame,  // (vec_id, v)
      poolK: Int,
      k: Int,
      lambdaX1e6: Long = 700000L
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cand = bruteForceTopK(queries, corpus, poolK)
      .select(col("query_id"), col("vec_id"), col("cos_x1e6").as("rel"))
    // re-attach vectors for the pairwise leg: the candidate side is
    // bounded (|Q| * poolK rows) so it broadcasts and the corpus is
    // scanned once, never shuffled
    // cache: the pairwise self-join below consumes this frame on BOTH
    // sides, and without materialization Spark re-derives the whole
    // candidate-generation subtree (corpus scan + top-k) twice — the
    // frame is |Q| * poolK rows, safely memory-resident
    val cv = cand.join(corpus, Seq("vec_id"))
      .select(col("query_id"), col("vec_id"), col("rel"), col("v"))
      .cache()
    val lhs = cv.select(col("query_id"), col("vec_id").as("a_id"),
      col("rel").as("rel_a"), col("v").as("av"))
    val rhs = cv.select(col("query_id"), col("vec_id").as("b_id"),
      col("v").as("bv"))
    // self-pairs (a == b) ride along so single-candidate queries still
    // form a group; the greedy loop skips them
    val pairs = lhs.join(rhs, Seq("query_id"))
      .select(col("query_id"), col("a_id"), col("b_id"), col("rel_a"),
        round(cosine(col("av"), col("bv")) * 1e6).cast("long").as("sim"))
    val lam = lambdaX1e6
    val penalty = 1000000L - lambdaX1e6
    val out = pairs.select("query_id", "a_id", "b_id", "rel_a", "sim")
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val rel = scala.collection.mutable.LongMap.empty[Long]
        val sim = scala.collection.mutable.HashMap.empty[(Long, Long), Long]
        it.foreach { case (_, aId, bId, relA, s) =>
          rel(aId) = relA
          if (aId != bId) sim((aId, bId)) = s
        }
        // ascending iteration makes strict `>` keep the LOWEST id on a
        // score tie — the (score desc, vec_id asc) total order
        val remaining = scala.collection.mutable.TreeSet.empty[Long] ++ rel.keys
        val selected = scala.collection.mutable.ArrayBuffer.empty[Long]
        val emitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
        var step = 1
        while (step <= k && remaining.nonEmpty) {
          var bestId = -1L
          var bestScore = Long.MinValue
          remaining.foreach { id =>
            val maxSim =
              if (selected.isEmpty) 0L
              else selected.iterator.map(s0 => sim.getOrElse((id, s0), 0L)).max
            val score = lam * rel(id) - penalty * maxSim
            if (score > bestScore) { bestScore = score; bestId = id }
          }
          remaining.remove(bestId)
          selected += bestId
          emitted += ((qid, step.toLong, bestId, bestScore))
          step += 1
        }
        emitted.iterator
      }
      // x1e12: lambda (x1e6) times a x1e6 cosine — named honestly so
      // consumers don't misread it against this module's *_x1e6 columns
      .toDF("query_id", "sel_rank", "vec_id", "mmr_x1e12")
    // materialize the (|Q| * k)-row result and RELEASE the cached
    // candidate frame immediately — repeated calls must not accumulate
    // dead cached blocks (the pqTopK discipline)
    val materialized = out.localCheckpoint(true)
    cv.unpersist()
    materialized
  }

  /** Deterministic random-hyperplane bucket key for a vector column:
    * `numBits` sign bits, hyperplane component (b, d) derived from
    * hash64("hp", "b,d"), centered to +-0.5. The dot product is rounded
    * to 9 decimals before the sign test so the bucket is reproducible
    * across engines regardless of their float-summation order.
    * Native expression; [[hyperplaneBucketHof]] is the interpreted twin. */
  def hyperplaneBucket(vec: Column, dims: Int, numBits: Int): Column =
    graft.functions.HashColumns.hyperplaneBucket(vec, dims, numBits)

  /** HOF form of [[hyperplaneBucket]] (cross-validation twin). */
  def hyperplaneBucketHof(vec: Column, dims: Int, numBits: Int): Column = {
    // weight(b,d) in [-0.5, 0.5): (hash % 1000)/1000 - 0.5
    def weight(b: Column, d: Column): Column =
      (pmod(hash64(lit("hp"), concat(b, lit(","), d)), lit(1000L))
        .cast("double") / 1000.0) - 0.5
    aggregate(
      transform(sequence(lit(0), lit(numBits - 1)), b => {
        val dotProd = aggregate(
          transform(sequence(lit(0), lit(dims - 1)),
            d => vec.getItem(d).cast("double") * weight(b, d)),
          lit(0.0), (acc, v) => acc + v)
        when(round(dotProd, 9) > 0, pow(lit(2.0), b).cast("long"))
          .otherwise(lit(0L))
      }),
      lit(0L), (acc, v) => acc + v)
  }

  /** IVF-flat ANN: deterministic coarse quantizer + bucket probe.
    *
    *  - centroids = the `numCentroids` corpus vectors with the smallest
    *    hash64("c", vec_id) — a deterministic uniform sample standing in
    *    for k-means (IVF-flat with random centroids; swap in trained
    *    centroids without changing the plan shape);
    *  - every corpus vector is assigned to its nearest centroid
    *    (distance rounded to 9 decimals, centroid-id tie-break — engine
    *    reproducible);
    *  - a query probes its `nProbe` nearest centroid buckets and
    *    re-ranks candidates exactly.
    *
    * Scale shape: the centroid table is tiny and broadcast; assignment is
    * a narrow pass over the corpus; the probe join shuffles only
    * candidates (corpus/numCentroids * nProbe per query on average), not
    * the full corpus per query.
    */
  def ivfTopK(
      queries: DataFrame, // (query_id, qv)
      corpus: DataFrame,  // (vec_id, v)
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4
  ): DataFrame = {
    // hash-sampled centroids are bounded model metadata — collect them
    // once and assign via the narrow literal argmin (zero expansion,
    // zero exchange; see IntKMeans). Distances here are float squared
    // L2 rounded to 9 decimals (engine-reproducible), evaluated against
    // the literal float centroid components.
    val centroids = corpus
      .withColumn("h", hash64(lit("c"), col("vec_id").cast("string")))
      .orderBy(col("h"), col("vec_id"))
      .limit(numCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toSeq.map(_.toDouble)).toSeq.sortBy(_._1)

    def dist2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, v) => acc + v)

    val centArr = array(centroids.map { case (cid, cv) =>
      struct(lit(cid).as("cid"), typedLit(cv).as("cv")) }: _*)
    def scoredCents(vec: String): Column =
      array_sort(transform(centArr, c =>
        struct(round(dist2(col(vec), c.getField("cv")), 9).as("cdist"),
          c.getField("cid").as("cid"))))
    def nearest(df: DataFrame, vec: String, keep: Int): DataFrame =
      df.withColumn("_nc", explode(slice(scoredCents(vec), 1, keep)))
        .withColumn("cid", col("_nc.cid"))
        .drop("_nc")

    val bucketed = nearest(corpus, "v", keep = 1)
    val probes = nearest(queries, "qv", keep = nProbe)

    val scored = bucketed.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_x1e6",
        round(cosine(col("qv"), col("v")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_x1e6").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos_x1e6")
  }

  /** IVF-flat with TRAINED centroids: `lloydIters` k-means (Lloyd)
    * refinement rounds over the hash-sampled initialization, then the
    * same broadcast-probe search as [[ivfTopK]] — plan shape unchanged
    * (the centroid table stays 16 rows and broadcast; training adds
    * narrow passes over the corpus).
    *
    * Every training step is EXACT integer arithmetic so the result is
    * order-independent and engine-replayable (a float k-means differs in
    * the last ulp across engines and summation orders, which would flip
    * assignments):
    *  - vectors are quantized once: `px[i] = round(v[i] * 1e6)` as long;
    *  - assignment distance = integer squared L2 over `px` (exact);
    *  - new centroid component = floor(sum / count) — an integer sum is
    *    associative, so partition order cannot change the mean. (Sums stay
    *    double-exact below 2^53: fine up to ~10^9 rows per centroid at
    *    this scale factor; shard the mean or widen to decimal beyond.)
    * Clusters that lose all members simply drop out (both engines
    * group-by the surviving assignments). Final re-rank still uses exact
    * float cosine on the original vectors.
    */
  /** Integer-exact k-means, shared by [[ivfTopKTrained]], [[pqTopK]]'s
    * recipe, and [[Dedup.semanticDedup]]: vectors quantize x1e6 to
    * longs, distances are exact integer L2, means floor-divide — every
    * step replays bit-for-bit in any engine (float k-means can NOT be
    * oracle-checked: ulp-order divergence flips assignments).
    *
    * Assignment is a NARROW argmin over a LITERAL centroid array: the
    * centroids are bounded model metadata (numCentroids x dims longs),
    * so they fold into a constant and every row evaluates its nearest
    * centroid in ONE projection — zero row expansion, zero exchange.
    * (The previous shape — crossJoin(broadcast(cents)) + a per-id
    * row_number window — shuffled and sorted a frame expanded
    * x numCentroids on EVERY Lloyd iteration and every encode pass;
    * at 100 TB that is a 16x data shuffle repeated 4-6x per training
    * run, and it owned the two slowest bench queries.) */
  private[graft] object IntKMeans {
    def quant(vec: Column): Column =
      transform(vec, x => round(x.cast("double") * 1e6).cast("long"))
    def idist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)

    /** `v` when it holds exactly `dims` elements, else a named error —
      * in every ANSI mode: without ANSI, `element_at` nulls a short
      * vector's missing dims and the mean skews silently, and a longer
      * vector is truncated in both modes. Null vectors pass unchanged. */
    def fixedDims(v: Column, dims: Int, what: String): Column =
      when(v.isNotNull && size(v) =!= dims, raise_error(concat(
        lit(s"$what: a vector has "), size(v).cast("string"),
        lit(s" elements, expected $dims (fixed-dims contract)"))))
        .otherwise(v)

    /** Literal array<struct<cid, cq>> in ascending-cid order; constant-
      * folded by Catalyst, so rows pay compute (numCentroids x dims
      * multiply-adds), never construction. */
    private def centArray(cents: Seq[(Long, Seq[Long])]): Column = {
      require(cents.nonEmpty, "centroid set must be non-empty")
      array(cents.sortBy(_._1).map { case (cid, cq) =>
        struct(lit(cid).as("cid"), typedLit(cq).as("cq")) }: _*)
    }

    /** Per-centroid (distance, cid[, cq]) structs for one row's vector —
      * struct ordering compares cdist first, then cid: exactly the
      * (distance asc, cid asc) tie-break the engine has always used. */
    private def scoredCents(vecCol: String, cents: Seq[(Long, Seq[Long])],
        keepCq: Boolean): Column =
      transform(centArray(cents), c => {
        val base = Seq(idist(col(vecCol), c.getField("cq")).as("cdist"),
          c.getField("cid").as("cid"))
        struct((if (keepCq) base :+ c.getField("cq").as("cq") else base): _*)
      })

    /** NARROW nearest-centroid assignment (keep = 1): one array_min per
      * row. Adds `cid` (and the winning centroid's `cq` when keepCq —
      * residual encoders need it). */
    def assignLit(df: DataFrame, vecCol: String,
        cents: Seq[(Long, Seq[Long])], keepCq: Boolean = false): DataFrame = {
      val best = array_min(scoredCents(vecCol, cents, keepCq))
      val withCid = df.withColumn("cid", best.getField("cid"))
      if (keepCq) withCid.withColumn("cq", best.getField("cq")) else withCid
    }

    /** NARROW nearest-`keep` probe (query side): sort the per-centroid
      * structs, slice the head, explode — one output row per probed
      * centroid, still zero exchange. */
    def probeLit(df: DataFrame, vecCol: String,
        cents: Seq[(Long, Seq[Long])], keep: Int,
        keepCq: Boolean = false): DataFrame = {
      val sorted = array_sort(scoredCents(vecCol, cents, keepCq))
      val out = df.withColumn("_nc", explode(slice(sorted, 1, keep)))
        .withColumn("cid", col("_nc.cid"))
      (if (keepCq) out.withColumn("cq", col("_nc.cq")) else out).drop("_nc")
    }

    /** Hash-sampled seeds + `lloydIters` exact-integer Lloyd rounds.
      * Returns the COLLECTED centroids (cid, cq) — bounded model
      * metadata (numCentroids rows), collected once per iteration so
      * each round's assignment runs against a literal and the training
      * lineage never re-executes downstream. */
    def trainCollect(corpusQ: DataFrame, idCol: String, pxCol: String,
        numCentroids: Int, lloydIters: Int): Seq[(Long, Seq[Long])] = {
      val proj = corpusQ.select(col(idCol), col(pxCol))
      var cents = collectCents(proj
        .withColumn("h", hash64(lit("c"), col(idCol).cast("string")))
        .orderBy(col("h"), col(idCol))
        .limit(numCentroids)
        .select(col(idCol).as("cid"), col(pxCol).as("cq")))
      for (_ <- 1 to lloydIters) {
        // element-wise integer mean in ONE exchange: `dims` per-dim sums
        // + one count, aggregated by cid directly (map-side partial onto
        // <= numCentroids keys) — the posexplode form shuffled a dims-x
        // row expansion through TWO exchanges per round for the same
        // floor(sum/count) math (the count per (cid, pos) group equals
        // the per-cid member count: every member contributes every dim).
        // Every vector must have the seeds' length (fixedDims).
        require(cents.nonEmpty,
          "k-means lost every centroid: empty training input")
        val dims = cents.head._2.length
        cents = collectCents(assignLit(proj, pxCol, cents)
          .withColumn(pxCol, fixedDims(col(pxCol), dims, "k-means training"))
          .groupBy("cid")
          .agg(count(lit(1)).as("n"),
            (0 until dims).map(d =>
              sum(element_at(col(pxCol), d + 1)).as(s"s$d")): _*)
          .select(col("cid"), array((0 until dims).map(d =>
            floor(col(s"s$d").cast("double") / col("n")).cast("long")): _*)
            .as("cq")))
      }
      cents
    }

    private def collectCents(df: DataFrame): Seq[(Long, Seq[Long])] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq)
        .toSeq.sortBy(_._1)
  }

  def ivfTopKTrained(
      queries: DataFrame, // (query_id, qv)
      corpus: DataFrame,  // (vec_id, v)
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      lloydIters: Int = 2
  ): DataFrame = {
    import IntKMeans.{assignLit, probeLit, quant}

    // training runs one bounded job per Lloyd round over the persisted
    // quantized corpus; the resulting centroids are literals, so the
    // search below never re-executes training lineage
    val corpusQ = corpus.withColumn("px", quant(col("v"))).persist()
    val centroids = IntKMeans.trainCollect(corpusQ,
      "vec_id", "px", numCentroids, lloydIters)
    // training is done with the cache; the search pass below is one
    // narrow re-read (scan + quant + literal argmin) — release the
    // blocks now so repeated calls never accumulate dead storage
    corpusQ.unpersist()

    val bucketed = assignLit(corpusQ, "px", centroids).drop("px")
    val probes = probeLit(queries.withColumn("px", quant(col("qv"))),
      "px", centroids, keep = nProbe).drop("px")

    val scored = bucketed.join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_x1e6",
        round(cosine(col("qv"), col("v")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_x1e6").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos_x1e6")
  }

  /** PERSISTED IVF index, build side: train integer-exact centroids
    * over the corpus and assign each vector its nearest — the
    * materialization step for ANN over a corpus too big to re-cluster
    * per query batch. The caller writes `assignments` to a table
    * PARTITIONED BY identity(cid) (per-centroid files) and stores the
    * returned centroid list as index metadata (it IS the index
    * directory: numCentroids × dims longs). Search then never retrains
    * — see [[ivfSearchIndexed]].
    *
    * @return (centroids collected as (cid, quantized components) —
    *         deliberately driver-side, it is bounded metadata, not
    *         data; assignments (corpus columns + `cid`), lazy)
    */
  def ivfIndex(
      corpus: DataFrame, // (vec_id, v)
      numCentroids: Int = 16,
      lloydIters: Int = 2
  ): (Seq[(Long, Seq[Long])], DataFrame) = {
    import IntKMeans.{assignLit, quant}
    val corpusQ = corpus.withColumn("px", quant(col("v"))).persist()
    val collected = IntKMeans.trainCollect(corpusQ,
      "vec_id", "px", numCentroids, lloydIters)
    corpusQ.unpersist()
    // assignments reference the COLLECTED centroids (a constant-folded
    // literal), not the lazy training plan — materializing them is one
    // narrow pass, never a re-run of Lloyd training
    (collected, assignLit(corpusQ, "px", collected).drop("px"))
  }

  /** PERSISTED IVF index, search side: per query, probe the `nProbe`
    * nearest stored centroids, then score ONLY those centroids' index
    * rows. `readIndex` is handed the distinct probed cid set so the
    * caller can push it into the table scan as a filter — on a table
    * partitioned by cid, planning prunes every unprobed partition's
    * files with ZERO IO, which is the whole point of persisting the
    * index: search cost ∝ probed buckets, not corpus size. The probed
    * cid set is collected driver-side — bounded by numCentroids (index
    * metadata scale), never by data.
    */
  def ivfSearchIndexed(
      queries: DataFrame, // (query_id, qv)
      centroids: Seq[(Long, Seq[Long])],
      readIndex: Seq[Long] => DataFrame, // probed cids -> (vec_id, v, cid)
      k: Int,
      nProbe: Int = 4
  ): DataFrame = {
    import IntKMeans.{probeLit, quant}
    val probes = probeLit(queries.withColumn("px", quant(col("qv"))),
      "px", centroids, keep = nProbe).drop("px")
    val cids = probes.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val scored = readIndex(cids).join(broadcast(probes), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_x1e6",
        round(cosine(col("qv"), col("v")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_x1e6").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos_x1e6")
  }

  /** Product-quantization ANN (Jégou/Douze/Schmid, "Product Quantization
    * for Nearest Neighbor Search", IEEE TPAMI 2011): split each vector
    * into `numSubs` subvectors, train a `codebookSize`-entry codebook per
    * subspace (Lloyd k-means), encode every corpus vector as `numSubs`
    * small codes, and answer queries by ADC — a per-query lookup table of
    * query-subvector-to-codeword distances, summed over subspaces by code
    * lookup instead of touching the original vectors.
    *
    * THE memory-compression scale path for billion-vector search: a
    * 64-dim float vector (256-512 B) becomes `numSubs` codes (4 B here),
    * so the scored side of the search carries ~100x less data — the scan
    * of a 100 TB embedding corpus scores against codes that fit in a
    * fraction of executor memory, with the codebooks and per-query
    * distance tables (numSubs x codebookSize ints) broadcast.
    *
    * Training reuses [[ivfTopKTrained]]'s integer-exact Lloyd recipe
    * (quantize x1e6 -> exact integer L2 -> floor-divided means), keyed by
    * subspace, so codebooks, codes, and ADC distances replay bit-for-bit
    * in any engine; the returned `adist` is the exact integer ADC
    * distance (smaller = nearer), ranked ascending with vec_id
    * tie-break. Empty codebook entries drop out exactly as in IVF.
    *
    * Plan shape: training = narrow subvector explode + tiny groupBys;
    * encoding = corpus x broadcast(codebook, numSubs*codebookSize rows)
    * with a per-(vector, subspace) window min; search scores the code
    * rows against BROADCAST per-query distance maps — a narrow pass with
    * no corpus shuffle; the only exchange in the search is the per-query
    * top-k window, and nothing ever plans a cartesian product over two
    * large sides.
    */
  def pqTopK(
      queries: DataFrame, // (query_id, qv)
      corpus: DataFrame,  // (vec_id, v)
      dims: Int,
      k: Int,
      numSubs: Int = 4,
      codebookSize: Int = 16,
      lloydIters: Int = 2,
      /** Ceiling on the ADC broadcast: total (query x subspace x
        * codeword) distance entries shipped to executors at once. Each
        * query's map holds numSubs*codebookSize entries, so an
        * unguarded 100k-query batch would blow through the broadcast
        * limit; past the ceiling the query set processes in
        * deterministic hash chunks (scoring is per-query independent,
        * so the union of chunked top-ks is exact). */
      maxAdcEntries: Long = 32L * 1024 * 1024
  ): DataFrame = {
    val (out, caches) = pqTopKLazy(queries, corpus, dims, k, numSubs,
      codebookSize, lloydIters, maxAdcEntries)
    // materialize the (small) top-k result and RELEASE every cached
    // input immediately — repeated calls must not accumulate dead cached
    // blocks in executor storage. A lazy-return + deferred-unpersist
    // variant was A/B-timed at ~1.5x SLOWER end-to-end on the bench
    // (steady 5.5-6.3s vs 3.6-3.8s at sf0.1): the consumer's action
    // re-runs the scoring stage against the caches, which costs more
    // than scoring once here while they are hot.
    val materialized = out.localCheckpoint(true)
    caches.foreach(_.unpersist())
    materialized
  }

  /** The lazy PQ plan plus the frames it persisted — split out so plan
    * shape stays inspectable ([[pqTopK]] checkpoints the result, which
    * truncates lineage to an ExistingRDD scan). */
  private[graft] def pqTopKLazy(
      queries: DataFrame,
      corpus: DataFrame,
      dims: Int,
      k: Int,
      numSubs: Int = 4,
      codebookSize: Int = 16,
      lloydIters: Int = 2,
      maxAdcEntries: Long = 32L * 1024 * 1024
  ): (DataFrame, Seq[DataFrame]) = {
    require(dims % numSubs == 0, s"dims=$dims not divisible by numSubs=$numSubs")
    val subLen = dims / numSubs
    def quant(vec: Column): Column =
      transform(vec, x => round(x.cast("double") * 1e6).cast("long"))
    def idist(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    // (id, m, spx): one row per vector per subspace — narrow explode
    def subVectors(df: DataFrame, idCol: String, vecCol: String): DataFrame =
      df.select(col(idCol),
          posexplode(transform(sequence(lit(0), lit(numSubs - 1)),
            m => slice(quant(col(vecCol)), (m * subLen + 1).cast("int"),
              lit(subLen)))).as(Seq("m", "spx")))

    val corpusSub = subVectors(corpus, "vec_id", "v").persist()

    // hash-seeded ("pq:m:vec_id"), integer-exact Lloyd per subspace;
    // collected per round so every encode below is a narrow literal
    // argmin (no expansion, no exchange — the IntKMeans discipline).
    // Codewords trained under their SEED vec_id names could collide in
    // the m*1024+code map key packing below (seed ids are arbitrary
    // longs — code_a == code_b + 1024*(m_b - m_a) would alias two
    // codewords, and map_from_entries throws on the duplicate key).
    // Remap to DENSE per-subspace ids; the remap is monotone in the
    // seed id, so assignment tie-breaks and every distance are
    // unchanged — internal naming only, invisible in the output
    val codebook = denseCodebook(trainCodebookCollect(
      corpusSub, "vec_id", codebookSize, lloydIters, seedKey = "pq"))

    // corpus codes collapsed to ONE row per vector: the compressed
    // representation (numSubs small ints — the ~100x memory story)
    val codes = nearestCodeLit(corpusSub, codebook)
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        s => s.getField("code")).as("codes"))
    // per-query ADC lookup table over EVERY codeword, packed as a map
    // keyed m*1024+code (codebookSize <= 1024 by construction)
    require(codebookSize <= 1024, s"codebookSize=$codebookSize exceeds key packing")

    // scoring is NARROW: codes x broadcast(per-query maps), adist = sum of
    // numSubs map lookups — no shuffle of the corpus-side rows at all;
    // the only exchange left is the per-query top-k window
    def scoreChunk(dt: DataFrame): DataFrame = {
      val scored = codes.crossJoin(broadcast(dt))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("adist",
          aggregate(sequence(lit(0), lit(numSubs - 1)), lit(0L),
            (acc, m) => acc + element_at(col("dmap"),
              m * 1024 + element_at(col("codes"), (m + 1).cast("int")))))
      val w = Window.partitionBy("query_id")
        .orderBy(col("adist").asc, col("vec_id").asc)
      scored
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= k)
        .select("query_id", "rank", "vec_id", "adist")
    }

    // one dmap row per query — the frame the broadcast ships. Counting
    // it gates the ceiling for FREE: the count materializes the cache
    // the broadcast (or each chunk's filter) then reads.
    val dtAll = codewordDistances(subVectors(queries, "query_id", "qv"),
        codebook)
      .groupBy("query_id")
      .agg(map_from_entries(collect_list(
        struct(col("m") * 1024 + col("code"), col("d")))).as("dmap"))
      .persist()
    val perQueryEntries = numSubs.toLong * codebookSize
    val qCount = dtAll.count()
    val chunks = math.min(qCount max 1L,
      (qCount * perQueryEntries + maxAdcEntries - 1) / maxAdcEntries max 1L).toInt
    val out =
      if (chunks <= 1) scoreChunk(dtAll)
      else {
        // each chunk re-reads the compressed codes, not the raw corpus —
        // persist them so the chunk loop doesn't re-encode
        codes.persist()
        (0 until chunks).map { c =>
          scoreChunk(dtAll.filter(
            pmod(hash64(lit("pqchunk"), col("query_id").cast("string")),
              lit(chunks)) === c))
        }.reduce(_ union _)
      }
    (out, Seq(dtAll, codes, corpusSub))
  }

  /** IVF-PQ ANN — the composed billion-vector architecture (Jégou et
    * al. 2011 §V; FAISS `IndexIVFPQ`): a coarse quantizer routes every
    * vector to a centroid bucket, and product quantization encodes the
    * RESIDUAL (vector - centroid) — residuals concentrate near zero,
    * so the same codebook budget quantizes them far more precisely
    * than raw vectors. Search probes `nProbe` buckets and scores ONLY
    * those buckets' codes by ADC against per-(query, bucket) residual
    * distance tables.
    *
    * Why this is THE 100 TB shape: IVF cuts the scored set to
    * nProbe/numCentroids of the corpus, PQ cuts the bytes per scored
    * row ~100x, and the bucket join + broadcast distance tables mean
    * the corpus is never shuffled and never cross-joined — cost ∝
    * probed codes, memory ∝ codes + broadcast tables.
    *
    * Everything is integer-exact ([[IntKMeans]] quantization, exact
    * integer L2, floor-divided means; residuals are exact long
    * differences), so training, encoding, and ADC replay bit-for-bit
    * in the DuckDB oracle. Returns (query_id, rank, vec_id, adist)
    * ranked by ascending integer ADC distance, vec_id tie-break. */
  def ivfPqTopK(
      queries: DataFrame, // (query_id, qv)
      corpus: DataFrame,  // (vec_id, v)
      dims: Int,
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      lloydIters: Int = 2,
      numSubs: Int = 4,
      codebookSize: Int = 16
  ): DataFrame = {
    val (out, caches) = ivfPqTopKLazy(queries, corpus, dims, k,
      numCentroids, nProbe, lloydIters, numSubs, codebookSize)
    // materialize, then release every cache (the pqTopK discipline)
    val materialized = out.localCheckpoint(true)
    caches.foreach(_.unpersist())
    materialized
  }

  // ---- IVF-PQ internals, shared by the one-shot search and the
  // ---- persisted-index build/search paths ----

  /** Residual subvectors: one row per (row, subspace), keeping
    * `keepCols`. Input must carry an `rx` long-array column. */
  private def residualSubVectors(df: DataFrame, keepCols: Seq[String],
      numSubs: Int, subLen: Int): DataFrame =
    df.select(keepCols.map(col) :+
      posexplode(transform(sequence(lit(0), lit(numSubs - 1)),
        m => slice(col("rx"), (m * subLen + 1).cast("int"), lit(subLen))))
        .as(Seq("m", "spx")): _*)

  /** Literal per-subspace codebook: an array indexed by `m` of
    * array<struct<code, cq>> entries in ascending-code order —
    * constant-folded by Catalyst, so rows pay codeword distance
    * compute, never construction or a join. */
  private def codebookArray(cb: Seq[(Int, Long, Seq[Long])]): Column = {
    require(cb.nonEmpty, "codebook must be non-empty")
    array((0 to cb.map(_._1).max).map { m =>
      val entries = cb.filter(_._1 == m).sortBy(_._2)
      require(entries.nonEmpty, s"codebook has no entries for subspace $m")
      array(entries.map { case (_, code, cq) =>
        struct(lit(code).as("code"), typedLit(cq).as("cq")) }: _*)
    }: _*)
  }

  /** NARROW nearest codebook entry per (row, subspace): one array_min
    * over the row's subspace codewords — (distance asc, code asc)
    * tie-break, zero row expansion, zero exchange. Adds `code`. */
  private def nearestCodeLit(sub: DataFrame,
      cb: Seq[(Int, Long, Seq[Long])]): DataFrame = {
    val best = array_min(transform(
      element_at(codebookArray(cb), col("m").cast("int") + 1), e =>
        struct(IntKMeans.idist(col("spx"), e.getField("cq")).as("ddist"),
          e.getField("code").as("code"))))
    sub.withColumn("code", best.getField("code"))
  }

  /** EVERY codeword of the row's subspace priced against the row's
    * subvector — the ADC distance-table builder (query-side tiny):
    * adds (code, d) by exploding the literal subspace codebook. */
  private def codewordDistances(sub: DataFrame,
      cb: Seq[(Int, Long, Seq[Long])]): DataFrame =
    sub.withColumn("_e",
        explode(element_at(codebookArray(cb), col("m").cast("int") + 1)))
      .withColumn("code", col("_e.code"))
      .withColumn("d", IntKMeans.idist(col("spx"), col("_e.cq")))
      .drop("_e")

  /** Residual-codebook Lloyd training over (id, m, spx) subvector rows:
    * per-subspace hash-seeded init (`seedKey`), integer-exact rounds,
    * the codebook COLLECTED per round (numSubs x codebookSize rows —
    * bounded model metadata) so each round's encode is the narrow
    * literal argmin. Codes keep their seed ids; [[denseCodebook]]
    * remaps them for map-key packing. */
  private[graft] def trainCodebookCollect(corpusSub: DataFrame, idCol: String,
      codebookSize: Int, lloydIters: Int, seedKey: String)
      : Seq[(Int, Long, Seq[Long])] = {
    // seeding = the codebookSize smallest-hash subvectors PER SUBSPACE.
    // A window partitioned by m alone would sort the whole N x numSubs
    // frame on numSubs reducers (the classic low-cardinality-window
    // skew); instead: exact SALTED two-phase top-K — per-(m, salt)
    // top-K on 32x more, balanced partitions, then the final top-K over
    // the <= numSubs x 32 x K survivors (the global top-K is a subset
    // of the union of per-salt top-Ks for ANY disjoint salting).
    val hashed = corpusSub
      .withColumn("h", TextFunctions.hash64(lit(seedKey),
        concat(col("m").cast("string"), lit(":"), col(idCol).cast("string"))))
    val wSalt = Window.partitionBy(col("m"), pmod(col("h"), lit(32L)))
      .orderBy(col("h").asc, col(idCol).asc)
    val survivors = hashed
      .withColumn("srank", row_number().over(wSalt))
      .filter(col("srank") <= codebookSize)
    val wInit = Window.partitionBy("m").orderBy(col("h").asc, col(idCol).asc)
    var cb = collectCodebook(survivors
      .withColumn("irank", row_number().over(wInit))
      .filter(col("irank") <= codebookSize)
      .select(col("m"), col(idCol).as("code"), col("spx").as("cq")))
    for (_ <- 1 to lloydIters) {
      // one exchange per round (the trainCollect discipline): subLen
      // per-dim sums + one count grouped by (m, code) directly — same
      // floor(sum/count) means as the old posexplode + two-groupBy form.
      // Every subvector must have the seeds' length (fixedDims).
      require(cb.nonEmpty,
        "codebook training lost every codeword: empty subvector input")
      val subLen = cb.head._3.length
      cb = collectCodebook(nearestCodeLit(corpusSub, cb)
        .withColumn("spx", IntKMeans.fixedDims(col("spx"), subLen,
          "PQ codebook training"))
        .groupBy("m", "code")
        .agg(count(lit(1)).as("n"),
          (0 until subLen).map(d =>
            sum(element_at(col("spx"), d + 1)).as(s"s$d")): _*)
        .select(col("m"), col("code"), array((0 until subLen).map(d =>
          floor(col(s"s$d").cast("double") / col("n")).cast("long")): _*)
          .as("cq")))
    }
    cb
  }

  private def collectCodebook(df: DataFrame): Seq[(Int, Long, Seq[Long])] =
    df.collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSeq))
      .toSeq.sortBy(t => (t._1, t._2))

  /** Remap seed-named codewords to DENSE per-subspace ids
    * (0..codebookSize-1, in seed-id order — a monotone bijection per
    * subspace, so nearest-code tie-breaks and all distances are
    * unchanged). Dense ids make the m*1024+code map-key packing
    * collision-free by construction. */
  private def denseCodebook(
      cb: Seq[(Int, Long, Seq[Long])]): Seq[(Int, Long, Seq[Long])] =
    cb.groupBy(_._1).toSeq.flatMap { case (m, entries) =>
      entries.sortBy(_._2).zipWithIndex.map { case ((_, _, cq), i) =>
        (m, i.toLong, cq) }
    }.sortBy(t => (t._1, t._2))

  /** The trained IVF-PQ model: coarse centroids and residual codebooks
    * as COLLECTED model metadata (bounded: numCentroids + numSubs x
    * codebookSize small vectors — they fold into literals downstream),
    * plus the lazy per-(vector, subspace) codes. `caches` must be
    * released by the caller once the codes are consumed. */
  private[graft] final case class IvfPqModel(
      cents: Seq[(Long, Seq[Long])],         // coarse centroids (cid, cq)
      codebook: Seq[(Int, Long, Seq[Long])], // residual (m, code, cq)
      codes: DataFrame,    // (vec_id, cid, m, code), lazy
      caches: Seq[DataFrame])

  private def buildIvfPqModel(
      corpus: DataFrame, // (vec_id, v)
      dims: Int,
      numCentroids: Int,
      lloydIters: Int,
      numSubs: Int,
      codebookSize: Int
  ): IvfPqModel = {
    import IntKMeans.quant
    require(dims % numSubs == 0, s"dims=$dims not divisible by numSubs=$numSubs")
    val subLen = dims / numSubs
    val corpusQ = corpus.withColumn("px", quant(col("v"))).persist()
    val cents = IntKMeans.trainCollect(corpusQ,
      "vec_id", "px", numCentroids, lloydIters)
    // corpus residuals, exact long arithmetic: rx = px - cq — ONE
    // narrow pass (the literal argmin keeps the winning centroid's cq)
    val res = IntKMeans.assignLit(corpusQ.select("vec_id", "px"),
        "px", cents, keepCq = true)
      .withColumn("rx", zip_with(col("px"), col("cq"), (a, b) => a - b))
      .select("vec_id", "cid", "rx")
    val corpusSub = residualSubVectors(res, Seq("vec_id", "cid"),
      numSubs, subLen).persist()
    // ONE codebook per subspace, trained on residuals (hash-seeded,
    // integer-exact Lloyd — pqTopKLazy's recipe keyed by "ivfpq")
    val codebook = trainCodebookCollect(corpusSub, "vec_id",
      codebookSize, lloydIters, seedKey = "ivfpq")
    // the compressed index: one code per (vector, subspace), bucket id
    // riding along — this is all search ever scans
    val codes = nearestCodeLit(corpusSub, codebook)
      .select("vec_id", "cid", "m", "code")
    IvfPqModel(cents, codebook, codes, Seq(corpusQ, corpusSub))
  }


  /** Per-(query, probed-bucket) ADC distance tables: probe `nProbe`
    * centroids, take the query residual AGAINST EACH probed centroid,
    * and price every codeword — (query_id, cid, m, code, d), tiny
    * (|Q| x nProbe x numSubs x codebookSize rows), built to broadcast. */
  private def ivfPqDistanceTables(
      queries: DataFrame, // (query_id, qv)
      cents: Seq[(Long, Seq[Long])],
      codebook: Seq[(Int, Long, Seq[Long])],
      numSubs: Int,
      subLen: Int,
      nProbe: Int
  ): DataFrame = {
    val probes = IntKMeans.probeLit(
      queries.withColumn("px", IntKMeans.quant(col("qv")))
        .select("query_id", "px"),
      "px", cents, keep = nProbe, keepCq = true)
      .withColumn("rx", zip_with(col("px"), col("cq"), (a, b) => a - b))
      .select("query_id", "cid", "rx")
    codewordDistances(
      residualSubVectors(probes, Seq("query_id", "cid"), numSubs, subLen),
      codebook)
      .select("query_id", "cid", "m", "code", "d")
  }

  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "adist")
  }

  /** The lazy IVF-PQ plan plus the frames it persisted — split out so
    * plan shape stays inspectable (the public form checkpoints, which
    * truncates lineage to an ExistingRDD scan). */
  private[graft] def ivfPqTopKLazy(
      queries: DataFrame,
      corpus: DataFrame,
      dims: Int,
      k: Int,
      numCentroids: Int = 16,
      nProbe: Int = 4,
      lloydIters: Int = 2,
      numSubs: Int = 4,
      codebookSize: Int = 16
  ): (DataFrame, Seq[DataFrame]) = {
    val subLen = dims / numSubs
    val model = buildIvfPqModel(corpus, dims, numCentroids, lloydIters,
      numSubs, codebookSize)
    val dt = ivfPqDistanceTables(queries, model.cents, model.codebook,
      numSubs, subLen, nProbe)
    // bucket join: only probed buckets' codes score; sum the numSubs
    // per-subspace lookups into the exact integer ADC distance
    val scored = model.codes.join(broadcast(dt), Seq("cid", "m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("d")).as("adist"))
    (rankTopK(scored, k), model.caches)
  }

  /** PERSISTED IVF-PQ index, build side: train coarse centroids and
    * residual codebooks, then encode every vector as its bucket id
    * plus `numSubs` codes — the COMPRESSED index a billion-vector
    * deployment materializes (codes are ~100x smaller than vectors).
    * The caller writes `codes` to a table PARTITIONED BY identity(cid)
    * and stores the returned centroid and codebook lists as index
    * metadata (together they ARE the model: (numCentroids +
    * numSubs*codebookSize) x small long vectors). The returned codes
    * frame references the COLLECTED model as literal frames, so
    * materializing it never re-runs training.
    *
    * @return (centroids (cid, quantized), codebook (m, code,
    *         quantized), codes (vec_id, codes ARRAY sorted by m, cid))
    */
  def ivfPqIndex(
      corpus: DataFrame, // (vec_id, v)
      dims: Int,
      numCentroids: Int = 16,
      lloydIters: Int = 2,
      numSubs: Int = 4,
      codebookSize: Int = 16
  ): (Seq[(Long, Seq[Long])], Seq[(Int, Long, Seq[Long])], DataFrame) = {
    val model = buildIvfPqModel(corpus, dims, numCentroids, lloydIters,
      numSubs, codebookSize)
    // training names codewords by their SEED vec_id (arbitrary longs);
    // the stored index remaps them to DENSE per-subspace ids
    // (0..codebookSize-1, in seed-id order — a monotone bijection, so
    // nearest-code tie-breaks and all distances are unchanged). Dense
    // ids are what makes the search side's m*1024+code map key packing
    // collision-free by construction.
    val cb = denseCodebook(model.codebook)
    model.caches.foreach(_.unpersist())
    // re-derive the codes against the LITERAL model (training lineage
    // gone): one assignment pass for buckets, one for codes
    (model.cents, cb, ivfPqEncode(corpus, dims, model.cents, cb, numSubs))
  }

  /** Encode (vec_id, v) rows against a FROZEN IVF-PQ model: nearest
    * stored centroid, residual, nearest codeword per subspace —
    * bit-identical to the build pass, so incrementally refreshed rows
    * are indistinguishable from built rows. Returns
    * (vec_id, codes ARRAY sorted by m, cid). */
  def ivfPqEncode(
      vectors: DataFrame, // (vec_id, v)
      dims: Int,
      centroids: Seq[(Long, Seq[Long])],
      codebook: Seq[(Int, Long, Seq[Long])],
      numSubs: Int = 4
  ): DataFrame = {
    val subLen = dims / numSubs
    val res = IntKMeans.assignLit(
      vectors.withColumn("px", IntKMeans.quant(col("v")))
        .select("vec_id", "px"),
      "px", centroids, keepCq = true)
      .withColumn("rx", zip_with(col("px"), col("cq"), (a, b) => a - b))
      .select("vec_id", "cid", "rx")
    nearestCodeLit(
      residualSubVectors(res, Seq("vec_id", "cid"), numSubs, subLen),
      codebook)
      .groupBy("vec_id", "cid")
      .agg(transform(array_sort(collect_list(struct(col("m"), col("code")))),
        s => s.getField("code")).as("codes"))
      .select("vec_id", "codes", "cid")
  }

  /** PERSISTED IVF-PQ index, search side: probe `nProbe` stored
    * centroids per query, hand the probed cid set to `readIndex` (on a
    * cid-partitioned table, planning prunes every unprobed partition —
    * zero IO), and ADC-score the pruned CODE rows against broadcast
    * per-(query, bucket) distance maps. Search cost ∝ probed buckets x
    * compressed rows; the original vectors are never read at all. */
  def ivfPqSearchIndexed(
      queries: DataFrame, // (query_id, qv)
      dims: Int,
      centroids: Seq[(Long, Seq[Long])],
      codebook: Seq[(Int, Long, Seq[Long])],
      readIndex: Seq[Long] => DataFrame, // probed cids -> (vec_id, codes, cid)
      k: Int,
      nProbe: Int = 4,
      numSubs: Int = 4
  ): DataFrame = {
    val subLen = dims / numSubs
    require(codebook.forall(_._2 < 1024),
      "code ids must be dense (< 1024) for the map key packing — " +
        "build the index with ivfPqIndex, which remaps seed ids")
    val dt = ivfPqDistanceTables(queries, centroids, codebook, numSubs,
      subLen, nProbe)
    // per-(query, bucket) lookup map keyed m*1024+code (code < 1024)
    val dtm = dt.groupBy("query_id", "cid")
      .agg(map_from_entries(collect_list(
        struct(col("m") * 1024L + col("code"), col("d")))).as("dmap"))
    val cids = dt.select("cid").distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    val scored = readIndex(cids).join(broadcast(dtm), Seq("cid"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("adist",
        aggregate(sequence(lit(0), lit(numSubs - 1)), lit(0L),
          (acc, m) => acc + element_at(col("dmap"),
            m * 1024L + element_at(col("codes"), (m + 1).cast("int")))))
      .select("query_id", "vec_id", "adist")
    rankTopK(scored, k)
  }

  /** Mean integer quantization error of (vec_id, v) rows against a
    * frozen IVF model: floor-mean of idist(px, nearest centroid) — the
    * coarse quantizer's reconstruction error, the drift signal an
    * incrementally refreshed index stamps per refresh. None for an
    * empty frame. One narrow pass + one bounded aggregate. */
  def ivfQuantError(
      vectors: DataFrame, // (vec_id, v)
      centroids: Seq[(Long, Seq[Long])]
  ): Option[Long] = {
    val assigned = IntKMeans.assignLit(
      vectors.withColumn("px", IntKMeans.quant(col("v")))
        .select("vec_id", "px"),
      "px", centroids, keepCq = true)
      .withColumn("err", IntKMeans.idist(col("px"), col("cq")))
    val r = assigned.agg(count(lit(1)).as("n"),
      floor(sum(col("err")).cast("double") / count(lit(1)))
        .cast("long").as("e")).head()
    if (r.getLong(0) == 0L) None else Some(r.getLong(1))
  }

  /** Mean integer quantization error of (vec_id, v) rows against a
    * frozen IVF-PQ model: floor-mean per vector of the summed
    * residual-to-codeword distances (the ADC reconstruction error after
    * coarse + product quantization). None for an empty frame. */
  def ivfPqQuantError(
      vectors: DataFrame, // (vec_id, v)
      dims: Int,
      centroids: Seq[(Long, Seq[Long])],
      codebook: Seq[(Int, Long, Seq[Long])],
      numSubs: Int = 4
  ): Option[Long] = {
    val subLen = dims / numSubs
    val res = IntKMeans.assignLit(
      vectors.withColumn("px", IntKMeans.quant(col("v")))
        .select("vec_id", "px"),
      "px", centroids, keepCq = true)
      .withColumn("rx", zip_with(col("px"), col("cq"), (a, b) => a - b))
      .select("vec_id", "cid", "rx")
    val sub = residualSubVectors(res, Seq("vec_id"), numSubs, subLen)
    val best = array_min(transform(
      element_at(codebookArray(codebook), col("m").cast("int") + 1), e =>
        struct(IntKMeans.idist(col("spx"), e.getField("cq")).as("ddist"),
          e.getField("code").as("code"))))
    val r = sub.withColumn("ddist", best.getField("ddist"))
      .groupBy("vec_id").agg(sum(col("ddist")).as("verr"))
      .agg(count(lit(1)).as("n"),
        floor(sum(col("verr")).cast("double") / count(lit(1)))
          .cast("long").as("e")).head()
    if (r.getLong(0) == 0L) None else Some(r.getLong(1))
  }

  /** IVF-PQ search with EXACT RE-RANK refinement (the FAISS refine
    * stage — IndexRefineFlat over an IndexIVFPQ): ADC ranks the probed
    * buckets' CODES as usual, then the top-`topR` candidate ids per
    * query are joined back to the ORIGINAL vector table and the final
    * top-k is exact cosine over candidates only. Closes the accuracy
    * gap ADC's quantization error leaves at production recall targets,
    * while reading exactly |Q| x topR vectors — the candidate set is
    * bounded model-search metadata, broadcast into the vector scan, so
    * the corpus is never re-read or shuffled. Returns
    * (query_id, rank, vec_id, cos_x1e6). */
  def ivfPqSearchRerank(
      queries: DataFrame, // (query_id, qv)
      dims: Int,
      centroids: Seq[(Long, Seq[Long])],
      codebook: Seq[(Int, Long, Seq[Long])],
      readIndex: Seq[Long] => DataFrame, // probed cids -> (vec_id, codes, cid)
      /** Candidate vec_ids -> their (vec_id, v) rows. The id set is
        * handed to the caller so it can PUSH it into the vector scan
        * (an isin filter prunes row groups / files by stamped bounds) —
        * at corpus scale the refine stage must read |Q| x topR vectors'
        * worth of IO, not scan the table and filter. */
      readVectors: Seq[Long] => DataFrame,
      k: Int,
      topR: Int,
      nProbe: Int = 4,
      numSubs: Int = 4
  ): DataFrame = {
    require(topR >= k, s"topR=$topR must be >= k=$k (refine never shrinks recall)")
    // the candidate set is bounded search metadata (|Q| x topR pairs) —
    // collect it ONCE so (a) the ADC search runs a single time, (b) the
    // distinct id set can push into the vector scan, and (c) the
    // re-rank joins against a literal frame
    val spark = queries.sparkSession
    import spark.implicits._
    val candRows = ivfPqSearchIndexed(queries, dims, centroids, codebook,
      readIndex, k = topR, nProbe, numSubs)
      .select("query_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cand = candRows.toDF("query_id", "vec_id")
    val ids = candRows.map(_._2).distinct.sorted
    val scored = readVectors(ids).join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
    exactRerankTopK(scored, k)
  }

  /** Shared exact-refine tail: score (query_id, vec_id, qv, v) candidate
    * rows with exact cosine and keep each query's top-k. */
  private def exactRerankTopK(candRows: DataFrame, k: Int): DataFrame = {
    val scored = candRows.withColumn("cos_x1e6",
      round(cosine(col("qv"), col("v")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_x1e6").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos_x1e6")
  }

  /** COLLECT-FREE twin of [[ivfPqSearchRerank]] for OFFLINE refine at
    * scale: the |Q| x topR candidate pairs stay DISTRIBUTED end-to-end —
    * one equi-join of the vector table against the candidate frame both
    * prunes the corpus AND attaches each candidate's query_id (AQE picks
    * broadcast vs shuffle from the actual candidate size), so nothing
    * round-trips the driver. At serving |Q| the id-pushdown variant
    * reads strictly less IO (candidate ids prune files/row-groups at the
    * scan); past ~1e5 candidate pairs the driver round-trip and the
    * literal id list become the bottleneck and this path wins — pick by
    * |Q| x topR. Same output contract, bit-identical rows
    * (PlanQualitySpec pins both the equivalence and the absence of a
    * driver collect on this path). */
  def ivfPqSearchRerankDistributed(
      queries: DataFrame, // (query_id, qv)
      dims: Int,
      centroids: Seq[(Long, Seq[Long])],
      codebook: Seq[(Int, Long, Seq[Long])],
      readIndex: Seq[Long] => DataFrame, // probed cids -> (vec_id, codes, cid)
      vectors: DataFrame, // the FULL (vec_id, v) table — pruned by the join
      k: Int,
      topR: Int,
      nProbe: Int = 4,
      numSubs: Int = 4
  ): DataFrame = {
    require(topR >= k, s"topR=$topR must be >= k=$k (refine never shrinks recall)")
    val cand = ivfPqSearchIndexed(queries, dims, centroids, codebook,
      readIndex, k = topR, nProbe, numSubs)
      .select("query_id", "vec_id")
    val scored = vectors.join(cand, Seq("vec_id"))
      .join(broadcast(queries), Seq("query_id"))
    exactRerankTopK(scored, k)
  }

  /** LSH ANN: same-bucket candidates re-ranked exactly. Recall < 1 by
    * construction; deterministic. Returns (query_id, rank, vec_id,
    * cos_x1e6) with rank over bucket candidates only. */
  def lshTopK(
      queries: DataFrame, // (query_id, qv)
      corpus: DataFrame,  // (vec_id, v)
      dims: Int,
      k: Int,
      numBits: Int = 8
  ): DataFrame = {
    val qb = queries.withColumn("bucket", hyperplaneBucket(col("qv"), dims, numBits))
    val cb = corpus.withColumn("bucket", hyperplaneBucket(col("v"), dims, numBits))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos_x1e6",
        round(cosine(col("qv"), col("v")) * 1e6).cast("long"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos_x1e6").desc, col("vec_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "vec_id", "cos_x1e6")
  }
}
