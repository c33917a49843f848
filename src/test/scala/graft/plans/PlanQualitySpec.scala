package graft.plans

import graft.SparkTestSession
import graft.queries.{AnalyticsQueries, MorQueries}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: the properties that make these queries viable
  * at 100 TB must hold in the physical plan, not just in prose.
  * Checked against the pre-execution plan (AQE may improve but never
  * needs to rescue these shapes). */
class PlanQualitySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("merge-on-read: all deletes broadcast, data side never shuffled pre-agg") {
    val p = plan(MorQueries.morFull(spark, dir))
    val anti = p.split("\n").count(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftAnti"))
    assert(anti == 3, s"expected 3 broadcast anti-joins, plan:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "delete anti-joins must not sort-merge the data side")
  }

  test("scans are column-pruned") {
    val p = plan(AnalyticsQueries.joinRevenue(spark, dir))
    val lineitemScan = p.split("\n").find(l =>
      l.contains("ReadSchema") && l.contains("l_orderkey")).getOrElse("")
    // only the 3 needed lineitem columns reach the parquet reader
    assert(lineitemScan.contains("l_extendedprice") &&
      lineitemScan.contains("l_discount"))
    assert(!lineitemScan.contains("l_shipdate") &&
      !lineitemScan.contains("l_quantity"),
      s"lineitem scan not pruned: $lineitemScan")
  }

  test("aggregation is map-side partial before the exchange") {
    val p = plan(AnalyticsQueries.aggPricing(spark, dir))
    assert(p.contains("partial_sum"), "partial aggregation missing")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    val partialIdx = p.indexOf("partial_sum")
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx,
      "partial aggregate must sit below the shuffle")
  }

  test("dimension join broadcasts the small side") {
    val p = plan(AnalyticsQueries.joinRevenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"customer dimension should broadcast:\n$p")
  }

  test("quantiles: both windows share ONE exchange on the group key") {
    val p = plan(graft.queries.AnalyticsQueries.quantiles(spark, dir))
    val exchanges = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"rank and count windows must reuse the same partitioning:\n$p")
  }

  test("MoR read filter pushes through the anti-join chain to the scan") {
    import org.apache.spark.sql.functions._
    import graft.txn.{FileEntry, TableMetadata, TableSnapshot}
    val spark2 = spark
    import spark2.implicits._
    val t = java.nio.file.Files.createTempDirectory("graft-pushdown").toString
    val f1 = s"$t/data/f1.parquet"
    Seq((1L, "a"), (2L, "b"), (50L, "c")).toDF("id", "name")
      .coalesce(1).write.parquet(s"$t/tmp1")
    val part = new java.io.File(s"$t/tmp1").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(f1).getParent)
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(f1))
    val ed = s"$t/data/ed.parquet"
    Seq(Tuple1(2L)).toDF("id").coalesce(1).write.parquet(s"$t/tmp2")
    val part2 = new java.io.File(s"$t/tmp2").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part2.toPath, java.nio.file.Paths.get(ed))
    TableMetadata.commit(t, TableSnapshot(1, 1, 2, Seq(
      FileEntry(f1, "data", 1L, 3L, sequenceNumber = 1),
      FileEntry(ed, "equality-deletes", 1L, 1L, sequenceNumber = 2,
        equalityIds = Seq("id")))))
    val df = graft.sources.TableReader.read(spark, t,
      filter = Some(col("id") >= 10L))
    val p = plan(df)
    // the graft scan's own line names the pinned snapshot and every
    // filter pushed into it
    val version = graft.txn.FileTableCatalog.loadOrThrow(t).version
    val dataScan = p.split("\n").find(l => l.contains("BatchScan") &&
      l.contains(s"graft MoR $t @v$version PushedFilters: [") &&
      l.contains("GreaterThanOrEqual(id,10)"))
    assert(dataScan.isDefined,
      s"filter must reach the parquet scan as a pushed filter:\n$p")
    assert(df.as[(Long, String)].collect().toSeq == Seq((50L, "c")))
  }

  test("decontamination broadcasts the benchmark n-gram set") {
    val p = plan(graft.queries.PipelineQueries.decontaminate(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark gram set must broadcast, not shuffle the corpus:\n$p")
    // per-doc hit count aggregates map-side before its exchange
    assert(p.contains("partial_count"), "hit count must partial-aggregate")
  }

  test("pii scrub is a narrow per-row pass (no join, no hash shuffle)") {
    val p = plan(graft.queries.PipelineQueries.piiScrubQuery(spark, dir))
    assert(!p.contains("Join"), s"pii scrub must not join:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      s"pii scrub must not hash-shuffle (only the output sort ranges):\n$p")
  }

  test("KMV sketch never exchanges the full distinct hash set") {
    val q = graft.queries.PipelineQueries.queries("kmv_distinct")(spark, dir)
    val p = plan(q)
    // must also EXECUTE: the buffer round-trips through kryo at runtime
    assert(q.collect().length == 1)
    // scale shape: partial bounded-set aggregation per partition, then a
    // single-partition merge of k-value buffers — a hash-partitioned
    // exchange would mean the whole distinct hash set crossed the wire
    assert(!p.contains("Exchange hashpartitioning"),
      s"kmv must not shuffle the distinct hash set:\n$p")
    assert(p.contains("Exchange SinglePartition"),
      s"expected a single-partition buffer merge:\n$p")
  }

  test("trained IVF broadcasts centroids — never a cartesian product") {
    val p = plan(graft.queries.PipelineQueries.queries("ann_ivf_trained")(spark, dir))
    assert(p.contains("Broadcast"),
      s"centroid side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"corpus x centroids must not plan as a cartesian product:\n$p")
  }

  test("PQ search: codes scored against broadcast tables, no cartesian, no corpus shuffle pre-window") {
    // the public pqTopK localCheckpoints (truncating lineage), so the
    // shape assertions run on the LAZY plan it executes
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val (lazyPlan, caches) = graft.pipeline.Similarity.pqTopKLazy(
      e.filter(org.apache.spark.sql.functions.col("vec_id") < 8)
        .select(org.apache.spark.sql.functions.col("vec_id").as("query_id"),
          org.apache.spark.sql.functions.col("embedding").as("qv")),
      e.select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").as("v")),
      dims = 64, k = 10)
    val p = plan(lazyPlan)
    caches.foreach(_.unpersist())
    assert(p.contains("Broadcast"),
      s"codebook / distance-table sides must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"PQ must never plan a cartesian product over two large sides:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"nothing in PQ should sort-merge (all small sides broadcast):\n$p")
  }

  test("freq_score: AQE broadcasts the small vocabulary at runtime") {
    // the join is deliberately unhinted (a forced broadcast would OOM on
    // vocab blowups instead of degrading) — so the property to pin is the
    // FINAL adaptive plan choosing broadcast when the vocab is small
    val q = graft.queries.PipelineQueries.queries("freq_score")(spark, dir)
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"small vocab lookup should finalize as a broadcast hash join:\n$p")
  }

  test("position-delete broadcast is gated on delete-file bytes") {
    import spark.implicits._
    import graft.core._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    def writeOne(df: org.apache.spark.sql.DataFrame, target: String): Unit = {
      val tmp = Files.createTempDirectory("pq").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      Files.createDirectories(Paths.get(target).getParent)
      Files.move(part.toPath, Paths.get(target), StandardCopyOption.REPLACE_EXISTING)
    }
    val fixDir = Files.createTempDirectory("pq-gate").toString
    val dataPath = s"$fixDir/data.parquet"
    val posPath = s"$fixDir/pos.parquet"
    writeOne((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"), dataPath)
    writeOne(Seq((dataPath, 0L), (dataPath, 5L)).toDF("file_path", "pos"), posPath)
    def tasksWith(posBytes: Long) = InputFileScanTasks(
      dataFiles = Seq(FileScanTask(dataPath, FileContent.Data,
        new java.io.File(dataPath).length())),
      positionDeleteFiles = Seq(FileScanTask(posPath,
        FileContent.PositionDeletes, posBytes)),
      equalityDeleteFiles = Nil)

    // under the threshold: the anti-join must broadcast the delete side
    val under = plan(graft.compaction.SparkCompactionExecutor
      .liveRows(spark, tasksWith(posBytes = 1024)))
    assert(under.contains("BroadcastHashJoin") && under.contains("LeftAnti"),
      s"small position deletes should broadcast:\n$under")

    // over the threshold: no broadcast — the join must fall back to a
    // shuffled strategy (a forced broadcast of tens of GB of position
    // deletes would OOM the executors at 100 TB scale)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val over = plan(graft.compaction.SparkCompactionExecutor
        .liveRows(spark, tasksWith(posBytes = 1L << 34)))
      assert(!over.contains("BroadcastHashJoin"),
        s"oversized position deletes must NOT broadcast:\n$over")
      assert(over.contains("LeftAnti"), s"anti-join missing:\n$over")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("decontamination bloom probe filters map-side BELOW the join") {
    val p = plan(graft.queries.PipelineQueries.decontaminateBloom(spark, dir))
    val lines = p.split("\n")
    val joinIdx = lines.indexWhere(l => l.contains("Join"))
    val probeIdx = lines.indexWhere(_.contains("bloom_might_contain"))
    assert(probeIdx >= 0, s"bloom probe missing from plan:\n$p")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe must sit on the scan side below the join (probe line " +
        s"$probeIdx, join line $joinIdx):\n$p")
    // the probe must be a plain Filter feeding the exchange/join — i.e.
    // applied before any shuffle of the exploded training grams
    val probeLine = lines(probeIdx)
    assert(probeLine.contains("Filter") || probeLine.contains("Project"),
      s"probe not in a narrow operator: $probeLine")
  }

  test("partitioned INSERT clusters rows by the partition sources before the write") {
    // without the clustered distribution every write task sees every
    // partition value and the fanout writers explode — the shape that
    // decides whether a partitioned 100 TB INSERT works at all
    val wh = java.nio.file.Files.createTempDirectory("graft-wh-plan").toString
    spark.conf.set("spark.sql.catalog.gplan", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gplan.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gplan.db")
    spark.sql("""CREATE TABLE gplan.db.p (id BIGINT, region STRING)
                |PARTITIONED BY (region, bucket(4, id))""".stripMargin)
    val p = spark.sql(
      """EXPLAIN INSERT INTO gplan.db.p
        |SELECT id, CAST(id % 3 AS STRING) FROM range(0, 10)""".stripMargin)
      .collect().map(_.getString(0)).mkString("\n")
    val exchange = p.split("\n")
      .find(_.contains("Exchange hashpartitioning")).getOrElse("")
    assert(exchange.nonEmpty,
      s"expected a clustering exchange in the INSERT plan:\n$p")
    assert(exchange.contains("region") && exchange.contains("id"),
      s"exchange must cluster on BOTH partition sources: $exchange")
  }

  test("spec-evolved table: identity filter prunes OLD-spec files only, " +
    "new-layout files stay (end-to-end task count)") {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh-pevo").toString
    spark.conf.set("spark.sql.catalog.gpev", classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gpev.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpev.db")
    spark.sql("""CREATE TABLE gpev.db.e (id BIGINT, region STRING)
                |PARTITIONED BY (region)""".stripMargin)
    // spec 0: one file per region value
    spark.sql("""INSERT INTO gpev.db.e
                |SELECT id, CAST(id % 3 AS STRING) FROM range(0, 300)""".stripMargin)
    spark.sql("CALL gpev.system.evolve_partition_spec(" +
      "`table` => 'db.e', spec => 'bucket:4:id')")
    // spec 1: bucket files, no region field in their names
    spark.sql("""INSERT INTO gpev.db.e
                |SELECT id, CAST(id % 3 AS STRING) FROM range(300, 600)""".stripMargin)
    def partsOf(q: org.apache.spark.sql.DataFrame): Int =
      q.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.getOrElse(fail("no BatchScanExec in plan")).partitions.size
    val all = partsOf(spark.table("gpev.db.e"))
    val filtered = partsOf(spark.table("gpev.db.e").filter("region = '1'"))
    // the filter prunes the spec-0 region-partitioned files by NAME
    // alone, while every spec-1 bucket file (whose layout cannot answer
    // a region predicate) must survive — per-file spec resolution
    assert(filtered < all,
      s"expected spec-0 region pruning to drop tasks ($filtered vs $all)")
    val snap = graft.txn.FileTableCatalog.loadOrThrow(s"$wh/db/e")
    val spec1Files = snap.files.count(f => f.content == "data" && f.specId == 1L)
    assert(spec1Files > 0, "fixture must hold new-layout files")
    assert(filtered >= spec1Files,
      s"new-layout files must not be pruned by a region filter " +
        s"($filtered tasks < $spec1Files spec-1 files)")
    // correctness alongside the shape
    assert(spark.table("gpev.db.e").filter("region = '1'").count() == 200L)
  }

  test("sequence packing: exactly ONE exchange (the bucket route), " +
    "no window, no join") {
    val p = plan(graft.queries.PipelineQueries.sequencePack(spark, dir))
    val exchanges = p.split("\n").count(l =>
      l.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"packing needs one bucket shuffle, found $exchanges:\n$p")
    assert(!p.contains("Join"), s"packing must not join:\n$p")
    assert(!p.contains("Window"), s"packing must not window:\n$p")
  }

  test("semantic dedup: centroids broadcast, never a cartesian over " +
    "two large sides") {
    val p = plan(graft.queries.PipelineQueries.dedupSemantic(spark, dir))
    // the result is localCheckpoint-materialized; assert on the
    // UNCHECKPOINTED plan instead
    val raw = graft.pipeline.Dedup.semanticDedupPlanForTest(
      spark.read.parquet(s"$dir/embeddings.parquet"),
      "vec_id", "embedding", 400000L)
    val rp = raw.queryExecution.executedPlan.toString
    assert(!rp.contains("CartesianProduct"),
      s"semantic dedup must not plan a cartesian:\n$rp")
    assert(rp.contains("BroadcastNestedLoopJoin") ||
      rp.contains("BroadcastHashJoin"),
      s"centroid assignment should broadcast the centroids:\n$rp")
  }

  test("substring dedup: no cartesian, no window; the gram aggregate is " +
    "map-side partial and the covered-position anti-join keys on the " +
    "uniform (doc, position) pair") {
    val p = plan(graft.queries.PipelineQueries.substringDedup(spark, dir))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("Window"), s"no window funnel:\n$p")
    assert(p.contains("partial_count"),
      s"gram counting must partial-aggregate before the shuffle:\n$p")
    val antiLines = p.split("\n").filter(l =>
      l.contains("Join") && l.contains("LeftAnti"))
    assert(antiLines.nonEmpty && antiLines.forall(l =>
      l.contains("doc_id") && l.contains("tp")),
      s"kept-token anti-join must key on (doc_id, tp):\n$p")
  }

  test("containment prefix path: candidates come from a shingle-key " +
    "probe join — no cartesian, no pair-enumerating blocked self-join") {
    val p = plan(
      graft.queries.PipelineQueries.dedupContainmentPrefix(spark, dir))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the quadratic baseline's signature is blockedPairs' struct
    // bucket-pair key (pk = (lo, hi)); the prefix path must not have it
    assert(!p.contains("pk"), s"no blocked pair enumeration:\n$p")
    // document frequencies partial-aggregate before their shuffle
    assert(p.contains("partial_count"),
      s"df counting must be map-side partial:\n$p")
    // the probe join keys on the (blk, h) shingle key
    val probeJoins = p.split("\n").filter(l =>
      l.contains("Join") && l.contains("blk") && l.contains("h#"))
    assert(probeJoins.nonEmpty,
      s"probe join must key on the (blk, shingle-hash) pair:\n$p")
  }

  test("jaccard prefix path: candidates come from a shingle-key probe " +
    "join — no cartesian, no pair-enumerating blocked self-join") {
    val p = plan(
      graft.queries.PipelineQueries.dedupJaccardPrefix(spark, dir))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the quadratic baseline's signature is blockedPairs' struct
    // bucket-pair key (pk = (lo, hi)); the prefix path must not have it
    assert(!p.contains("pk"), s"no blocked pair enumeration:\n$p")
    assert(p.contains("partial_count"),
      s"df counting must be map-side partial:\n$p")
    val probeJoins = p.split("\n").filter(l =>
      l.contains("Join") && l.contains("blk") && l.contains("h#"))
    assert(probeJoins.nonEmpty,
      s"probe join must key on the (blk, shingle-hash) pair:\n$p")
  }

  test("bm25: df table broadcasts; top-k is TakeOrdered, never a " +
    "global sort") {
    val p = plan(graft.queries.PipelineQueries.bm25Rank(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"df join should broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"limit+order must plan TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("source cap: both top-k phases are windows over hash exchanges " +
    "— no single-partition funnel, no join") {
    val p = plan(graft.queries.PipelineQueries.sourceCap(spark, dir))
    assert(!p.contains("Exchange SinglePartition") ||
      p.indexOf("Exchange SinglePartition") >
        p.lastIndexOf("Window"), // only the final tiny orderBy may gather
      s"no single-partition exchange below the windows:\n$p")
    assert(!p.contains("Join"), s"capping must not join:\n$p")
  }

  test("ivf-pq: cross joins only against broadcast centroid tables; " +
    "codes score via a broadcast bucket-keyed hash join — the corpus " +
    "is never cartesian-joined against another large side") {
    import org.apache.spark.sql.functions.col
    val t = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = t.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = t.select(col("vec_id"), col("embedding").as("v"))
    val (out, caches) = graft.pipeline.Similarity
      .ivfPqTopKLazy(q, c, dims = 64, k = 10)
    try {
      val p = plan(out)
      // every cartesian in the plan must be a broadcast nested loop
      // against the tiny centroid table (BroadcastNestedLoopJoin), never
      // a CartesianProduct of two unbounded sides
      assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
      // the scoring join (cid, m, code) broadcasts the distance table
      val scoringJoin = p.split("\n").find(l =>
        l.contains("BroadcastHashJoin") && l.contains("cid"))
      assert(scoringJoin.isDefined,
        s"ADC scoring must be a broadcast hash join on the bucket key:\n$p")
      // the scored side of the ADC join is the codes frame — its
      // lineage (scan -> residual encode -> code argmin) must be
      // join-free and window-free: the literal-argmin assignment never
      // expands or shuffles the corpus (r13 weak-#1 fix)
      val joins = p.split("\n").count(_.contains("Join"))
      assert(joins == 1,
        s"exactly the one ADC scoring join, found $joins:\n$p")
    } finally caches.foreach(_.unpersist())
  }

  test("k-means assignment (keep=1) is a narrow literal argmin: ZERO " +
    "exchange, zero join, zero window between the corpus scan and the " +
    "assigned output") {
    import org.apache.spark.sql.functions.col
    val c = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").as("v"))
    val cq = c.withColumn("px",
      graft.pipeline.Similarity.IntKMeans.quant(col("v")))
    val cents = Seq(1L -> Seq.fill(64)(0L), 2L -> Seq.fill(64)(500000L))
    val assigned = graft.pipeline.Similarity.IntKMeans
      .assignLit(cq, "px", cents, keepCq = true)
    val p = plan(assigned)
    assert(!p.contains("Exchange"), s"assignment must not shuffle:\n$p")
    assert(!p.contains("Join"), s"assignment must not join:\n$p")
    assert(!p.contains("Window"), s"assignment must not window:\n$p")
    // and it really assigns: nearest-centroid semantics with cid ascending
    // tie-break (struct ordering on (cdist, cid))
    val row = assigned.filter(col("vec_id") === 0L).head()
    assert(Set(1L, 2L).contains(row.getLong(row.fieldIndex("cid"))))
  }

  test("funnel: reached-set joins broadcast (the set only shrinks), " +
    "no cartesian, no sort-merge join") {
    // conversion() now materializes eagerly (one bounded row per step,
    // anchors persisted so step k never re-runs steps 1..k-1); the
    // plan contract is asserted on the lazy anchor chain it executes
    import org.apache.spark.sql.functions.{col, expr}
    val e = graft.sources.NanosParquet.readEvents(spark, dir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("tus"))
    val last = graft.operators.Funnel.anchorChain(e, "user_id",
      "event_type", "tus", Seq("view", "click", "purchase"), None).last
    val p = plan(last)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"step joins must broadcast the shrinking reached-set:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
  }

  test("lm fluency: vocab-bounded count tables, map-side partial " +
    "aggregates, no cartesian, no window") {
    val p = plan(graft.queries.PipelineQueries.lmFluency(spark, dir))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("Window"), s"no window:\n$p")
    assert(p.contains("partial_count"),
      s"bigram count tables must partial-aggregate map-side:\n$p")
  }

  test("model gate: pure narrow scoring — no join, one hash exchange " +
    "(the per-doc aggregate), map-side partial sum") {
    val p = plan(graft.queries.PipelineQueries.modelGate(spark, dir))
    assert(!p.contains("Join"),
      s"hashed-weights scoring must not join:\n$p")
    val hashEx = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(hashEx == 1,
      s"exactly the per-doc aggregate exchange, found $hashEx:\n$p")
    assert(p.contains("partial_sum"),
      s"score summation must be map-side partial:\n$p")
  }

  test("curation v2: the containment stage stays prefix-filtered — " +
    "no cartesian, no blocked pair enumeration in the composed plan") {
    val p = plan(
      graft.queries.CorpusPipelineQuery.runCurateV2(spark, dir))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("pk"), s"no blocked pair enumeration:\n$p")
  }

  test("events pivot: the standard two-exchange pivot plan — " +
    "(user, type) counts then per-user pivotfirst — both phases " +
    "map-side partial, no join, no window") {
    val p = plan(graft.queries.AnalyticsQueries.eventsPivot(spark, dir))
    val exchanges = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2,
      s"pivot plans exactly two agg exchanges, found $exchanges:\n$p")
    assert(p.contains("partial_count") && p.contains("partial_pivotfirst"),
      s"both pivot phases must be map-side partial:\n$p")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"pivot must stay pure aggregation:\n$p")
  }

  test("retention: distinct (user, week) is map-side partial before its " +
    "exchange, and no raw-event self-join exists") {
    val p = plan(graft.queries.AnalyticsQueries.eventsRetention(spark, dir))
    assert(p.contains("partial_"),
      s"the (user, week) distinct must combine map-side:\n$p")
    assert(!p.contains("Join"),
      s"retention must never self-join the events:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("pagerank iteration: checkpointed inputs, equi-joins only — " +
    "no cartesian, no window, rank update map-side partial") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edges = (0L until 200L).flatMap(i =>
      Seq((i, (i + 1) % 200), ((i + 1) % 200, i))).toDF("src", "dst")
    val pr = graft.operators.PageRank.run(edges, iters = 2)
    val p = plan(pr)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("Window"),
      s"the rank update must be an aggregate, not a window:\n$p")
    // lineage is checkpoint-truncated: the rank table carries deg, so
    // the FINAL plan is a bare projection over the last iteration's
    // checkpointed frame — one ExistingRDD scan, ZERO joins (the old
    // shape re-attached deg with a final join; now no Join node may
    // survive checkpointing at all)
    assert(p.split("\n").count(_.contains("Scan ExistingRDD")) >= 1,
      s"iterations must read checkpointed frames:\n$p")
    assert(!p.contains("Join"),
      s"the final plan must not re-join deg (it rides the rank table):\n$p")
  }

  test("hybrid fusion is a bounded-frame full-outer join + one window " +
    "per query group — never a cartesian, never a corpus-wide sort") {
    val p = plan(graft.queries.PipelineQueries
      .hybridSearchRrf(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"fusion joins keyed lists, no cartesian:\n$p")
    assert(p.contains("FullOuter"),
      s"absent-leg docs must survive via full outer join:\n$p")
  }

  test("ivf-pq exact re-rank, DISTRIBUTED path: the ADC top-R window " +
    "rides the SAME plan as the final top-k (candidates never " +
    "round-trip the driver), and rows match the collect path exactly") {
    import org.apache.spark.sql.functions.col
    val t = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = t.select(col("vec_id"), col("embedding").as("v"))
    val q = t.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val (cents, cb, codes) = graft.pipeline.Similarity.ivfPqIndex(
      corpus, dims = 64, numCentroids = 4, lloydIters = 1,
      numSubs = 4, codebookSize = 8)
    val codesDf = codes.select("vec_id", "codes", "cid").cache()
    try {
      def readIdx(cids: Seq[Long]) =
        codesDf.filter(col("cid").isin(cids: _*))
      val dist = graft.pipeline.Similarity.ivfPqSearchRerankDistributed(
        q, dims = 64, cents, cb, readIdx, vectors = corpus,
        k = 5, topR = 15)
      val p = plan(dist)
      // the collect path materializes the ADC candidates driver-side, so
      // its OUTPUT plan holds exactly one window (the final exact top-k);
      // the distributed path must keep BOTH ranking windows in one plan —
      // proof the |Q| x topR candidate set stayed on the cluster
      val windows = p.split("\n").count(_.contains("Window ["))
      assert(windows >= 2,
        s"ADC top-R and final top-k must both ride this plan " +
          s"($windows windows):\n$p")
      assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
      val coll = graft.pipeline.Similarity.ivfPqSearchRerank(
        q, dims = 64, cents, cb, readIdx,
        readVectors = ids =>
          corpus.filter(col("vec_id").isin(ids.map(x => x: Any): _*)),
        k = 5, topR = 15)
      assert(rows(dist) == rows(coll),
        "distributed refine must equal the collect path bit-for-bit")
      assert(rows(dist).nonEmpty)
    } finally codesDf.unpersist()
  }

  test("random projection: the sign matrix is a plan literal — zero " +
    "exchanges, zero joins, no per-row hash calls before the output sort") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    // probe WITHOUT the gate query's orderBy: the projection itself
    // must be a single narrow codegen'd pass
    val p = plan(graft.pipeline.RandomProjection.project(
      emb, "vec_id", "embedding", dims = 64, outDims = 8))
    assert(!p.contains("Exchange"), s"projection must be zero-shuffle:\n$p")
    assert(!p.contains("Join"), s"projection must not join:\n$p")
    assert(!p.contains("md5") && !p.contains("xxhash"),
      s"the sign matrix must be a driver-built literal, not per-row hashing:\n$p")
  }

  test("triangle counting: the canonical edge set is computed once and " +
    "reused (exchange reuse), no cartesian, no neighbor-list window") {
    val df = AnalyticsQueries.supplierTriangles(spark, dir)
    df.collect() // exchange reuse lands in the FINAL adaptive plan
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("Window"), s"no window over neighbor lists:\n$p")
    assert(p.contains("ReusedExchange"),
      s"the canonical undirected edge set must be shuffled once and reused:\n$p")
  }

  test("DSIR importance scoring: the bucket model reaches the scoring " +
    "join as a BROADCAST, and the corpus is never sort-merge-joined") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val df = graft.pipeline.TextAnalysis.importanceScore(
      docs, "doc_id", "text", col("lang") === "en", buckets = 64)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      s"the buckets-sized ratio model must broadcast to the token scan:\n$p")
    // the ONE acceptable sort-merge join is the final per-doc left-outer
    // on doc_id (corpus-sized on both sides — not broadcastable at
    // scale); the token->ratio bucket join must never be one
    val smjLines = p.split("\n").filter(_.contains("SortMergeJoin"))
    assert(smjLines.forall(l => l.contains("doc_id") && l.contains("LeftOuter")),
      s"only the per-doc LeftOuter may sort-merge; got:\n${smjLines.mkString("\n")}")
  }

  test("vocabulary-scale BPE encode: the merge table rides a broadcast, " +
    "not the plan (plan size O(1) in K, no K-deep expression chain)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val merges = (1 to 2000).map(i => (s"x$i", s"y$i"))
    val df = graft.pipeline.Bpe.encode(docs, "doc_id", "text", merges)
    val analyzed = df.queryExecution.analyzed.toString
    assert(analyzed.length < 20000,
      s"a 2000-merge table must not appear in the plan tree " +
        s"(${analyzed.length} chars)")
    assert(analyzed.contains("bpe_encode_word_bcast"),
      s"above the literal threshold the broadcast expression must be used:\n" +
        analyzed.take(2000))
  }

  test("hard negatives: anchors broadcast against ONE corpus scan; the " +
    "band filter sits BELOW the top-k window") {
    import org.apache.spark.sql.functions.col
    val t = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = t.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = t.select(col("vec_id"), col("embedding").as("v"))
    val p = plan(graft.pipeline.Similarity.hardNegatives(
      q, c, k = 10, loX1e6 = 200000L, hiX1e6 = 300000L))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"the query side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") &&
      !p.contains("CartesianProduct"), s"no corpus shuffle/cartesian:\n$p")
    // the band predicate must apply BELOW the window — Catalyst in
    // fact fuses it straight into the broadcast-join condition, so rows
    // outside the band never even materialize as scored output
    val lines = p.split("\n")
    val winIdx = lines.indexWhere(_.contains("WindowGroupLimit"))
    val bandBelow = lines.drop(winIdx).exists(_.contains("300000"))
    assert(winIdx >= 0 && bandBelow,
      s"band predicate must precede the top-k window:\n$p")
  }

  test("event transitions: ONE user-window exchange; the matrix " +
    "aggregates are map-side partial onto type-bounded keys") {
    // pin the PRODUCTION lazy half (the public query materializes via
    // localCheckpoint, which hides the shape)
    val p = plan(AnalyticsQueries.eventsTransitionCounts(spark, dir))
    val exchanges = p.split("\n").count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, // user window + the (src,dst) agg exchange
      s"expected window + agg exchanges only, got $exchanges:\n$p")
    val partialIdx = p.split("\n")
      .indexWhere(l => l.contains("HashAggregate") && l.contains("partial_count"))
    assert(partialIdx >= 0, s"matrix counts must combine map-side:\n$p")
  }

  test("rolling anomaly: raw events collapse to per-day rows BEFORE the " +
    "ordered window — the window input is one aggregated row per day") {
    val p = plan(AnalyticsQueries.eventsAnomaly(spark, dir))
    // the single ordered window must sit ABOVE the day aggregate: a
    // Window whose plan subtree still contains the raw events scan
    // without an intervening aggregate would be corpus-sized
    val lines = p.split("\n")
    val winIdx = lines.indexWhere(_.contains("Window"))
    val aggBelow = lines.drop(winIdx).exists(_.contains("HashAggregate"))
    assert(winIdx >= 0 && aggBelow,
      s"the ordered window must consume the per-day aggregate, not raw events:\n$p")
  }
}
