package graft.pipeline

import graft.core.CompactionError
import graft.sources.TableReader
import graft.txn.{FileTableCatalog, TableCatalog}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** INCREMENTALLY MAINTAINED near-dup index — MinHash-LSH band rows as
  * a graft table, kept in sync by the corpus changelog. The batch
  * near-dup pass ([[Dedup.minhashLsh]]) recomputes every signature and
  * self-joins the whole band table; at 100 TB a daily ingest cannot
  * re-pay that. The index inverts the cost: band rows persist once,
  * and deduplicating a new batch is
  *
  *   probe bands (∝ batch) ⋈ index bands (collisions only)
  *   → exact-jaccard verify on the candidate ids (∝ candidates)
  *
  * — never a corpus-wide signature pass, never an all-pairs join. The
  * same delta+base lifecycle as the text/ANN indexes: [[refresh]]
  * applies the corpus's net changes as ONE atomic upsert commit
  * (equality-delete changed docs' band rows, insert re-derived rows,
  * advance the synced-version marker), and serving gates on
  * marker == corpus version, so a lagging index is detected, not
  * silently stale.
  */
object DedupIndex {

  val SourceProp = "graft.dedupidx.source"
  val SyncedProp = "graft.dedupidx.synced-version"
  /** "numHashes,bandSize[,hashKind]" — frozen at build time; a probe or
    * refresh with different parameters (INCLUDING the hash family —
    * md5 rows never collide with xx rows) would silently never match,
    * so both derive all three from the stored property. Two-token
    * legacy values read as md5. */
  val ParamsProp = "graft.dedupidx.params"

  private def params(props: Map[String, String], idxDir: String)
      : (Int, Int, String) =
    props.get(ParamsProp) match {
      case Some(s) =>
        def int(t: String): Int = t.toIntOption.getOrElse(
          throw CompactionError.Config(
            s"$idxDir carries a malformed $ParamsProp: $s"))
        s.split(",") match {
          case Array(nh, bs) => (int(nh), int(bs), "md5")
          case Array(nh, bs, hk) if hk == "md5" || hk == "xx" =>
            (int(nh), int(bs), hk)
          case _ => throw CompactionError.Config(
            s"$idxDir carries a malformed $ParamsProp: $s")
        }
      case None => throw CompactionError.Config(
        s"$idxDir carries no $ParamsProp — not a dedup index")
    }

  /** Bring the bands index up to the corpus's current version by
    * applying the NET changelog since the index marker, as ONE atomic
    * upsert commit ([[IndexMaintenance.changelogRefresh]] — the shared
    * lifecycle: eq-delete changed ids' band rows, insert re-derived
    * rows, advance the marker; concurrent refreshes abort on the marker
    * guard). Returns the new synced corpus version. */
  def refresh(
      spark: SparkSession,
      corpusDir: String,
      idxDir: String,
      catalog: TableCatalog = FileTableCatalog
  ): Long = {
    val idx = catalog.loadOrThrow(idxDir)
    // frozen banding params from the SAME load the marker guard protects
    val (numHashes, bandSize, hashKind) = params(idx.properties, idxDir)
    IndexMaintenance.changelogRefresh(spark, corpusDir, idxDir, catalog,
      idx, SourceProp, SyncedProp, corpusIdCol = "doc_id",
      indexKeyCol = "doc_id", indexNoun = "a bands index") { net =>
      val ins = net.filter(col("_change_type") === "insert")
        .select("doc_id", "text")
      (Dedup.bandRows(ins, numHashes, bandSize, hashKind), Map.empty)
    }
  }

  /** The index scan a probe pays, PRUNED TO THE PROBE'S BUCKETS when the
    * table is laid out `PARTITIONED BY (bucket(N, band_key))` (the
    * text index's bucket(term) discipline applied to the one index whose
    * probe would otherwise scan the whole corpus-proportional bands
    * table): the probe's band keys are unbounded (B docs × numBands
    * keys), but their TRANSFORMED partition values are bounded by the
    * layout — evaluate the stored bucket transform distributively over
    * the probe bands, collect the ≤ N distinct bucket ids (never the
    * keys), and plan only those buckets' files. Sound because the probe
    * joins on band_key equality and equal keys bucket equally; refresh
    * deltas (unpartitioned upsert files) are always kept, so a lagging
    * compaction is a pruning loss, never a recall loss. Unpartitioned
    * indexes read in full (the pre-layout behavior). */
  private def prunedIndexRead(
      spark: SparkSession,
      idx: graft.txn.TableSnapshot,
      idxDir: String,
      probeBands: DataFrame,
      catalog: TableCatalog
  ): DataFrame = {
    import graft.core.{BucketTransform, PartitionSpecCodec}
    val bucketT = PartitionSpecCodec.of(Some(idx)).collectFirst {
      case bt: BucketTransform if bt.source == "band_key" => bt
    }
    bucketT match {
      case Some(bt) =>
        // ONE single-row aggregate (collect_set over ≤ N bucket ids) —
        // cheaper than distinct+collect: no second shuffle stage, one
        // row crosses the wire, and it doubles as the action that
        // materializes the caller's cached probe bands
        val ids = probeBands
          .agg(collect_set(
            bt.expr(org.apache.spark.sql.types.StringType)).as("b"))
          .head().getSeq[Int](0).map(String.valueOf(_)).toSet
        TableReader.read(spark, idxDir, catalog = catalog,
          partitionFieldCandidates = Map(bt.fieldName -> ids))
      case None => TableReader.read(spark, idxDir, catalog = catalog)
    }
  }

  /** Pruning evidence for serving gates and specs: the (planned, total)
    * data-file counts of the index scan a [[probePairs]] call with this
    * `probeFilter` would pay — callers assert planned < total to pin
    * that the bucket layout actually prunes (the `text_search`
    * self-assert discipline). */
  def plannedIndexFiles(
      spark: SparkSession,
      corpusDir: String,
      idxDir: String,
      probeFilter: Column,
      catalog: TableCatalog = FileTableCatalog
  ): (Int, Int) = {
    val idx = catalog.loadOrThrow(idxDir)
    val (numHashes, bandSize, hashKind) = params(idx.properties, idxDir)
    val corpus = TableReader.read(spark, corpusDir, catalog = catalog)
      .select(col("doc_id"), col("text"))
    val probeBands = Dedup.bandRows(corpus.filter(probeFilter),
      numHashes, bandSize, hashKind)
    val planned = TableReader.plannedDataFiles(
      prunedIndexRead(spark, idx, idxDir, probeBands, catalog)).length
    val total = TableReader.plannedDataFiles(
      TableReader.read(spark, idxDir, catalog = catalog)).length
    (planned, total)
  }

  /** Near-dup pairs INVOLVING the probe docs, served from the synced
    * index: probe-side bands re-derived narrowly from the (filtered)
    * corpus read, candidates = band collisions against the index,
    * verification = exact hashed-shingle jaccard over ONLY the
    * candidate ids' texts. Both-probe pairs count once (a < b).
    *
    * @param probeFilter selects the batch being deduplicated (e.g.
    *                    `col("doc_id") % 5 === 0`, or the ids of
    *                    today's ingest)
    * @return (a_id, b_id, jac_x1000), true jaccard >= threshold
    */
  def probePairs(
      spark: SparkSession,
      corpusDir: String,
      idxDir: String,
      probeFilter: Column,
      thresholdX1000: Int,
      catalog: TableCatalog = FileTableCatalog
  ): DataFrame = {
    val idx = catalog.loadOrThrow(idxDir)
    if (!idx.properties.get(SourceProp).contains(corpusDir))
      throw CompactionError.Config(
        s"$idxDir does not index $corpusDir (build it first)")
    val synced = idx.properties.get(SyncedProp).flatMap(_.toLongOption)
    val curV = catalog.loadOrThrow(corpusDir).version
    if (!synced.contains(curV)) throw CompactionError.Config(
      s"$idxDir lags the corpus (synced ${synced.getOrElse(-1L)}, " +
        s"corpus v$curV) — refresh before serving")
    val (numHashes, bandSize, hashKind) = params(idx.properties, idxDir)
    val corpus = TableReader.read(spark, corpusDir, catalog = catalog)
      .select(col("doc_id"), col("text"))
    // probe bands are consumed TWICE (bucket-id collection for pruning,
    // then the collision join) — cache() pins the minhash pass so it is
    // paid once: the pruning aggregate is the materializing action and
    // the collision join reads the in-memory frame. cache beats an
    // eager localCheckpoint here (no extra materialization job, no
    // local-disk write) for a frame ∝ the batch — exactly what a
    // serving probe can afford to pin; the ContextCleaner releases it
    // when the probe plan is dropped
    val probeBands = Dedup.bandRows(corpus.filter(probeFilter),
      numHashes, bandSize, hashKind)
      .withColumnRenamed("doc_id", "p_id")
      .cache()
    val idxBands = prunedIndexRead(spark, idx, idxDir, probeBands, catalog)
    // materialized once: the candidate pair set is consumed THREE times
    // (both sides of the id union + the verify join) — without it each
    // consumer re-runs the collision join against a fresh scan of the
    // pruned index buckets. Candidate-bounded, so the checkpoint is
    // serving-sized.
    val cand = probeBands
      .join(idxBands,
        probeBands("band") === idxBands("band") &&
          probeBands("band_key") === idxBands("band_key") &&
          col("p_id") =!= idxBands("doc_id"))
      .select(least(col("p_id"), idxBands("doc_id")).as("a_id"),
        greatest(col("p_id"), idxBands("doc_id")).as("b_id"))
      .distinct()
      .localCheckpoint(true)
    // verification ∝ candidates: only the candidate ids' texts pay the
    // shingle + set-hash cost — the semi-join prunes the corpus scan
    // BEFORE the expensive projection (the ANN re-rank id-pushdown
    // pattern), never a corpus-wide signature pass
    val candIds = cand.select(col("a_id").as("doc_id"))
      .unionByName(cand.select(col("b_id").as("doc_id")))
      .distinct()
    // materialized once: the signature frame is joined for BOTH pair
    // sides — without it the semi-join + shingle-hash pass runs twice
    val shhOf = corpus
      .join(candIds, Seq("doc_id"), "leftsemi")
      .select(col("doc_id"),
        graft.functions.HashColumns
          .hashedSet(TextFunctions.shingles3(col("text")), "j", hashKind)
          .as("shh"))
      .localCheckpoint(true)
    cand
      .join(shhOf.as("x"), col("a_id") === col("x.doc_id"))
      .join(shhOf.as("y"), col("b_id") === col("y.doc_id"))
      // fused threshold-early-exit verify — exact for every kept pair
      // ([[graft.functions.JaccardX1000ThresholdExpr]]'s contract)
      .withColumn("jac_x1000", graft.functions.HashColumns
        .jaccardX1000Threshold(col("x.shh"), col("y.shh"), thresholdX1000))
      .filter(col("jac_x1000") >= thresholdX1000)
      .select("a_id", "b_id", "jac_x1000")
  }
}
