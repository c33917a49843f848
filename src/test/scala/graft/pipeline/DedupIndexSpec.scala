package graft.pipeline

import graft.SparkTestSession
import graft.core.CompactionError
import graft.txn.{FileTableCatalog, TableMetadata, TableSnapshot, TableWrites}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Incremental near-dup bands index ([[DedupIndex]]): the refresh
  * lifecycle under churn (update + delete + insert), the serving gate,
  * and probe == batch-recompute equivalence. */
class DedupIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def mkCorpus(rows: Seq[(Long, String)]): String = {
    val dir = Files.createTempDirectory("graft-didx-spec").toString
    TableMetadata.commit(dir, TableSnapshot(1, 1, 0, Nil))
    TableWrites.appendData(dir, rows.toDF("doc_id", "text"))
    dir
  }

  private def mkIndex(corpusDir: String): String = {
    val idxDir = Files.createTempDirectory("graft-didx-spec-idx").toString
    TableMetadata.commit(idxDir, TableSnapshot(1, 1, 0, Nil))
    val corpus = graft.sources.TableReader.read(spark, corpusDir)
    TableWrites.appendData(idxDir,
      Dedup.bandRows(corpus, numHashes = 32, bandSize = 4))
    new graft.txn.CommitManager(idxDir).setTableProperties(Map(
        DedupIndex.ParamsProp -> "32,4",
        DedupIndex.SourceProp -> corpusDir,
        DedupIndex.SyncedProp ->
          FileTableCatalog.loadOrThrow(corpusDir).version.toString),
      Set.empty, FileTableCatalog.loadOrThrow(idxDir).schemaId)
    idxDir
  }

  private def text(seed: Int, n: Int): String =
    (0 until n).map(i => s"w${(seed + i) % (n + 3)}").mkString(" ")

  test("refresh under churn keeps probe == batch recompute; the gate " +
    "refuses a lagging index") {
    // near-dup cluster: 1 and 2 share most shingles; 3 unrelated
    val base = Seq(
      1L -> (text(0, 30) + " extra"),
      2L -> text(0, 30),
      3L -> text(100, 30))
    val corpusDir = mkCorpus(base)
    val idxDir = mkIndex(corpusDir)
    // churn: update 3 into the cluster, delete 2, insert 4 (a near-copy)
    TableWrites.upsert(corpusDir,
      Seq(3L -> (text(0, 30) + " other")).toDF("doc_id", "text"),
      keyCols = Seq("doc_id"))
    TableWrites.appendEqualityDeletes(corpusDir,
      Seq(2L).toDF("doc_id"), Seq("doc_id"))
    TableWrites.appendData(corpusDir,
      Seq(4L -> text(0, 30)).toDF("doc_id", "text"))
    // stale index must refuse to serve
    val e = intercept[CompactionError.Config] {
      DedupIndex.probePairs(spark, corpusDir, idxDir, lit(true), 500)
        .collect()
    }
    assert(e.getMessage.contains("lags the corpus"))
    // ONE atomic refresh, then probe everything == batch recompute
    val vBefore = FileTableCatalog.loadOrThrow(idxDir).version
    DedupIndex.refresh(spark, corpusDir, idxDir)
    assert(FileTableCatalog.loadOrThrow(idxDir).version == vBefore + 1)
    val got = DedupIndex.probePairs(spark, corpusDir, idxDir, lit(true), 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Dedup.minhashLsh(
        graft.sources.TableReader.read(spark, corpusDir),
        "doc_id", "text", numHashes = 32, bandSize = 4,
        thresholdX1000 = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want, s"probe $got != batch $want")
    assert(want.exists { case (a, b, _) => a == 1L || b == 4L },
      "fixture must actually contain near-dup pairs")
    // deleted doc 2 appears in NO pair
    assert(!got.exists { case (a, b, _) => a == 2L || b == 2L })
    // a narrower probe returns exactly the batch-involving subset
    val probe4 = DedupIndex.probePairs(spark, corpusDir, idxDir,
        col("doc_id") === 4L, 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(probe4 == want.filter { case (a, b, _) => a == 4L || b == 4L })
  }

  test("refresh derives banding from the stored params and no-ops when " +
    "current; malformed or missing params are refused") {
    val corpusDir = mkCorpus(Seq(1L -> text(0, 20)))
    val idxDir = mkIndex(corpusDir)
    val v = FileTableCatalog.loadOrThrow(corpusDir).version
    assert(DedupIndex.refresh(spark, corpusDir, idxDir) == v) // no-op
    TableWrites.appendData(corpusDir, Seq(9L -> "x y z").toDF("doc_id", "text"))
    for (bad <- Seq("32", "32x,4", "32,4,sha1")) {
      new graft.txn.CommitManager(idxDir).setTableProperties(
        Map(DedupIndex.ParamsProp -> bad), Set.empty,
        FileTableCatalog.loadOrThrow(idxDir).schemaId)
      val e = intercept[CompactionError.Config] {
        DedupIndex.refresh(spark, corpusDir, idxDir)
      }
      assert(e.getMessage.contains("malformed"), s"params '$bad'")
    }
  }

  test("bucket(band_key) layout: a small probe plans fewer files than " +
    "the table, results equal the batch recompute, and refresh deltas " +
    "(unpartitioned upsert files) stay probe-visible") {
    val docs = (0L until 40L).map(i =>
      i -> (if (i % 2 == 0) text(0, 30) + s" t$i" else text(i.toInt * 50, 30)))
    val corpusDir = mkCorpus(docs)
    // bucketed index table via the SQL catalog (the fixture's layout)
    val name = "didxspecbkt"
    val wh = Files.createTempDirectory("graft-didx-spec-bkt").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    spark.sql(s"CREATE TABLE $name.db.didx " +
      "(band BIGINT, band_key STRING, doc_id BIGINT) " +
      "PARTITIONED BY (bucket(16, band_key))")
    val idxDir = s"$wh/db/didx"
    Dedup.bandRows(graft.sources.TableReader.read(spark, corpusDir),
        numHashes = 32, bandSize = 4)
      .createOrReplaceTempView("didx_spec_src")
    spark.sql(s"INSERT INTO $name.db.didx SELECT * FROM didx_spec_src")
    spark.sql(s"ALTER TABLE $name.db.didx SET TBLPROPERTIES (" +
      s"'${DedupIndex.ParamsProp}' = '32,4', " +
      s"'${DedupIndex.SourceProp}' = '$corpusDir', " +
      s"'${DedupIndex.SyncedProp}' = " +
      s"'${FileTableCatalog.loadOrThrow(corpusDir).version}')")
    // (a) one-doc probe: 8 band keys into 16 buckets MUST prune
    val (planned, total) = DedupIndex.plannedIndexFiles(spark, corpusDir,
      idxDir, probeFilter = col("doc_id") === 0L)
    assert(planned > 0 && planned < total,
      s"one-doc probe must prune the bucketed index ($planned of $total)")
    // (b) pruning never changes results: full probe == batch recompute
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = pairs(DedupIndex.probePairs(spark, corpusDir, idxDir,
      lit(true), 500))
    val want = pairs(Dedup.minhashLsh(
      graft.sources.TableReader.read(spark, corpusDir),
      "doc_id", "text", numHashes = 32, bandSize = 4, thresholdX1000 = 500))
    assert(got == want && want.nonEmpty, s"probe $got != batch $want")
    // (c) a refresh delta lands as an UNPARTITIONED upsert file; the
    // conservative pruner must keep it, so a probe of the new doc still
    // finds its pairs
    TableWrites.appendData(corpusDir,
      Seq(100L -> (text(0, 30) + " t0")).toDF("doc_id", "text"))
    DedupIndex.refresh(spark, corpusDir, idxDir)
    val probeNew = pairs(DedupIndex.probePairs(spark, corpusDir, idxDir,
      col("doc_id") === 100L, 500))
    assert(probeNew.exists { case (a, b, _) => a == 0L && b == 100L },
      s"the delta-indexed doc must pair with its near-copy: $probeNew")
    // (d) compaction folds the unpartitioned delta back into the bucket
    // layout (the generic rewrite honors the table's partition spec):
    // the new doc's probe now prunes AND still serves its pair
    graft.compaction.Compaction.builder().withSpark(spark)
      .withTableDir(idxDir).build().compact()
    val (planned2, total2) = DedupIndex.plannedIndexFiles(spark, corpusDir,
      idxDir, probeFilter = col("doc_id") === 100L)
    assert(planned2 > 0 && planned2 < total2,
      s"post-compaction, the delta doc's probe must prune again " +
        s"($planned2 of $total2)")
    val probeCompacted = pairs(DedupIndex.probePairs(spark, corpusDir,
      idxDir, col("doc_id") === 100L, 500))
    assert(probeCompacted == probeNew,
      "compaction must not change probe results")
  }

  test("spec evolution never loses recall: bucket(8)->bucket(16) keeps " +
    "old-layout files unjudged (their ordinals mean a different value " +
    "set), while new-layout files still prune") {
    import graft.core.PartitionSpecCodec
    val docs = Seq(
      0L -> (text(0, 30) + " extra"), 1L -> text(0, 30),       // pair (0,1)
      20L -> text(500, 30), 21L -> (text(500, 30) + " other")) // pair (20,21)
    val corpusDir = mkCorpus(docs)
    val name = "didxspecevo"
    val wh = Files.createTempDirectory("graft-didx-spec-evo").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $name.db")
    spark.sql(s"CREATE TABLE $name.db.didx " +
      "(band BIGINT, band_key STRING, doc_id BIGINT) " +
      "PARTITIONED BY (bucket(8, band_key))")
    val idxDir = s"$wh/db/didx"
    val corpus = graft.sources.TableReader.read(spark, corpusDir)
    // docs 0/1's band rows land under bucket(8) — the OLD layout
    Dedup.bandRows(corpus.filter(col("doc_id") < 2L), 32, 4)
      .createOrReplaceTempView("didx_evo_old")
    spark.sql(s"INSERT INTO $name.db.didx SELECT * FROM didx_evo_old")
    val oldFiles = graft.sources.TableReader.plannedDataFiles(
      graft.sources.TableReader.read(spark, idxDir)).length
    // evolve the layout, then docs 20/21's rows land under bucket(16)
    val snap0 = FileTableCatalog.loadOrThrow(idxDir)
    new graft.txn.CommitManager(idxDir).evolvePartitionSpec(
      PartitionSpecCodec.decode("bucket:16:band_key"),
      expectedSchemaId = snap0.schemaId)
    Dedup.bandRows(corpus.filter(col("doc_id") >= 20L), 32, 4)
      .createOrReplaceTempView("didx_evo_new")
    spark.sql(s"INSERT INTO $name.db.didx SELECT * FROM didx_evo_new")
    spark.sql(s"ALTER TABLE $name.db.didx SET TBLPROPERTIES (" +
      s"'${DedupIndex.ParamsProp}' = '32,4', " +
      s"'${DedupIndex.SourceProp}' = '$corpusDir', " +
      s"'${DedupIndex.SyncedProp}' = " +
      s"'${FileTableCatalog.loadOrThrow(corpusDir).version}')")
    def pairs(f: org.apache.spark.sql.Column) =
      DedupIndex.probePairs(spark, corpusDir, idxDir, f, 500)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // one-doc probes: the old-spec pair must survive (bucket-16
    // candidates never judge a bucket-8 file) AND the new-spec pair
    // must be served from pruned new-layout buckets
    assert(pairs(col("doc_id") === 0L).contains((0L, 1L)),
      "old-layout rows must stay probe-visible after spec evolution")
    assert(pairs(col("doc_id") === 20L).contains((20L, 21L)))
    val (planned, total) = DedupIndex.plannedIndexFiles(spark, corpusDir,
      idxDir, probeFilter = col("doc_id") === 20L)
    assert(planned >= oldFiles && planned < total,
      s"old files all kept, some new-layout file pruned " +
        s"($planned of $total, $oldFiles old)")
  }

  test("the hash family is frozen in the params property: an xx index " +
    "refreshes and probes with xx, matching the xx batch pipeline") {
    val base = Seq(
      1L -> (text(0, 30) + " extra"),
      2L -> text(0, 30),
      3L -> text(100, 30))
    val corpusDir = mkCorpus(base)
    val idxDir = Files.createTempDirectory("graft-didx-xx-idx").toString
    TableMetadata.commit(idxDir, TableSnapshot(1, 1, 0, Nil))
    val corpus0 = graft.sources.TableReader.read(spark, corpusDir)
    TableWrites.appendData(idxDir,
      Dedup.bandRows(corpus0, 32, 4, hashKind = "xx"))
    new graft.txn.CommitManager(idxDir).setTableProperties(Map(
        DedupIndex.ParamsProp -> "32,4,xx",
        DedupIndex.SourceProp -> corpusDir,
        DedupIndex.SyncedProp ->
          FileTableCatalog.loadOrThrow(corpusDir).version.toString),
      Set.empty, FileTableCatalog.loadOrThrow(idxDir).schemaId)
    // churn + refresh: the re-derived rows must use the FROZEN xx family
    TableWrites.appendData(corpusDir,
      Seq(4L -> text(0, 30)).toDF("doc_id", "text"))
    DedupIndex.refresh(spark, corpusDir, idxDir)
    val got = DedupIndex.probePairs(spark, corpusDir, idxDir, lit(true), 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val want = Dedup.minhashLsh(
        graft.sources.TableReader.read(spark, corpusDir),
        "doc_id", "text", numHashes = 32, bandSize = 4,
        thresholdX1000 = 500, hashKind = "xx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want && want.nonEmpty,
      s"xx probe $got must equal the xx batch $want")
  }
}
