package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is an `xxhash64` projection of
  * (seed, tag, ids) over `spark.range`, the way `graft.tools.ScaleGen`
  * builds its fixtures, so one seed always yields the same inputs and no
  * driver-side RNG state exists. The generators also carry the closed-form
  * rules that decide which rows a workload deletes: the oracles evaluate
  * those rules directly and never read a table through graft. */
object Gen {

  def h(seed: Long, tag: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(tag) +: cols): _*)

  /** `pmod(h(...), m) < k`: a seeded k-in-m selection. */
  def pick(seed: Long, tag: String, m: Int, k: Int, cols: Column*): Column =
    pmod(h(seed, tag, cols: _*), lit(m.toLong)) < k

  /** Order-independent fingerprint of a row set: row count and the sum
    * of a 31-bit projection of each row's `xxhash64`, which cannot
    * overflow a long below 2^32 rows. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(sum(pmod(xxhash64(df.columns.sorted.map(col).toSeq: _*),
        lit(2147483647L))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** A table file entry with the row count and bounds from its footer,
    * as graft's own writers stamp them. */
  def fileEntry(path: String, len: Long, content: String, seq: Long,
      eqIds: Seq[String] = Nil): graft.txn.FileEntry =
    graft.sources.ParquetStats.stampBounds(graft.txn.FileEntry(path, content, len,
      graft.txn.TableWrites.parquetRowCount(path), seq, equalityIds = eqIds))

  // ---- compact: a lineitem-shaped merge-on-read table ----

  final case class CompactShape(orders: Long, batches: Int, filesPerBatch: Int,
      suppliers: Long, parts: Long)

  /** Sequence number of append batch `b`; the equality deletes landed
    * after batch `k` sit at `2k + 2`, between this batch and the next. */
  def batchSeq(b: Column): Column = b * 2 + 1

  /** Batches after which an `(l_orderkey, l_linenumber)` equality-delete
    * file lands. */
  val lineDeleteAfter: Seq[Int] = Seq(9, 19)

  /** Batches after which an `l_suppkey` equality-delete file lands. */
  val suppDeleteAfter: Seq[Int] = Seq(5, 14)

  /** First line-delete point at or after batch `b` (null past the last). */
  private def nextLineDelete(b: Column): Column =
    lineDeleteAfter.foldRight(lit(null).cast("int")) { (k, rest) =>
      when(b <= k, lit(k)).otherwise(rest)
    }

  /** Every row version of the lineitem table with its append batch:
    *  - version 1 of every line lands in its order's batch `b`;
    *  - ~3 % of orders are updated: the line delete landed at the first
    *    point `k >= b` removes version 1, and version 2 of each line lands
    *    in batch `b2 = k + 1`, after that delete, so it survives it;
    *  - ~2 % of the other lines are deleted by the line delete landed at
    *    the first point at or after their batch.
    * Extra columns `batch`, `version`, `b2`, `del_after` are generator
    * bookkeeping and are not written to data files. */
  def lineitemVersions(spark: SparkSession, seed: Long, s: CompactShape): DataFrame = {
    val ok = col("ok")
    val ln = col("l_linenumber")
    val last = s.batches - 1
    val lines = spark.range(0, s.orders, 1, 16)
      .select(col("id").as("ok"),
        explode(sequence(lit(1), (pmod(h(seed, "nl", col("id")), lit(7L)) + 1).cast("int")))
          .as("l_linenumber"))
      .withColumn("batch", pmod(h(seed, "b", ok), lit(s.batches.toLong)).cast("int"))
      .withColumn("updated", pick(seed, "u", 100, 3, ok))
      .withColumn("b2", nextLineDelete(col("batch")) + 1)
      .withColumn("b2", when(col("updated") && col("b2") <= last, col("b2")))
      .withColumn("del_after",
        when(!col("updated") && pick(seed, "da", 100, 2, ok, ln), nextLineDelete(col("batch"))))
    val v1 = lines.withColumn("version", lit(1))
    val v2 = lines.filter(col("b2").isNotNull)
      .withColumn("version", lit(2)).withColumn("batch", col("b2"))
    val v = col("version")
    v1.unionByName(v2).select(
      col("batch"), v, col("b2"), col("del_after"),
      ok.as("l_orderkey"),
      pmod(h(seed, "pt", ok, ln, v), lit(s.parts)).as("l_partkey"),
      pmod(h(seed, "sp", ok, ln), lit(s.suppliers)).as("l_suppkey"),
      ln,
      (pmod(h(seed, "q", ok, ln, v), lit(50L)) + 1).cast("double").as("l_quantity"),
      (lit(900.0) + pmod(h(seed, "ep", ok, ln, v), lit(104100L)).cast("double") +
        pmod(h(seed, "ec", ok, ln, v), lit(100L)).cast("double") / 100.0)
        .as("l_extendedprice"),
      (pmod(h(seed, "d", ok, ln, v), lit(11L)).cast("double") / 100.0).as("l_discount"),
      (pmod(h(seed, "t", ok, ln, v), lit(9L)).cast("double") / 100.0).as("l_tax"),
      element_at(array(lit("N"), lit("A"), lit("R")),
        (pmod(h(seed, "rf", ok, ln, v), lit(3L)) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (pmod(h(seed, "ls", ok, ln, v), lit(2L)) + 1).cast("int")).as("l_linestatus"),
      date_add(lit(java.sql.Date.valueOf("1995-01-01")),
        pmod(h(seed, "sd", ok, ln, v), lit(2490L)).cast("int")).as("l_shipdate"),
      substring(sha2(h(seed, "cm", ok, ln, v).cast("string"), 256), lit(1),
        (pmod(h(seed, "cl", ok, ln, v), lit(30L)) + 10).cast("int")).as("l_comment"))
  }

  val lineitemCols: Seq[String] = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate", "l_comment")

  /** `l_suppkey` values deleted by the file landed after batch `k`. */
  def suppDeleted(seed: Long, k: Int, supp: Column): Column =
    pick(seed, "ds", 1000, 5, supp, lit(k.toLong))

  /** Rows that the position-delete files remove (~5 %), decided from the
    * row's own values so the read-back that locates them needs no
    * bookkeeping columns. */
  def posDeleted(seed: Long): Column =
    pick(seed, "pd", 100, 5, col("l_orderkey"), col("l_linenumber"),
      col("l_extendedprice"))

  /** The oracle: live rows of the table, decided by the rules above
    * alone (a version-1 row of an updated order, an equality-deleted
    * line, a row whose supplier was deleted at a later sequence number,
    * or a position-deleted row is gone). */
  def lineitemLive(versions: DataFrame, seed: Long): DataFrame = {
    val seq = batchSeq(col("batch"))
    val suppGone = suppDeleteAfter.map { k =>
      suppDeleted(seed, k, col("l_suppkey")) && seq < lit(2L * k + 2)
    }.reduce(_ || _)
    versions
      .filter(!(col("version") === 1 && col("b2").isNotNull))
      .filter(col("del_after").isNull)
      .filter(!suppGone)
      .filter(!posDeleted(seed))
      .select(lineitemCols.map(col): _*)
  }

  // ---- cdc: a keyed table with a large delete backlog ----

  /** Payload of key `k` at version `v`: `a` is Spark's
    * `xxhash64(seed, k, v)` (seed 42), so the driver-side model can
    * recompute every column of a row it expects. */
  def cdcRows(seed: Long, keys: DataFrame, version: Column): DataFrame = {
    val v = version.cast("long")
    val a = xxhash64(lit(seed), col("k"), v)
    keys.select(col("k"), v.as("v"), a.as("a"),
      (pmod(a, lit(100000L)).cast("double") / 100.0).as("b"),
      concat(lit("p"), pmod(a, lit(1000L)).cast("string")).as("s"))
  }

  /** `pmod(xxhash64(seed, tag, k), 100) < pct`, with [[hashPickDriver]]
    * its driver-side twin. */
  def hashPick(seed: Long, tag: Long, k: Column, pct: Int): Column =
    pmod(xxhash64(lit(seed), lit(tag), k), lit(100L)) < pct

  def hashPickDriver(seed: Long, tag: Long, k: Long, pct: Int): Boolean =
    java.lang.Math.floorMod(cdcA(seed, tag, k), 100L) < pct

  def cdcA(seed: Long, k: Long, v: Long): Long = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    XXH64.hashLong(v, XXH64.hashLong(k, XXH64.hashLong(seed, 42L)))
  }

  def cdcRow(seed: Long, k: Long, v: Long): (Long, Long, Long, Double, String) = {
    val a = cdcA(seed, k, v)
    val m = java.lang.Math.floorMod(a, 100000L)
    (k, v, a, m.toDouble / 100.0, "p" + java.lang.Math.floorMod(a, 1000L))
  }

  // ---- curate: documents and embeddings ----

  /** documents(doc_id, text, lang, source, n_chars): 10..100 words of
    * `ScaleGen`'s vocabulary;
    * every 625th doc repeats its neighbour's text exactly and every 50th
    * repeats it with the last word changed (a near duplicate). */
  def documents(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    val vocab = array(graft.tools.ScaleGen.Vocab.map(lit): _*)
    val vocabSize = lit(graft.tools.ScaleGen.Vocab.size.toLong)
    val id = col("id")
    val cid = when(id % 625 === 624 || id % 50 === 49, id - 1).otherwise(id)
    val nWords = pmod(h(seed, "nw", cid), lit(91L)) + lit(10L)
    val words = transform(sequence(lit(1L), nWords), i =>
      element_at(vocab, (pmod(h(seed, "w", cid, i), vocabSize) + 1).cast("int")))
    val edited = when(id % 50 === 49 && id % 625 =!= 624,
      concat(slice(words, lit(1), (nWords - 1).cast("int")),
        array(element_at(vocab, (pmod(h(seed, "x", id), vocabSize) + 1).cast("int")))))
      .otherwise(words)
    spark.range(0, n, 1, 8).select(
        id.as("doc_id"),
        array_join(edited, " ").as("text"),
        element_at(array(Seq("en", "en", "en", "en", "en", "en", "de", "fr", "es", "zh").map(lit): _*),
          (pmod(h(seed, "lg", id), lit(10L)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(h(seed, "s", id), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** embeddings(vec_id, v float[dims]): unit vectors around 32 seeded
    * cluster centres, so nearest neighbours are meaningful and an ANN
    * index's recall measures something. */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dims: Int): DataFrame = {
    def unif(tag: String, cols: Column*) =
      (pmod(h(seed, tag, cols: _*), lit(2001L)).cast("double") - 1000.0) / 1000.0
    val cluster = pmod(h(seed, "cl", col("id")), lit(32L))
    val raw = transform(sequence(lit(0L), lit(dims - 1L)), i =>
      unif("c", cluster, i) + unif("e", col("id"), i) * 0.35)
    spark.range(0, n, 1, 8)
      .select(col("id").as("vec_id"), raw.as("_raw"))
      .withColumn("_nrm", sqrt(aggregate(col("_raw"), lit(0.0), (a, x) => a + x * x)))
      .select(col("vec_id"), transform(col("_raw"), x => (x / col("_nrm")).cast("float")).as("v"))
  }
}
