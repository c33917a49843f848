package perfbench

import graft.sources.TableReader
import graft.txn.{TableMetadata, TableWrites}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable.ArrayBuffer

/** `cdc`: a `GraftCatalog` table in merge-on-read mode that compaction
  * has fallen behind on. Appended in key-range batches (disjoint file
  * bounds), then ~18 % of its rows deleted through many small
  * equality-delete and position-delete files whose bytes exceed the
  * broadcast threshold. One cycle runs, in this order: 4 SQL point
  * lookups, 1 aggregate through `spark.read.format("graft")`, 1
  * `TableReader.read(...).count()`, 2 `TableWrites.upsert` batches, 1
  * SQL `DELETE FROM ... WHERE k BETWEEN ...` and 1 DSv2 append. Nothing
  * compacts, so the backlog grows the same way on every run.
  *
  * Every result is checked against [[Cdc.Model]], a driver-side replay
  * of the op sequence that never reads the table. */
final class Cdc(spark: SparkSession, seed: Long, dir: String) extends Workload {
  import Cdc._

  private val table = "g.db.t"
  private val tableDir = s"$dir/warehouse/db/t"
  private var model: Model = _
  /** Ops run so far on the current table. */
  private var step = 0

  def cycle = OpsPerCycle

  def generate(): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    Dirs.delete(s"$dir/warehouse")
    build()
    model = new Model(seed)
    step = 0
  }

  def warmUp(rec: Recorder): Unit = (0 until cycle).foreach(_ => op(rec))

  def op(rec: Recorder): Unit = runStep(rec, None)

  def traced(t: Tracer, rec: Recorder): Unit = (0 until cycle).foreach(_ => runStep(rec, Some(t)))

  override def finish(rec: Recorder): Unit = {
    val got = fingerprint(TableReader.read(spark, tableDir))
    if (got != model.fingerprint) rec.fail(s"final table rows $got, model ${model.fingerprint}")
  }

  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(col("a"), lit(HashMod))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** The pre-image, written straight as files and committed as one
    * snapshot on top of the catalog's bootstrap snapshot. */
  private def build(): Unit = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS g.db")
    spark.sql(s"CREATE TABLE $table (k BIGINT, v BIGINT, a BIGINT, b DOUBLE, s STRING) " +
      "TBLPROPERTIES ('graft.rowlevel.mode' = 'merge-on-read')")
    val boot = TableMetadata.loadOrThrow(tableDir)

    // one range partition per file: each file holds a contiguous key range
    Gen.cdcRows(seed, spark.range(0, Keys, 1, DataFiles).select(col("id").as("k")), lit(0L))
      .write.parquet(s"$tableDir/data/pre")
    val data = Dirs.parquetFiles(s"$tableDir/data/pre").zipWithIndex.map { case ((p, len), i) =>
      Gen.fileEntry(p, len, "data", i / (DataFiles / Batches) + 1L)
    }
    var seq = Batches.toLong

    spark.range(0, Keys).filter(Gen.hashPick(seed, TagEq, col("id"), EqPct))
      .select(col("id").as("k")).repartition(EqFiles)
      .write.parquet(s"$tableDir/data/pre-eq")
    val eq = Dirs.parquetFiles(s"$tableDir/data/pre-eq").map { case (p, len) =>
      seq += 1; Gen.fileEntry(p, len, "equality-deletes", seq, Seq("k"))
    }

    val paths = spark.createDataFrame(data.map(e => new java.io.File(e.path).getName -> e.path))
      .toDF("name", "file_path")
    spark.read.parquet(data.map(_.path): _*)
      .filter(Gen.hashPick(seed, TagPos, col("k"), PosPct) &&
        !Gen.hashPick(seed, TagEq, col("k"), EqPct))
      .select(regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1).as("name"),
        col("_metadata.row_index").as("pos"))
      .join(broadcast(paths), "name")
      .repartition(PosFiles, col("file_path")).sortWithinPartitions("file_path", "pos")
      .select("file_path", "pos")
      .write.parquet(s"$tableDir/data/pre-pos")
    val pos = Dirs.parquetFiles(s"$tableDir/data/pre-pos").map { case (p, len) =>
      seq += 1; Gen.fileEntry(p, len, "position-deletes", seq)
    }
    TableMetadata.commit(tableDir, boot.copy(version = boot.version + 1,
      lastSequenceNumber = seq, files = data ++ eq ++ pos))
  }

  private def snapshotBytes(): (Long, Long) = {
    val snap = TableMetadata.loadOrThrow(tableDir)
    (snap.files.map(_.sizeBytes).sum, snap.files.count(_.content == "data").toLong)
  }

  /** Wraps each op of a cycle in a traced request (starting with a
    * snapshot load) and its calls into graft in layer spans. */
  private final class Spans(t: Option[Tracer]) {
    def op[T](name: String)(body: => T): T = t match {
      case None => body
      case Some(tr) => tr.op(name) {
        tr.span("txn.load")(TableReader.snapshot(tableDir))
        body
      }
    }
    def apply[T](name: String)(body: => T): T = t.fold(body)(_.span(name)(body))
  }

  /** Runs op `step % cycle` of cycle `step / cycle`; with a tracer, as a
    * traced request. */
  private def runStep(rec: Recorder, tracer: Option[Tracer]): Unit = {
    val c = step / cycle
    val j = step % cycle
    step += 1
    val span = new Spans(tracer)

    def write(kind: String, rows: Long)(body: => Unit)(apply: => Unit): Unit = {
      val before = snapshotBytes()._1
      rec.op(kind)(span.op(kind)(span(s"write.$kind")(body)))(_ => None)
      apply
      rec.count("write_bytes", (snapshotBytes()._1 - before).toDouble)
      rec.count("write_rows", rows.toDouble)
    }

    j match {
      case _ if j < Lookups =>
        val key = model.lookupKey(c, j)
        rec.op("point")(span.op("point") {
          val df = span("sql.plan") {
            val d = spark.sql(s"SELECT k, v, a, b, s FROM $table WHERE k = $key")
            d.queryExecution.optimizedPlan
            d
          }
          span("sources.plan")(df.queryExecution.executedPlan)
          span("sources.scan")(df.collect()).toSeq
        }) { rows =>
          val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4)))
          val want = model.row(key).toSeq
          if (got != want) Some(s"cycle $c lookup k=$key returned $got, model $want") else None
        }
        if (tracer.nonEmpty) rec.facts("data_files") = snapshotBytes()._2

      case 4 =>
        rec.count("read_bytes", snapshotBytes()._1.toDouble)
        rec.op("scan")(span.op("scan") {
          val df = span("sources.plan") {
            val d = spark.read.format("graft").load(tableDir)
              .agg(count(lit(1)), coalesce(sum(pmod(col("a"), lit(HashMod))), lit(0L)))
            d.queryExecution.executedPlan
            d
          }
          val r = span("sources.scan")(df.head())
          (r.getLong(0), r.getLong(1))
        }) { got =>
          if (got != model.fingerprint) Some(s"cycle $c scan $got, model ${model.fingerprint}") else None
        }

      case 5 =>
        rec.count("read_bytes", snapshotBytes()._1.toDouble)
        rec.op("reader")(span.op("reader") {
          span("plans.live_rows")(TableReader.read(spark, tableDir).count())
        }) { n =>
          if (tracer.nonEmpty) {
            rec.count("live_rows_out", n.toDouble)
            rec.count("live_rows_in", TableMetadata.loadOrThrow(tableDir).files
              .filter(_.content == "data").map(_.recordCount).sum.toDouble)
          }
          if (n != model.count) Some(s"cycle $c reader count $n, model ${model.count}") else None
        }

      case 6 | 7 =>
        val u = model.upsertEvent(c, j - 6)
        val keys = spark.range(0, UpsertRows)
          .select(pmod(lit(u.start) + col("id") * lit(Stride), lit(Keys)).as("k"))
        write("upsert", UpsertRows) {
          TableWrites.upsert(tableDir, Gen.cdcRows(seed, keys, lit(u.version)), Seq("k"))
        }(model.apply(u))

      case 8 =>
        val d = model.deleteEvent(c)
        write("delete", model.liveIn(d)) {
          spark.sql(s"DELETE FROM $table WHERE k BETWEEN ${d.lo} AND ${d.hi}")
        }(model.apply(d))

      case 9 =>
        val a = model.appendEvent(c)
        write("append", AppendRows) {
          Gen.cdcRows(seed, spark.range(a.lo, a.lo + AppendRows).select(col("id").as("k")),
            lit(a.version)).writeTo(table).append()
        }(model.apply(a))
        if (tracer.nonEmpty) {
          val snap = TableMetadata.loadOrThrow(tableDir)
          rec.facts("metadata_bytes") =
            new java.io.File(TableMetadata.versionPath(tableDir, snap.version)).length
          rec.facts("snapshot_files") = snap.files.size
        }
    }
  }
}

object Cdc {
  val Keys = 200000L
  val Batches = 5
  val DataFiles = 10
  val EqFiles = 2
  val PosFiles = 1
  /** Shares of keys the pre-image deletes by equality and by position. */
  val EqPct = 15
  val PosPct = 4
  val TagEq = 1L
  val TagPos = 2L
  val TagLookup = 3L
  val TagUpsert = 4L
  val TagDelete = 5L

  /** The cycle: 4 point lookups, scan, reader, 2 upserts, delete, append. */
  val OpsPerCycle = 10
  val Lookups = 4
  val UpsertRows = 5000L
  val DeleteWidth = 2000L
  val AppendRows = 10000L
  /** Upsert batches walk the key space with this stride (prime, so the
    * `UpsertRows` keys of one batch are distinct). */
  val Stride = 7919L
  val HashMod = 2147483647L

  sealed trait Event
  final case class Upsert(start: Long, version: Long) extends Event {
    /** `k` is in the batch iff `(k - start) * Stride^-1 mod Keys < UpsertRows`. */
    def contains(k: Long): Boolean =
      k < Keys && java.lang.Math.floorMod(
        java.lang.Math.floorMod(k - start, Keys) * StrideInv, Keys) < UpsertRows
  }
  final case class Delete(lo: Long, hi: Long) extends Event {
    def contains(k: Long): Boolean = k >= lo && k <= hi
  }
  final case class Append(lo: Long, version: Long) extends Event {
    def contains(k: Long): Boolean = k >= lo && k < lo + AppendRows
  }
  private val StrideInv = BigInt(Stride).modInverse(BigInt(Keys)).toLong

  /** Driver-side model of the table: the pre-image rules plus the log of
    * every write applied since, newest last. A key's state is decided by
    * the newest event that covers it. */
  final class Model(seed: Long) {
    private val events = ArrayBuffer[Event]()
    private var appended = 0L

    private def preLive(k: Long): Boolean =
      !Gen.hashPickDriver(seed, TagEq, k, EqPct) && !Gen.hashPickDriver(seed, TagPos, k, PosPct)

    /** The live version of `k`, if any. */
    def version(k: Long): Option[Long] = {
      var i = events.size - 1
      while (i >= 0) {
        events(i) match {
          case u: Upsert if u.contains(k) => return Some(u.version)
          case d: Delete if d.contains(k) => return None
          case a: Append if a.contains(k) => return Some(a.version)
          case _ =>
        }
        i -= 1
      }
      if (k < Keys && preLive(k)) Some(0L) else None
    }

    def row(k: Long): Option[(Long, Long, Long, Double, String)] =
      version(k).map(v => Gen.cdcRow(seed, k, v))

    private def hashOf(k: Long, v: Long): Long =
      java.lang.Math.floorMod(Gen.cdcA(seed, k, v), HashMod)

    private var n = 0L
    private var hash = 0L
    locally {
      var k = 0L
      while (k < Keys) {
        if (preLive(k)) { n += 1; hash += hashOf(k, 0L) }
        k += 1
      }
    }

    def count: Long = n
    def fingerprint: (Long, Long) = (n, hash)

    private def keysOf(e: Event): Iterator[Long] = e match {
      case u: Upsert => Iterator.range(0, UpsertRows.toInt)
        .map(i => java.lang.Math.floorMod(u.start + i * Stride, Keys))
      case d: Delete => Iterator.range(0, (d.hi - d.lo + 1).toInt).map(d.lo + _)
      case a: Append => Iterator.range(0, AppendRows.toInt).map(a.lo + _)
    }

    /** Live keys among those `e` covers, before it applies. */
    def liveIn(e: Event): Long = keysOf(e).count(version(_).nonEmpty).toLong

    def apply(e: Event): Unit = {
      keysOf(e).foreach { k =>
        version(k).foreach { v => n -= 1; hash -= hashOf(k, v) }
      }
      events += e
      keysOf(e).foreach { k =>
        version(k).foreach { v => n += 1; hash += hashOf(k, v) }
      }
      e match {
        case _: Append => appended += AppendRows
        case _ =>
      }
    }

    private def mix(tag: Long, c: Int, j: Int): Long =
      Gen.cdcA(seed, tag, c * 16L + j) & Long.MaxValue

    def lookupKey(c: Int, j: Int): Long = mix(TagLookup, c, j) % (Keys + appended)
    def upsertEvent(c: Int, j: Int): Upsert = Upsert(mix(TagUpsert, c, j) % Keys, c * 16L + j + 1)
    def deleteEvent(c: Int): Delete = {
      val lo = mix(TagDelete, c, 0) % (Keys - DeleteWidth)
      Delete(lo, lo + DeleteWidth - 1)
    }
    def appendEvent(c: Int): Append = Append(Keys + appended, c * 16L + 15)
  }
}
