package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Latencies, failures and facts of one run. Every op goes through
  * [[Recorder.op]]: it is timed, and its result is verified untimed; an
  * exception or a wrong result counts it as failed. */
final class Recorder {
  val samples = mutable.LinkedHashMap[String, ArrayBuffer[Double]]()
  val facts = mutable.LinkedHashMap[String, Any]()
  var attempted = 0
  var failed = 0
  val errors = ArrayBuffer[String]()

  def fail(what: String): Unit = { failed += 1; if (errors.size < 20) errors += what }

  def op[T](kind: String)(body: => T)(verify: T => Option[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = try Right(body) catch { case e: Exception => Left(e) }
    val s = (System.nanoTime() - t0) / 1e9
    out match {
      case Left(e) =>
        fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
      case Right(v) =>
        samples.getOrElseUpdate(kind, ArrayBuffer()) += s
        verify(v).foreach(err => fail(s"$kind: $err"))
        Some(v)
    }
  }

  def count(name: String, n: Double): Unit =
    facts(name) = facts.getOrElse(name, 0.0).asInstanceOf[Double] + n

  /** Takes over the attempts and failures of ops recorded apart. */
  def absorb(other: Recorder, phase: String): Unit = {
    attempted += other.attempted
    failed += other.failed
    errors ++= other.errors.take(20 - errors.size).map(e => s"$phase $e")
  }
}

/** One benchmark workload: a closed loop with one client that runs a
  * fixed cycle of ops, one op at a time. */
trait Workload {
  /** Ops in one cycle. */
  def cycle: Int
  /** Generates the seeded inputs into a fresh directory. */
  def generate(): Unit
  /** Untimed: prepares the oracle and runs one cycle. */
  def warmUp(rec: Recorder): Unit
  /** Runs the next op of the closed loop. */
  def op(rec: Recorder): Unit
  /** Checks that need the whole window (run after it, untimed). */
  def finish(rec: Recorder): Unit = ()
  /** One cycle of ops as traced requests. */
  def traced(t: Tracer, rec: Recorder): Unit
}

/** Several workloads run as one: a cycle runs each part's cycle in turn. */
final class Mix(parts: Seq[Workload]) extends Workload {
  private var step = 0
  def cycle: Int = parts.map(_.cycle).sum
  def generate(): Unit = parts.foreach(_.generate())
  def warmUp(rec: Recorder): Unit = parts.foreach(_.warmUp(rec))
  def op(rec: Recorder): Unit = {
    val at = step % cycle
    step += 1
    val offsets = parts.scanLeft(0)(_ + _.cycle)
    parts(offsets.lastIndexWhere(_ <= at)).op(rec)
  }
  override def finish(rec: Recorder): Unit = parts.foreach(_.finish(rec))
  def traced(t: Tracer, rec: Recorder): Unit = parts.foreach(_.traced(t, rec))
}

object Main {
  /** Set-up generates the inputs this many times; `setup_s` counts the
    * median generation time once. */
  val GenerateReps = 3

  def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload table|curate " +
      "--seed N --seconds S --trace 0|1 --work DIR --out FILE")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case _ => usage()
    }.toMap
    def opt(k: String) = opts.getOrElse(k, usage())
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work")).getAbsolutePath
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val settings = Session.settings(cores)
    val spark = Session.create(settings, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    try {
      val rec = new Recorder
      val w: Workload = workload match {
        case "table" => new Mix(Seq(new Compact(spark, seed, s"$work/compact"),
          new Cdc(spark, seed, s"$work/cdc")))
        case "curate" => new Curate(spark, seed, s"$work/curate")
        case _ => usage()
      }
      def timed(body: => Unit): Double = {
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0) / 1e9
      }
      val generateS = (0 until GenerateReps).map(_ => timed(w.generate()))
      val warm = new Recorder
      val warmS = timed(w.warmUp(warm))
      rec.absorb(warm, "warm-up")

      val winStart = System.nanoTime()
      val deadline = winStart + (seconds * 1e9).toLong
      var i = 0
      while (System.nanoTime() < deadline || i < w.cycle) { w.op(rec); i += 1 }
      val windowS = (System.nanoTime() - winStart) / 1e9
      w.finish(rec)
      val heapMb = RetainedHeap.mb()

      val traceRec = new Recorder
      val traceJson: Map[String, Any] =
        if (!trace) Map.empty
        else {
          val listener = new SpanListener
          spark.sparkContext.addSparkListener(listener)
          val tracer = new Tracer(spark.sparkContext)
          w.traced(tracer, traceRec)
          org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
          spark.sparkContext.removeSparkListener(listener)
          rec.absorb(traceRec, "traced")
          Map("spans" -> tracer.toJson) ++ listener.toJson
        }

      val out = Map(
        "workload" -> workload, "seed" -> seed,
        "settings" -> (settings + ("heap_max_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString)),
        "setup" -> Map("session_s" -> sessionS, "generate_s" -> generateS, "warm_up_s" -> warmS),
        "window_s" -> windowS, "ops" -> i,
        "samples" -> rec.samples.map { case (k, v) => k -> v.toSeq }.toMap,
        "facts" -> rec.facts.toMap,
        "attempted" -> rec.attempted, "failed" -> rec.failed, "errors" -> rec.errors.toSeq,
        "heap_retained_mb" -> heapMb, "trace" -> traceJson, "trace_facts" -> traceRec.facts.toMap)
      Files.write(Paths.get(opt("out")), Json(out).getBytes("UTF-8"))
    } finally spark.stop()
  }
}

object Session {
  /** Every setting that differs from Spark's defaults. The broadcast
    * threshold is scaled down with the tables (see README.md): `compact`
    * keeps its deletes under it and `cdc` goes over it. */
  def settings(cores: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "128k",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  def create(settings: Map[String, String], work: String): SparkSession = {
    val b = SparkSession.builder()
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.g", classOf[graft.sql.GraftCatalog].getName)
      .config("spark.sql.catalog.g.warehouse", s"$work/cdc/warehouse")
      .withExtensions(new graft.functions.GraftExtensions)
    settings.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Dirs {
  def delete(path: String): Unit = {
    val f = new File(path)
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(c => delete(c.getPath))
    f.delete()
  }

  def copy(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
  }

  /** (path, bytes) of the parquet files under `root`, sorted by path. */
  def parquetFiles(root: String): Seq[(String, Long)] =
    graft.io.FileIO.listFilesRecursive(root).filter(_._1.endsWith(".parquet")).sortBy(_._1)

  /** Total bytes of the parquet files under `path`. */
  def parquetBytes(path: String): Long = parquetFiles(path).map(_._2).sum
}
