package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable.ArrayBuffer

/** One traced interval. `parent` is -1 for an op (the root of one
  * request); a layer span's `op` names the op it belongs to. Times are
  * epoch microseconds on the same clock as Spark's listener events. */
final class Span(val id: Int, val parent: Int, val op: Int, val name: String,
    val startUs: Long) {
  var endUs: Long = -1L
  /** Growth over the span of [[Tracer.counters]]. */
  var counted: Seq[Long] = Nil
}

/** Span recorder for the traced run. The open span's id rides the Spark
  * local property [[Tracer.SpanKey]], so every job submitted while it is
  * open carries it to the listener. Spans stay in memory until the end. */
final class Tracer(sc: SparkContext) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000L + (System.nanoTime() - baseNs) / 1000L

  val spans = ArrayBuffer[Span]()
  private var stack: List[Span] = Nil

  /** Root span of one request. */
  def op[T](name: String)(body: => T): T = {
    require(stack.isEmpty, s"op $name opened inside ${stack.head.name}")
    record(name, -1, spans.size)(body)
  }

  /** Layer span inside the current op. */
  def span[T](name: String)(body: => T): T = {
    require(stack.nonEmpty, s"span $name outside an op")
    record(name, stack.head.id, stack.head.op)(body)
  }

  /** Whole-stage codegen compiles, their total nanoseconds, and
    * delete-file loads of the DSv2 scan's cache, process-wide. */
  private def counters(): Seq[Long] = Seq(
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    graft.PerfbenchProbe.deleteLoads)

  private def record[T](name: String, parent: Int, op: Int)(body: => T): T = {
    val before = counters()
    val s = new Span(spans.size, parent, op, name, nowUs)
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body
    finally {
      s.endUs = nowUs
      s.counted = counters().zip(before).map { case (a, b) => a - b }
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "codegen_compiles" -> s.counted(0),
      "codegen_ms" -> s.counted(1) / 1e6, "delete_loads" -> s.counted(2))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Records raw job, stage and task events; run.py assigns them to spans
  * (a job by the span property it was submitted under, a stage by its
  * job, a task by its stage) and sums them. */
final class SpanListener extends SparkListener {
  private val jobs = ArrayBuffer[Map[String, Any]]()
  private val jobEnds = scala.collection.mutable.Map[Int, Long]()
  private val stages = ArrayBuffer[Map[String, Any]]()
  private val tasks = ArrayBuffer[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    jobs += Map("job" -> e.jobId, "span" -> span, "start_ms" -> e.time,
      "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = e.time
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stages += Map("stage" -> e.stageInfo.stageId,
      "submit_ms" -> e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) tasks += Map(
      "stage" -> e.stageId, "launch_ms" -> i.launchTime, "finish_ms" -> i.finishTime,
      "cpu_ns" -> m.executorCpuTime, "gc_ms" -> m.jvmGCTime,
      "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "records_read" -> m.inputMetrics.recordsRead,
      "bytes_read" -> m.inputMetrics.bytesRead,
      "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten)
  }

  def toJson: Map[String, Any] = synchronized {
    Map("jobs" -> jobs.toSeq.map(j =>
        j + ("end_ms" -> jobEnds.getOrElse(j("job").asInstanceOf[Int], -1L))),
      "stages" -> stages.toSeq, "tasks" -> tasks.toSeq)
  }
}

/** Old-generation occupancy after a full collection: the heap the
  * process retains (caches, metadata, broadcast blocks) once the ops'
  * garbage is gone. */
object RetainedHeap {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def mb(): Double = {
    // the first collection lets Spark's ContextCleaner drop the broadcast
    // and shuffle blocks whose handles died; the second frees them
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
  }
}
