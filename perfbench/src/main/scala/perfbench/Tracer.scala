package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the run: a pass, a query inside it, or the build
  * or sink call inside a query. Times are epoch milliseconds with
  * sub-millisecond precision; counters are the deltas observed between the
  * span's start and end.
  */
final class Span(val id: Int, val parent: Int, val name: String) {
  var startMs: Double = Double.NaN
  var endMs: Double = Double.NaN
  val counters = mutable.LinkedHashMap.empty[String, Long]
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** A Spark job, linked to the build or sink span that submitted it. */
final class JobSpan(val jobId: Int, val span: Int, val startMs: Long) {
  var endMs: Long = -1L
}

/** Records spans around the benchmark's calls into the engine. With
  * `counters` on, it also attaches a SparkListener, a
  * QueryExecutionListener and JVM MXBean readers, and records each span's
  * counter deltas. Every counter is a before/after delta around one span,
  * taken after the listener bus has drained, so a value is exact or absent.
  */
final class Tracer(spark: SparkSession, counters: Boolean)
    extends SparkListener with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val epochBaseMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  def nowMs(): Double = epochBaseMs + (System.nanoTime() - nanoBase) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobSpan]
  private val jobsById = mutable.HashMap.empty[Int, JobSpan]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  private val submitted = mutable.HashSet.empty[Int]
  // Listener events land in the bucket of the span that is open; spans do
  // not overlap at the leaves (build, sink), and the bus is drained when
  // one closes, so no event can fall into the wrong bucket.
  @volatile private var bucket: mutable.Map[String, Long] = mutable.Map.empty

  if (counters) {
    sc.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  private def add(k: String, v: Long): Unit = {
    val b = bucket
    b.synchronized { b(k) = b.getOrElse(k, 0L) + v }
  }

  /** Times `body` as a span under `parent`. Leaf spans (the build and sink
    * calls) tag the jobs they submit and, when counting, collect counters.
    */
  def span[T](parent: Int, name: String, leaf: Boolean)(body: Span => T): (Span, T) = {
    val s = new Span(spans.size, parent, name)
    spans += s
    val before = if (counters && leaf) { bucket = s.counters; Some(Tracer.jvm()) } else None
    if (leaf) sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    s.startMs = nowMs()
    try (s, body(s)) finally {
      s.endMs = nowMs()
      if (leaf) sc.setLocalProperty(Tracer.SpanProperty, null)
      before.foreach { b =>
        Bus.drain(sc)
        val a = Tracer.jvm()
        s.counters("jvm.jit_ms") = a.jitMs - b.jitMs
        s.counters("jvm.gc_ms") = a.gcMs - b.gcMs
        s.counters("codegen.compiles") = a.compiles - b.compiles
        bucket = mutable.Map.empty
      }
    }
  }

  def stop(): Unit = if (counters) {
    Bus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(-1)
    val j = new JobSpan(e.jobId, span, e.time)
    jobs.synchronized { jobs += j; jobsById(e.jobId) = j; jobStages(e.jobId) = e.stageIds }
    add("scheduler.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val skipped = jobs.synchronized {
      jobsById.remove(e.jobId).foreach(_.endMs = e.time)
      jobStages.remove(e.jobId).getOrElse(Nil).count(id => !submitted.contains(id))
    }
    add("scheduler.stages_skipped", skipped)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    jobs.synchronized { submitted += e.stageInfo.stageId }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    add("scheduler.stages", 1)
    add("scheduler.tasks", i.numTasks)
    if (m != null) {
      add("executor.run_ms", m.executorRunTime)
      add("executor.cpu_ns", m.executorCpuTime)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("memory.spill_bytes", m.memoryBytesSpilled)
      add("sources.scan_bytes", m.inputMetrics.bytesRead)
      add("sources.scan_rows", m.inputMetrics.recordsRead)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) add("scheduler.tasks_failed", 1)

  private def onQuery(qe: QueryExecution): Unit = {
    add("catalyst.sql_execs", 1)
    val phases = qe.tracker.phases
    add("catalyst.analysis_ms", phases.get("analysis").map(_.durationMs).getOrElse(0L))
    add("catalyst.optimizer_ms", phases.get("optimization").map(_.durationMs).getOrElse(0L))
    add("catalyst.planning_ms", phases.get("planning").map(_.durationMs).getOrElse(0L))
    // A file write runs as a command inside the adaptive plan; the helper's
    // foreach walks into adaptive plans and their query stages. Only the
    // write command's metrics count: scans report a numFiles of their own.
    foreach(qe.executedPlan) {
      case w: DataWritingCommandExec =>
        w.metrics.get("numFiles").foreach(v => add("sources.write_files", v.value))
        w.metrics.get("numOutputBytes").foreach(v => add("sources.write_bytes", v.value))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onQuery(qe)
}

object Tracer {
  val SpanProperty = "perfbench.span"

  final case class Jvm(jitMs: Long, gcMs: Long, compiles: Long)

  /** JIT and GC totals from the MXBeans, and the whole-stage-codegen
    * compile count (exact: the histogram's count, not its reservoir).
    */
  def jvm(): Jvm = Jvm(
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L),
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}
