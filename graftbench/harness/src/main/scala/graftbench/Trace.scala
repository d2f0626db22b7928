package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the harness's calls into graft, plus the child spans that
  * Spark's own listeners report: jobs, tasks and Catalyst phases.
  *
  * With `enabled = false` nothing is registered and [[span]] only runs its
  * body, so the untraced runs that give the end-to-end metrics carry no
  * tracing cost. Spans are kept in memory and written once, at the end.
  * Times are epoch milliseconds so harness spans and listener events share
  * one clock. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val sc = spark.sparkContext
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val nanoToEpochMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Long)]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()

  @volatile private var window = (0.0, 0.0)
  @volatile private var windowStart: Counters = _
  @volatile private var windowEnd: Counters = _

  def nowMs: Double = System.nanoTime() / 1e6 + nanoToEpochMs

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.put(e.jobId, (spanOf(e.properties), e.time))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
          jobs.add(JobRec(e.jobId, span, t0, e.time))
        }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageSpan.put(e.stageInfo.stageId, spanOf(e.properties))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) tasks.add(TaskRec(
          stageSpan.getOrDefault(e.stageId, 0), e.taskInfo.launchTime, e.taskInfo.finishTime,
          m.executorRunTime, m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.outputMetrics.recordsWritten))
      }
    })
    watch(spark)
  }

  /** Record the Catalyst phases of queries run in session `s`. Each session
    * has its own listener manager, so a workload that opens a new session
    * registers it here. */
  def watch(s: SparkSession): Unit =
    if (enabled) s.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
      private def record(qe: QueryExecution): Unit =
        qe.tracker.phases.foreach { case (name, p) =>
          phases.add(PhaseRec(name, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
        }
    })

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp))).map(_.toInt).getOrElse(0)

  /** Run `body` as a span named `name`. Jobs it submits from this thread
    * carry the span id, so they become its children. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      sc.setLocalProperty(SpanProp, id.toString)
      val c0 = compiles
      val t0 = nowMs
      try body
      finally {
        spans.add(Span(id, parents.headOption.getOrElse(0), name, t0, nowMs, compiles - c0))
        stack.set(parents)
        sc.setLocalProperty(SpanProp, parents.headOption.map(_.toString).orNull)
      }
    }

  /** Start of the timed phase: per-layer totals count from here. */
  def begin(): Unit = {
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    windowStart = Counters.now()
    window = (nowMs, 0.0)
  }

  /** End of the timed phase. Waits briefly so the asynchronous listener bus
    * has delivered the phase's last events. */
  def end(): Unit = {
    if (windowStart == null) begin()
    window = (window._1, nowMs)
    windowEnd = Counters.now()
    if (enabled) Thread.sleep(1500)
  }

  private def inWindow(t: Double): Boolean = t >= window._1 && t <= window._2
  private def spanIds(name: String): Set[Int] =
    spans.asScala.filter(s => s.name == name && inWindow(s.start)).map(_.id).toSet

  def spanSeconds(name: String): Double =
    spans.asScala.filter(s => s.name == name && inWindow(s.start)).map(s => s.end - s.start).sum / 1e3
  def spanCompiles(name: String): Long =
    spans.asScala.filter(s => s.name == name && inWindow(s.start)).map(_.compiles).sum
  def jobsIn(name: String): Int = { val ids = spanIds(name); jobs.asScala.count(j => ids(j.span)) }
  def recordsWrittenIn(name: String): Long = {
    val ids = spanIds(name); tasks.asScala.filter(t => ids(t.span)).map(_.recordsWritten).sum
  }
  def bytesReadIn(name: String): Long = {
    val ids = spanIds(name); tasks.asScala.filter(t => ids(t.span)).map(_.bytesRead).sum
  }

  def windowSeconds: Double = (window._2 - window._1) / 1e3
  def codegenCompiles: Long = windowEnd.compiles - windowStart.compiles

  /** Totals over the timed phase for the layers every workload shares. */
  def layers(cores: Int): Map[String, Double] = {
    val ts = tasks.asScala.filter(t => inWindow(t.launch)).toSeq
    val wall = windowSeconds
    val busy = union(ts.map(t => (math.max(t.launch.toDouble, window._1), math.min(t.finish.toDouble, window._2))))
    def phase(n: String) = phases.asScala.filter(p => p.name == n && inWindow(p.start)).map(p => p.end - p.start).sum / 1e3
    val mb = 1024.0 * 1024.0
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum
    Map(
      "operators.build_s" -> spanSeconds(BuildSpan),
      "operators.build_jobs" -> jobsIn(BuildSpan).toDouble,
      "catalyst.analysis_s" -> phase("analysis"),
      "catalyst.optimize_s" -> phase("optimization"),
      "catalyst.plan_s" -> phase("planning"),
      "codegen.compiles" -> codegenCompiles.toDouble,
      "codegen.compile_s" -> (windowEnd.compileNs - windowStart.compileNs) / 1e9,
      "exec.jobs" -> jobs.asScala.count(j => inWindow(j.start)).toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_run_s" -> ts.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.cpu_util" -> (if (wall > 0) ts.map(_.cpuNs).sum / 1e9 / (wall * cores) else 0.0),
      "exec.driver_only_s" -> math.max(0.0, wall - busy / 1e3),
      "shuffle.write_mb" -> ts.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> ts.map(_.shuffleRead).sum / mb,
      "shuffle.spill_mb" -> ts.map(_.spill).sum / mb,
      "jvm.gc_s" -> (windowEnd.gcMs - windowStart.gcMs) / 1e3,
      "jvm.heap_peak_mb" -> heapPeak / mb)
  }

  /** Each span's self time: its duration minus the part of it that its
    * children (harness spans, jobs, Catalyst phases) cover. */
  def selfSeconds: Map[String, Double] = {
    val all = spans.asScala.toSeq
    val childIntervals = mutable.HashMap.empty[Int, mutable.ArrayBuffer[(Double, Double)]]
    def addChild(parent: Int, iv: (Double, Double)): Unit =
      if (parent != 0) childIntervals.getOrElseUpdate(parent, mutable.ArrayBuffer.empty) += iv
    all.foreach(s => addChild(s.parent, (s.start, s.end)))
    jobs.asScala.foreach(j => addChild(j.span, (j.start.toDouble, j.end.toDouble)))
    // Catalyst phases carry no thread context: attach each to the shortest
    // span that contains it.
    phases.asScala.foreach { p =>
      val owner = all.filter(s => s.start <= p.start && s.end >= p.end).sortBy(s => s.end - s.start).headOption
      owner.foreach(o => addChild(o.id, (p.start, p.end)))
    }
    all.filter(s => inWindow(s.start)).groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = union(childIntervals.getOrElse(s.id, Nil).toSeq
          .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) })
        (s.end - s.start - covered) / 1e3
      }.sum
    }
  }

  /** Spans, jobs and phases as JSON, for the trace file. */
  def spansJson(runId: String): String = {
    val ss = spans.asScala.map(s => Json.obj("run" -> runId, "kind" -> "span", "id" -> s.id,
      "parent" -> s.parent, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
      "compiles" -> s.compiles))
    val js = jobs.asScala.map(j => Json.obj("run" -> runId, "kind" -> "job", "id" -> j.id,
      "parent" -> j.span, "name" -> s"job ${j.id}", "start_ms" -> j.start, "end_ms" -> j.end))
    val ps = phases.asScala.map(p => Json.obj("run" -> runId, "kind" -> "phase", "name" -> p.name,
      "start_ms" -> p.start, "end_ms" -> p.end))
    (ss ++ js ++ ps).mkString("[\n", ",\n", "\n]\n")
  }

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

object Trace {
  val SpanProp = "graftbench.span"
  val BuildSpan = "operators.build"

  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double, compiles: Long)
  final case class JobRec(id: Int, span: Int, start: Long, end: Long)
  final case class TaskRec(span: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, bytesRead: Long, recordsWritten: Long)
  final case class PhaseRec(name: String, start: Double, end: Double)

  /** Process-wide counters read at the edges of the timed phase. */
  final case class Counters(compiles: Long, compileNs: Long, gcMs: Long)
  object Counters {
    def now(): Counters = Counters(
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      CodeGenerator.compileTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum)
  }

  /** Total length of the union of intervals. */
  def union(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    ivs.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curStart.isNaN || a > curEnd) {
        if (!curStart.isNaN) total += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }
}
