package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** In-memory span recorder. Spans are taken only around calls from the
  * benchmark into a layer; nothing inside the library is instrumented.
  * External spans (planning phases, jobs, micro-batch phases) come from
  * Spark's own listeners and are parented afterwards by time containment.
  * Disabled tracers cost one branch per call.
  */
object Tracer {
  final case class Span(id: Int, var parent: Int, iter: Int, name: String,
                        start: Long, end: Long)
}

final class Tracer(@volatile var enabled: Boolean) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private val external = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var iter = 0
  /** nanoTime - currentTimeMillis*1e6 at construction: converts Spark's
    * wall-clock timestamps onto the span clock. */
  private val clockOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def wallMsToNanos(ms: Long): Long = ms * 1000000L + clockOffset

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        spans.synchronized(spans += Span(id, parent, iter, name, t0, t1))
      }
    }

  def addExternal(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled && endNs >= startNs)
      external.synchronized(external +=
        Span(nextId.incrementAndGet(), -1, iter, name, startNs, endNs))

  /** All spans with external ones parented to the innermost recorded span
    * that contains them. */
  def all: Seq[Span] = {
    val own = spans.synchronized(spans.toList)
    val ext = external.synchronized(external.toList)
    ext.foreach { e =>
      val host = own.filter(s => s.start <= e.start && e.end <= s.end)
      e.parent = if (host.isEmpty) 0 else host.minBy(s => s.end - s.start).id
    }
    own ++ ext
  }

  /** Union length of intervals clipped to [lo, hi]. */
  private def covered(lo: Long, hi: Long, xs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per span name: count, total ms, self ms (duration minus the time its
    * children cover). */
  def summary: Seq[(String, Any)] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, group) =>
      val total = group.map(s => s.end - s.start).sum
      val self = group.map { s =>
        (s.end - s.start) - covered(s.start, s.end,
          kids.getOrElse(s.id, Nil).map(c => (c.start, c.end)))
      }.sum
      name -> Seq("count" -> group.size, "total_ms" -> total / 1e6,
        "self_ms" -> self / 1e6)
    }
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val base = (spans.synchronized(spans.headOption) ++
      external.synchronized(external.headOption)).map(_.start)
      .reduceOption(_ min _).getOrElse(0L)
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(Json.obj("id" -> s.id, "parent" -> s.parent, "iter" -> s.iter,
        "name" -> s.name, "start_us" -> (s.start - base) / 1000,
        "end_us" -> (s.end - base) / 1000))
    } finally w.close()
  }
}

object Trace {
  /** Writes the span file and the per-layer summary of a traced run into
    * the output directory. */
  def writeOut(a: Args, tracer: Tracer, metrics: Seq[Metric],
               report: Seq[(String, Any)]): Unit = {
    val tag = s"${a.workload}-seed${a.seed}"
    tracer.write(new java.io.File(a.outDir, s"spans-$tag.jsonl"))
    val w = new java.io.PrintWriter(new java.io.File(a.outDir, s"layers-$tag.json"), "UTF-8")
    try w.println(Json.obj(
      "workload" -> a.workload, "seed" -> a.seed,
      "spans" -> tracer.summary,
      "metrics" -> metrics.map(m => m.name -> Seq("value" -> m.value, "unit" -> m.unit)),
      "report" -> report))
    finally w.close()
  }
}

/** Driver planning phases per action, from `QueryExecution.tracker`. */
final class PlanListener(tracer: Tracer) extends QueryExecutionListener {
  val actions = new AtomicLong
  val analysisMs = new AtomicLong
  val optimizationMs = new AtomicLong
  val planningMs = new AtomicLong

  /** Counts only actions that ran while tracing was on (callers drain the
    * bus before switching it). */
  private def record(qe: QueryExecution): Unit = if (tracer.enabled) {
    actions.incrementAndGet()
    qe.tracker.phases.foreach { case (phase, p) =>
      phase match {
        case "analysis" => analysisMs.addAndGet(p.durationMs)
        case "optimization" => optimizationMs.addAndGet(p.durationMs)
        case "planning" => planningMs.addAndGet(p.durationMs)
        case _ =>
      }
      tracer.addExternal(s"plan.$phase", tracer.wallMsToNanos(p.startTimeMs),
        tracer.wallMsToNanos(p.endTimeMs))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def reset(): Unit = Seq(actions, analysisMs, optimizationMs, planningMs).foreach(_.set(0))
}

/** Scheduler and executor counters, keyed by job group. */
final class ExecListener(tracer: Tracer) extends SparkListener {
  final class Counters {
    val jobs, stages, tasks, runMs, cpuNs, gcMs, schedDelayMs, shuffleWrite,
      shuffleRead, fetchWaitMs, spill, failedTasks = new AtomicLong
  }
  val groups = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()

  private def c(group: String): Counters = groups.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(stageGroup.put(_, g))
    c(g).jobs.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t =>
      tracer.addExternal("exec.job", tracer.wallMsToNanos(t), tracer.wallMsToNanos(e.time)))
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c(stageGroup.getOrDefault(e.stageInfo.stageId, "none")).stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = c(stageGroup.getOrDefault(e.stageId, "none"))
    k.tasks.incrementAndGet()
    if (e.taskInfo.failed || e.taskInfo.killed) k.failedTasks.incrementAndGet()
    Option(stageSubmitted.get(e.stageId)).foreach(s =>
      k.schedDelayMs.addAndGet(math.max(0L, e.taskInfo.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      k.runMs.addAndGet(m.executorRunTime)
      k.cpuNs.addAndGet(m.executorCpuTime)
      k.gcMs.addAndGet(m.jvmGCTime)
      k.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      k.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      k.fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      k.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def reset(): Unit = groups.clear()

  def totalJobs: Long = groups.values.asScala.map(_.jobs.get).sum

  /** Summed counters over every group, as exec.* metrics; `wallMs` and
    * `cores` give the busy fraction. */
  def metrics(wallMs: Double, cores: Int, groupPrefix: String = ""): Seq[Metric] = {
    val all = groups.asScala.toSeq.collect { case (g, c) if g.startsWith(groupPrefix) => c }
    def sum(f: Counters => AtomicLong): Double = all.map(f(_).get).sum.toDouble
    val run = sum(_.runMs)
    Seq(
      Metric("exec.jobs", sum(_.jobs), "count"),
      Metric("exec.stages", sum(_.stages), "count"),
      Metric("exec.tasks", sum(_.tasks), "count"),
      Metric("exec.task_run_ms", run, "ms"),
      Metric("exec.task_cpu_ms", sum(_.cpuNs) / 1e6, "ms"),
      Metric("exec.gc_ms", sum(_.gcMs), "ms"),
      Metric("exec.scheduler_delay_ms", sum(_.schedDelayMs), "ms"),
      Metric("exec.shuffle_write_bytes", sum(_.shuffleWrite), "bytes"),
      Metric("exec.shuffle_read_bytes", sum(_.shuffleRead), "bytes"),
      Metric("exec.shuffle_fetch_wait_ms", sum(_.fetchWaitMs), "ms"),
      Metric("exec.spill_bytes", sum(_.spill), "bytes"),
      Metric("exec.failed_tasks", sum(_.failedTasks), "count"),
      Metric("exec.busy_frac", if (wallMs > 0) run / (wallMs * cores) else 0.0, "frac"))
  }
}

/** The three listeners of a traced run, attached to one session. */
final class Layers(val spark: SparkSession, val tracer: Tracer) {
  val plan = new PlanListener(tracer)
  val exec = new ExecListener(tracer)
  spark.listenerManager.register(plan)
  spark.sparkContext.addSparkListener(exec)

  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

  def reset(): Unit = { drain(); plan.reset(); exec.reset() }

  def planMetrics: Seq[Metric] = {
    val n = math.max(1L, plan.actions.get).toDouble
    Seq(
      Metric("plan.actions", plan.actions.get.toDouble, "count"),
      Metric("plan.analysis_ms", plan.analysisMs.get / n, "ms"),
      Metric("plan.optimization_ms", plan.optimizationMs.get / n, "ms"),
      Metric("plan.planning_ms", plan.planningMs.get / n, "ms"))
  }

  def detach(): Unit = {
    spark.listenerManager.unregister(plan)
    spark.sparkContext.removeSparkListener(exec)
  }
}

/** SQL metrics read out of an executed physical plan, looking through
  * adaptive wrappers, query stages and in-memory (cached) relations.
  */
object PlanMetrics {
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case other => other.children.flatMap(nodes)
  })

  /** Output rows of the prefix-filter candidate join inside the pair op:
    * the only join on the shingle token column that carries a residual
    * condition (the length and positional filters). */
  def candidateRows(p: SparkPlan): Long =
    nodes(p).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec
          if j.condition.isDefined && j.leftKeys.exists(_.references.exists(_.name == "tok")) =>
        j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.sum
}
