package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Observes Spark from outside for the traced run: a `SparkListener`
  * for jobs, stages and tasks, and a `QueryExecutionListener` for the
  * plan phases of each executed action. Registered by the benchmark
  * only when tracing is on.
  *
  * Plan-phase times are read from the executed action's own
  * `QueryExecution.tracker` (analysis, optimization, planning); nothing
  * is planned a second time to measure them. Adaptive re-optimization
  * happens while the action runs, between its jobs, so it is not in
  * those phases: it lands in the action's exec span, as part of
  * `sched.driver_only_s` when no task is running.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  import Probe.{Phases, Task}

  private val jobSpan = new ConcurrentHashMap[Int, Int]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val pendingQe = new ConcurrentLinkedQueue[Phases]()
  /** (span id, phases) of every action whose QE arrived while that span
    * was the attribution target — see [[takeQueryExecutions]].
    */
  private val qes = new ConcurrentLinkedQueue[(Int, Phases)]()

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val span = Option(js.properties).flatMap(p =>
      Option(p.getProperty(Tracer.SpanProperty))).flatMap(_.toIntOption).getOrElse(0)
    jobSpan.put(js.jobId, span)
    js.stageIds.foreach(s => stageJob.put(s, js.jobId))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    stagesDone.add(sc.stageInfo.stageId)

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    val info = te.taskInfo
    if (m != null && info != null) {
      val span = Option(stageJob.get(te.stageId)).map(j => jobSpan.getOrDefault(j, 0))
        .getOrElse(0)
      val sr = m.shuffleReadMetrics
      tasks.add(Task(span, te.stageId, info.launchTime, info.finishTime,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.peakExecutionMemory,
        m.memoryBytesSpilled, m.shuffleWriteMetrics.bytesWritten,
        sr.remoteBytesRead + sr.localBytesRead, m.inputMetrics.bytesRead))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    pendingQe.add(Phases(ms("analysis"), ms("optimization"), ms("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Attributes every action reported since the last call to `span`.
    * The benchmark is a single sequential client and drains the
    * listener bus before calling this, so those actions are exactly the
    * ones the span ran.
    */
  def takeQueryExecutions(span: Int): Unit = {
    var p = pendingQe.poll()
    while (p != null) { qes.add(span -> p); p = pendingQe.poll() }
  }

  def jobs: Map[Int, Int] = jobSpan.asScala.toMap
  def allTasks: Seq[Task] = tasks.asScala.toSeq
  def stageCount: Int = stagesDone.size
  def queryExecutions: Seq[(Int, Phases)] = qes.asScala.toSeq
}

object Probe {
  final case class Task(span: Int, stage: Int, launchMs: Long, finishMs: Long,
      runMs: Long, cpuNs: Long, gcMs: Long, peakExec: Long, memSpill: Long,
      shufWrite: Long, shufRead: Long, input: Long)
  final case class Phases(analysisMs: Long, optimizationMs: Long, planningMs: Long)

  /** Bytes allocated so far by all live JVM threads; the difference
    * over the timed passes is `exec.alloc_gb` (same method as
    * `graft.Bench`: a thread that dies mid-window takes its count with
    * it, so this can undercount).
    */
  def allocatedBytes(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean match {
      case mx: com.sun.management.ThreadMXBean if mx.isThreadAllocatedMemorySupported =>
        mx.getThreadAllocatedBytes(mx.getAllThreadIds).filter(_ > 0L).sum
      case _ => 0L
    }

  /** Worst stage's ratio of its longest task to its median task, over
    * stages with at least two tasks (1.0 when there are none).
    */
  def taskSkew(durationsByStage: Map[Int, Seq[Long]]): Double = {
    val ratios = durationsByStage.values.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      val med = (s((s.size - 1) / 2) + s(s.size / 2)) / 2.0
      s.last / math.max(med, 1.0)
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Per-layer plan / sched / exec metrics for the traced passes.
    *
    * Spans of layer `plan` are builder calls (the public function that
    * returns the DataFrame, with any jobs it starts eagerly); spans of
    * layer `exec` are the actions. `sched.driver_only_s` is the time
    * inside exec spans when no task of theirs is running, less the plan
    * phases of the actions they ran: job and stage submission, result
    * handling and adaptive re-planning between stages. Totals are per
    * pass.
    */
  def layerMetrics(probe: Probe, tracer: Tracer, passes: Int, wallS: Double, cores: Int,
      allocBytes: Long): Seq[(String, Double)] = {
    val spans = tracer.spans
    val planSpans = spans.filter(_.layer == "plan").map(_.id).toSet
    val execSpans = spans.filter(_.layer == "exec")
    val tasks = probe.allTasks
    val qes = probe.queryExecutions
    val n = math.max(passes, 1).toDouble
    def sumS(xs: Iterable[Long], scale: Double): Double = xs.sum / scale / n
    val mb = 1024.0 * 1024.0
    val tasksBySpan = tasks.groupBy(_.span)
    val qeBySpan = qes.groupBy(_._1)
    val driverOnlyMs = execSpans.map { s =>
      val s0 = tracer.originEpochMs + s.start / 1000000L
      val s1 = tracer.originEpochMs + s.end / 1000000L
      val covered = Tracer.unionLength(tasksBySpan.getOrElse(s.id, Nil)
        .map(t => (math.max(t.launchMs, s0), math.min(t.finishMs, s1))))
      val planned = qeBySpan.getOrElse(s.id, Nil).map { case (_, p) =>
        p.analysisMs + p.optimizationMs + p.planningMs }.sum
      math.max(0L, (s1 - s0) - covered - planned)
    }
    val execQes = qes.filterNot(q => planSpans.contains(q._1)).map(_._2)
    val taskS = sumS(tasks.map(_.runMs), 1e3)
    Seq(
      "plan.build_s" -> sumS(spans.filter(s => planSpans.contains(s.id)).map(_.dur), 1e9),
      "plan.eager_jobs" -> probe.jobs.count(j => planSpans.contains(j._2)) / n,
      "plan.analysis_s" -> sumS(execQes.map(_.analysisMs), 1e3),
      "plan.optimization_s" -> sumS(execQes.map(_.optimizationMs), 1e3),
      "plan.planning_s" -> sumS(execQes.map(_.planningMs), 1e3),
      "sched.jobs" -> probe.jobs.size / n,
      "sched.stages" -> probe.stageCount / n,
      "sched.tasks" -> tasks.size / n,
      "sched.task_overhead_s" ->
        sumS(tasks.map(t => math.max(0L, (t.finishMs - t.launchMs) - t.runMs)), 1e3),
      "sched.driver_only_s" -> sumS(driverOnlyMs, 1e3),
      "exec.task_s" -> taskS,
      "exec.cpu_s" -> sumS(tasks.map(_.cpuNs), 1e9),
      "exec.busy_ratio" -> (if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "exec.maxtask_s" -> (if (tasks.isEmpty) 0.0 else tasks.map(t => t.finishMs - t.launchMs).max / 1e3),
      "exec.task_skew" -> taskSkew(tasks.groupBy(_.stage).map { case (k, v) =>
        k -> v.map(t => t.finishMs - t.launchMs) }),
      "exec.gc_s" -> sumS(tasks.map(_.gcMs), 1e3),
      "exec.alloc_gb" -> allocBytes / (mb * 1024.0) / n,
      "exec.peak_exec_mb" -> (if (tasks.isEmpty) 0.0 else tasks.map(_.peakExec).max / mb),
      "exec.spill_mb" -> tasks.map(_.memSpill).sum / mb / n,
      "exec.shuffle_write_mb" -> tasks.map(_.shufWrite).sum / mb / n,
      "exec.shuffle_read_mb" -> tasks.map(_.shufRead).sum / mb / n,
      "exec.input_mb" -> tasks.map(_.input).sum / mb / n)
  }
}
