package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SqlEvents

/** The traced run's model: Spark events reduced to plain records, spans,
  * and the per-layer metrics derived from them. Everything below the
  * listeners is a pure function of the records, so it is unit-tested
  * from synthetic events.
  *
  * Attribution: the harness sets the op id as the Spark job group before
  * each op and a `perfbench.phase` local property before each phase.
  * Spark copies both into every job's start properties, so a job, its
  * stages and their tasks belong to exactly the op and phase that started
  * them, however late the events arrive.
  */
object Trace {
  val PhaseProp = "perfbench.phase"

  // --- records --------------------------------------------------------
  final case class JobStart(jobId: Int, timeMs: Double, stageIds: Seq[Int],
                            group: Option[String], phase: Option[String])
  final case class JobEnd(jobId: Int, timeMs: Double)
  final case class StageDone(stageId: Int, submitMs: Double, completeMs: Double)
  final case class TaskDone(stageId: Int, launchMs: Double, runMs: Double,
                            cpuNs: Long, gcMs: Double, inputBytes: Long,
                            inputRows: Long, shuffleRead: Long,
                            shuffleWrite: Long, spill: Long, peakMem: Long)
  /** A finished SQL execution: its job group (the op), Catalyst phase
    * intervals, and shuffle exchanges in its executed plan.
    */
  final case class QeDone(execId: Long, group: Option[String],
                          phases: Map[String, (Double, Double)], exchanges: Int)
  /** One op as the harness saw it: its wall interval, the phases it
    * timed itself (`queries.build`, `sink`, `etl.*`, `operators.graph_*`)
    * and the JVM figures sampled around it.
    */
  final case class Op(id: String, kind: String, startMs: Double, endMs: Double,
                      phases: Seq[(String, Double, Double)],
                      gcMs: Double, jitMs: Double, heapMb: Double,
                      cachedBytes: Long, artifactBytes: Long)

  final case class Span(id: Int, parent: Int, op: String, name: String,
                        startMs: Double, endMs: Double) {
    def durMs: Double = endMs - startMs
  }

  final case class Records(jobs: Seq[JobStart], jobEnds: Seq[JobEnd],
                           stages: Seq[StageDone], tasks: Seq[TaskDone],
                           qes: Seq[QeDone])

  // --- interval arithmetic --------------------------------------------
  /** Length of the union of `xs` clipped to [lo, hi]. */
  def covered(lo: Double, hi: Double, xs: Seq[(Double, Double)]): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total, curA, curB = 0.0
    var open = false
    clipped.foreach { case (a, b) =>
      if (open && a <= curB) curB = math.max(curB, b)
      else {
        if (open) total += curB - curA
        curA = a; curB = b; open = true
      }
    }
    if (open) total += curB - curA
    total
  }

  /** A span's duration minus the part its children cover. */
  def selfMs(span: Span, children: Seq[Span]): Double =
    span.durMs - covered(span.startMs, span.endMs, children.map(c => (c.startMs, c.endMs)))

  // --- attribution ----------------------------------------------------
  /** Stage id → the first job that listed it. */
  def stageJobs(r: Records): Map[Int, Int] =
    r.jobs.sortBy(_.jobId).reverse.flatMap(j => j.stageIds.map(_ -> j.jobId)).toMap

  // --- spans ----------------------------------------------------------
  /** The span tree of every op: a root span per op; under it the
    * harness-timed phases and the plans.* phases; under a phase the
    * Spark jobs it started; under a job its stages.
    */
  def spans(ops: Seq[Op], r: Records): Seq[Span] = {
    val out = Vector.newBuilder[Span]
    var next = 0
    def add(parent: Int, op: String, name: String, a: Double, b: Double): Int = {
      next += 1; out += Span(next, parent, op, name, a, b); next
    }
    val jobEnd = r.jobEnds.map(e => e.jobId -> e.timeMs).toMap
    val stageById = r.stages.map(s => s.stageId -> s).toMap
    val firstJob = stageJobs(r)
    val jobsByOp = r.jobs.filter(_.group.isDefined).groupBy(_.group.get)
    val qesByOp = r.qes.filter(_.group.isDefined).groupBy(_.group.get)
    ops.foreach { op =>
      val root = add(0, op.id, op.kind, op.startMs, op.endMs)
      val phaseIds = op.phases.map { case (n, a, b) => n -> add(root, op.id, n, a, b) }.toMap
      qesByOp.getOrElse(op.id, Nil).foreach { q =>
        q.phases.foreach { case (n, (a, b)) => add(root, op.id, s"plans.$n", a, b) }
      }
      jobsByOp.getOrElse(op.id, Nil).foreach { j =>
        val parent = j.phase.flatMap(phaseIds.get).getOrElse(root)
        val jid = add(parent, op.id, s"job ${j.jobId}", j.timeMs,
          jobEnd.getOrElse(j.jobId, j.timeMs))
        // a stage a later job reuses (skipped there) stays under its first job
        j.stageIds.filter(firstJob.get(_).contains(j.jobId)).flatMap(stageById.get).foreach { s =>
          add(jid, op.id, s"stage ${s.stageId}", s.submitMs, s.completeMs)
        }
      }
    }
    out.result()
  }

  /** Self time of every span, keyed by span id. */
  def selfTimes(all: Seq[Span]): Map[Int, Double] = {
    val kids = all.groupBy(_.parent)
    all.map(s => s.id -> selfMs(s, kids.getOrElse(s.id, Nil))).toMap
  }

  // --- per-layer metrics ----------------------------------------------
  /** The per-layer metric names, in report order, with their units. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.build_jobs" -> "count",
    "plans.analysis_s" -> "s", "plans.optimizer_s" -> "s",
    "plans.planning_s" -> "s", "plans.exchanges" -> "count",
    "sources.input_bytes" -> "B", "sources.input_rows" -> "count",
    "operators.jobs" -> "count", "operators.stages" -> "count",
    "operators.tasks" -> "count", "operators.task_s" -> "s",
    "operators.cpu_s" -> "s", "operators.gc_s" -> "s",
    "operators.sched_wait_s" -> "s", "operators.idle_s" -> "s",
    "operators.shuffle_read_bytes" -> "B", "operators.shuffle_write_bytes" -> "B",
    "operators.spill_bytes" -> "B", "operators.peak_exec_mem_bytes" -> "B",
    "operators.cached_bytes_end" -> "B", "operators.graph_delta_s" -> "s",
    "operators.graph_save_s" -> "s", "operators.graph_load_s" -> "s",
    "operators.artifact_bytes" -> "B", "etl.parse_s" -> "s",
    "etl.validate_s" -> "s", "etl.transform_s" -> "s", "etl.serialize_s" -> "s",
    "etl.jobs" -> "count", "jvm.gc_s" -> "s", "jvm.jit_s" -> "s",
    "jvm.heap_used_mb" -> "MB")

  /** Every per-layer metric of one op. Sums, except the peak and
    * end-of-op figures, which are levels.
    */
  def opMetrics(op: Op, r: Records): Map[String, Double] = {
    val jobs = r.jobs.filter(_.group.contains(op.id))
    val jobIds = jobs.map(_.jobId).toSet
    val sj = stageJobs(r)
    val stages = r.stages.filter(s => sj.get(s.stageId).exists(jobIds))
    val stageSubmit = stages.map(s => s.stageId -> s.submitMs).toMap
    val tasks = r.tasks.filter(t => stageSubmit.contains(t.stageId))
    val qes = r.qes.filter(_.group.contains(op.id))
    def phaseS(name: String) =
      op.phases.collect { case (n, a, b) if n == name => b - a }.sum / 1000
    def qeS(name: String) =
      qes.flatMap(_.phases.get(name)).map { case (a, b) => b - a }.sum / 1000
    Map(
      "queries.build_s" -> phaseS("queries.build"),
      "queries.build_jobs" -> jobs.count(_.phase.contains("queries.build")).toDouble,
      "plans.analysis_s" -> qeS("analysis"),
      "plans.optimizer_s" -> qeS("optimization"),
      "plans.planning_s" -> qeS("planning"),
      "plans.exchanges" -> qes.map(_.exchanges).sum.toDouble,
      "sources.input_bytes" -> tasks.map(_.inputBytes).sum.toDouble,
      "sources.input_rows" -> tasks.map(_.inputRows).sum.toDouble,
      "operators.jobs" -> jobs.size.toDouble,
      "operators.stages" -> stages.size.toDouble,
      "operators.tasks" -> tasks.size.toDouble,
      "operators.task_s" -> tasks.map(_.runMs).sum / 1000,
      "operators.cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "operators.gc_s" -> tasks.map(_.gcMs).sum / 1000,
      "operators.sched_wait_s" ->
        tasks.map(t => math.max(0.0, t.launchMs - stageSubmit(t.stageId))).sum / 1000,
      "operators.idle_s" -> idleS(op, stages),
      "operators.shuffle_read_bytes" -> tasks.map(_.shuffleRead).sum.toDouble,
      "operators.shuffle_write_bytes" -> tasks.map(_.shuffleWrite).sum.toDouble,
      "operators.spill_bytes" -> tasks.map(_.spill).sum.toDouble,
      "operators.peak_exec_mem_bytes" -> (0L +: tasks.map(_.peakMem)).max.toDouble,
      "operators.cached_bytes_end" -> op.cachedBytes.toDouble,
      "operators.graph_delta_s" -> (phaseS("operators.graph_delta_remove") +
        phaseS("operators.graph_delta_add")),
      "operators.graph_save_s" -> phaseS("operators.graph_save"),
      "operators.graph_load_s" -> phaseS("operators.graph_load"),
      "operators.artifact_bytes" -> op.artifactBytes.toDouble,
      "etl.parse_s" -> phaseS("etl.parse"),
      "etl.validate_s" -> phaseS("etl.validate"),
      "etl.transform_s" -> phaseS("etl.transform"),
      "etl.serialize_s" -> phaseS("etl.serialize"),
      "etl.jobs" -> jobs.count(_.phase.exists(_.startsWith("etl."))).toDouble,
      "jvm.gc_s" -> op.gcMs / 1000,
      "jvm.jit_s" -> op.jitMs / 1000,
      "jvm.heap_used_mb" -> op.heapMb)
  }

  /** Op wall time during which none of its stages was running:
    * round-trips, planning, and waits between supersteps.
    */
  def idleS(op: Op, stages: Seq[StageDone]): Double =
    (op.endMs - op.startMs -
      covered(op.startMs, op.endMs, stages.map(s => (s.submitMs, s.completeMs)))) / 1000

  /** Mean per op of every per-layer metric over `ops`. */
  def meanPerOp(ops: Seq[Op], r: Records): Map[String, Double] = {
    val per = ops.map(opMetrics(_, r))
    LayerUnits.map { case (k, _) =>
      k -> (if (per.isEmpty) 0.0 else per.map(_(k)).sum / per.size)
    }.toMap
  }

  // --- listener -----------------------------------------------------
  /** Collects the records while `on`; ignores events while off. The
    * Catalyst phases come from the QueryExecution each SQL execution-end
    * event carries (the one a QueryExecutionListener would get); its
    * execution id links it to the job group its start event recorded.
    */
  final class Recorder extends SparkListener {
    @volatile var on = false
    private val jobs = new ConcurrentLinkedQueue[JobStart]
    private val jobEnds = new ConcurrentLinkedQueue[JobEnd]
    private val stages = new ConcurrentLinkedQueue[StageDone]
    private val tasks = new ConcurrentLinkedQueue[TaskDone]
    private val qes = new ConcurrentLinkedQueue[QeDone]
    private val execGroups = new java.util.concurrent.ConcurrentHashMap[Long, String]

    def records: Records = Records(jobs.asScala.toSeq, jobEnds.asScala.toSeq,
      stages.asScala.toSeq, tasks.asScala.toSeq, qes.asScala.toSeq)

    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.add(JobStart(e.jobId, e.time.toDouble, e.stageIds,
        prop("spark.jobGroup.id"), prop(PhaseProp)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (on) jobEnds.add(JobEnd(e.jobId, e.time.toDouble))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) {
      val i = e.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime)
        stages.add(StageDone(i.stageId, a.toDouble, b.toDouble))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskDone(e.stageId, e.taskInfo.launchTime.toDouble,
        m.executorRunTime.toDouble, m.executorCpuTime, m.jvmGCTime.toDouble,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.peakExecutionMemory))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (on) e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(execGroups.put(s.executionId, _))
      case x: SparkListenerSQLExecutionEnd =>
        SqlEvents.qe(x).foreach { qe =>
          qes.add(QeDone(x.executionId, Option(execGroups.remove(x.executionId)),
            qe.tracker.phases.map { case (k, v) =>
              k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) }, exchanges(qe)))
        }
      case _ => ()
    }
  }

  /** Shuffle exchanges in the executed plan, through AQE stages. */
  def exchanges(qe: QueryExecution): Int = {
    def count(p: org.apache.spark.sql.execution.SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case s: QueryStageExec => count(s.plan)
      case x: ShuffleExchangeLike => 1 + x.children.map(count).sum
      case x => x.children.map(count).sum + x.subqueries.map(count).sum
    }
    try count(qe.executedPlan) catch { case _: Throwable => 0 }
  }
}
