package perfbench

import org.scalatest.funsuite.AnyFunSuite

import perfbench.Trace._

class TraceSpec extends AnyFunSuite {
  private def op(id: String, a: Double, b: Double,
                 phases: Seq[(String, Double, Double)] = Nil) =
    Op(id, s"kind-$id", a, b, phases, 0, 0, 0, 0, 0)

  private def task(stage: Int, launch: Double, run: Double = 1, in: Long = 0) =
    TaskDone(stage, launch, run, 0, 0, in, 0, 0, 0, 0, 0)

  test("covered length merges overlapping intervals and clips them") {
    assert(covered(0, 10, Seq((1, 3), (2, 5), (7, 8))) == 5)
    assert(covered(0, 10, Seq((-5, 2), (9, 20))) == 3)
    assert(covered(0, 10, Nil) == 0)
  }

  test("self time is the duration minus what the children cover") {
    val parent = Span(1, 0, "op1", "root", 0, 10)
    val kids = Seq(Span(2, 1, "op1", "a", 1, 3), Span(3, 1, "op1", "b", 2, 5),
      Span(4, 1, "op1", "c", 7, 8))
    assert(selfMs(parent, kids) == 5)
    assert(selfTimes(parent +: kids) == Map(1 -> 5.0, 2 -> 2.0, 3 -> 3.0, 4 -> 1.0))
  }

  // Two ops. Job 4 runs inside op2's time window but carries no job
  // group: a time-window heuristic would bill it to op2; the job group
  // says it belongs to no op.
  private val ops = Seq(
    op("op1", 0, 100, Seq(("queries.build", 0, 20), ("sink", 20, 100))),
    op("op2", 100, 200))
  private val recs = Records(
    jobs = Seq(
      JobStart(1, 10, Seq(10), Some("op1"), Some("queries.build")),
      JobStart(2, 28, Seq(11, 12), Some("op1"), Some("sink")),
      JobStart(3, 120, Seq(13), Some("op2"), None),
      JobStart(4, 130, Seq(14), None, None)),
    jobEnds = Seq(JobEnd(1, 15), JobEnd(2, 90), JobEnd(3, 140), JobEnd(4, 135)),
    stages = Seq(StageDone(10, 11, 14), StageDone(11, 30, 60), StageDone(12, 50, 80),
      StageDone(13, 121, 139), StageDone(14, 131, 134)),
    tasks = Seq(task(10, 12, in = 100), task(11, 31, in = 5), task(11, 40),
      task(12, 50), task(13, 125), task(14, 131)),
    qes = Seq(QeDone(7, Some("op1"), Map("analysis" -> (1.0, 3.0),
      "optimization" -> (21.0, 25.0), "planning" -> (25.0, 26.0)), 2),
      QeDone(8, None, Map("analysis" -> (0.0, 50.0)), 9)))

  test("jobs, stages and tasks are attributed by job group, not by time") {
    val m1 = opMetrics(ops(0), recs)
    assert(m1("operators.jobs") == 2 && m1("operators.stages") == 3)
    assert(m1("operators.tasks") == 4)
    assert(m1("sources.input_bytes") == 105)
    assert(m1("queries.build_jobs") == 1)
    assert(m1("queries.build_s") == 0.02)
    val m2 = opMetrics(ops(1), recs)
    assert(m2("operators.jobs") == 1 && m2("operators.tasks") == 1)
    assert(m2("operators.stages") == 1) // not job 4's stage 14
  }

  test("Catalyst phases and exchanges come from the op's own executions") {
    val m1 = opMetrics(ops(0), recs)
    assert(m1("plans.analysis_s") == 0.002)
    assert(m1("plans.optimizer_s") == 0.004)
    assert(m1("plans.planning_s") == 0.001)
    assert(m1("plans.exchanges") == 2)
    assert(opMetrics(ops(1), recs)("plans.exchanges") == 0)
  }

  test("idle time is op wall time with none of its stages running") {
    // op1 stages run 11-14 and 30-80 of 0-100: 53 ms covered
    assert(math.abs(opMetrics(ops(0), recs)("operators.idle_s") - 0.047) < 1e-12)
    assert(math.abs(idleS(ops(1), Seq(StageDone(13, 121, 139))) - 0.082) < 1e-12)
  }

  test("scheduling wait is task launch minus stage submission") {
    // stage 10: 12-11; stage 11: 31-30, 40-30; stage 12: 50-50
    assert(math.abs(opMetrics(ops(0), recs)("operators.sched_wait_s") - 0.012) < 1e-12)
  }

  test("spans nest jobs under their phase and stages under their job") {
    val ss = spans(ops, recs)
    val byName = ss.map(s => (s.op, s.name) -> s).toMap
    val root1 = byName(("op1", "kind-op1"))
    val sink = byName(("op1", "sink"))
    assert(sink.parent == root1.id)
    assert(byName(("op1", "job 2")).parent == sink.id)
    assert(byName(("op1", "stage 12")).parent == byName(("op1", "job 2")).id)
    assert(byName(("op1", "plans.analysis")).parent == root1.id)
    assert(byName(("op2", "job 3")).parent == byName(("op2", "kind-op2")).id)
    assert(!ss.exists(_.name == "job 4")) // no job group: no op
    val self = selfTimes(ss)
    assert(self(root1.id) == 0) // build and sink cover op1
    assert(self(sink.id) == 80 - 62) // job 2 covers 28-90 of the sink's 20-100
  }

  test("per-op means cover every per-layer metric") {
    val m = meanPerOp(ops, recs)
    assert(m.keySet == LayerUnits.map(_._1).toSet)
    assert(m("operators.jobs") == 1.5)
  }
}
