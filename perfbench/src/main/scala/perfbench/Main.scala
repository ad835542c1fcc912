package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import graft.{LocalSession, SparkEntry}

/** One benchmark run of one workload, in one JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --data DIR --run DIR --rev REV
  *
  * `--data` holds the fixture tables, `--run` is the run's private
  * directory (java.io.tmpdir, spark.local.dir, checkpoints, warehouse and
  * result dumps live under it). Writes `result.json` (and `trace.json`
  * for a traced run) into `--run`; `run.py` checks the dumped results and
  * prints the benchmark's result line.
  *
  * `--oracle FILE` instead writes the DuckDB oracle SQL of every row the
  * workloads run, for the expected-value generator.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    a.get("oracle") match {
      case Some(f) => writeOracle(new File(f))
      case None => run(a)
    }
  }

  private def writeOracle(f: File): Unit = {
    val names = Workloads.Names.flatMap(Workloads(_).rows).distinct.sorted
    val sql = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _))
    Files.write(f.toPath, Json(mutable.LinkedHashMap(sql: _*)).getBytes(UTF_8))
  }

  private def run(a: Map[String, String]): Unit = {
    val workload = Workloads(a("workload"))
    val seed = a("seed").toLong
    val trace = a.getOrElse("trace", "0") == "1"
    val runDir = new File(a("run")).getAbsoluteFile
    val dumpDir = new File(runDir, "dump")
    val spark = LocalSession.create("4", Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.local.dir" -> new File(runDir, "local").getPath,
      "spark.sql.warehouse.dir" -> new File(runDir, "warehouse").getPath))
    spark.sparkContext.setCheckpointDir(new File(runDir, "checkpoint").getPath)
    val sessionS = sinceJvmStart()
    val recorder = new Trace.Recorder
    if (trace) spark.sparkContext.addSparkListener(recorder)
    val runner = new Runner(spark, recorder)
    val ctx = Ctx(runner, seed, a("seconds").toDouble, trace,
      new File(a("data")).getAbsolutePath, dumpDir)
    val out = new Outcome
    try {
      workload.setup(ctx, out)
      System.gc()
      runner.quiesceJit(maxS = 5)
      val setupS = sinceJvmStart()
      out.detail("session_s") = sessionS
      workload.window(ctx, out)
      // set-up ops are not recorded, so every sample is a timed op
      val result = report(workload.name, seed, trace, a.getOrElse("rev", "unknown"),
        setupS, runner.samples.toSeq, out, runner, runDir)
      Files.write(new File(runDir, "result.json").toPath, Json(result).getBytes(UTF_8))
    } finally spark.stop()
  }

  private def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  private def report(name: String, seed: Long, trace: Boolean, rev: String,
                     setupS: Double, timed: Seq[Runner.Sample], o: Outcome,
                     runner: Runner, runDir: File): mutable.LinkedHashMap[String, Any] = {
    val rt = Runtime.getRuntime
    val failed = timed.count(_.failure.isDefined)
    val e2e = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS,
      "pass_s" -> Stats.medianOption(o.passS.toSeq),
      "op_p50_s" -> Stats.medianOption(o.latencyS.toSeq),
      "op_p90_s" -> Stats.p90(o.latencyS.toSeq),
      "op_samples" -> o.latencyS.size,
      "passes" -> o.passS.size,
      "cpu_per_op_s" -> (if (o.cpuS.isEmpty) None else Some(o.cpuS.sum / o.cpuS.size)),
      "peak_heap_mb" -> o.heapAfterGcMb.max,
      "failed_frac" -> failed.toDouble / math.max(1, timed.size))
    e2e ++= o.detail
    val res = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "trace" -> trace,
      "stamp" -> mutable.LinkedHashMap(
        "cores" -> rt.availableProcessors, "master" -> runner.spark.sparkContext.master,
        "heap_max_mb" -> rt.maxMemory / 1048576,
        "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.version")}",
        "spark" -> runner.spark.version, "rev" -> rev, "workload" -> name, "seed" -> seed),
      "attempted" -> timed.size, "failed" -> failed,
      "failures" -> (o.failures.map { case (k, v) => s"$k: $v" } ++
        timed.flatMap(s => s.failure.map(f => s"${s.kind}: $f"))).distinct,
      "dumped" -> o.dumped,
      "op_counts" -> timed.groupBy(_.kind).map { case (k, v) => k -> v.size },
      "end_to_end" -> e2e)
    if (trace) {
      val r = runner.recorder.records
      val ops = runner.traced.toSeq
      res("trace_overhead") = for (t <- Stats.medianOption(o.tracedPassS.toSeq);
                                   u <- Stats.medianOption(o.passS.toSeq)) yield t / u
      res("per_layer") = Trace.meanPerOp(ops, r)
      res("per_layer_by_op") = mutable.LinkedHashMap(ops.groupBy(_.kind).toSeq.sortBy(_._1)
        .map { case (k, xs) => k -> Trace.meanPerOp(xs, r) }: _*)
      res("read_split") = readSplit(ops, r)
      res("units") = mutable.LinkedHashMap(Trace.LayerUnits: _*)
      val spans = Trace.spans(ops, r)
      val self = Trace.selfTimes(spans)
      Files.write(new File(runDir, "trace.json").toPath, Json(spans.map(s => mutable.LinkedHashMap(
          "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
          "start_ms" -> s.startMs, "dur_ms" -> s.durMs, "self_ms" -> self(s.id))))
        .getBytes(UTF_8))
    }
    res
  }

  /** How each op type's mean wall time splits between DataFrame build,
    * Catalyst (analysis, optimization, planning), stage execution and
    * idle time with no stage running. The parts can overlap: planning runs inside the
    * build and the sink.
    */
  private def readSplit(ops: Seq[Trace.Op], r: Trace.Records) =
    mutable.LinkedHashMap(ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, xs) =>
      val m = Trace.meanPerOp(xs, r)
      val wall = xs.map(o => o.endMs - o.startMs).sum / xs.size / 1000
      k -> mutable.LinkedHashMap("wall_s" -> wall, "build_s" -> m("queries.build_s"),
        "planning_s" -> (m("plans.analysis_s") + m("plans.optimizer_s") + m("plans.planning_s")),
        "execution_s" -> (wall - m("operators.idle_s")), "idle_s" -> m("operators.idle_s"))
    }: _*)
}
