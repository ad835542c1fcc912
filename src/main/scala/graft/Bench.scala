package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Bench main (driver contract): time every registered query at the sf dir
  * given by SPARK_GRAFT_SF_DIR.
  *
  * Each query is forced through the `noop` sink — a plain `.count()` lets
  * Catalyst prune the computed columns away and would time a different
  * (cheaper) plan than the one users run.
  *
  * Output (round-1 lesson: the driver reads a bounded TAIL of stdout, and
  * a single 2.4 KB JSON line got its head truncated → `parsed: null`):
  *   1. one long line `{"metric":"detail","queries":{...}}` with every
  *      per-query time (the same JSON — plus per-query executor metrics —
  *      is written to BENCH_DETAIL.json on FULL-surface runs only, so a
  *      single-query iteration run can no longer clobber the round's
  *      full-surface detail, the r11 footgun);
  *   2. LAST, a short parseable summary line `{"metric":"total",...}`.
  *
  * Declared-baseline split (round-12): `SparkEntry.baselineQueries` (the
  * deliberate quadratic oracle surfaces) are reported apart from the
  * production engine — `engine_sec` + `baseline_sec` in both lines — so
  * the headline measures the engine and the baselines stay priced, not
  * hidden.
  *
  * Built-in regression canary (round-12): a full-surface run diffs its
  * per-query times against the archived previous-round detail (newest
  * `BENCH_DETAIL_r*.json` in cwd, or SPARK_GRAFT_PREV_DETAIL) with the
  * bench_diff envelope (≥1.5× AND ≥0.5 s) and emits the offenders into
  * the detail JSON (`"regressions"`) and stderr — the canary runs
  * whenever the bench runs, not when someone remembers the script.
  * Lane discipline: the diff is skipped (with a note) when the sf dirs
  * differ.
  *
  * Per-query executor metrics (round-12): a SparkListener accumulates
  * task metrics (shuffle read/write, spill, input, peak execution
  * memory, task count) attributed to the query running at task-end
  * time; queries run serially and the bus is drained to quiescence
  * between queries, so attribution is exact up to listener-delivery
  * stragglers. Captured on the FIRST timed sweep only — bytes are plan
  * properties, not noise, so one sample suffices and later sweeps stay
  * unperturbed. A scale-killer (new spill, shuffle-bytes blowup) now
  * shows numerically even when wall-time noise hides it.
  *
  * Optional args: query names to run (default: all) — local iteration aid;
  * an unknown name fails the run ([[SparkEntry.select]]).
  */
object Bench {
  /** Per-query executor-metric totals (bytes / counts). */
  final class QueryMetrics {
    var shuffleRead, shuffleWrite, spillMem, spillDisk, input, tasks = 0L
    var peakMem = 0L
    def json: String =
      s"""{"shuffle_read":$shuffleRead,"shuffle_write":$shuffleWrite,""" +
        s""""spill_mem":$spillMem,"spill_disk":$spillDisk,"input":$input,""" +
        s""""peak_mem":$peakMem,"tasks":$tasks}"""
  }

  /** Accumulates task metrics into whichever query's sink is armed. */
  final class MetricsListener extends SparkListener {
    @volatile var sink: QueryMetrics = _
    val events = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val s = sink
      val m = e.taskMetrics
      if (s != null && m != null) s.synchronized {
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spillMem += m.memoryBytesSpilled
        s.spillDisk += m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.tasks += 1
      }
    }
    /** Times [[quiesce]] gave up at the 1 s cap with events still
      * arriving — each one is a window where a straggling task-end may
      * have been attributed to the WRONG query. Recorded in the detail
      * JSON so a tripped metric canary can be cross-checked against
      * delivery health instead of trusted blindly.
      */
    val quiesceTimeouts = new java.util.concurrent.atomic.AtomicLong
    /** Listener delivery is async: wait until no event has arrived for
      * two consecutive 20 ms windows (≈40 ms/query; bounded 1 s).
      */
    def quiesce(): Unit = {
      var (last, stable, waited) = (-1L, 0, 0)
      while (stable < 2 && waited < 1000) {
        Thread.sleep(20); waited += 20
        val n = events.get
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      if (stable < 2) { quiesceTimeouts.incrementAndGet(); () }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Bounded baseline lane (round-13): the declared-quadratic oracle
    // baselines (SparkEntry.baselineQueries) may run at a SMALLER dial
    // than the engine queries — at the 100× capstone they otherwise
    // consume more wall-clock than the 181 production queries combined
    // (r12: 1288 s of 2163 s) measuring algorithms the registry itself
    // declares non-scale. Their dir is recorded in the output
    // (`baseline_sf`), and they are excluded from the canary diff when
    // the lanes differ. Unset ⇒ identical behavior to before.
    val baselineDir = sys.env.getOrElse("SPARK_GRAFT_BASELINE_SF_DIR", sfDir)
    def dirFor(name: String): String =
      if (SparkEntry.baselineQueries(name)) baselineDir else sfDir
    val selected = SparkEntry.select(args.toSeq)
    val spark = LocalSession.create("4",
      Map("spark.sql.adaptive.enabled" -> "true"))
    // Warm-up pass at the smallest SF: whole-stage codegen keys on the
    // generated SOURCE (identical across data dirs for the same plan), so
    // one tiny-data pass populates the Janino cache and JITs the hot
    // paths. Measured times below are then steady-state data cost, not
    // one-time JVM compilation (measured: dedup_minhash 14.2 s cold vs
    // 3.6 s warm on identical data — the gap is compile, not the plan).
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    selected.foreach { case (name, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $name failed: ${e.getMessage}")
      }
    }
    val listener = new MetricsListener
    spark.sparkContext.addSparkListener(listener)
    val metrics = scala.collection.mutable.Map[String, QueryMetrics]()
    // Best-of-N per query (round-5 lesson): a single timed pass makes the
    // official record hostage to one-shot VM noise — driver r5 read 9
    // queries at >2x their reproducible steady-state times (tpch_q5 8.11 s
    // one-shot vs 1.67 s steady). The min of two passes absorbs a
    // transient stall in either pass while still timing the same plan;
    // a REAL regression shows up in both passes and survives the min.
    //
    // TIME-SEPARATED sweeps (round-6 lesson): r6 ran a query's two passes
    // back-to-back, so a sustained VM stall spanned BOTH passes and
    // defeated the min — the r6 driver record carried ~40 s of fake cost
    // on six alphabetically CONTIGUOUS fn_* queries that read 0.3–0.9 s
    // clean. Sweep-major order (pass 1 over ALL queries, then pass 2)
    // places a query's passes minutes apart: a stall now has to span the
    // whole bench to survive.
    val timedRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.trim.toIntOption).getOrElse(2).max(1)
    // Execution lane (round-15, verdict #3): BENCH_r14's driver run read
    // n_regressed=3 against a clean builder archive because the two runs
    // shared an sf dir but NOT an execution lane (driver cpus=32 vs the
    // archive's local[4]) — per-query times at different parallelism are
    // not comparable at the 1.5× envelope. The lane is recorded in the
    // detail archive and the canary skips (loudly) when it differs.
    val laneCpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").trim
    val laneHeavy = if (timedRuns < 2)
      sys.env.get("SPARK_GRAFT_BENCH_HEAVY_RERUNS")
        .flatMap(_.trim.toIntOption).getOrElse(10)
    else 0
    val order = selected.toSeq.sortBy(_._1)
    def timeOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame,
        captureMetrics: Boolean): (Double, Boolean) = {
      if (captureMetrics) {
        listener.quiesce() // drain the PREVIOUS query's stragglers first
        listener.sink = metrics.getOrElseUpdate(name, new QueryMetrics)
      }
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, dirFor(name)).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      if (captureMetrics) { listener.quiesce(); listener.sink = null }
      (dt, ok)
    }
    // Shuffle-file release between passes (round-16): shuffle files are
    // freed by the ContextCleaner only when the owning RDDs are GC'd —
    // a JVM with 48 GiB of headroom may not GC for many minutes, so a
    // query whose plan shuffles ~130 GB (the scale100 triangle wedge
    // exchange) accumulates one full generation PER PASS and the third
    // pass fills the 252 GB disk ("No space left on device", observed).
    // One explicit GC between sweeps / before a retry pass releases the
    // finished generation; it runs OUTSIDE any timed window.
    def releaseShuffles(): Unit = { System.gc(); Thread.sleep(200) }
    val sweeps = (1 to timedRuns).map { i =>
      if (i > 1) releaseShuffles()
      order.map { case (n, fn) => timeOne(n, fn, i == 1) }
    }
    val passes: Map[String, Seq[(Double, Boolean)]] =
      order.map(_._1).zipWithIndex
        .map { case (n, i) => n -> sweeps.map(_(i)) }.toMap
    // Contention retry (round-10 lesson): BENCH_r09's driver total read
    // 168.9 s where the same commit benched 113.4 s quiet — pure machine
    // contention, spread across queries. When a query's two sweep passes
    // DISAGREE by >30%, at least one of them was contended, so the min
    // itself is suspect; give exactly those queries one more targeted
    // pass (bounded to the 12 heaviest by min — they carry the total's
    // absolute noise; agreeing queries don't pay a third run). The extra
    // pass runs minutes after the sweeps, so it is a third time window.
    val retried: Map[String, Seq[(Double, Boolean)]] =
      if (timedRuns < 2) {
        // Heavy-tail min-of-2 for single-sweep lanes (round 14): the
        // capstone runs SPARK_GRAFT_BENCH_RUNS=1 (a full 100× sweep is
        // ~25 min), which made its most expensive rows hostage to
        // one-shot iterative-job variance — r13's graph_pagerank read
        // 175.8 s in the capstone vs 98.2 s on a quiet same-lane re-run
        // of identical code (~80% noise in the headline's biggest row).
        // Re-run the N most expensive ENGINE queries once (minutes
        // after their first pass — a separate time window, the sweep
        // discipline) and take the min; the cheap tail and the
        // bounded-dial baselines don't pay a second pass.
        val heavy = order.filter { case (n, _) =>
          !SparkEntry.baselineQueries(n) && passes(n).exists(_._2)
        }.sortBy { case (n, _) => -passes(n).filter(_._2).map(_._1).min }
          .take(math.max(0, laneHeavy))
        // The declared baselines get the SAME min-of-2 discipline
        // (round-15, verdict #5): r14's capstone read join_theta at a
        // one-shot 64.7 s that a quiet re-run halved — baseline_sec
        // doubled round-over-round on unchanged code, pure stall noise.
        // Only 5 queries at the bounded dial; the second pass is cheap
        // next to the comparability it buys.
        val base2 = order.filter { case (n, _) =>
          SparkEntry.baselineQueries(n) && passes(n).exists(_._2) }
        val rerun = heavy ++ base2
        if (rerun.nonEmpty) System.err.println(
          s"[bench] heavy-tail re-run (single-sweep lane) for ${rerun.size} " +
            s"queries (${base2.size} baselines): ${rerun.map(_._1).mkString(", ")}")
        rerun.map { case (n, fn) =>
          releaseShuffles()
          n -> (passes(n) :+ timeOne(n, fn, false)) }.toMap
      }
      else {
        val suspects = order.filter { case (n, _) =>
          val good = passes(n).filter(_._2).map(_._1)
          good.size >= 2 && good.min > 0.5 && good.max / good.min > 1.3
        }.sortBy { case (n, _) => -passes(n).filter(_._2).map(_._1).min }
          .take(12)
        if (suspects.nonEmpty) System.err.println(
          s"[bench] contention retry for ${suspects.size} queries: " +
            suspects.map(_._1).mkString(", "))
        suspects.map { case (n, fn) =>
          releaseShuffles()
          n -> (passes(n) :+ timeOne(n, fn, false)) }.toMap
      }
    val allPasses = passes ++ retried
    // Per-pass times to stderr (round-16): the min hides WHICH pass won
    // — a steady-state `_idx` query whose passes read 11.3/11.5 when its
    // isolated steady state is 4.3 is a co-residency finding (cache
    // eviction between sweeps), invisible in the min-only record.
    order.foreach { case (n, _) =>
      val ps = allPasses(n).map { case (t, ok) =>
        f"$t%.2f${if (ok) "" else "!"}" }.mkString("/")
      System.err.println(s"[bench] passes $n: $ps")
    }
    // A failed pass must NOT win the min: an error that aborts in 0.3 s
    // would otherwise read as a fake speedup. If EVERY pass failed, the
    // query lands in the JSON's `failed` list (not just on stderr) and
    // its recorded time is the min elapsed — visible failure, unpoisoned
    // total.
    val results = order.map { case (name, _) =>
      val p = allPasses(name)
      val good = p.filter(_._2).map(_._1)
      name -> (if (good.nonEmpty) good.min else p.map(_._1).min)
    }
    val failed = order.map(_._1).filter(n => allPasses(n).forall(!_._2))
    // Locale.ROOT: the f-interpolator is locale-sensitive and a
    // comma-decimal JVM locale would emit unparseable JSON.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Declared-baseline split: the headline measures the engine.
    val baseline = SparkEntry.baselineQueries
    val baselineSec = results.filter(r => baseline(r._1)).map(_._2).sum
    val engineSec = total - baselineSec
    val baselineJson = results.map(_._1).filter(baseline)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Built-in canary: diff against the archived previous-round detail.
    val curLane = (laneCpus, timedRuns, laneHeavy)
    val prevParsed = prevDetail()
    val regressions: Seq[(String, Double, Double)] =
      if (args.nonEmpty) Nil
      else prevParsed match {
        case Some((path, _, _, prevLane, _)) if !laneComparable(prevLane, curLane) =>
          System.err.println(
            s"[bench] canary skipped: $path ran lane (cpus,runs,heavy)=" +
              s"${prevLane.get}, this run is $curLane — per-query times at " +
              "different parallelism/min-of-N are not envelope-comparable")
          Nil
        case Some((path, prevSf, prevBaselineSf, _, prevQ)) if prevSf == sfDir =>
          val r = results.flatMap { case (n, c) =>
            // a baseline whose lane differed from the engine lane in
            // EITHER run is not comparable: this run's bounded dial
            // (dirFor != sfDir) was the original guard; the archived
            // run's bounded dial (prevBaselineSf != prevSf) is the
            // ADVICE r13 gap — a capstone archive's bounded-dial
            // baseline times must not be diffed against a later
            // full-dial run at the "same" sf (false flags one way,
            // masked regressions the other)
            if (dirFor(n) != sfDir ||
                (baseline(n) && prevBaselineSf != prevSf)) None
            else prevQ.get(n) match {
              case Some(p) if p > 0 && c >= 1.5 * p && c - p >= 0.5 => Some((n, p, c))
              case _ => None
            }
          }
          r.foreach { case (n, p, c) => System.err.println(
            f"[bench] REGRESSION $n: $p%.2f s -> $c%.2f s (x${c / p}%.2f) vs $path") }
          if (r.isEmpty) System.err.println(
            s"[bench] canary clean vs $path (>=1.5x and >=0.5s envelope)")
          r
        case Some((path, prevSf, _, _, _)) =>
          System.err.println(
            s"[bench] canary skipped: $path is lane $prevSf, this run is $sfDir")
          Nil
        case None =>
          System.err.println("[bench] canary skipped: no previous detail found")
          Nil
      }
    val regJson = regressions.map { case (n, p, c) =>
      s"""["$n",${fmt(p)},${fmt(c)}]""" }.mkString("[", ",", "]")
    // Cumulative drift canary (round-16, verdict #6): sub-envelope drift
    // COMPOUNDS invisibly round over round — r15's join_bucketed went
    // 0.69 → 0.94 s (1.36×) under the per-round ≥1.5× envelope; three
    // such rounds are a silent 2.5×. Diff this run against the OLDEST
    // same-lane archive too, at a ≥2× AND ≥0.5 s envelope, naming the
    // window. Skipped (loudly) when the oldest comparable archive IS the
    // newest one already diffed — a one-archive window adds nothing.
    val (cumulative, cumulativeWindow):
        (Seq[(String, Double, Double)], Option[String]) =
      if (args.nonEmpty) (Nil, None)
      else oldestComparable(sfDir, curLane, archivePaths()) match {
        // degenerate-window check compares CANONICAL paths (ADVICE r16):
        // prevDetail()'s path may come from SPARK_GRAFT_PREV_DETAIL or
        // differ only in formatting ('./x.json' vs 'x.json'), and a raw
        // string compare would double-report the same archive as both
        // windows
        case Some((path, oldQ))
            if !prevParsed.map(t => canonPath(t._1)).contains(canonPath(path)) =>
          val r = cumulativeRegressions(results.toMap, oldQ,
            n => dirFor(n) != sfDir)
          r.foreach { case (n, p, c) => System.err.println(
            f"[bench] CUMULATIVE REGRESSION $n: $p%.2f s ($path) -> " +
              f"$c%.2f s (x${c / p}%.2f) — sub-envelope drift compounded") }
          if (r.isEmpty) System.err.println(
            s"[bench] cumulative canary clean vs $path " +
              "(window oldest..now, >=2x and >=0.5s envelope)")
          (r, Some(path))
        case Some((path, _)) =>
          System.err.println(
            s"[bench] cumulative canary skipped: oldest comparable archive " +
              s"$path is the newest one already diffed (degenerate window)")
          (Nil, None)
        case None =>
          System.err.println(
            "[bench] cumulative canary skipped: no older same-lane archive")
          (Nil, None)
      }
    val cumJson = cumulative.map { case (n, p, c) =>
      s"""["$n",${fmt(p)},${fmt(c)}]""" }.mkString("[", ",", "]")
    val cumWindowJson = cumulativeWindow
      .map(p => s""""$p"""").getOrElse("null")
    val head =
      s""""unit":"sec","sf":"$sfDir","baseline_sf":"$baselineDir",""" +
        s""""lane":{"cpus":"$laneCpus","runs":$timedRuns,"heavy_reruns":$laneHeavy},""" +
        s""""failed":$failedJson,"baseline":$baselineJson,""" +
        s""""engine_sec":${fmt(engineSec)},"baseline_sec":${fmt(baselineSec)},""" +
        s""""regressions":$regJson,"regressions_cumulative":$cumJson,""" +
        s""""cumulative_window":$cumWindowJson"""
    // stdout detail stays times-only (the driver tails stdout); the FILE
    // adds per-query executor metrics, and only a FULL-surface run may
    // write it.
    println(s"""{"metric":"detail",$head,"queries":$qs}""")
    if (args.isEmpty) {
      val mJson = order.map(_._1).flatMap(n => metrics.get(n).map(m =>
        "\"" + n + "\":" + m.json)).mkString("{", ",", "}")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_DETAIL.json"),
        s"""{"metric":"detail",$head,"queries":$qs,"metrics":$mJson,""" +
          s""""listener_quiesce_timeouts":${listener.quiesceTimeouts.get}}""" + "\n")
      catch { case _: Throwable => () } // best-effort; stdout is canonical
    } else System.err.println(
      "[bench] partial run: BENCH_DETAIL.json NOT written (full-surface only)")
    // Keep the summary line SHORT and LAST so a tail-window parse always
    // sees a complete JSON object.
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""n_queries":${results.size},"n_failed":${failed.size},""" +
      s""""engine_sec":${fmt(engineSec)},"baseline_sec":${fmt(baselineSec)},""" +
      s""""n_regressed":${regressions.size},"sf":"$sfDir"}""")
    spark.stop()
  }

  /** An archived lane is comparable when it is UNKNOWN (pre-r15 archive
    * — keep the old behavior; lane fields exist from r15 on) or matches
    * the current (cpus, runs, heavy_reruns) exactly. Extracted so
    * BenchDiffSpec can inject-and-assert the skip decision without a
    * full bench run.
    */
  private[graft] def laneComparable(prev: Option[(String, Int, Int)],
                                    cur: (String, Int, Int)): Boolean =
    prev.forall(_ == cur)

  /** Locate and minimally parse the previous-round full-surface detail:
    * SPARK_GRAFT_PREV_DETAIL if set, else the newest `BENCH_DETAIL_r*`
    * in cwd. Returns (path, sf, baseline_sf, lane, per-query seconds) —
    * baseline_sf defaults to sf for pre-r13 archives that predate the
    * bounded baseline lane; lane is None for pre-r15 archives that
    * predate lane recording. Hand-rolled parse — query names are
    * `[a-z0-9_]+` and values plain decimals, and the build has no JSON
    * dependency by design.
    */
  /** Every archived round detail in `dir`, oldest round first (numeric
    * round sort — lexicographic would rank r9 above r10).
    */
  /** Canonicalized path for identity compares (the degenerate-window
    * guard): './x.json', 'x.json', and an env-supplied absolute path to
    * the same file must all compare equal.
    */
  private[graft] def canonPath(p: String): String =
    try new java.io.File(p).getCanonicalPath
    catch { case _: Throwable => p }

  private[graft] def archivePaths(dir: String = "."): Seq[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map(_.getName)
      .filter(n => n.startsWith("BENCH_DETAIL_r") && n.endsWith(".json"))
      .sortBy(n => """\d+""".r.findFirstIn(n).map(_.toInt).getOrElse(0))
      .map(n => new java.io.File(dir, n).getPath)

  /** The OLDEST archive comparable to this run — same sf, uniform
    * baseline lane (a capstone archive's bounded-dial baselines aren't
    * window-comparable), execution lane matching — for the cumulative
    * drift canary's window. Returns (path, per-query seconds).
    */
  private[graft] def oldestComparable(sfDir: String, cur: (String, Int, Int),
                                      paths: Seq[String])
      : Option[(String, Map[String, Double])] =
    paths.iterator.flatMap(p => prevDetail(Some(p))).collectFirst {
      case (path, sf, baseSf, lane, q)
        if sf == sfDir && baseSf == sf && laneComparable(lane, cur) =>
        (path, q)
    }

  /** The cumulative envelope: ≥2× AND ≥0.5 s vs the window's oldest
    * archive — twice the per-round envelope, because this window exists
    * to catch drift each per-round diff individually waves through.
    * `exclude` drops queries whose current dial differs from the run's
    * sf (the bounded-baseline rule).
    */
  private[graft] def cumulativeRegressions(cur: Map[String, Double],
                                           oldQ: Map[String, Double],
                                           exclude: String => Boolean)
      : Seq[(String, Double, Double)] =
    cur.toSeq.sortBy(_._1).flatMap { case (n, c) =>
      if (exclude(n)) None
      else oldQ.get(n) match {
        case Some(p) if p > 0 && c >= 2.0 * p && c - p >= 0.5 => Some((n, p, c))
        case _ => None
      }
    }

  private[graft] def prevDetail(
      explicit: Option[String] = sys.env.get("SPARK_GRAFT_PREV_DETAIL"))
      : Option[(String, String, String, Option[(String, Int, Int)],
                Map[String, Double])] = {
    val path = explicit.orElse(archivePaths().lastOption)
    path.flatMap { p =>
      val parsed =
        try {
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(p)), java.nio.charset.StandardCharsets.UTF_8)
          val sf = """"sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
          val baseSf = """"baseline_sf"\s*:\s*"([^"]+)"""".r
            .findFirstMatchIn(txt).map(_.group(1))
          val lane =
            """"lane"\s*:\s*\{"cpus":"([^"]+)","runs":(\d+),"heavy_reruns":(\d+)\}""".r
              .findFirstMatchIn(txt)
              .map(m => (m.group(1), m.group(2).toInt, m.group(3).toInt))
          val qBlock = """"queries"\s*:\s*\{([^}]*)\}""".r
            .findFirstMatchIn(txt).map(_.group(1))
          val pairs = qBlock.map { b =>
            """"([a-z0-9_]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(b)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          }
          for (s <- sf; q <- pairs if q.nonEmpty)
            yield (p, s, baseSf.getOrElse(s), lane, q)
        } catch { case _: Throwable => None }
      // A file that EXISTS but fails the minimal parse silently disables
      // the canary — indistinguishable from "no archive yet" unless said
      // out loud (format drift, e.g. nested values inside the queries
      // block, would land here).
      if (parsed.isEmpty) System.err.println(
        s"[bench] WARNING: previous detail $p exists but failed to parse " +
          "— canary DISABLED this run (format drift? check prevDetail())")
      parsed
    }
  }
}
