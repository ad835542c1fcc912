package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.etl.DroneSense
import graft.operators.{Artifacts, Graphs, SimIndexes}

/** What one run hands a workload. */
final case class Ctx(runner: Runner, seed: Long, seconds: Double, trace: Boolean,
                     dir: String, dumpDir: java.io.File) {
  def spark: SparkSession = runner.spark
}

/** What a workload measured in its timed window, besides the runner's
  * samples: pass times (untraced and traced), per-op latencies, peak
  * heap, its own end-to-end figures, and the failures it found.
  */
final class Outcome {
  val passS = mutable.ArrayBuffer.empty[Double]
  val tracedPassS = mutable.ArrayBuffer.empty[Double]
  val latencyS = mutable.ArrayBuffer.empty[Double]
  /** Process CPU seconds of each op whose latency is in `latencyS`. */
  val cpuS = mutable.ArrayBuffer.empty[Double]
  val heapAfterGcMb = mutable.ArrayBuffer.empty[Double]
  val detail = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  /** Ops whose results were written under the dump directory, for the
    * order-insensitive hash check that runs after the process ends.
    */
  val dumped = mutable.ArrayBuffer.empty[String]
}

trait Workload {
  def name: String
  /** Names of the registry rows this workload runs (none for cot_feed). */
  def rows: Seq[String]
  /** Everything before the first timed op. */
  def setup(c: Ctx, o: Outcome): Unit
  /** The timed window. */
  def window(c: Ctx, o: Outcome): Unit
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "sql_mix" => new QueryLoop("sql_mix", sqlMixRows)
    case "llm_dedup" => new QueryLoop("llm_dedup", LlmDedupRows)
    case "graph_serve" => new GraphServe
    case "cot_feed" => new CotFeed
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val Names = Seq("sql_mix", "llm_dedup", "graph_serve", "cot_feed")

  /** The registered tpch_*, join_* and win_* rows, minus the declared
    * quadratic baselines.
    */
  def sqlMixRows: Seq[String] =
    SparkEntry.queries.keys.filter(n => n.startsWith("tpch_") ||
      n.startsWith("join_") || n.startsWith("win_"))
      .filterNot(SparkEntry.baselineQueries).toSeq.sorted

  val LlmDedupRows: Seq[String] = Seq(
    "dedup_minhash_cluster", "dedup_cluster", "dedup_embed_cluster",
    "dedup_editdist_cluster", "dedup_substring", "dedup_winnow",
    "dedup_simhash", "text_bpe_encode", "text_bpe_train", "text_dsir",
    "text_boilerplate", "text_decontaminate", "sim_ivf_pq",
    "search_hybrid_rrf", "pipeline_end2end_scale")

  val GraphReads: Seq[String] = Seq(
    "graph_triangles_idx", "graph_kcore_idx", "graph_bfs_idx",
    "graph_sssp_idx", "graph_labelprop_idx", "graph_linkpred_idx",
    "graph_ppr_idx", "graph_modularity")

  private def fn(name: String) = SparkEntry.queries.getOrElse(name,
    throw new IllegalStateException(s"registry has no row '$name'"))

  /** One registry row under the phases the trace splits it into. */
  def runRow(c: Ctx, name: String, ph: Runner#Phases,
             sink: DataFrame => Unit): Unit = {
    val df = ph("queries.build")(fn(name)(c.spark, c.dir))
    ph("sink")(sink(df))
  }

  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** The check pass: each row once, its result written under the dump
    * directory for the hash check. It is also the JIT and codegen
    * warm-up, at the benchmark's own scale. `run(name, sink)` runs one
    * row into `sink`.
    */
  def checkPass(c: Ctx, o: Outcome, names: Seq[String])
               (run: (String, DataFrame => Unit) => Runner.Sample): Unit = {
    val t0 = System.nanoTime()
    names.foreach { n =>
      val path = new java.io.File(c.dumpDir, n).getPath
      run(n, _.write.mode("overwrite").parquet(path)).failure match {
        case Some(f) => o.failures += (n -> s"check pass: $f")
        case None => o.dumped += n
      }
    }
    o.detail("check_pass_s") = seconds(t0)
  }

  /** Closed-loop passes until the window closes, at least one (two in a
    * traced run: untraced and traced passes alternate, so the overhead is
    * measured in one process). `pass(i, traced)` runs pass i and returns
    * its wall seconds.
    */
  def passes(c: Ctx, o: Outcome)(pass: (Int, Boolean) => Double): Unit = {
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var i = 0
    while (i == 0 || (c.trace && i < 2) || System.nanoTime() < deadline) {
      val traced = c.trace && i % 2 == 1
      val s = c.runner.tracing(traced)(pass(i, traced))
      if (traced) o.tracedPassS += s else o.passS += s
      o.heapAfterGcMb += c.runner.heapAfterGcMb()
      i += 1
    }
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** sql_mix and llm_dedup: one client runs the row list in a seeded order
  * per pass, into the noop sink. Each pass starts from a cleared catalog
  * cache and cleared graph and similarity memos.
  */
final class QueryLoop(val name: String, val rows: Seq[String]) extends Workload {
  def setup(c: Ctx, o: Outcome): Unit = Workloads.checkPass(c, o, rows) { (n, sink) =>
    c.runner.op(s"check:$n", record = false)(ph => Workloads.runRow(c, n, ph, sink))
  }

  def window(c: Ctx, o: Outcome): Unit = Workloads.passes(c, o) { (i, traced) =>
    c.spark.catalog.clearCache()
    Graphs.clear(c.spark)
    SimIndexes.clear(c.spark)
    val t0 = System.nanoTime()
    Gen.shuffle(rows, c.seed, i).foreach { n =>
      val s = c.runner.op(n, trace = traced)(ph => Workloads.runRow(c, n, ph, Workloads.noop))
      if (s.failure.isEmpty) { o.latencyS += s.wallS; o.cpuS += s.cpuS }
    }
    Workloads.seconds(t0)
  }
}

/** graph_serve: reads served from one prebuilt co-purchase index that a
  * write has just updated.
  *
  * Set-up builds the index with `Graphs.index`, then applies one write:
  * it retracts a seed-chosen 1 % order batch (`applyDeltaRemove`),
  * re-inserts it (`applyDelta`), saves the index (`saveAll`), drops it
  * from the memo and reloads it (`loadAll`), which compacts the delta's
  * union layers. So set-up builds, saves and reloads the index, and the
  * write's cost counts in `setup_s` (and `write_p50_s`). Every read after
  * it must return the base answer: the check pass compares each read's
  * rows with DuckDB's, and each timed read carries an order-insensitive
  * fingerprint of its rows (`Dataset.observe`, computed inside the noop
  * sink) that must equal its check-pass one. A pass is the seven
  * `graph_*_idx` reads and `graph_modularity` in seeded order.
  *
  * The write is in set-up, not in the pass: reads right after a write in
  * the same JVM measured a fifth slower or faster from run to run (the
  * write's JIT and cleanup work overlapping them), against a few percent
  * for reads after the check pass; and a run has time for one pass only.
  * The catalog cache is not cleared between passes: the index's frames
  * live in it.
  */
final class GraphServe extends Workload {
  val name = "graph_serve"
  val rows: Seq[String] = Workloads.GraphReads

  // The cache tag the registry's graph_*_idx rows serve from. If it ever
  // drifts, set-up fails: the reads would build a third graph entry.
  private def tag(c: Ctx) = s"copurchase|${c.dir}"
  private def base(c: Ctx) = s"${Artifacts.defaultBase(c.spark, c.dir)}/graph"
  private val baseFingerprints = mutable.Map.empty[String, Seq[Any]]

  /** Co-purchase pairs (a < b) of the orders that pass `orders`. */
  private def edges(c: Ctx, orders: Column): DataFrame = {
    val so = graft.Tables(c.spark, c.dir, "lineitem").filter(orders)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("sk")).distinct()
    so.alias("x").join(so.alias("y"), col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("a"), col("y.sk").as("b")).distinct()
  }

  /** Runs `sink` on the read's rows while observing their count, a sum
    * of truncated row hashes and an xor of full ones.
    */
  private def fingerprinted(sink: DataFrame => Unit)(df: DataFrame): Seq[Any] = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val o = Observation()
    sink(df.observe(o, count(lit(1)), sum(h.bitwiseAND(lit(0xFFFFFFL))), bit_xor(h)))
    o.get.values.toSeq
  }

  /** One read into `sink`, with its rows' fingerprint. With `expect`,
    * a different fingerprint fails the op.
    */
  private def read(c: Ctx, n: String, sink: DataFrame => Unit, record: Boolean,
                   traced: Boolean, expect: Option[Seq[Any]]): (Runner.Sample, Seq[Any]) = {
    var fp: Seq[Any] = Nil
    val s = c.runner.op(if (record) n else s"check:$n", record, traced) { ph =>
      Workloads.runRow(c, n, ph, { df =>
        fp = fingerprinted(sink)(df)
        if (expect.exists(_ != fp)) throw new IllegalStateException(
          "read after a write differs from the base answer")
      })
    }
    (s, fp)
  }

  private def write(c: Ctx, ph: Runner#Phases): Unit = {
    val batch = edges(c, pmod(col("l_orderkey"), lit(100)) === Gen.writeResidue(c.seed))
    ph("operators.graph_delta_remove")(Graphs.applyDeltaRemove(tag(c), c.spark, batch))
    ph("operators.graph_delta_add")(Graphs.applyDelta(tag(c), c.spark, batch))
    ph("operators.graph_save")(Graphs.saveAll(c.spark, base(c)))
    ph("operators.graph_load") {
      Graphs.dropGraph(tag(c), c.spark)
      Graphs.loadAll(c.spark, base(c))
    }
  }

  def setup(c: Ctx, o: Outcome): Unit = {
    val b = c.runner.op("build", record = false) { ph =>
      ph("operators.graph_build")(Graphs.index(edges(c, lit(true)), tag(c), c.spark))
    }
    // a traced run traces the write: it is where the graph_* layer works
    val w = c.runner.tracing(c.trace) {
      c.runner.op("write", record = false, trace = c.trace)(ph => write(c, ph))
    }
    for (s <- Seq(b, w); f <- s.failure)
      throw new IllegalStateException(s"graph_serve set-up ${s.kind}: $f")
    o.detail("index_build_s") = b.wallS
    o.detail("write_p50_s") = w.wallS
    o.detail("write_samples") = 1
    c.runner.settle()
    Workloads.checkPass(c, o, rows) { (n, sink) =>
      val (s, fp) = read(c, n, sink, record = false, traced = false, expect = None)
      if (s.failure.isEmpty) baseFingerprints(n) = fp
      s
    }
    // the index and the weighted index sssp reads: exactly two entries
    val entries = Graphs.saveAll(c.spark, base(c))
    if (entries != 2) o.failures += ("graph_serve" ->
      s"reads did not serve the benchmark's index ($entries graph entries, expected 2)")
  }

  def window(c: Ctx, o: Outcome): Unit = Workloads.passes(c, o) { (i, traced) =>
    val t0 = System.nanoTime()
    Gen.shuffle(rows, c.seed, i).foreach { n =>
      org.apache.spark.perfbench.Bus.drain(c.spark.sparkContext)
      val (s, _) = read(c, n, Workloads.noop, record = true, traced, baseFingerprints.get(n))
      if (s.failure.isEmpty) { o.latencyS += s.wallS; o.cpuS += s.cpuS }
    }
    Workloads.seconds(t0)
  }
}

/** cot_feed: open-loop scheduled invocations of the reference pipeline,
  * `parseJson → validate → toCot → toFeatureCollectionJson`, by one
  * client thread. An invocation due while another runs waits; its
  * latency counts from its due time.
  *
  * The window runs the higher rates of the ladder for a sixth of its
  * length each, then the base rate for the rest; a traced run instead runs the
  * base rate untraced, then traced. A "pass" is one trip through the
  * seeded payload list; its time is the summed service time of the trip.
  */
object CotFeed {
  final case class Segment(rate: Double, latency: Seq[Double], late: Seq[Double],
                           serviceS: Seq[Double], cpuS: Seq[Double], records: Int,
                           wallS: Double)
}

final class CotFeed extends Workload {
  import CotFeed.Segment

  val name = "cot_feed"
  val rows: Seq[String] = Nil

  val PayloadCount = 16
  /** The rate ladder; its first rate is the base rate. An invocation
    * takes about 0.4 s at local[4] once warm, so the base rate keeps the
    * client under fully busy and the higher rates overload it.
    */
  val Ladder = Seq(2.0, 3.0, 4.0)
  /** The latency limit `rate_ok_hz` holds a rate to: about twice the
    * base rate's 90th percentile measured when the benchmark was defined.
    */
  val LimitS = 1.0

  private var payloads: IndexedSeq[IndexedSeq[Gen.Drone]] = IndexedSeq.empty
  private var jsons: IndexedSeq[String] = IndexedSeq.empty
  private val mapper = new ObjectMapper

  private def invoke(c: Ctx, i: Int, record: Boolean, traced: Boolean)
      : (Runner.Sample, String) = {
    var out: String = null
    val s = c.runner.op("invoke", record, traced) { ph =>
      val df = ph("etl.parse")(DroneSense.parseJson(c.spark, jsons(i)))
      val v = ph("etl.validate")(DroneSense.validate(df))
      val cot = ph("etl.transform")(DroneSense.toCot(v))
      out = ph("etl.serialize")(DroneSense.toFeatureCollectionJson(cot))
    }
    (s, out)
  }

  /** Features out must equal records in, feature for feature: the same
    * ids, a video exactly when a sensor has a non-empty rtsp_url, and a
    * sensor cone exactly when both SPOI coordinates are nonzero.
    */
  def check(drones: Seq[Gen.Drone], json: String): Option[String] =
    if (json == null) Some("no output")
    else {
      val fs = mapper.readTree(json).get("features")
      val byId = (0 until fs.size).map(fs.get).map(f => f.get("id").asText -> f).toMap
      if (fs.size != drones.size) Some(s"${fs.size} features for ${drones.size} records")
      else drones.collectFirst(Function.unlift { d =>
        byId.get(d.id) match {
          case None => Some(s"record ${d.id} has no feature")
          case Some(f) =>
            val p = f.get("properties")
            def present(n: String) = p.has(n) && !p.get(n).isNull
            val video = d.sensors.exists(_.rtspUrl.exists(_.nonEmpty))
            val cone = d.spoiLat != 0 && d.spoiLng != 0
            if (present("video") != video) Some(s"${d.id}: video expected=$video")
            else if (present("sensor") != cone) Some(s"${d.id}: sensor expected=$cone")
            else None
        }
      })
    }

  def setup(c: Ctx, o: Outcome): Unit = {
    payloads = Gen.payloads(c.seed, PayloadCount)
    jsons = payloads.map(Gen.json)
    // warm-up and check, closed loop: the first invocations pay the
    // one-time codegen; every payload is checked again in the window
    for (i <- 0 until 4) {
      val (s, out) = invoke(c, i, record = false, traced = false)
      val bad = s.failure.orElse(check(payloads(i), out))
      bad.foreach(b => o.failures += (s"payload $i" -> b))
    }
  }

  /** One open-loop segment at `rate` for `lengthS` seconds. */
  private def segment(c: Ctx, index: Int, rate: Double, lengthS: Double,
                      minN: Int, traced: Boolean): Segment = {
    val n = math.max(minN, (rate * lengthS).round.toInt)
    val due = Gen.schedule(c.seed, index, rate, n)
    val t0 = System.nanoTime() / 1e9
    val issued, done, service = mutable.ArrayBuffer.empty[Double]
    val outs = mutable.ArrayBuffer.empty[(Int, Runner.Sample, String)]
    due.indices.foreach { k =>
      val waitS = t0 + due(k) - System.nanoTime() / 1e9
      if (waitS > 0) Thread.sleep((waitS * 1000).toLong, ((waitS * 1e9) % 1e6).toInt)
      val a = System.nanoTime() / 1e9 - t0
      val p = k % PayloadCount
      val (s, out) = invoke(c, p, record = true, traced)
      val b = System.nanoTime() / 1e9 - t0
      issued += a; done += b; service += b - a
      outs += ((p, s, out))
    }
    // checked after the segment, so checking never delays an invocation
    outs.zipWithIndex.foreach { case ((p, s, out), k) =>
      if (s.failure.isEmpty) check(payloads(p), out).foreach { why =>
        val idx = c.runner.samples.size - outs.size + k
        c.runner.samples(idx) = s.copy(failure = Some(s"payload $p: $why"))
      }
    }
    val records = outs.collect { case (p, s, _) if s.failure.isEmpty => payloads(p).size }.sum
    Segment(rate, Stats.latencies(due, done.toSeq), Stats.lateness(due, issued.toSeq),
      service.toSeq, outs.map(_._2.cpuS).toSeq, records, done.last - due.head)
  }

  /** Summed service time of each complete trip through the payloads. */
  private def trips(service: Seq[Double]): Seq[Double] =
    service.grouped(PayloadCount).filter(_.size == PayloadCount).map(_.sum).toSeq

  def window(c: Ctx, o: Outcome): Unit = {
    val segs =
      if (c.trace) {
        val half = c.seconds / 2
        val u = segment(c, 0, Ladder.head, half, PayloadCount, traced = false)
        val t = c.runner.tracing(on = true)(
          segment(c, 1, Ladder.head, half, PayloadCount, traced = true))
        o.heapAfterGcMb += c.runner.heapAfterGcMb()
        o.tracedPassS ++= trips(t.serviceS)
        Seq(u)
      } else {
        // the higher rates first: they also finish the warm-up the base
        // rate's figures are taken after
        val high = Ladder.zipWithIndex.tail.map { case (r, k) =>
          segment(c, k, r, c.seconds / 6, 6, traced = false)
        }
        val base = segment(c, 0, Ladder.head, c.seconds * 2 / 3, PayloadCount, traced = false)
        o.heapAfterGcMb += c.runner.heapAfterGcMb()
        base +: high
      }
    val base = segs.head
    o.passS ++= trips(base.serviceS)
    o.latencyS ++= base.latency
    o.cpuS ++= base.cpuS
    o.detail("records_per_s") = base.records / base.wallS
    o.detail("late_p90_s") = Stats.p90(base.late)
    o.detail("late_p50_s") = Stats.median(base.late)
    o.detail("late_max_s") = base.late.max
    o.detail("latency_limit_s") = LimitS
    if (!c.trace) {
      // the highest rate up to which every rate of the ladder holds
      val ok = segs.takeWhile(s => Stats.quantile(s.latency, 0.9) <= LimitS &&
        !Stats.backlogGrows(s.late, LimitS / 2))
      o.detail("rate_ok_hz") = ok.lastOption.fold(0.0)(_.rate)
      o.detail("rates") = segs.map(s => mutable.LinkedHashMap(
        "rate_hz" -> s.rate, "invocations" -> s.latency.size,
        "op_p50_s" -> Stats.median(s.latency),
        "op_q90_s" -> Stats.quantile(s.latency, 0.9),
        "late_p50_s" -> Stats.median(s.late),
        "backlog_grows" -> Stats.backlogGrows(s.late, LimitS / 2)))
    }
  }
}
