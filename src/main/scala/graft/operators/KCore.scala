package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-core decomposition — core number per node — over an undirected
  * edge relation: the operator behind `graph_kcore` (graft.queries
  * .Extra7; reference /root/reference/task.ts has no analogue — engine
  * graph-analytics surface, the third graph discipline next to
  * label-propagation CC/PageRank and enumeration Triangles).
  *
  * Algorithm: the h-index fixed point (Montresor, De Pellegrini,
  * Miorandi, "Distributed k-core decomposition", 2013; Lü et al. 2016):
  * start every node at its degree and repeatedly replace each estimate
  * with the H-INDEX of its neighbours' estimates (the largest h such
  * that ≥ h neighbours hold ≥ h). Estimates only DECREASE (each update
  * is monotone in the neighbour values, and h ≤ degree seeds the
  * induction), and the fixed point is exactly the core number. This is
  * the distributed form of the classic sequential peel — chosen over a
  * literal min-degree peel because a peel's round count is the number
  * of DISTINCT PEEL WAVES (hundreds on a dense graph: one driver-loop
  * round per wave), while the h-index iteration converges in a few
  * dozen steps regardless of the core-value range.
  *
  * Scale shape — MEASURED, and the first cut was rejected (PERF.md
  * round-15). The peel intuition says per-round work should SHRINK (a
  * node's estimate can only change when a neighbour's changed), so the
  * first implementation recomputed only the changed frontier's
  * neighbourhood. Profiled on the sf0.1 co-purchase graph it bought
  * NOTHING: rounds cost a flat ~2 s whether the frontier held 19 551
  * nodes or 80, because (a) at average degree ~120 ONE HOP of frontier
  * covers half the graph, so the "pruned" recompute stayed
  * graph-sized, and (b) the frontier REGROWS in waves (34 → 7 441 over
  * rounds 20–36: a hub's drop re-destabilizes a region that had
  * settled), which also rules out freezing stable regions out of the
  * adjacency. The cost was per-ACTION overhead × 38 rounds, not
  * per-row work. The shipped shape instead chains `stepsPerRound`
  * full h-index steps into ONE lazy plan per action — each step is
  * adjacency ⋈ estimates (node-keyed equi join; the node-sized side
  * broadcast below [[stateBroadcastThreshold]] so the persisted
  * adjacency streams map-side) + one window rank + one max whose
  * groupBy REUSES the window's (v)-hash exchange — so scheduling/
  * checkpoint overhead amortizes 8×, and H(x) references x exactly
  * ONCE, keeping the chained plan linear in steps. Outer-round state
  * is localCheckpoint'ed with superseded blocks freed eagerly
  * ([[Checkpoints.free]], the PageRank/Lloyd discipline) — O(nodes)
  * resident. Convergence = zero estimates changed across an outer
  * round (monotonicity makes the fixed point detectable exactly; no
  * digest needed). No broadcast-nested-loop anywhere (gate-pinned in
  * PlanSpec).
  *
  * Contract (shared with [[Triangles]]): `edges` is one row per
  * undirected edge (a, b), deduped; orientation is irrelevant here
  * (the adjacency is symmetrized). Nodes with no edges don't appear
  * (a node outside every edge has core 0 by convention and no row).
  */
object KCore {
  /** One h-index step over a symmetrized adjacency: every estimate
    * becomes the h-index of its neighbours' estimates. References
    * `state` exactly once (chaining k steps builds a depth-k plan, not
    * a 2^k one), and every node has ≥ 1 neighbour by construction, so
    * the output covers all nodes.
    *
    * Computed over DISTINCT estimate values, not neighbour rows: with
    * cnt_ge(x) = #neighbours holding ≥ x, h = max over the observed
    * values x of min(x, cnt_ge(x)) — if k* = h then the smallest
    * observed value x ≥ k* has cnt_ge(x) = cnt_ge(k*) ≥ k*, so the max
    * reaches k*; and any min(x, cnt_ge(x)) = m implies cnt_ge(m) ≥
    * cnt_ge(x) ≥ m, so it never overshoots. The (v, value) pre-count
    * combines MAP-SIDE on the edge-sized join output (the first
    * exchange ships ~distinct-value rows, not adjacency rows), and the
    * cumulative window then sorts only those; the closing max reuses
    * the window's (v)-hash exchange.
    */
  private def hStep(adj: DataFrame, state: DataFrame,
                    bcastState: Boolean): DataFrame = {
    val s = state.select(col("v").as("n"), col("c").as("nc"))
    val w = Window.partitionBy(col("v")).orderBy(col("nc").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    adj.join(if (bcastState) Hints.nodeState(s) else s, Seq("n"))
      .groupBy(col("v"), col("nc")).agg(count(lit(1)).as("k"))
      .select(col("v"), least(col("nc"), sum(col("k")).over(w)).as("m"))
      .groupBy(col("v")).agg(max(col("m")).cast("int").as("c"))
  }

  /** The BOUNDED-step form — the `graph_kcore` query contract (the
    * graph_pagerank precedent: the registered query runs a fixed,
    * deterministic, cross-engine-checkable number of refinements; THIS
    * overload is one fully LAZY plan with no actions, checkpoints, or
    * driver loops, so Catalyst sees the whole chain at once and the
    * close lane pays one job). After `steps` h-index refinements the
    * estimate is a monotone UPPER bound on the core number, equal to
    * it wherever the iteration has locally converged; [[coreNumbers]]
    * is the run-to-fixed-point form. `broadcastState` ships the
    * node-sized per-step state into each join (right for node counts
    * up to tens of millions); pass false on billion-node graphs and
    * the joins shuffle node-keyed.
    */
  def coreEstimate(edges: DataFrame, steps: Int = 8,
                   broadcastState: Boolean = true): DataFrame =
    coreEstimateOnAdj(
      edges.select(col("a").as("v"), col("b").as("n"))
        .unionAll(edges.select(col("b").as("v"), col("a").as("n"))),
      steps, broadcastState)

  /** [[coreEstimate]] over a PRE-SYMMETRIZED (v, n) adjacency — the
    * [[Graphs.GraphIndex]] serving form: a cached adjacency skips the
    * symmetrize-union per call and, with the cached degree table
    * available, the caller may pass it as `deg0` to skip the seed
    * aggregation too (it must be exactly this adjacency's degree
    * table, (v, d)).
    */
  def coreEstimateOnAdj(adj: DataFrame, steps: Int = 8,
                        broadcastState: Boolean = true,
                        deg0: Option[DataFrame] = None): DataFrame = {
    require(steps >= 1, s"steps must be >= 1: $steps")
    val deg = deg0
      .map(_.select(col("v"), col("d").cast("int").as("c")))
      .getOrElse(adj.groupBy(col("v")).agg(count(lit(1)).cast("int").as("c")))
    val fin = (1 to steps).foldLeft(deg)((x, _) => hStep(adj, x, broadcastState))
    fin.select(col("v").as("node"), col("c").cast("long").as("core"))
  }

  /** `stateBroadcastThreshold`: broadcast the node-sized estimates
    * ((long, int) pairs, ~16 B a row ⇒ ~64 MB at the 4M default) into
    * each h-index join when the graph's node count is at or below it;
    * above, the node-keyed shuffle join is the honest 100 TB plan.
    */
  def coreNumbers(edges: DataFrame, maxIterations: Int = 64,
                  stateBroadcastThreshold: Long = 4000000L,
                  stepsPerRound: Int = 8): DataFrame = {
    require(stepsPerRound >= 1, s"stepsPerRound must be >= 1: $stepsPerRound")
    // symmetrized adjacency feeds every step → persist once
    val adj = edges.select(col("a").as("v"), col("b").as("n"))
      .unionAll(edges.select(col("b").as("v"), col("a").as("n")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // round 0: estimate = degree (the h-index seed)
    var (est, estChk) = Checkpoints.snap(adj.groupBy(col("v"))
      .agg(count(lit(1)).cast("int").as("c")))
    val nNodes = est.count()
    val bcastState = nNodes <= stateBroadcastThreshold
    var round = 0
    var changed = nNodes
    while (changed > 0 && round * stepsPerRound < maxIterations) {
      val chained = (1 to stepsPerRound).foldLeft(est)((x, _) =>
        hStep(adj, x, bcastState))
      val (next, nextChk) = Checkpoints.snap(chained)
      // monotone decrease makes the diff a plain count; this terminal
      // action references est + next once each and is never chained
      // into lineage
      changed = next.alias("nx")
        .join(est.alias("pv"), Seq("v"))
        .filter(col("nx.c") =!= col("pv.c")).count()
      Checkpoints.free(estChk)
      est = next
      estChk = nextChk
      round += 1
    }
    require(changed == 0,
      s"k-core h-index iteration still moving after $maxIterations steps " +
        "— raise maxIterations (result would be an upper bound, not the core)")
    adj.unpersist(false)
    est.select(col("v").as("node"), col("c").cast("long").as("core"))
  }
}
