package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Fixed-point PageRank over a directed edge relation — the operator
  * form of the `graph_pagerank` query (Extra6), generalized where the
  * query deliberately specializes:
  *
  *   - DANGLING MASS: the query's co-order graph is symmetric (every
  *     node has out-degree ≥ 1), so it omits the dangling term; a
  *     general directed graph leaks rank through sink nodes without it.
  *     The standard fix: each round, the total rank sitting on
  *     out-degree-0 nodes redistributes uniformly —
  *     pr'(v) = (1−d)/N + d·(Σ_{u→v} pr(u)/outdeg(u) + dangling/N).
  *     Rank mass is then conserved every round (PageRankSpec checks
  *     Σpr ≈ 1 up to grid rounding).
  *   - CONVERGENCE EARLY-EXIT: the query runs a fixed oracle-checkable
  *     round count; callers who want "iterate to fixed point" get the
  *     ConnectedComponents digest discipline — per round a one-row
  *     order-independent fingerprint (count + bit_xor of row hashes) of
  *     the SNAPPED ranks; differing fingerprints prove non-convergence
  *     for free, equal ones are confirmed with an exact changed-row
  *     probe before stopping (a hash collision can cost one extra
  *     check, never a wrong early stop). Snapping to the 1e-`snap` grid
  *     is what makes a bit-exact fixed point reachable at all.
  *   - CHECKPOINT-AND-FREE: unlike the query's lazily-chained fixed
  *     rounds (state consumed exactly once — one scheduled job), the
  *     convergence test reads each round's state TWICE (fingerprint +
  *     next-round join), so every round materializes via
  *     localCheckpoint and the superseded round's blocks are freed
  *     ([[Checkpoints.free]], the Ivf Lloyd discipline) — residency is
  *     ONE round's O(nodes) at any time.
  *
  * Scale shape per round: one node-keyed join (ranks ⋈ degrees), one
  * edge-keyed fan-out join whose groupBy(dst) map-side combines to a
  * node-sized wire, one left join back to the full node set (nodes
  * with no in-edges keep teleport+dangling rank — the query's
  * groupBy(dst) form silently drops them, correct only when every node
  * has in-edges), and two one-row digests. Only O(1) per round reaches
  * the driver (N once, the dangling sum, the fingerprint).
  */
object PageRank {
  /** Rounds the last [[ranks]] call took (diagnostic, read by
    * PageRankSpec).
    */
  @volatile private[graft] var lastRounds: Int = 0

  /** (node, pr) at the fixed point (or after `maxIterations`). `edges`
    * needs (src, dst); self-loops and duplicate edges count like any
    * other edge (dedup upstream if unwanted).
    */
  def ranks(edges: DataFrame, damping: Double = 0.85,
            maxIterations: Int = 40, snap: Int = 10): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .select(col("src").as("node"), col("outdeg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // full node universe: sources ∪ sinks (a dst-only node holds rank
    // and leaks it as dangling mass)
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = nodes.count()
      require(n > 0, "PageRank over an empty graph")
      val teleport = (1.0 - damping) / n
      var ranks = nodes
        .select(col("node"), round(lit(1.0 / n), snap).as("pr"))
        .localCheckpoint()
      var fp = Checkpoints.fingerprint(ranks, "node", "pr")
      var round_ = 0
      var converged = false
      while (!converged && round_ < maxIterations) {
        // per-SOURCE weight first (node-sized join), then one edge join
        // fans it out — never pr/outdeg recomputed per edge
        val w = ranks.join(deg, "node")
          .select(col("node"), (col("pr") / col("outdeg")).as("cw"))
        val contrib = e.join(w, e("src") === w("node"))
          .groupBy(e("dst").as("node"))
          .agg(sum(col("cw")).as("contrib"))
        // dangling mass: rank sitting on nodes with no out-edges —
        // one column-pruned anti-join + one-row aggregate
        val dangling = ranks.join(deg.select(col("node")), Seq("node"), "left_anti")
          .agg(coalesce(sum(col("pr")), lit(0.0))).head().getDouble(0)
        val next = nodes
          .join(contrib, Seq("node"), "left")
          .select(col("node"),
            round(lit(teleport) +
              lit(damping) * (coalesce(col("contrib"), lit(0.0)) +
                lit(dangling / n)), snap).as("pr"))
          .localCheckpoint()
        val nextFp = Checkpoints.fingerprint(next, "node", "pr")
        // digest gate (the ConnectedComponents rule): only run the exact
        // changed-row probe when the one-row digest says "maybe equal"
        converged = nextFp == fp && {
          next.alias("a").join(ranks.alias("b"), col("a.node") === col("b.node"))
            .filter(col("a.pr") =!= col("b.pr"))
            .limit(1).count() == 0
        }
        Checkpoints.free(ranks) // superseded round's blocks, eagerly
        ranks = next
        fp = nextFp
        round_ += 1
      }
      lastRounds = round_
      ranks
    } finally {
      e.unpersist(false); deg.unpersist(false); nodes.unpersist(false); ()
    }
  }
}
