package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by minimum-label propagation ("hash-to-min") —
  * the final step of corpus deduplication: near-dup PAIRS become duplicate
  * CLUSTERS, and each cluster keeps one canonical document.
  *
  * Each round every vertex adopts the smallest component label among
  * itself and its neighbours; convergence takes O(graph diameter) rounds.
  * Near-dup graphs are unions of small dense cliques (diameter 1-2), so
  * 2-3 rounds close them; the published escalation for long-chain graphs
  * at 100 TB is large-star/small-star (Kiveris et al., "Connected
  * Components in MapReduce and Beyond"), which squares the paths per
  * round. Every round localCheckpoints: iterative plans otherwise stack
  * lineage until the optimizer chokes — the standard Spark iterative-
  * algorithm discipline — and the superseded round's checkpoint is freed
  * ([[Checkpoints.free]]) once the convergence check has read it, so a
  * call leaves exactly one checkpoint resident: the one its result reads.
  */
object ConnectedComponents {
  /** The ONE cluster-output projection shared by `dedup_cluster` and
    * `dedup_minhash_cluster` (their equality test depends on both using
    * the same canonical-doc rule): component label → cluster id, the
    * minimum doc is the canonical one.
    */
  def clusterLabels(labels: DataFrame): DataFrame =
    labels.select(col("v").as("doc_id"), col("c").as("cluster_id"),
      (col("v") === col("c")).as("is_canonical"))

  /** Large-star/small-star alternating rounds (Kiveris et al.) — the
    * long-chain escalation of [[components]]: each round roughly squares
    * path lengths, so convergence is O(log diameter) rounds instead of
    * O(diameter). Same output contract as [[components]].
    *
    * large-star: every node u emits (v → m) for its LARGER neighbours v,
    * where m = min(N(u) ∪ {u}) — big nodes hook onto the local minimum.
    * small-star: every node u emits (v → m) for its smaller neighbours
    * AND itself — flattening partial stars. Both are one groupBy + one
    * join per round; the edge set monotonically contracts toward
    * (node → component-root) stars.
    */
  def componentsStar(edges: DataFrame, maxIterations: Int = 20): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val m = sym.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("m"))
      sym.join(m, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
      // Round-19: NO distinct here (one exchange per round saved,
      // guide §2.4). Output is ≤ one row per sym row, duplicates only
      // where several sources hook the same (v → m); smallStar's
      // per-source MIN is duplicate-insensitive and its own closing
      // distinct canonicalizes the round's edge set, so the iterate is
      // unchanged (CcSpec pins componentsStar ≡ components).
    }
    def smallStar(e: DataFrame): DataFrame = {
      // orient every edge big→small, then hook small neighbours + self
      // onto the per-node minimum
      val directed = e.select(
        greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val m = directed.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("m"))
      val viaNbr = directed.join(m, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
      val self = m.select(col("src"), col("m").as("dst"))
      viaNbr.union(self).filter(col("src") =!= col("dst")).distinct()
    }
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct().localCheckpoint()
    var round = 0
    var converged = false
    var eFp = Checkpoints.fingerprint(e, "src", "dst")
    while (!converged && round < maxIterations) {
      val next = smallStar(largeStar(e)).localCheckpoint()
      // Converged when the star set is stable (same canonical edge set).
      // The exact set-equality check (`except` = another full distinct
      // shuffle) runs per ROUND, so gate it behind an order-independent
      // one-row fingerprint (count + bit_xor of row hashes — one map-side
      // agg job): differing fingerprints prove the sets differ and skip
      // the expensive check; equal fingerprints are confirmed exactly, so
      // a collision can never yield a wrong result, only one extra check.
      val nextFp = Checkpoints.fingerprint(next, "src", "dst")
      converged = nextFp == eFp && next.except(e).limit(1).count() == 0
      Checkpoints.free(e)
      e = next
      eFp = nextFp
      round += 1
    }
    // stars are (child → root); roots label themselves
    val children = e.select(col("src").as("v"), col("dst").as("c"))
    val roots = e.select(col("dst").as("v")).distinct()
      .withColumn("c", col("v"))
    children.union(roots).distinct()
  }

  /** (v, c): component label c = min vertex id reachable from v.
    * `edges` must have columns (src, dst); the graph is treated as
    * undirected; isolated vertices don't appear (join the vertex set
    * back if they must).
    */
  def components(edges: DataFrame, maxIterations: Int = 20): DataFrame = {
    // Round-19 (guide §2.4): checkpoint the symmetrized edge relation
    // PRE-PARTITIONED on dst — the per-round propagate join's key.
    // localCheckpoint preserves the physical partitioning in its
    // LogicalRDD leaf, so every round's join sees the EDGE side already
    // clustered and only exchanges the node-sized label state; before,
    // each round's fresh job re-shuffled the edge relation (rounds are
    // separate actions — ReusedExchange never applies across them).
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("dst"))
      .localCheckpoint()
    var labels = sym.select(col("src").as("v")).distinct()
      .withColumn("c", col("v"))
      .localCheckpoint()
    var round = 0
    var converged = false
    var labelsFp = Checkpoints.fingerprint(labels, "v", "c")
    while (!converged && round < maxIterations) {
      val viaNbr = sym.join(labels, sym("dst") === labels("v"))
        .groupBy(col("src")).agg(min(col("c")).as("nc"))
      val next = labels.join(viaNbr, labels("v") === viaNbr("src"), "left")
        .select(labels("v").as("v"),
          least(col("c"), coalesce(col("nc"), col("c"))).as("c"))
        .localCheckpoint()
      // Same fingerprint gate as componentsStar: only run the exact
      // changed-rows join when the one-row digest says "maybe equal".
      val nextFp = Checkpoints.fingerprint(next, "v", "c")
      converged = nextFp == labelsFp && {
        next.alias("n")
          .join(labels.alias("o"), col("n.v") === col("o.v"))
          .filter(col("n.c") =!= col("o.c"))
          .limit(1).count() == 0
      }
      Checkpoints.free(labels)
      labels = next
      labelsFp = nextFp
      round += 1
    }
    // every round's labels are checkpointed, so nothing reads `sym` now
    Checkpoints.free(sym)
    labels
  }
}
