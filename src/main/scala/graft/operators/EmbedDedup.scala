package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-cosine near-duplicate detection at corpus scale — the
  * unbounded-n sibling of the bounded all-pairs `dedup_embed` baseline
  * (which broadcasts the whole vector table and fails fast above 1e6
  * rows).
  *
  * Shape: cluster the corpus into `nlist` coarse cells ([[Ivf]] — fused
  * [[graft.functions.NearestCells]] assignment, shuffle-free), then run
  * EXACT pairwise cosine only WITHIN each cell, then (optionally)
  * connected components over the resulting pair graph. This is the
  * published production recipe for semantic dedup over web-scale
  * embedding corpora (Abbas et al. 2023, "SemDeDup" — k-means cells,
  * within-cluster pairwise; the same blocking idea MinHash banding
  * applies to shingles), with OVERLAPPING assignment (each vector lands
  * in its `nassign` nearest cells — canopy blocking, McCallum et al.
  * 2000) to recover the near-boundary pairs single-cell blocking loses.
  * Cost: one fused assign pass + a cell-keyed self-join of
  * ~n·nassign²·(n/nlist) candidate pairs — LINEAR in n when the caller
  * scales `nlist` with the corpus (target a fixed mean cell size, e.g.
  * nlist ≈ n/1000), against the baseline's n².
  *
  * Honest semantics: precision is EXACT (candidates are scored with the
  * full-precision cosine — no false positives); recall misses exactly
  * the above-threshold pairs whose endpoints land in different cells.
  * That loss is the documented trade (SemDeDup's too), smallest for the
  * tight clusters dedup actually targets, and measured on the fixtures
  * in EmbedDedupSpec.
  *
  * Two blocking schemes, MEASURED head-to-head (SweepEmbedDedup,
  * /tmp/scale10 = 20k isotropic vectors, θ = 0.45 boundary-tight,
  * exact baseline 12.2 s / 16 678 pairs — PERF.md round-13):
  *
  *   - CELLS ([[cellPairs]]): recall is a cluster-geometry accident;
  *     the recovery dial reads 0.93 recall @ 26 s (nlist/4, nassign=4),
  *     full recall only at 142 s (nlist/16, nassign=3) — 12× exact.
  *   - LSH ([[lshPairs]]): recall is DESIGNED (per-plane collision
  *     p = 1−acos(θ)/π, table hit p^b, 1−(1−·)^L over L tables + the
  *     probe boost — computable before running, which no canopy can
  *     promise) AND cheaper at every matched point: 0.99 @ 7.5 s
  *     (autoPlanes, 16 tables, nprobe=2 — beats the EXACT kernel's
  *     12.2 s), 0.90 @ 5.1 s, 0.59 @ 1.9 s.
  *
  * So in the boundary-tight regime LSH dominates the canopy AND the
  * exact kernel at this dial — the r12 hypothesis, confirmed (after a
  * round-13 detour: a "slim" id-first join variant measured 45× slower
  * and inverted the conclusion until the join shape was fixed — see
  * [[lshPairs]]). At the 200k dial the same autoPlanes/16/nprobe=2
  * point reads 0.73 recall @ 97 s — vs the r12 canopy nlist=50 column's
  * 0.76 @ 601 s (6× cheaper at matched recall) and the exact kernel's
  * 319 s. The honest scale caveat stays: at fixed (tables, nprobe)
  * recall decays as planes grow with n (0.99 at 20k → 0.73 at 200k —
  * p^planes per table), so holding recall across decades costs growing
  * tables — the designed, computable trade, vs the canopy's
  * geometry-dependent one.
  * Dial guidance: to HOLD a recall floor, compute the dial —
  * [[lshDial]](rows, θ, targetRecall) returns (planes, tables, nprobe)
  * from the collision model with the measured probe calibration
  * ([[ProbeKappa]]), conservative at both sweep anchors, and
  * [[lshPredictedRecall]] prices any hand-picked point before running.
  * The bare [[lshPairs]] default (autoPlanes, 16×nprobe=2) is the
  * boundary-tight default AT the ~20k dial only — it decays across
  * decades as planes grow. [[cellPairs]] (autoNlist, nassign=2) stays
  * the near-colinear (θ ≥ ~0.8) screen where co-assignment ≈ 1 makes
  * cells cheaper; the exact kernel remains the ground-truth oracle
  * below its 1e6 guard.
  *
  * Skew: a hot cell of k vectors contributes k·(k−1)/2 pairs, so one
  * degenerate cell (duplicate-heavy corpora collapse into few cells)
  * goes quadratic. Cells above `maxCellSize` are dropped WHOLE
  * (truncating would be partition-order-dependent — the
  * [[MinHash.lshCandidates]] rule); recall loss is confined to pairs
  * inside oversized cells.
  *
  * Measured dial guidance (SweepEmbedDedup at the 200k-vector 100×
  * dial, θ=0.45, PERF.md round-12 addendum): on the ADVERSARIAL
  * isotropic fixture — true pairs planted AT the threshold, ~63° apart,
  * so a pair's cell assignments are near-independent — recall grows
  * ∝≈ nassign²·cellshare and the recall/cost frontier CROSSES the exact
  * baseline's cost at ≈55–60% recall (nlist=50/nassign=4 pays 601 s for
  * 0.76 recall vs exact-everything at 319 s). Conclusion shipped with
  * the operator: the default dial (autoNlist, nassign=2) is the
  * linear-cost candidate-screen point; where the threshold is
  * boundary-tight AND full recall is required, use the exact
  * `dedup_embed` kernel (guarded) or LSH — blocking's domain is the
  * near-colinear (θ ≥ ~0.8) regime real semantic dups live in, where
  * co-assignment probability approaches 1.
  */
object EmbedDedup {
  /** The dial rule the linearity claim above depends on: `nlist` scaled
    * for a fixed ~`targetCell` mean cell size, so candidate pairs stay
    * ~n·nassign²·targetCell/2 (linear in n) instead of n²/nlist. The
    * floor keeps fixture-sized corpora at the spec-measured geometry.
    * 250 balances the two linear-in-n costs at their measured constants:
    * the assign pass is n·nlist·d flops, scoring is n·nassign²·targetCell
    * ·d/2 — halving targetCell doubles nlist, trading one for the other.
    */
  def autoNlist(rows: Long, targetCell: Int = 250): Int =
    math.max(8L, rows / targetCell).toInt

  /** Above this nlist the build switches to its large-corpus form:
    * Lloyd rounds train on a bounded hash-sample (25·nlist rows — the
    * Pq.train discipline; full-corpus rounds are a hidden n²/cellsize
    * term paid `iters` times) and assignment goes through the two-level
    * [[graft.functions.NearestCellsCoarse]] (√nlist·(1+w)·d per row vs
    * nlist·d — the flat argmax is itself n²·d/cellsize once nlist scales
    * with n). Below it, exact flat assignment and full-data training —
    * fixture-sized corpora keep the spec-measured geometry bit-for-bit.
    * Blocking tolerates the coarse descent's near-boundary assignment
    * drift; the recall cost is measured in EmbedDedupSpec.
    */
  val hierThreshold: Int = 64

  private def assignAll(vecs: DataFrame, nlist: Int, iters: Int,
                        nassign: Int): DataFrame = {
    val hier = nlist >= hierThreshold
    val cents = Ivf.centroids(vecs, nlist, iters,
      trainSample = if (hier) 25 * nlist else 0)
    if (hier) Ivf.assignMultiCoarse(vecs, cents, nassign)
    else Ivf.assignMulti(vecs, cents, nassign)
  }

  /** Exact-cosine pairs (v1 < v2, c ≥ threshold) within shared cells.
    * `vecs` must carry (vec_id, e); `nlist` should scale with n (fixed
    * target cell size), `iters` caps the Lloyd rounds ([[Ivf.centroids]]
    * converges early on fixture-sized data).
    */
  def cellPairs(vecs: DataFrame, threshold: Double, nlist: Int = 8,
                iters: Int = 2, maxCellSize: Int = 100000,
                nassign: Int = 2): DataFrame =
    cellPairsAssigned(
      assignAll(vecs, nlist, iters, nassign)
        .select(col("vec_id"), col("e"), col("cell")),
      threshold, maxCellSize)

  /** The blocking + scoring tail over a GIVEN (vec_id, e, cell)
    * assignment — the [[Pq.encodeAssigned]]-style seam: [[cellPairs]]
    * delegates here, and the cap semantics are testable without going
    * through Lloyd's (deterministic but input-sensitive) cell geometry.
    */
  def cellPairsAssigned(assigned: DataFrame, threshold: Double,
                        maxCellSize: Int = 100000): DataFrame = {
    graft.functions.DotProduct.register(assigned.sparkSession)
    val sized = assigned
      .withColumn("csz", count(lit(1)).over(Window.partitionBy(col("cell"))))
      .filter(col("csz") <= maxCellSize)
      // per-row norm, folded ONCE instead of re-folded per candidate pair
      // (each row participates in ~cellsize pairs — the fused cosine paid
      // 3 accumulators per pair; dot-with-precomputed-norms pays 1). The
      // sqrt of the same left-to-right square fold makes dot/(nrm·nrm)
      // below bit-identical to CosineSimilarity's fused result for the
      // equal-length vectors a corpus carries: IEEE sqrt/mul/div are exact
      // functions of their operands (DotProductSpec gates the identity).
      .withColumn("nrm",
        sqrt(aggregate(col("e"), lit(0.0d), (acc, x) => acc + x * x)))
      .select(col("vec_id"), col("e"), col("nrm"), col("cell"))
    sized.alias("a")
      .join(sized.alias("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      // exact full-precision cosine on candidates only — rounded like the
      // all-pairs baseline so the two paths' pair sets compare cell-for-cell
      .withColumn("c", round(
        graft.functions.DotProduct(col("a.e"), col("b.e"))
          / (col("a.nrm") * col("b.nrm")), 6))
      .filter(col("c") >= threshold)
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"), col("c"))
      // overlapping assignment surfaces a pair once per shared cell; c is
      // functionally determined by (v1, v2), so dedup AFTER scoring ships
      // only (v1, v2, c) through the exchange (the Ann.lshTopK rule)
      .dropDuplicates("v1", "v2")
  }

  /** Exact-cosine threshold pairs (v1 < v2, c ≥ threshold) via
    * random-hyperplane LSH blocking — the boundary-tight-regime sibling
    * of [[cellPairs]] (same output contract, interchangeable
    * downstream). Reuses [[Ann]]'s hashing machinery: every vector is
    * keyed into its base bucket per table (the data-side index), and
    * probes base + `nprobe` nearest-margin flips + the Hamming-2 pair
    * flip (Multi-Probe LSH, Lv et al. VLDB 2007) — a pair surfaces when
    * EITHER endpoint's probe list hits the other's base bucket, so the
    * directional probe join buys ~2× the one-sided collision rate for
    * free. Candidates are scored with the full-precision cosine and
    * filtered at the threshold: precision is EXACT (no false
    * positives, like cellPairs); recall misses only pairs whose
    * endpoints collide in no table.
    *
    * Scale shape: the probe↔base join is an equi shuffle join on
    * (table, bucket); hot buckets (mass duplication collapses vectors
    * into one bucket) are dropped WHOLE from the base side above
    * `maxBucketSize` — the [[MinHash.lshCandidates]] rule, truncation
    * would be partition-order-dependent — and candidate cost is
    * bounded by Σ_bucket |probe∩B|·|base∩B| ≤ n·(1+probes)·cap per
    * table. Tuning: `planesPerTable` bounds bucket sizes (grow ~log n),
    * `tables`/`nprobe` buy recall at p_table = p^b per-table collision
    * (p = 1 − acos(θ)/π; at θ=0.45, b=6: p≈0.648, p_table≈0.074,
    * 16 tables + probes ⇒ measured 0.97+ recall on the adversarial
    * uniform fixture — the regime canopy blocking tops out near 0.6).
    */
  /** The [[autoNlist]] analogue for [[lshPairs]]: planes sized so a
    * table's mean base bucket holds ~`targetBucket` rows
    * (2^planes ≈ n/targetBucket, floor 6 = the fixture geometry).
    * Bounding bucket sizes is what keeps the candidate mass
    * n²·probes/2^planes from going quadratic — the cost of recall is
    * then paid explicitly through `tables`/`nprobe`, never implicitly
    * through unbounded buckets.
    */
  def autoPlanes(rows: Long, targetBucket: Int = 250): Int =
    math.max(6, math.ceil(
      math.log(math.max(1L, rows / targetBucket).toDouble) / math.log(2.0)).toInt)

  /** Per-plane collision probability for a pair AT cosine `theta` —
    * the Goemans–Williamson identity the whole designed-recall story
    * rests on: a random hyperplane separates two unit vectors with
    * probability angle/π, so they land on the same side with
    * p = 1 − acos(θ)/π (Charikar, STOC 2002).
    */
  def planeCollision(theta: Double): Double =
    1.0 - math.acos(theta) / math.Pi

  /** Measured calibration of the multi-probe boost (nprobe=2 + the
    * Hamming-2 pair flip, probed BOTH directions — [[lshPairs]]'s
    * probe shape): the probe list behaves like Hamming-≤1 coverage of
    * the signature cube, discounted because margin-guided flips catch
    * the differing bit only most of the time. Fit against the two
    * SweepEmbedDedup anchors at θ=0.45 (PERF.md round-13): planes=7 /
    * 16 tables → predicted 0.969 vs measured 0.99; planes=10 / 16
    * tables → predicted 0.690 vs measured 0.73. κ=0.8 keeps the model
    * CONSERVATIVE at both anchors, so a dial computed from it is a
    * floor, not a hope.
    */
  val ProbeKappa: Double = 0.8

  /** Predicted pair recall of [[lshPairs]] at (theta, planes, tables)
    * with the default nprobe=2 probing: per-table hit ≈ p^b (base
    * collision) + κ·b·p^(b−1)·(1−p) (probes recover single-bit
    * misses), independent across the L seeded tables →
    * 1 − (1−p_table)^L. Computable BEFORE running — the property the
    * scaladoc sells; this function is that sentence as code.
    */
  def lshPredictedRecall(theta: Double, planes: Int, tables: Int): Double = {
    // same guards as lshDial — this is a public pricing API, and theta
    // outside (0,1) silently yields NaN from acos, not an error
    require(theta > 0.0 && theta < 1.0, s"theta must be in (0,1): $theta")
    require(planes >= 1, s"planes must be >= 1: $planes")
    require(tables >= 1, s"tables must be >= 1: $tables")
    val p = planeCollision(theta)
    val pTable = math.pow(p, planes.toDouble) +
      ProbeKappa * planes * math.pow(p, (planes - 1).toDouble) * (1.0 - p)
    1.0 - math.pow(1.0 - pTable, tables.toDouble)
  }

  /** Recall-targeted dial (the r13 verdict ask): compute (planes,
    * tables, nprobe) holding `targetRecall` at cosine `theta` for a
    * corpus of `rows` vectors — so callers state the floor they need
    * instead of watching the fixed-16-tables default decay across
    * decades (0.99 at 20k → 0.73 at 200k: planes grow with n, p^b
    * shrinks, and nobody paid the recall back). planes stays the
    * bucket-size dial ([[autoPlanes]] — candidate mass must not go
    * quadratic); TABLES are where recall is bought:
    * L = ⌈log(1−R) / log(1−p_table)⌉. Each table costs one n-row
    * hash pass + its share of the bucket join — cost is linear in L,
    * priced explicitly. Fails loudly when the floor needs more than
    * `maxTables` (raise targetBucket for fewer planes, or lower the
    * floor) rather than silently under-delivering.
    */
  def lshDial(rows: Long, theta: Double, targetRecall: Double,
              targetBucket: Int = 250, maxTables: Int = 64): (Int, Int, Int) = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0,1): $targetRecall")
    require(theta > 0.0 && theta < 1.0, s"theta must be in (0,1): $theta")
    val planes = autoPlanes(rows, targetBucket)
    val p = planeCollision(theta)
    val pTable = math.pow(p, planes.toDouble) +
      ProbeKappa * planes * math.pow(p, (planes - 1).toDouble) * (1.0 - p)
    val tables = math.max(1, math.ceil(
      math.log1p(-targetRecall) / math.log1p(-pTable)).toInt)
    require(tables <= maxTables,
      f"recall $targetRecall%.2f at theta=$theta%.2f needs $tables tables " +
        f"(> maxTables=$maxTables; per-table hit ${pTable}%.4f at $planes planes) " +
        "— raise targetBucket (fewer planes per table) or lower the floor")
    (planes, tables, 2)
  }

  def lshPairs(vecs: DataFrame, threshold: Double, tables: Int = 16,
               planesPerTable: Int = 6, dim: Int = 64, seed: Long = 42L,
               nprobe: Int = 2, maxBucketSize: Int = 10000): DataFrame = {
    graft.functions.DotProduct.register(vecs.sparkSession)
    // per-row norm folded ONCE (each row participates in many
    // candidates); sqrt of the same left-to-right fold keeps
    // dot/(n1·n2) bit-identical to the fused CosineSimilarity
    // NOT persisted here: the operator returns a lazy frame (no seam to
    // release a cache), and the consumers below re-derive only a scan +
    // row-local fold — negligible next to the bucket join.
    val withNorm = vecs
      .select(col("vec_id"), col("e"),
        sqrt(aggregate(col("e"), lit(0.0d), (acc, x) => acc + x * x)).as("nrm"))
    // Score INSIDE the bucket join (the cellPairsAssigned rule) — a
    // round-13 lesson made this quantitative: a "slim" variant that
    // deduped id-only pairs first and fetched embeddings after spilled
    // 76 GB and died at the 200k dial, because the post-dedup fetch
    // joins sort candidate-wide intermediates (candidates × 512 B).
    // Here the wide rows pay shuffle only at the JOIN INPUTS (probe
    // side n·tables·probes rows — the LSH index cost), the join OUTPUT
    // pipelines through the cosine+threshold filter before any
    // exchange, and the dedup moves only surviving (v1, v2, c) rows.
    val base = Ann.bucketKeys(withNorm, tables, planesPerTable, dim, seed)
      .select(col("vec_id"), col("e"), col("nrm"), col("table"), col("bucket"))
      .withColumn("bsz", count(lit(1)).over(
        Window.partitionBy(col("table"), col("bucket"))))
      .filter(col("bsz") <= maxBucketSize)
      .select(col("vec_id"), col("e"), col("nrm"), col("table"), col("bucket"))
    val probe = (
      if (nprobe > 0)
        Ann.probedBucketKeys(withNorm, tables, planesPerTable, dim, seed, nprobe)
      else Ann.bucketKeys(withNorm, tables, planesPerTable, dim, seed))
      .select(col("vec_id").as("pid"), col("e").as("pe"),
        col("nrm").as("pnrm"), col("table"), col("bucket"))
    probe.join(base, Seq("table", "bucket"))
      .filter(col("pid") =!= col("vec_id"))
      // exact full-precision cosine on candidates, rounded like the
      // all-pairs baseline so pair sets compare cell-for-cell; the dot
      // is orientation-independent bit-for-bit (IEEE mul commutes,
      // same ascending-index sum), so scoring before canonicalization
      // is safe
      .withColumn("c", round(
        graft.functions.DotProduct(col("pe"), col("e"))
          / (col("pnrm") * col("nrm")), 6))
      .filter(col("c") >= threshold)
      // canonicalize (either direction may have surfaced the pair —
      // keeping only pid < vec_id would throw away the probes that
      // fired in the other direction), then dedup slim survivor rows
      .select(least(col("pid"), col("vec_id")).as("v1"),
        greatest(col("pid"), col("vec_id")).as("v2"), col("c"))
      .dropDuplicates("v1", "v2")
  }

  /** The R-S (cross-relation) form of [[lshPairs]] — the blocking
    * behind `text_decontaminate_embed` (round-15 verdict #3: the
    * semantic-decontamination shape modern pipelines run NEXT TO the
    * shingle-exact `text_decontaminate`): all (left row, right row)
    * pairs at cosine ≥ threshold, where `left` is the SMALL side (an
    * eval/benchmark embedding set) and `right` the corpus. One-sided
    * index, one-sided probing (the [[EditDistJoin.pairsAcross]] /
    * `Ann.lshTopKDial` κ₁ precedent): the left side's bucket keys
    * BROADCAST — eval sets are small by nature, so at 100 TB the
    * corpus streams past them with no shuffle of corpus rows at all
    * (the text_decontaminate scale rule, carried to the embedding
    * form) — and only the corpus side multi-probes (Hamming-≤2 flips
    * buy the recall the unprobed broadcast side cannot). Candidates
    * verify with the exact full-precision cosine — zero false
    * positives; recall is the banding bound, measured against the
    * all-pairs cross form in EmbedDedupSpec.
    *
    * @return (corpus_id, eval_id, c) — one row per surviving pair.
    */
  def lshPairsAcross(left: DataFrame, right: DataFrame, threshold: Double,
                     tables: Int = 16, planesPerTable: Int = 6, dim: Int = 64,
                     seed: Long = 42L, nprobe: Int = 2): DataFrame = {
    graft.functions.DotProduct.register(left.sparkSession)
    def withNorm(df: DataFrame) = df
      .select(col("vec_id"), col("e"),
        sqrt(aggregate(col("e"), lit(0.0d), (acc, x) => acc + x * x)).as("nrm"))
    val idx = broadcast(
      Ann.bucketKeys(withNorm(left), tables, planesPerTable, dim, seed)
        .select(col("vec_id").as("eval_id"), col("e").as("le"),
          col("nrm").as("lnrm"), col("table"), col("bucket")))
    val probe = (
      if (nprobe > 0)
        Ann.probedBucketKeys(withNorm(right), tables, planesPerTable, dim,
          seed, nprobe)
      else Ann.bucketKeys(withNorm(right), tables, planesPerTable, dim, seed))
      .select(col("vec_id").as("corpus_id"), col("e"), col("nrm"),
        col("table"), col("bucket"))
    probe.join(idx, Seq("table", "bucket"))
      .withColumn("c", round(
        graft.functions.DotProduct(col("le"), col("e"))
          / (col("lnrm") * col("nrm")), 6))
      .filter(col("c") >= threshold)
      .select(col("corpus_id"), col("eval_id"), col("c"))
      .dropDuplicates("corpus_id", "eval_id")
  }

  /** Full semantic-dedup pipeline: cell pairs → large-star/small-star
    * connected components → (doc_id, cluster_id, is_canonical) labels,
    * the [[ConnectedComponents.clusterLabels]] contract shared with
    * `dedup_cluster`/`dedup_minhash_cluster` (min member is canonical;
    * vectors with no above-threshold neighbour don't appear).
    */
  def clusters(vecs: DataFrame, threshold: Double, nlist: Int = 8,
               iters: Int = 2, maxCellSize: Int = 100000,
               nassign: Int = 2): DataFrame = {
    val edges = cellPairs(vecs, threshold, nlist, iters, maxCellSize, nassign)
      .select(col("v1").as("src"), col("v2").as("dst"))
    ConnectedComponents.clusterLabels(ConnectedComponents.componentsStar(edges))
  }
}
