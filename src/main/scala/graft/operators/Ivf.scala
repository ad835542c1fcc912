package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbour — the
  * coarse-quantisation alternative to hyperplane LSH ([[Ann]]):
  * k-means-style cells, queries probe only the `nprobe` nearest cells.
  *
  * Centroid init is a deterministic hash-ordered sample; Lloyd
  * iterations are (fused nearest-cell assign) → (one
  * [[graft.functions.VectorSum]]+count aggregate per cell) — map-side
  * partial vector sums, so each iteration shuffles only
  * |cells|·|partitions| sum buffers (the r9 posexplode form shuffled
  * n·dim rows per round), run a fixed small number of times. Centroids
  * live driver-side as primitive arrays between rounds; per-round
  * driver traffic is exactly one nlist-row aggregate result in and one
  * (destroyed-after-use) broadcast out. At 100 TB you train centroids
  * on a sample and only the single assign pass sees the full data.
  *
  * Cell assignment is a native [[graft.functions.NearestCells]]
  * expression (r7): the r6 formulation crossJoined every row against
  * broadcast(cents) and ranked with a `vec_id` window — an nlist× row
  * blow-up plus a full corpus shuffle per Lloyd step and per index
  * build, most of sim_ivf_pq's 100× build cost. The fused form scores
  * all centroids per row inside whole-stage codegen: zero joins, zero
  * shuffles on the assign path. The window forms remain below
  * ([[assignWindowed]]/[[probeCellsWindowed]]) as the proven-equal
  * reference implementations the bit-identity spec compares against.
  */
object Ivf {
  private def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSimilarity(a, b)

  /** Driver-side centroid snapshot, sorted by cell id — nlist rows (the
    * same bounded collect [[centroids]] already performs per training
    * round for lineage truncation).
    */
  private def collectCents(cents: DataFrame): (Seq[Long], Seq[Seq[Double]]) = {
    val rows = cents.select(col("cell"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    (rows.map(_._1).toSeq, rows.map(_._2).toSeq)
  }

  /** Above this cell count the assign/probe expressions carry their
    * centroid table in a BROADCAST variable instead of constructor
    * literals: the literal form serializes the whole table into every
    * task binding and rebuilds it per task — fine at fixture nlist,
    * a driver-and-wire ceiling once nlist scales with the corpus
    * (autoNlist at 10⁹ vectors is ~10⁶ cells ≈ 500 MB of centroids).
    * Both carriers run the SAME kernel (bit-identical assignment,
    * spec-gated in PlanSpec); `var` so specs can force the broadcast
    * path on fixture-sized tables.
    */
  @volatile private[graft] var bcThreshold: Int = 1024

  /** Column handle on a configured [[graft.functions.NearestCells]] (or
    * its broadcast carrier, above [[bcThreshold]] cells) via the function
    * registry, keyed on centroid CONTENT / broadcast id (Spark 4's Column
    * hides Expression — the LshProbes/PqCodec seam; a session may hold
    * several trained indexes at once).
    */
  private def nearestCellsFn(df: DataFrame, ids: Seq[Long],
                             vecs: Seq[Seq[Double]], nprobe: Int): Column => Column =
    nearestCellsFnH(df, ids, vecs, nprobe)._1

  /** [[nearestCellsFn]] exposing the broadcast handle (None on the
    * literal path) so BOUNDED callers — the Lloyd loop, which replaces
    * its centroid table every round — can `destroy()` the round's
    * broadcast once its aggregate is collected, instead of stacking
    * iters stale copies on the driver and executors (at the 10⁶-cell
    * dial each copy is ~500 MB; steady-state callers keep theirs alive
    * for the life of the registered function).
    */
  private def nearestCellsFnH(df: DataFrame, ids: Seq[Long],
                              vecs: Seq[Seq[Double]], nprobe: Int)
      : (Column => Column, Option[org.apache.spark.broadcast.Broadcast[_]]) = {
    val registry = df.sparkSession.sessionState.functionRegistry
    if (ids.length >= bcThreshold) {
      val bc = df.sparkSession.sparkContext.broadcast(
        graft.functions.NearestCells.cents(ids, vecs))
      val name = s"nearest_cells_bc_${bc.id}_$nprobe"
      registry.createOrReplaceTempFunction(
        name, exprs => graft.functions.NearestCellsBc(exprs.head, bc, nprobe),
        "scala_udf")
      (c => call_function(name, c), Some(bc))
    } else {
      val name = s"nearest_cells_${Integer.toHexString((ids, vecs).hashCode)}_$nprobe"
      registry.createOrReplaceTempFunction(
        name, exprs => graft.functions.NearestCells(exprs.head, ids, vecs, nprobe),
        "scala_udf")
      (c => call_function(name, c), None)
    }
  }

  /** [[nearestCellsFn]]'s two-level sibling
    * ([[graft.functions.NearestCellsCoarse]]): per-row cost
    * O(√nlist·(1+wCoarse)·d) instead of O(nlist·d) — the right side of
    * the trade when nlist scales with the corpus and the caller is
    * BLOCKING (EmbedDedup), not serving a bit-identity contract.
    */
  private def nearestCellsCoarseFn(df: DataFrame, ids: Seq[Long],
                                   vecs: Seq[Seq[Double]], nprobe: Int,
                                   wCoarse: Int): Column => Column =
    nearestCellsCoarseFnH(df, ids, vecs, nprobe, wCoarse)._1

  /** Coarse sibling of [[nearestCellsFnH]] — same broadcast-handle
    * contract for bounded callers.
    */
  private def nearestCellsCoarseFnH(df: DataFrame, ids: Seq[Long],
                                    vecs: Seq[Seq[Double]], nprobe: Int,
                                    wCoarse: Int)
      : (Column => Column, Option[org.apache.spark.broadcast.Broadcast[_]]) = {
    val registry = df.sparkSession.sessionState.functionRegistry
    if (ids.length >= bcThreshold) {
      // Broadcasting matters MOST here: the coarse carrier ships the
      // fully-built two-level table, so the O(nlist^1.5·d) coarse Lloyd
      // runs once driver-side instead of once per deserialized task.
      val bc = df.sparkSession.sparkContext.broadcast(
        graft.functions.NearestCellsCoarse.build(ids, vecs))
      val name = s"nearest_cells_coarse_bc_${bc.id}_${nprobe}_$wCoarse"
      registry.createOrReplaceTempFunction(
        name,
        exprs => graft.functions.NearestCellsCoarseBc(exprs.head, bc, nprobe, wCoarse),
        "scala_udf")
      (c => call_function(name, c), Some(bc))
    } else {
      val name =
        s"nearest_cells_coarse_${Integer.toHexString((ids, vecs).hashCode)}_${nprobe}_$wCoarse"
      registry.createOrReplaceTempFunction(
        name,
        exprs => graft.functions.NearestCellsCoarse(exprs.head, ids, vecs, nprobe, wCoarse),
        "scala_udf")
      (c => call_function(name, c), None)
    }
  }

  /** Deterministic initial centroids: the `nlist` vectors with smallest
    * xxhash64(vec_id) (a seedless, stable pseudo-random sample).
    */
  private def init(data: DataFrame, nlist: Int): DataFrame =
    data.orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(nlist)
      .select(monotonically_increasing_id().as("cell"), col("e").as("centroid"))

  /** Above this nlist, Lloyd TRAINING assignment also descends through
    * the two-level coarse expression: the flat per-row argmax makes each
    * training round O(sample·nlist·d) — at nlist = 10⁴ and the 25·nlist
    * sample that is ~10¹⁴ flops/round, infeasible on any cluster budget —
    * while the coarse descent is O(sample·√nlist·(1+w)·d). Production IVF
    * trains exactly this way (faiss's quantizer-over-centroids). Training
    * geometry shifts only near coarse boundaries — a blocking-grade
    * trade; the fixture-scale dials (sim_ivf specs, nlist ≤ 32) keep the
    * exact flat training bit-for-bit.
    */
  private val coarseTrainThreshold = 4096

  /** One Lloyd step over driver-held centroid arrays: assign to nearest
    * centroid (fused — no join, no shuffle; coarse descent above
    * [[coarseTrainThreshold]]), then ONE [[graft.functions.VectorSum]] +
    * count aggregate per cell — map-side partial vector sums, so the
    * shuffle moves |cells|·|partitions| buffers instead of the n·dim
    * rows the r6–r9 posexplode formulation paid per round. The collect
    * is the aggregate RESULT (nlist sum-vectors — the mathematical
    * minimum for a driver-mediated broadcast refresh), not centroid
    * Rows re-created into a per-round DataFrame; means divide
    * driver-side. Cells that win no vectors KEEP their previous
    * centroid (a dropped cell would silently shrink the index below
    * nlist). The round's broadcast carrier (if any) is destroyed once
    * the aggregate lands — driver memory stays flat across rounds at
    * any nlist dial.
    */
  private def stepArrays(train: DataFrame, ids: Seq[Long],
                         vecs: Array[Array[Double]], nlist: Int): Array[Array[Double]] = {
    val vseq: Seq[Seq[Double]] = vecs.map(_.toSeq).toSeq
    val (nc, bcOpt) =
      if (nlist >= coarseTrainThreshold)
        nearestCellsCoarseFnH(train, ids, vseq, nprobe = 1, wCoarse = 4)
      else nearestCellsFnH(train, ids, vseq, nprobe = 1)
    val agg =
      try train
        .withColumn("cell", element_at(nc(col("e")), 1))
        // NearestCells is null-safe, so a null embedding yields a null
        // cell; without this filter the null group's getLong(0) reads 0
        // (aliasing onto real cell id 0) and its null sum NPEs the mean.
        // The r9 join-based step dropped the group implicitly — keep
        // that behavior explicit.
        .filter(col("cell").isNotNull)
        .groupBy(col("cell"))
        .agg(call_function("vec_sum", col("e")).as("s"), count(lit(1)).as("cnt"))
        .collect()
      finally bcOpt.foreach(_.destroy())
    val idx = ids.zipWithIndex.toMap
    val next = vecs.map(_.clone())
    agg.foreach { r =>
      val i = idx(r.getLong(0))
      val s = r.getSeq[Double](1)
      val cnt = r.getLong(2).toDouble
      next(i) = Array.tabulate(s.length)(d => s(d) / cnt)
    }
    next
  }

  /** Rounds the last [[centroids]] call actually ran (diagnostic, read
    * by ScaleOpsSpec).
    */
  @volatile private[graft] var lastRounds: Int = 0

  /** Train centroids: hash-sample init + Lloyd steps, CONVERGENCE-GATED
    * up to `iters` (a max, not a fixed count): training stops as soon as
    * a step leaves every centroid bit-identical — once assignments reach
    * a fixed point the recomputed means are deterministic, so
    * bit-equality IS the fixed-point test (the CC convergence-digest
    * idea; the digest is free because the centroids live driver-side
    * between rounds). Centroids are collected ONCE (init) and held as
    * primitive arrays across rounds — no per-round DataFrame re-creation,
    * no Row boxing, no per-round LocalRelation ship; each round is one
    * fused assign + one [[graft.functions.VectorSum]] aggregate whose
    * nlist-row result is the only per-round driver traffic
    * ([[stepArrays]]). Lineage cannot stack across rounds because no
    * round's output is a DataFrame.
    */
  def centroids(data: DataFrame, nlist: Int = 8, iters: Int = 8,
                trainSample: Int = 0): DataFrame =
    if (nlist >= dfStateThreshold) centroidsDF(data, nlist, iters, trainSample)
    else centroidsArrays(data, nlist, iters, trainSample)

  /** Above this nlist the centroid STATE itself leaves the driver:
    * [[centroids]] delegates to [[centroidsDF]], which holds the
    * between-rounds centroid table as a persisted DataFrame and runs
    * each Lloyd step as joins+aggregates — the driver retains only the
    * √nlist coarse routing table. Below it, [[centroidsArrays]] keeps
    * the exact flat training whose bit-identity the sim_ivf specs pin.
    * At the autoNlist extreme (10⁶ cells × 512 dims) the array state is
    * ~4 GB of driver heap; the DF path caps driver state at
    * O(√nlist·d). `var` so specs/sweeps can force either path.
    */
  @volatile private[graft] var dfStateThreshold: Int = 65536

  /** Exact flat Lloyd training with driver-held centroid arrays — the
    * default below [[dfStateThreshold]]; see [[centroids]].
    */
  private[graft] def centroidsArrays(data: DataFrame, nlist: Int = 8, iters: Int = 8,
                                     trainSample: Int = 0): DataFrame = {
    val spark = data.sparkSession
    graft.functions.CosineSimilarity.register(spark)
    // Bounded training (opt-in, the Pq.train discipline): Lloyd rounds run
    // over a deterministic hash-ordered sample instead of the full corpus,
    // so each round costs sample·nlist·d, not n·nlist·d — at nlist scaled
    // with n (EmbedDedup's dial) full-corpus rounds are a hidden n²/c
    // term paid iters times. The sample is persisted for the rounds (the
    // TakeOrdered would otherwise rescan the corpus every round) and 0
    // keeps the exact full-data training sim_ivf's specs pin.
    val (train, trainPersisted) =
      if (trainSample <= 0) (data, false)
      else {
        // The limit executes as TakeOrdered into ONE partition; without a
        // repartition every Lloyd round over the sample would then run
        // fully serialized on a single task (bounded cost, zero
        // parallelism). Spread it across the cluster before persisting —
        // only the hier/blocking path trains on samples, so the FP-sum
        // regrouping this introduces is outside the bit-identity specs
        // (trainSample=0 keeps exact full-data training untouched).
        val s = data.orderBy(xxhash64(col("vec_id")), col("vec_id"))
          .limit(math.max(trainSample, nlist))
          .repartition(data.sparkSession.sparkContext.defaultParallelism)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (s, true)
      }
    graft.functions.VectorSum.register(spark)
    try {
      val first = init(train, nlist)
      val schema = first.schema
      val initRows = first.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
      val ids: Seq[Long] = initRows.map(_._1).toSeq
      var vecs: Array[Array[Double]] = initRows.map(_._2)
      var round = 0
      var converged = false
      while (!converged && round < iters) {
        val next = stepArrays(train, ids, vecs, nlist)
        converged = vecs.corresponds(next)(java.util.Arrays.equals)
        vecs = next
        round += 1
      }
      lastRounds = round
      val out = ids.zip(vecs).map { case (id, v) =>
        org.apache.spark.sql.Row(id, v.toSeq)
      }
      spark.createDataFrame(java.util.Arrays.asList(out: _*), schema)
    } finally if (trainPersisted) { train.unpersist(); () }
  }

  /** DataFrame-resident Lloyd training — the extreme-dial form of
    * [[centroids]] (engaged above [[dfStateThreshold]]): centroid state
    * never materializes on the driver. The driver holds ONLY a
    * √nlist-cell coarse routing table (trained by [[centroidsArrays]],
    * bounded); the nlist fine centroids live in a persisted DataFrame
    * `(cell, centroid)` and every Lloyd step is joins + aggregates:
    *
    *   1. route: each fine centroid → its nearest coarse group (fused
    *      expression over the √nlist driver table); each train row →
    *      its `1 + wProbe` nearest coarse groups (same expression,
    *      exploded) — faiss's quantizer-over-centroids descent, in
    *      relational form;
    *   2. candidate join on `group` (hash shuffle keyed on the coarse
    *      group; ~√nlist·(1+wProbe) candidates per row, never nlist);
    *   3. per-row argmax via one `max_by` hash aggregate (tie rule
    *      sim desc, cell asc — the windowed form's rule);
    *   4. per-cell mean via one [[graft.functions.VectorSum]] aggregate,
    *      LEFT-joined back to the previous state so empty cells keep
    *      their centroid (the [[stepArrays]] rule).
    *
    * Each round's state is `localCheckpoint`ed (executor-resident
    * blocks, O(nlist·d) TOTAL — not driver heap) so lineage cannot
    * stack across rounds; convergence is a changed-cell count per round
    * (one scalar to the driver — the CC convergence-digest idea).
    *
    * Contract differences from the exact path, both inherent to scale
    * and documented rather than hidden: init is a hash-thresholded
    * Bernoulli sample of ≈nlist vectors (cell id = the seed vector's
    * `vec_id`; an exact-k init would be a driver TakeOrdered of the
    * whole centroid table), and assignment descends through the coarse
    * groups, so geometry near coarse boundaries can differ from flat
    * argmax unless `wProbe ≥ nCoarse − 1` (which degenerates to exact —
    * the spec's setting). A train row whose probed groups contain no
    * fine cell skips the round, like [[stepArrays]]' null-cell drop.
    */
  def centroidsDF(data: DataFrame, nlist: Int, iters: Int = 8,
                  trainSample: Int = 0, wProbe: Int = 2): DataFrame = {
    val spark = data.sparkSession
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.VectorSum.register(spark)
    val (train, trainPersisted) =
      if (trainSample <= 0) (data, false)
      else {
        val s = data.orderBy(xxhash64(col("vec_id")), col("vec_id"))
          .limit(math.max(trainSample, nlist))
          .repartition(spark.sparkContext.defaultParallelism)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (s, true)
      }
    try {
      // coarse routing table: √nlist cells, the ONLY centroid state the
      // driver ever holds on this path
      val nCoarse = math.max(math.ceil(math.sqrt(nlist.toDouble)).toInt, 2)
      val coarse = centroidsArrays(train, nCoarse, iters)
      val (cIds, cVecs) = collectCents(coarse)

      // init: hash-thresholded Bernoulli sample, E[cells] = min(nlist, n)
      val total = train.filter(col("e").isNotNull).count()
      val m = 1000000L
      val cut = math.max(math.min(m,
        math.round(nlist.toDouble / math.max(total, 1L) * m)), 1L)
      var cents = train.filter(col("e").isNotNull &&
          pmod(xxhash64(col("vec_id")), lit(m)) < lit(cut))
        .select(col("vec_id").as("cell"), col("e").as("centroid"))
        .localCheckpoint()

      var round = 0
      var converged = false
      while (!converged && round < iters) {
        val (routeFn, bcR) = nearestCellsFnH(cents, cIds, cVecs, 1)
        val (probeFn, bcP) = nearestCellsFnH(train, cIds, cVecs, 1 + wProbe)
        val centsG = cents.withColumn("group",
          element_at(routeFn(col("centroid")), 1))
        val assigned = train
          .select(col("vec_id"), col("e"),
            explode(probeFn(col("e"))).as("group"))
          .join(centsG, Seq("group"))
          .withColumn("sim", cosine(col("e"), col("centroid")))
          .groupBy(col("vec_id"))
          .agg(max_by(struct(col("cell"), col("e")),
            struct(col("sim"), -col("cell"))).as("b"))
          .select(col("b.cell").as("cell"), col("b.e").as("e"))
        val sums = assigned.groupBy(col("cell"))
          .agg(call_function("vec_sum", col("e")).as("s"),
            count(lit(1)).as("cnt"))
        val next =
          try cents.join(sums, Seq("cell"), "left")
            .select(col("cell"),
              when(col("cnt").isNotNull,
                transform(col("s"), (x: Column) => x / col("cnt")))
                .otherwise(col("centroid")).as("centroid"))
            .localCheckpoint()
          finally { bcR.foreach(_.destroy()); bcP.foreach(_.destroy()); () }
        val changed = next.alias("n")
          .join(cents.alias("p"), Seq("cell"))
          .filter(col("n.centroid") =!= col("p.centroid"))
          .count()
        // `next` is materialized (eager localCheckpoint) and `changed`
        // has consumed the old state — free the superseded round's
        // blocks NOW. Without this each round's O(nlist·d) state stays
        // block-manager resident until GC triggers the ContextCleaner,
        // so several rounds coexist (~4 GB each at the 10⁶-cell/512-dim
        // dial), at odds with the O(nlist·d) TOTAL claim (r11 ADVICE).
        Checkpoints.free(cents)
        cents = next
        converged = changed == 0L
        round += 1
      }
      lastRounds = round
      cents
    } finally if (trainPersisted) { train.unpersist(); () }
  }

  /** Assign every vector to its nearest cell — one fused compiled pass
    * per row, no join, no shuffle ([[graft.functions.NearestCells]]).
    */
  def assign(data: DataFrame, cents: DataFrame): DataFrame = {
    val (ids, vecs) = collectCents(cents)
    val nc = nearestCellsFn(data, ids, vecs, nprobe = 1)
    data.withColumn("cell", element_at(nc(col("e")), 1))
  }

  /** Overlapping assignment: each vector lands in its `nassign` nearest
    * cells (one fused pass + explode — nassign rows per vector). The
    * canopy-blocking trade ([[EmbedDedup]]): candidate sets grow ~nassign×
    * per side, recall over near-boundary pairs grows much faster, because
    * a pair is blocked together if ANY of the two cell sets intersect.
    */
  def assignMulti(data: DataFrame, cents: DataFrame, nassign: Int): DataFrame = {
    val (ids, vecs) = collectCents(cents)
    val nc = nearestCellsFn(data, ids, vecs, nassign)
    data.withColumn("cell", explode(nc(col("e"))))
  }

  /** [[assignMulti]] through the two-level expression: exact argmax is
    * traded for a coarse-group descent (assignment may differ near
    * coarse boundaries — fine for blocking, measured in EmbedDedupSpec),
    * cutting the per-row cost from nlist·d to √nlist·(1+wCoarse)·d.
    * `wCoarse ≥ ⌈√nlist⌉` degenerates to the exact flat result.
    */
  def assignMultiCoarse(data: DataFrame, cents: DataFrame, nassign: Int,
                        wCoarse: Int = 4): DataFrame = {
    val (ids, vecs) = collectCents(cents)
    val nc = nearestCellsCoarseFn(data, ids, vecs, nassign, wCoarse)
    data.withColumn("cell", explode(nc(col("e"))))
  }

  /** Each query's `nprobe` nearest cells: (qid, qe, cell). Package-
    * visible for [[Pq.ivfPqTopK]] — the IVF-PQ composition probes cells
    * here and reranks by ADC over codes. Emits min(nprobe, nlist) rows
    * per query, like the windowed form's `rn <= nprobe` filter.
    */
  private[graft] def probeCells(queries: DataFrame, cents: DataFrame,
                                nprobe: Int): DataFrame = {
    val (ids, vecs) = collectCents(cents)
    val nc = nearestCellsFn(queries, ids, vecs, nprobe)
    queries.select(col("vec_id").as("qid"), col("e").as("qe"))
      .select(col("qid"), col("qe"), explode(nc(col("qe"))).as("cell"))
  }

  /** The r6 crossJoin + window reference form of [[assign]] — kept (with
    * [[probeCellsWindowed]]) so the fusion spec proves the compiled path
    * bit-identical on real data, the MinHash/LshProbes discipline.
    */
  private[graft] def assignWindowed(data: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id")).orderBy(col("sim").desc, col("cell").asc)
    data.crossJoin(broadcast(cents))
      .withColumn("sim", cosine(col("e"), col("centroid")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "sim", "centroid")
  }

  /** The r6 crossJoin + window reference form of [[probeCells]]. */
  private[graft] def probeCellsWindowed(queries: DataFrame, cents: DataFrame,
                                        nprobe: Int): DataFrame = {
    val wq = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cell").asc)
    queries.select(col("vec_id").as("qid"), col("e").as("qe"))
      .crossJoin(broadcast(cents))
      .withColumn("sim", cosine(col("qe"), col("centroid")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nprobe)
      .select(col("qid"), col("qe"), col("cell"))
  }

  /** Per-query top-k over the union of the `nprobe` nearest cells. Pass
    * a precomputed (cents, indexed) pair to reuse a trained index
    * across calls (e.g. an nprobe sweep over one index).
    */
  def topK(queries: DataFrame, data: DataFrame, k: Int,
           nlist: Int = 8, nprobe: Int = 4, iters: Int = 2,
           index: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val (cents, indexed) = index.getOrElse {
      val c = centroids(data, nlist, iters)
      (c, assign(data, c))
    }
    val probes = probeCells(queries, cents, nprobe)
    val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("vec_id").asc)
    probes.join(indexed, Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("c", round(cosine(col("qe"), col("e")), 5))
      // score computed — ship (qid, vec_id, c), not the embeddings,
      // through the candidates-sized rank exchange (the Pq.topKByDistance
      // narrowing; both embedding columns are ~512 B/row at dim=64)
      .select(col("qid"), col("vec_id"), col("c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("c"))
  }

  /** [[nprobeDial]]'s calibration result: the chosen probe depth, the
    * measured sample recall at it, the full recall@probe-rank curve
    * (`curve(p-1)` = recall at probe depth p), and the pair count the
    * curve was estimated from.
    */
  case class NprobeDial(nprobe: Int, recallAtNprobe: Double,
                        curve: Seq[Double], samplePairs: Long)

  /** Recall-targeted nprobe dial — the [[Ann.lshTopKDial]] of the IVF
    * serving path, closing the last hand-dialed ANN constant. Unlike
    * the hyperplane family there is NO useful closed-form recall model
    * for IVF: hyperplane collision probability is pure geometry
    * (1 − θ_angle/π, data-independent), but IVF recall at
    * (nlist, nprobe) is set by where Lloyd's cell boundaries fell
    * relative to the data's neighbourhood structure — a DATASET
    * property (the same (nlist=8, nprobe=2) dial reads ~1.0 on
    * well-separated clusters and far less when true neighbourhoods
    * straddle boundaries). So this dial is EMPIRICAL, the standard IVF
    * practice: calibrate the recall@probe-rank curve on a bounded
    * deterministic query sample against the exact top-k, then choose
    * min{p : recall(p) ≥ targetRecall} (p = nlist always qualifies —
    * probing every cell IS the exact scan).
    *
    * One pass prices every candidate depth simultaneously:
    *
    *   recall(p) = fraction of (sample query, true top-k neighbour)
    *               pairs whose neighbour's assigned cell sits within
    *               the query's p nearest cells,
    *
    * computed as the cumulative histogram of each true pair's PROBE
    * RANK (the position of the neighbour's cell in the query's full
    * cell ordering) — one exact-scoring join + one rank join, never
    * one topK run per candidate nprobe.
    *
    * Scale shape: the only full-corpus costs are the one-pass
    * brute-force scoring of `sampleQueries` BROADCAST queries (the
    * sim_topk shape — sample × n rows through the codegen'd cosine,
    * bounded by the sample knob) and the index assign it shares with
    * serving (pass `index` to reuse a trained one). The curve
    * aggregate ships one (probe-rank, count) row per distinct rank;
    * the driver holds one nlist-length histogram. Honesty: an
    * empirical curve is UNBIASED, not conservative — a caller wanting
    * a one-sided floor adds margin (the spec validates held-out
    * queries at the chosen dial; the LSH dials get their one-sidedness
    * from a model fit conservative against sweep anchors instead).
    */
  def nprobeDial(data: DataFrame, k: Int, targetRecall: Double,
                 nlist: Int = 8, sampleQueries: Int = 64, iters: Int = 2,
                 index: Option[(DataFrame, DataFrame)] = None): NprobeDial = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0,1]: $targetRecall")
    require(k >= 1, s"k must be >= 1: $k")
    require(sampleQueries >= 1, s"sampleQueries must be >= 1: $sampleQueries")
    val (cents, indexed) = index.getOrElse {
      val c = centroids(data, nlist, iters)
      (c, assign(data, c))
    }
    val (ids, vecs) = collectCents(cents)
    val cells = ids.length
    // Deterministic calibration sample: hash-ordered head, but under a
    // SALTED hash — [[init]] seeds the centroids from the head of the
    // UNSALTED xxhash64(vec_id) order, so an unsalted sample of size ≥
    // nlist is exactly the initial-centroid set: vectors that SIT at
    // cell centers, whose top-k trivially share their cell. Measured
    // on the 200k scale fixture at nlist=128 before the salt: the
    // unsalted sample read recall@1 = 0.99 while independent queries
    // read 0.104 — the calibration sample must be independent of the
    // index's own training sample, or the curve describes the seeds,
    // not the corpus.
    val sample = data
      .orderBy(xxhash64(col("vec_id"), lit("nprobe-dial")), col("vec_id"))
      .limit(sampleQueries)
      .select(col("vec_id").as("qid"), col("e").as("qe"))
    // exact top-k ground truth: [[Ann.bruteTopK]] — the ONE brute-force
    // contract (same CosineSimilarity kernel, round-5, tie-break and
    // self-exclusion as [[topK]]), so "true neighbour" means what
    // serving means by it and a future tie-break change can't skew
    // calibration against serving
    val truth = Ann.bruteTopK(
        sample.select(col("qid").as("vec_id"), col("qe").as("e")), data, k)
      .select(col("qid"), col("vec_id"))
    // each query's FULL cell ordering → (qid, probe rank, cell)
    val nc = nearestCellsFn(sample, ids, vecs, nprobe = cells)
    val ranked = sample
      .select(col("qid"), posexplode(nc(col("qe"))))
      .toDF("qid", "pr", "cell")
    // probe rank of every true pair, via the neighbour's assigned cell
    val hist = truth
      .join(indexed.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .join(ranked, Seq("qid", "cell"))
      .groupBy(col("pr")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val total = hist.values.sum
    require(total > 0,
      "calibration produced no (query, neighbour) pairs — empty data or k too small")
    val curve = (1 to cells)
      .scanLeft(0L)((acc, p) => acc + hist.getOrElse(p - 1, 0L))
      .drop(1).map(_.toDouble / total)
    val chosen = curve.indexWhere(_ >= targetRecall) match {
      case -1 => cells // float-edge guard: p = cells is the exact scan
      case i  => i + 1
    }
    NprobeDial(chosen, curve(chosen - 1), curve, total)
  }
}
