package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate nearest-neighbour search over an embedding column — the
  * scale path for `sim_topk` (SURVEY.md §2.3).
  *
  * Random-hyperplane LSH (signed projections → bit buckets), with L
  * independent tables to recover recall: a query only compares against
  * vectors sharing a bucket in ≥1 table, so the candidate set is
  * |tables| × (n / 2^planes) on average instead of n. All plain DataFrame
  * ops: the bucket join is an equi shuffle join, per-query top-k is a
  * bounded window. Brute force (`bruteTopK`) is the exact baseline the
  * recall tests measure against.
  */
object Ann {
  /** Deterministic unit-free hyperplanes: tables × planes × dim gaussians. */
  private def planes(tables: Int, planesPerTable: Int, dim: Int,
                     seed: Long): Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables, planesPerTable, dim)(rnd.nextGaussian())
  }

  /** Fast-fail nicety: catch a mis-configured dim from the FIRST row
    * before launching the real job ([[graft.functions.LshProbes]] also
    * validates EVERY row — length and element nulls — at eval time, so
    * ragged rows past the head fail loud there, not silently). Rows
    * whose whole `e` is NULL emit no bucket keys at all (the expression
    * propagates null, posexplode drops it): an unindexable vector simply
    * doesn't participate — filter or fail upstream if that's unexpected.
    */
  private def checkDim(df: DataFrame, dim: Int): Unit =
    df.select(size(col("e"))).head(1).foreach { r =>
      require(r.getInt(0) == dim,
        s"embedding dim ${r.getInt(0)} != configured dim $dim")
    }

  /** All tables' probe lists in one fused pass ([[graft.functions.LshProbes]]
    * — the Column-tree formulation interprets tables × planes separate
    * HOF folds per row; the expression runs one compiled loop nest).
    * Spark 4's Column has no public Expression accessor, so the
    * configured expression is exposed through the function registry
    * under a per-configuration name (idempotent re-registration), the
    * same seam [[graft.functions.CosineSimilarity]] uses.
    */
  private def probeLists(df: DataFrame, tables: Int, planesPerTable: Int,
                         dim: Int, seed: Long, nprobe: Int): Column = {
    // 'm' for minus: a raw negative seed would put '-' in the function
    // name and call_function's identifier parse rejects it (replace, not
    // negate: -Long.MinValue is still negative)
    val seedTag = seed.toString.replace('-', 'm')
    val name = s"lsh_probes_${tables}_${planesPerTable}_${dim}_${seedTag}_$nprobe"
    val ps = planes(tables, planesPerTable, dim, seed)
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => graft.functions.LshProbes(exprs.head, ps, nprobe), "scala_udf")
    call_function(name, col("e"))
  }

  def bucketKeys(df: DataFrame, tables: Int = 16, planesPerTable: Int = 5,
                 dim: Int = 64, seed: Long = 42L): DataFrame = {
    checkDim(df, dim)
    df.select(col("*"),
        posexplode(probeLists(df, tables, planesPerTable, dim, seed, nprobe = 0))
          .as(Seq("table", "probes")))
      .withColumn("bucket", element_at(col("probes"), 1))
      .drop("probes")
  }

  /** Multi-probe bucket keys (query side only): besides its own bucket in
    * each table, a query also probes the buckets reachable by flipping the
    * `nprobe` hyperplane bits with the SMALLEST projection margin — the
    * planes the query sits closest to, i.e. the flips most likely to hold
    * its true neighbours (Lv et al., VLDB 2007, "Multi-Probe LSH").
    *
    * The scale argument vs adding tables: doubling `tables` doubles the
    * DATA-side index (the 100 TB cost — every vector keyed into every
    * table) for ~2× candidates; multi-probe leaves the data-side index
    * untouched and only explodes the tiny query side by (1 + nprobe [+ 1
    * pair probe at nprobe >= 2: the bucket across BOTH nearest
    * boundaries])×, while targeting the extra probes at the likeliest
    * buckets instead of independent re-hashes. Candidate growth is
    * sub-linear in probes because probe buckets overlap the base
    * bucket's neighbourhood.
    */
  def probedBucketKeys(df: DataFrame, tables: Int = 16, planesPerTable: Int = 5,
                       dim: Int = 64, seed: Long = 42L, nprobe: Int = 2): DataFrame = {
    checkDim(df, dim)
    // one LshProbes pass emits every table's ordered probe list (base,
    // single flips by ascending |margin|, then the Hamming-2 pair flip
    // of the two nearest planes); two explodes key the rows
    df.select(col("*"),
        posexplode(probeLists(df, tables, planesPerTable, dim, seed, nprobe))
          .as(Seq("table", "probes")))
      .select(df.columns.map(col).toIndexedSeq :+ col("table")
        :+ explode(col("probes")).as("bucket"): _*)
  }

  /** Exact brute-force cosine top-k per query (the baseline). Both inputs
    * need (id, e, norm); queries should be small enough to broadcast.
    */
  def bruteTopK(queries: DataFrame, data: DataFrame, k: Int): DataFrame = {
    graft.functions.CosineSimilarity.register(queries.sparkSession)
    val q = broadcast(queries.select(col("vec_id").as("qid"), col("e").as("qe")))
    val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("vec_id").asc)
    q.join(data, col("vec_id") =!= col("qid"))
      .withColumn("c", round(graft.functions.CosineSimilarity(col("qe"), col("e")), 5))
      // narrow before the rank exchange — see Pq.topKByDistance
      .select(col("qid"), col("vec_id"), col("c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("c"))
  }

  /** LSH top-k: compare each query only against same-bucket candidates
    * from any of the L tables. `nprobe > 0` adds multi-probe on the query
    * side ([[probedBucketKeys]]) — recall of a much larger table count at
    * the data-side index cost of this one.
    */
  /** The data side's (vec_id, e, table, bucket) index plus the exact
    * hashing configuration it was built with — a TYPED carrier so a
    * prebuilt index can't silently join against queries hashed with
    * different planes (same bucket ids, different geometry: plausible
    * but garbage neighbours). Built once for reuse across many query
    * batches; cache/persist `keys` at the call site (the streaming sink
    * does, and unpersists on query termination).
    */
  final case class AnnIndex(keys: DataFrame, tables: Int, planesPerTable: Int,
                            dim: Int, seed: Long,
                            maxBucketSize: Int = Int.MaxValue)

  /** `maxBucketSize` (round 15): buckets with more than this many data
    * rows are dropped WHOLE from the index (the [[EmbedDedup.lshPairs]]
    * rule — truncation would be partition-order-dependent). Default
    * uncapped: unlike the pair screen, a dropped serving bucket drops
    * true neighbours for EVERY query in it, so the cap is only safe
    * when the table count is dialed to recover recall elsewhere
    * ([[lshTopKDial]]) — a query's hot bucket in one table is a
    * differently-bounded bucket in the next (independent hyperplanes),
    * unless the vectors are IDENTICAL, which [[lshTopKGrouped]]
    * collapses out of the index entirely before the cap can hurt.
    */
  def dataIndex(data: DataFrame, tables: Int = 16, planesPerTable: Int = 5,
                dim: Int = 64, seed: Long = 42L,
                maxBucketSize: Int = Int.MaxValue): AnnIndex = {
    val keys = bucketKeys(data, tables, planesPerTable, dim, seed)
      .select(col("vec_id"), col("e"), col("table"), col("bucket"))
    val capped =
      if (maxBucketSize == Int.MaxValue) keys
      else keys
        .withColumn("bsz", count(lit(1)).over(
          Window.partitionBy(col("table"), col("bucket"))))
        .filter(col("bsz") <= maxBucketSize)
        .drop("bsz")
    AnnIndex(capped, tables, planesPerTable, dim, seed, maxBucketSize)
  }

  /** LSH top-k. With `index` set, `data` is ignored (the index IS the
    * data side) and the index's recorded configuration must match the
    * query-side parameters — checked, because a mismatch still joins.
    */
  def lshTopK(queries: DataFrame, data: DataFrame, k: Int,
              tables: Int = 16, planesPerTable: Int = 5, dim: Int = 64,
              seed: Long = 42L, nprobe: Int = 0,
              index: Option[AnnIndex] = None,
              maxBucketSize: Int = Int.MaxValue): DataFrame = {
    index.foreach { ix =>
      require(ix.tables == tables && ix.planesPerTable == planesPerTable &&
        ix.dim == dim && ix.seed == seed && ix.maxBucketSize == maxBucketSize,
        s"prebuilt index built with (tables=${ix.tables}, planes=" +
          s"${ix.planesPerTable}, dim=${ix.dim}, seed=${ix.seed}, " +
          s"maxBucketSize=${ix.maxBucketSize}) but queries hash with " +
          s"($tables, $planesPerTable, $dim, $seed, $maxBucketSize)")
    }
    graft.functions.CosineSimilarity.register(queries.sparkSession)
    val qk = if (nprobe > 0)
      probedBucketKeys(queries, tables, planesPerTable, dim, seed, nprobe)
    else bucketKeys(queries, tables, planesPerTable, dim, seed)
    val qb = qk.select(col("vec_id").as("qid"), col("e").as("qe"),
        col("table"), col("bucket"))
    val db = index.map(_.keys)
      .getOrElse(dataIndex(data, tables, planesPerTable, dim, seed,
        maxBucketSize).keys)
    // Score BEFORE the cross-table dedup: c is functionally determined by
    // (qid, vec_id), so a pair surfacing in several tables just recomputes
    // the same 64-flop cosine — far cheaper than shipping two 512-byte
    // embeddings per row through the dedup exchange. Both the dedup and
    // the rank window then move only (qid, vec_id, c).
    val cand = qb.join(db, Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("c", round(graft.functions.CosineSimilarity(col("qe"), col("e")), 5))
      .select("qid", "vec_id", "c")
      .dropDuplicates("qid", "vec_id")
    val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("vec_id").asc)
    cand
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("c"))
  }

  /** One-sided multi-probe boost: [[lshTopK]] probes only the QUERY side
    * (the data index stays base buckets), so a single-bit miss is
    * recoverable only by the query's probe list — half the recovery
    * channels of [[EmbedDedup.lshPairs]]'s either-direction probing,
    * whose measured κ=0.8 already prices the two directions together.
    */
  val OneSidedProbeKappa: Double = EmbedDedup.ProbeKappa / 2.0

  /** Predicted recall@∞ of [[lshTopK]] (nprobe=2 probing) for a true
    * neighbour AT cosine `theta` — the serving-path analogue of
    * [[EmbedDedup.lshPredictedRecall]]: a neighbour is findable iff it
    * shares ≥1 bucket with the query across the L tables. Ranking
    * crowd-out (a findable neighbour pushed below k by closer vectors)
    * is not modelled — this prices the INDEX, not the corpus.
    */
  def lshTopKPredictedRecall(theta: Double, planes: Int, tables: Int): Double = {
    require(theta > 0.0 && theta < 1.0, s"theta must be in (0,1): $theta")
    require(planes >= 1, s"planes must be >= 1: $planes")
    require(tables >= 1, s"tables must be >= 1: $tables")
    val p = EmbedDedup.planeCollision(theta)
    val pTable = math.pow(p, planes.toDouble) +
      OneSidedProbeKappa * planes * math.pow(p, (planes - 1).toDouble) * (1.0 - p)
    1.0 - math.pow(1.0 - pTable, tables.toDouble)
  }

  /** Recall-targeted serving dial (round-15 verdict #1): (planes,
    * tables, nprobe) holding `targetRecall` for neighbours at cosine
    * `theta` over a corpus of `rows` DISTINCT vectors — the
    * [[EmbedDedup.lshDial]] of the top-k path. The round-14 image→ANN
    * decade showed why planes must be allowed ABOVE the bucket-size
    * default in crowded feature spaces: at 48k rasters the fixed
    * (autoPlanes, 16 tables) dial held recall 1.0 but paid 850 s —
    * 17× cost for 4× rows — because tightly clustered histograms pile
    * into hot buckets that 9 planes can't split. Extra planes split
    * them geometrically (2× per plane at moderate cosine); the recall
    * these planes cost at `theta` is bought back with computed tables.
    * `targetBucket` is therefore the caller's cost dial: LOWER it in
    * crowded spaces (more planes, smaller buckets, a few more tables),
    * keep 250 for spread-out embeddings.
    */
  def lshTopKDial(rows: Long, theta: Double, targetRecall: Double,
                  targetBucket: Int = 250, maxTables: Int = 64): (Int, Int, Int) = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0,1): $targetRecall")
    require(theta > 0.0 && theta < 1.0, s"theta must be in (0,1): $theta")
    val planes = EmbedDedup.autoPlanes(rows, targetBucket)
    val p = EmbedDedup.planeCollision(theta)
    val pTable = math.pow(p, planes.toDouble) +
      OneSidedProbeKappa * planes * math.pow(p, (planes - 1).toDouble) * (1.0 - p)
    val tables = math.max(1, math.ceil(
      math.log1p(-targetRecall) / math.log1p(-pTable)).toInt)
    require(tables <= maxTables,
      f"recall $targetRecall%.2f at theta=$theta%.2f needs $tables tables " +
        f"(> maxTables=$maxTables; per-table hit ${pTable}%.4f at $planes planes) " +
        "— raise targetBucket (fewer planes per table) or lower the floor")
    (planes, tables, 2)
  }

  /** [[lshTopK]] with the distance-0 mass collapsed FIRST (round-15
    * verdict #1, the phash rule: duplicate mass belongs in a
    * hash-groupBy, not a candidate join). Identical embeddings share
    * every bucket in every table — L copies of a hot vector multiply
    * the bucket join by L on BOTH sides — so the index is built over
    * one representative per distinct vector, each distinct QUERY vector
    * probes once, and results expand back through the group membership
    * at the end (cosine is a function of the vectors, so an expanded
    * member inherits its representative's score exactly).
    *
    * Output is row-for-row [[lshTopK]]'s on the same inputs (same
    * candidate reachability — identical vectors have identical
    * buckets; same scores; same (c desc, vec_id asc) ranking; pinned
    * in AnnSpec) while the bucket join runs at |distinct|², not n².
    * With `maxBucketSize` set, the cap applies AFTER the collapse —
    * a bucket hot from exact duplicates is already one row, so only
    * genuinely crowded NEAR-identical mass is dropped, and only per
    * table.
    */
  def lshTopKGrouped(queries: DataFrame, data: DataFrame, k: Int,
                     tables: Int = 16, planesPerTable: Int = 5, dim: Int = 64,
                     seed: Long = 42L, nprobe: Int = 0,
                     maxBucketSize: Int = Int.MaxValue): DataFrame = {
    graft.functions.CosineSimilarity.register(queries.sparkSession)
    // group identical data vectors: rep = min member id (one exchange
    // keyed on the vector itself; array<double> is a grouping key)
    val grouped = data.select(col("vec_id"), col("e"))
      .withColumn("rep", min(col("vec_id")).over(Window.partitionBy(col("e"))))
    val reps = grouped.filter(col("vec_id") === col("rep"))
      .select(col("vec_id"), col("e"))
    val members = grouped.select(col("rep"), col("vec_id").as("member"))
    // one probe per distinct QUERY vector; results fan back to every
    // query sharing it
    val qGrouped = queries.select(col("vec_id"), col("e"))
      .withColumn("qrep", min(col("vec_id")).over(Window.partitionBy(col("e"))))
    val qReps = qGrouped.filter(col("vec_id") === col("qrep"))
      .select(col("vec_id"), col("e"))
    val qMap = qGrouped.select(col("vec_id").as("qid"), col("qrep"), col("e"))
    // rep-level ANN: k distinct-vector neighbours expand to >= k members
    val repTop = lshTopK(qReps, reps, k, tables, planesPerTable, dim, seed,
        nprobe, index = None, maxBucketSize = maxBucketSize)
      .select(col("qid").as("qrep"), col("vec_id").as("nrep"), col("c"))
    // expand rep neighbours to members; the rep-level self-exclusion
    // (nrep != qrep) removed the query vector's OWN data group, so add
    // it back explicitly at c=1.0 — its members are exact duplicates of
    // the query and outrank everything
    val own = qMap.join(
        grouped.select(col("e"), col("rep").as("nrep")).dropDuplicates("nrep"),
        Seq("e"))
      .select(col("qid"), col("qrep"), col("nrep"), lit(1.0d).as("c"))
    val cand = repTop.join(qMap.select(col("qid"), col("qrep")), Seq("qrep"))
      .select(col("qid"), col("qrep"), col("nrep"), col("c"))
      .unionAll(own)
      .join(members.withColumnRenamed("rep", "nrep"), Seq("nrep"))
      .filter(col("member") =!= col("qid"))
      .select(col("qid"), col("member").as("vec_id"), col("c"))
      // a neighbour group can surface through BOTH arms when query and
      // data rep ids differ for the same vector (queries grouped among
      // themselves); same c either way
      .dropDuplicates("qid", "vec_id")
    val w = Window.partitionBy(col("qid")).orderBy(col("c").desc, col("vec_id").asc)
    cand.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("qid"), col("rn"), col("vec_id"), col("c"))
  }
}
