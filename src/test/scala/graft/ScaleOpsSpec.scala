package graft

import graft.operators.{Ann, EmbedDedup, Multimodal, MinHash, SimHash}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Probabilistic scale-path operators vs their exact baselines on the
  * sf0.001 fixtures (SURVEY.md §7.5: fixture-equality + recall bounds,
  * not oracle hashes).
  */
class ScaleOpsSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def exactPairs = SparkEntry.queries("dedup_neardup")(spark, sf)
    .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  /** Canon-shaped synthetic corpus (doc_id, source, n_chars, text, ch) —
    * the [[graft.queries.Extra7.canonDocs]] output contract. Every doc is
    * `boiler` shared boilerplate tokens + 48 body tokens; 20% are
    * TEMPLATE near-dups (50 templates, one body-token substitution keyed
    * by replica — pairwise shingle Jaccard ≈ 0.77–0.8, above the 0.6
    * threshold), the rest have globally unique bodies.
    */
  private def synthDocs(n: Int, boiler: Int): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).map { i =>
      val bp = (0 until boiler).map(j => s"bp$j").mkString(" ")
      val body =
        if (i % 5 == 0) {
          val t = (i / 5) % 50
          val r = i / 250
          val toks = Array.tabulate(48)(k => s"t${t}_$k")
          toks((r % 46).toInt + 1) = s"u$i"
          toks.mkString(" ")
        } else Array.tabulate(48)(k => s"x${i}_$k").mkString(" ")
      val text = if (bp.isEmpty) body else s"$bp $body"
      (i, "synth", text.length, text)
    }.toDF("doc_id", "source", "n_chars", "text")
      .withColumn("ch", md5(col("text")))
  }

  /** Recall of an image→ANN retrieval on PLANTED near-dups at dial `n`:
    * real rasters → [[Multimodal.extractFeatures]] (ImageIO decode +
    * content feature) → `retrieve(queries, corpus, rows)`, which returns
    * top-k (qid, vec_id) rows. Every 4th base image ships a re-encoded
    * exact-content dup at id+off and a one-pixel-nudged near dup at
    * id+2·off, so the ground truth is construction, not a quadratic
    * brute-force pass; a dup query hits if its planted source id is in
    * its top-k. Returns (exactRecall, nudgeRecall, rows, queries).
    */
  private def plantedImageRecall(n: Int)(
      retrieve: (DataFrame, DataFrame, Long) => DataFrame)
      : (Double, Double, Long, Long) = {
    val off = Multimodal.dupOffset(n)
    val feats = Multimodal
      .extractFeatures(Multimodal.syntheticImagesWithDups(spark, n), dim = 32,
        Multimodal.ImageIoCodec)
      .select(col("media_id").as("vec_id"),
        transform(col("embedding"), (x: Column) => x.cast("double")).as("e"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val rows = feats.count()
      val queries = feats.filter(col("vec_id") >= off)
      // base = qid − off (exact re-encode) or qid − 2·off (nudge)
      val isExact = col("vec_id") < 2 * off
      val expected = queries.select(col("vec_id").as("qid"),
        when(isExact, col("vec_id") - off)
          .otherwise(col("vec_id") - 2 * off).as("base"),
        isExact.as("is_exact"))
      val hits = retrieve(queries, feats, rows).join(expected, Seq("qid"))
        .filter(col("vec_id") === col("base"))
        .select(col("qid"), col("is_exact")).distinct()
        .groupBy(col("is_exact")).agg(count(lit(1)).as("h"))
        .collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap
      val nExact = queries.filter(isExact).count()
      val nNudge = queries.count() - nExact
      (hits.getOrElse(true, 0L).toDouble / math.max(1L, nExact),
        hits.getOrElse(false, 0L).toDouble / math.max(1L, nNudge),
        rows, nExact + nNudge)
    } finally { feats.unpersist(false); () }
  }

  test("large-star/small-star components equal min-label propagation") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // a long chain (worst case for hash-to-min), a clique, an isolated
    // pair, plus the real near-dup graph
    val chain = (0L until 50L).map(i => (i, i + 1))
    val clique = for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)
    val pair = Seq((200L, 201L))
    val edges = (chain ++ clique ++ pair).toDF("src", "dst")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(norm(ConnectedComponents.componentsStar(edges)) ===
      norm(ConnectedComponents.components(edges, maxIterations = 60)))
    val nd = SparkEntry.queries("dedup_neardup")(spark, sf)
      .select(col("d1").as("src"), col("d2").as("dst"))
    assert(norm(ConnectedComponents.componentsStar(nd)) ===
      norm(ConnectedComponents.components(nd)))
  }

  test("connected components leave one checkpoint resident per call") {
    import spark.implicits._
    import graft.operators.ConnectedComponents
    // two paths: hash-to-min needs one round per hop (31 here), large-
    // star/small-star about log2(length) + 2 — both well past 5 rounds,
    // each of which checkpoints its state
    val edges = ((0L until 31L).map(i => (i, i + 1)) ++
      (100L until 107L).map(i => (i, i + 1))).toDF("src", "dst")
    val expected =
      ((0L to 31L).map(_ -> 0L) ++ (100L to 107L).map(_ -> 100L)).toSet
    def resident = spark.sparkContext.getPersistentRDDs.size
    for ((name, cc) <- Seq[(String, () => DataFrame)](
        "components" ->
          (() => ConnectedComponents.components(edges, maxIterations = 40)),
        "componentsStar" -> (() => ConnectedComponents.componentsStar(edges)))) {
      val before = resident
      val labels = cc()
      val grown = resident - before
      assert(grown <= 1, s"$name left $grown checkpoints resident")
      // the one that stays is the one the result reads
      assert(labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        expected, name)
    }
  }

  test("dedup_minhash_cluster equals the exact dedup_cluster labels") {
    def labels(q: String) = SparkEntry.queries(q)(spark, sf)
      .select("doc_id", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH recall is 1 on the fixtures (pair-equality test below), so the
    // cluster labels must agree exactly too.
    assert(labels("dedup_minhash_cluster") === labels("dedup_cluster"))
  }

  test("MinHash-LSH near-dup equals the exact shingle-Jaccard result") {
    val lsh = SparkEntry.queries("dedup_minhash")(spark, sf)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = exactPairs
    // Exact verification kills false positives; recall at the fixtures'
    // similarity level (≥0.9 Jaccard) is ~1 with 64 hashes / 16 bands.
    assert(lsh == exact, s"lsh=$lsh exact=$exact")
  }

  test("row-local near-dup path equals the aggregate-signature path exactly") {
    import org.apache.spark.sql.functions.col
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("d1", "d2", "jac").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sh = graft.queries.ScaleOps.hashedShingles(spark, sf)
    val viaAgg = pairs(MinHash.nearDuplicates(sh, threshold = 0.6))
    val viaLocal = pairs(MinHash.nearDuplicatesFromText(
      Tables(spark, sf, "documents"), sh, threshold = 0.6))
    assert(viaAgg.nonEmpty)
    assert(viaLocal === viaAgg,
      "zero-shuffle signature path diverged from the aggregate path")
  }

  test("hash-aggregate lshCandidates equals the windowed self-join form") {
    // r10 rewrite gate: the capped-collect + map-side pair explode must
    // produce the IDENTICAL candidate set as the r2–r9 window-sort +
    // self-join formulation, on the real fixture signatures — at the
    // default cap and at a tight cap that actually drops buckets.
    val sigs = MinHash.signatures(graft.queries.ScaleOps.hashedShingles(spark, sf))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      for (cap <- Seq(500, 2)) {
        val fast = pairs(MinHash.lshCandidates(sigs, maxBucketSize = cap))
        val ref = pairs(MinHash.lshCandidatesWindowed(sigs, 16, cap, 64))
        assert(fast === ref, s"candidate sets diverged at cap=$cap")
      }
      assert(pairs(MinHash.lshCandidates(sigs)).nonEmpty)
    } finally { sigs.unpersist(false); () }
  }

  test("bandsFor picks the cheapest banding meeting the miss bound") {
    // Fixed points at the 64-hash default (hand-checked against the
    // (1 - s^r)^b closed form; 0.8 reproduces the registered queries'
    // hand-picked 16-band dial).
    assert(MinHash.bandsFor(0.9) === 8)
    assert(MinHash.bandsFor(0.8) === 16)
    assert(MinHash.bandsFor(0.7) === 16)
    assert(MinHash.bandsFor(0.6) === 32)
    assert(MinHash.bandsFor(0.5) === 32)
    // Properties: result divides numHashes, meets the bound, and the
    // next-cheaper divisor does NOT (minimality); dial is monotone —
    // a looser threshold never needs fewer bands.
    for (th <- Seq(0.5, 0.6, 0.7, 0.8, 0.9, 0.95); nh <- Seq(64, 128)) {
      val b = MinHash.bandsFor(th, nh)
      assert(nh % b === 0)
      def miss(bb: Int) = math.pow(1.0 - math.pow(th, nh / bb), bb)
      assert(miss(b) <= 0.02)
      val cheaper = (1 until b).filter(nh % _ == 0)
      assert(cheaper.forall(miss(_) > 0.02), s"not minimal at th=$th nh=$nh")
    }
    val dials = Seq(0.95, 0.9, 0.8, 0.7, 0.6).map(MinHash.bandsFor(_))
    assert(dials === dials.sorted, "dial must loosen monotonically")
    // Unreachable bound: even 1-row bands can't catch 0.01-similar pairs
    // with 64 hashes at 2% miss.
    intercept[IllegalArgumentException] { MinHash.bandsFor(0.01, 64) }
    ()
  }

  test("lshCandidates drops oversized buckets WHOLE (capped-collect bound)") {
    import spark.implicits._
    // 6 docs with an identical signature → one bucket of 6 per band.
    // cap=5 ⇒ every bucket oversized ⇒ zero pairs (drop-whole, never
    // truncate-to-first-5); cap=6 ⇒ all 15 pairs.
    val sig = (0 until 64).map(_.toLong)
    val sigs = (0L until 6L).map(d => (d, sig)).toDF("doc_id", "sig")
    assert(MinHash.lshCandidates(sigs, maxBucketSize = 5).count() === 0L)
    assert(MinHash.lshCandidates(sigs, maxBucketSize = 6).count() === 15L)
    assert(MinHash.droppedBuckets(sigs, 16, 5) === 16L)
  }

  test("row-local SimHash fingerprints equal the grouped-aggregate form") {
    import org.apache.spark.sql.functions.{col, explode, lower, split}
    val toks = Tables(spark, sf, "documents")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w") =!= "")
    val grouped = SimHash.fingerprints(toks).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = SimHash.fingerprintsLocal(Tables(spark, sf, "documents"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(grouped.nonEmpty)
    assert(local === grouped)
  }

  test("imperative MinHash signatures equal the expression formulation") {
    import spark.implicits._
    val shingles = Seq(
      (1L, 111L), (1L, 222L), (1L, 333L),
      (2L, 222L), (2L, 444L),
      (3L, 555L)).toDF("doc_id", "s")
    val imp = MinHash.signatures(shingles).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val expr = MinHash.signaturesExpr(shingles).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(imp == expr)
    assert(imp(1L).length == 64)
  }

  test("SimHash: identical token multisets collide; near-dups are close") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),     // identical
      (3L, "the quick brown fox leaps over the lazy dog"),     // 1 word off
      (4L, "completely different content about spark engines turbines")
    ).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val fp = SimHash.fingerprints(toks).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(java.lang.Long.bitCount(fp(1L) ^ fp(3L)) < java.lang.Long.bitCount(fp(1L) ^ fp(4L)))
    val pairs = SimHash.nearDuplicates(toks, maxDist = 3, bands = 4)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("hyperplane-LSH ANN reaches usable recall vs brute force") {
    val brute = SparkEntry.queries("sim_topk")(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SparkEntry.queries("sim_ann")(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ann).size.toDouble / brute.size
    // Deterministic given the fixed seed; bound is intentionally loose —
    // the fixture vectors are near-uniform random, the adversarial case
    // for hyperplane LSH (no cluster structure to exploit). Real corpora
    // cluster, and recall rises with `tables`.
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("multi-probe LSH lifts recall over single-probe at the same index") {
    import org.apache.spark.sql.functions._
    val e = transform(col("embedding"),
      (x: org.apache.spark.sql.Column) => x.cast("double"))
    val data = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), e.as("e"))
    val queries = data.filter(col("vec_id") < 10)
    // probe-key shape: each query emits tables × (1 + nprobe + pair)
    // keys at nprobe=2 (base, two single flips, the both-nearest-planes
    // pair flip), and within a table every probe bucket is distinct
    // (base vs singles differ in 1 bit, vs the pair in 2)
    val keys = Ann.probedBucketKeys(queries, tables = 4, planesPerTable = 5,
      nprobe = 2).select("vec_id", "table", "bucket").collect()
    assert(keys.length == 10 * 4 * 4)
    assert(keys.map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).distinct.length
      == keys.length)
    // recall monotonicity on the real fixture: multi-probe finds a
    // superset-or-equal of the single-probe hits (same tables, same seed;
    // deterministic)
    val brute = Ann.bruteTopK(queries, data, k = 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(nprobe: Int) = Ann.lshTopK(queries, data, k = 5, tables = 8,
        nprobe = nprobe)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val r0 = (brute & hits(0)).size.toDouble / brute.size
    val r2 = (brute & hits(2)).size.toDouble / brute.size
    assert(r2 >= r0, s"multi-probe recall $r2 < single-probe $r0")
    assert(r2 >= 0.5, s"multi-probe recall@5 = $r2")
  }

  test("LshProbes expression matches an independent probe computation bit-for-bit") {
    import org.apache.spark.sql.functions._
    // independent reference: re-derive planes with the same PRNG recipe
    // and compute bucket + probes in plain Scala, then compare against
    // the expression-driven bucketKeys/probedBucketKeys output rows
    val (tables, planesPer, dim, seed, nprobe) = (4, 5, 64, 42L, 2)
    val rnd = new scala.util.Random(seed)
    val planes = Seq.fill(tables, planesPer, dim)(rnd.nextGaussian())
    def reference(e: Seq[Double]): Seq[(Int, Seq[Long])] =
      (0 until tables).map { t =>
        val proj = (0 until planesPer).map { j =>
          planes(t)(j).zip(e).foldLeft(0.0) { case (a, (p, x)) => a + p * x }
        }
        val bucket = (0 until planesPer)
          .filter(j => proj(j) >= 0).foldLeft(0L)((b, j) => b | (1L << j))
        val order = (0 until planesPer).sortBy(j => (math.abs(proj(j)), j))
        val singles = order.take(nprobe).map(j => bucket ^ (1L << j))
        val pair = bucket ^ (1L << order(0)) ^ (1L << order(1))
        t -> (bucket +: singles :+ pair)
      }
    val e = transform(col("embedding"),
      (x: org.apache.spark.sql.Column) => x.cast("double"))
    val data = graft.Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 20).select(col("vec_id"), e.as("e"))
    val raw = data.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val expected = raw.flatMap { case (id, emb) =>
      reference(emb).flatMap { case (t, probes) => probes.map(b => (id, t, b)) }
    }.toSet
    val probed = Ann.probedBucketKeys(data, tables, planesPer, dim, seed, nprobe)
      .select("vec_id", "table", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(probed === expected)
    // the base-bucket-only path agrees with the probe lists' heads
    val base = Ann.bucketKeys(data, tables, planesPer, dim, seed)
      .select("vec_id", "table", "bucket").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expectedBase = raw.flatMap { case (id, emb) =>
      reference(emb).map { case (t, probes) => (id, t, probes.head) }
    }.toSet
    assert(base === expectedBase)
  }

  test("PQ codes compress 32x and reach usable recall vs brute force") {
    import org.apache.spark.sql.functions._
    import graft.operators.Pq
    val e = transform(col("embedding"),
      (x: org.apache.spark.sql.Column) => x.cast("double"))
    val raw = graft.Tables(spark, sf, "embeddings").select(col("vec_id"), e.as("e"))
    val data = Pq.unitNormalized(raw)
    // the fused UnitNormalize expression is bit-identical to the r6 HOF
    // chain it replaced (same left-to-right fold, same per-element divide)
    val fused = data.collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val hof = Pq.unitNormalizedHof(raw).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(fused === hof)
    // fail-loud on an unnormalizable vector (r6 ADVICE): zero norm throws
    import spark.implicits._
    val zero = Seq(1L -> Seq.fill(4)(0.0)).toDF("vec_id", "e")
    val ex = intercept[Exception] { Pq.unitNormalized(zero).collect() }
    assert(ex.getMessage.contains("unit_normalize") ||
      ex.getCause != null && ex.getCause.getMessage.contains("unit_normalize"))
    val queries = data.filter(col("vec_id") < 10)
    val cb = Pq.train(data, m = 16, ksub = 256)
    val encoded = Pq.encode(data, cb)
    // the compression is REAL: a binary column of exactly m bytes per
    // vector (not array<int> — 4x plus overhead), every code in range
    val codes = encoded.collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    assert(codes.forall(_._2.length == 16))
    assert(codes.forall { case (_, c) =>
      c.zipWithIndex.forall { case (ci, j) => (ci & 0xff) < cb(j).length } })
    // deterministic: training + encoding are seedless-hash + strict-tie
    val codes2 = Pq.encode(data, Pq.train(data, m = 16, ksub = 256))
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]](1))
    assert(codes.sortBy(_._1).map(_._2.toSeq).toSeq
      == codes2.sortBy(_._1).map(_._2.toSeq).toSeq)
    // ADC LUT scoring (r7) is bit-identical to a direct per-subspace
    // recomputation, on both the miss path and the memo-hit path
    locally {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val adc = graft.functions.PqAdc(Literal(1), Literal(1), cb)
      val qs = data.filter(col("vec_id") < 3).collect()
        .map(r => r.getSeq[Double](1).toArray)
      val dsub = qs.head.length / cb.length
      for (q <- qs; (_, code) <- codes.take(5)) {
        val expected = cb.indices.map { j =>
          val cent = cb(j)(code(j) & 0xff)
          (0 until dsub).map { i =>
            val t = q(j * dsub + i) - cent(i); t * t
          }.sum
        }.sum
        val miss = adc.nullSafeEval(new GenericArrayData(q), code)
        val hit = adc.nullSafeEval(new GenericArrayData(q), code)
        assert(miss == expected && hit == expected)
      }
    }
    // recall vs the exact cosine oracle: ADC over unit vectors ranks by
    // (2 - 2·cos), so brute cosine is the right ground truth. Uniform
    // vectors are PQ's adversarial case (nothing clusters); 0.5 is a
    // loose floor at this fixture's size.
    val brute = Ann.bruteTopK(queries, data, k = 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Pq.topK(queries, encoded, cb, k = 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.5, s"PQ recall@5 = $recall")
    // the IVF-PQ composition: candidates pruned to nprobe cells, then
    // ADC-ranked — bounded by BOTH approximations, so the floor is the
    // loosest; determinism and non-emptiness are the hard gates
    val ivfpq = Pq.ivfPqTopK(queries, data, k = 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq2 = Pq.ivfPqTopK(queries, data, k = 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfpq === ivfpq2)
    val recallIvfPq = (brute & ivfpq).size.toDouble / brute.size
    assert(recallIvfPq >= 0.3, s"IVF-PQ recall@5 = $recallIvfPq")
  }

  test("fused NearestCells assign/probe is bit-identical to the crossJoin+window form") {
    import org.apache.spark.sql.functions._
    import graft.operators.Ivf
    val e = transform(col("embedding"), (x: org.apache.spark.sql.Column) => x.cast("double"))
    val n = graft.Tables(spark, sf, "embeddings").select(col("vec_id"), e.as("e"))
    val cents = Ivf.centroids(n, nlist = 8, iters = 2)
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // full-corpus assignment: the compiled expression and the window
    // reference must agree on EVERY row, not just produce equal recall
    assert(cellsOf(Ivf.assign(n, cents)) === cellsOf(Ivf.assignWindowed(n, cents)))
    val q = n.filter(col("vec_id") < 10)
    def probesOf(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(probesOf(Ivf.probeCells(q, cents, 4)) ===
      probesOf(Ivf.probeCellsWindowed(q, cents, 4)))
    // nprobe past nlist clamps to nlist rows per query, like `rn <= nprobe`
    assert(probesOf(Ivf.probeCells(q, cents, 99)) ===
      probesOf(Ivf.probeCellsWindowed(q, cents, 99)))
    // adversarial numerics: a zero-norm vector (all sims NaN) and exact
    // duplicates (sim ties) — Double.compare ordering must still match
    // the window sort (NaN first on desc, ties by cell asc)
    import spark.implicits._
    val edge = Seq(
      1000L -> Seq.fill(64)(0.0),
      1001L -> Seq.tabulate(64)(_.toDouble / 64),
      1002L -> Seq.tabulate(64)(_.toDouble / 64)
    ).toDF("vec_id", "e")
    assert(probesOf(Ivf.probeCells(edge, cents, 3)) ===
      probesOf(Ivf.probeCellsWindowed(edge, cents, 3)))
    assert(cellsOf(Ivf.assign(edge.filter(col("vec_id") > 1000), cents)) ===
      cellsOf(Ivf.assignWindowed(edge.filter(col("vec_id") > 1000), cents)))
  }

  test("two-level NearestCellsCoarse: exact at full probe width, usable agreement bounded") {
    import org.apache.spark.sql.functions._
    import graft.operators.Ivf
    val e = transform(col("embedding"), (x: org.apache.spark.sql.Column) => x.cast("double"))
    val n = graft.Tables(spark, sf, "embeddings").select(col("vec_id"), e.as("e"))
    val cents = Ivf.centroids(n, nlist = 32, iters = 2)
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = cellsOf(Ivf.assignMulti(n, cents, nassign = 2))
    // wCoarse ≥ ncoarse probes every coarse group — the scoring and
    // selection disciplines are shared, so the result must be EXACT
    assert(cellsOf(Ivf.assignMultiCoarse(n, cents, nassign = 2, wCoarse = 32)) === exact)
    // bounded descent (wCoarse=4 of ⌈√32⌉=6 groups): assignment may only
    // drift near coarse boundaries — agreement stays high, and determinism
    // holds across repeated evaluation
    val coarse = cellsOf(Ivf.assignMultiCoarse(n, cents, nassign = 2, wCoarse = 4))
    val agree = (coarse intersect exact).size.toDouble / exact.size
    info(s"bounded-wCoarse assignment agreement: $agree")
    assert(agree >= 0.9, s"agreement $agree below floor")
    assert(cellsOf(Ivf.assignMultiCoarse(n, cents, nassign = 2, wCoarse = 4)) === coarse)
    // adversarial numerics through the two-level path: zero-norm (NaN
    // sims) and duplicate vectors must match the flat expression when
    // every group is probed
    import spark.implicits._
    val edge = Seq(
      1000L -> Seq.fill(64)(0.0),
      1001L -> Seq.tabulate(64)(_.toDouble / 64),
      1002L -> Seq.tabulate(64)(_.toDouble / 64)
    ).toDF("vec_id", "e")
    assert(cellsOf(Ivf.assignMultiCoarse(edge, cents, nassign = 3, wCoarse = 32)) ===
      cellsOf(Ivf.assignMulti(edge, cents, nassign = 3)))
  }

  test("sampled Lloyd training: deterministic, and exact when the sample covers the corpus") {
    import org.apache.spark.sql.functions._
    import graft.operators.Ivf
    val e = transform(col("embedding"), (x: org.apache.spark.sql.Column) => x.cast("double"))
    val n = graft.Tables(spark, sf, "embeddings").select(col("vec_id"), e.as("e"))
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq
    // a sample ≥ the corpus IS the corpus (hash-ordered limit), so
    // sampled training must reproduce full training bit-for-bit
    assert(snap(Ivf.centroids(n, nlist = 8, iters = 2, trainSample = 1000000)) ===
      snap(Ivf.centroids(n, nlist = 8, iters = 2)))
    // a bounded sample is deterministic across calls (hash-ordered, no
    // partition-order dependence)
    val a = snap(Ivf.centroids(n, nlist = 8, iters = 2, trainSample = 100))
    assert(a === snap(Ivf.centroids(n, nlist = 8, iters = 2, trainSample = 100)))
    assert(a.length == 8)
  }

  test("DataFrame-resident Lloyd converges to the k-means fixed point") {
    import org.apache.spark.sql.functions._
    import graft.operators.Ivf
    import spark.implicits._
    val e = transform(col("embedding"), (x: org.apache.spark.sql.Column) => x.cast("double"))
    val n = graft.Tables(spark, sf, "embeddings").select(col("vec_id"), e.as("e"))
    // wProbe ≥ nCoarse−1 probes every coarse group, so the DF path's
    // assignment IS the exact flat argmax — the converged state must
    // then satisfy the k-means fixed point: every non-empty cell's
    // centroid equals the mean of its exactly-assigned vectors.
    val cents = Ivf.centroidsDF(n, nlist = 16, iters = 40, wProbe = 8)
      .persist()
    try {
      assert(Ivf.lastRounds < 40, "training did not converge in 40 rounds")
      assert(cents.schema.map(f => (f.name, f.dataType.simpleString)) ===
        Seq(("cell", "bigint"), ("centroid", "array<double>")))
      val cellIds = cents.select("cell").as[Long].collect()
      assert(cellIds.distinct.length == cellIds.length, "duplicate cell ids")
      // Bernoulli init: E[cells]=16 over 500 vectors; a band, not exact-k
      assert(cellIds.length >= 4 && cellIds.length <= 48,
        s"cell count ${cellIds.length} outside the Bernoulli band")
      val vecIds = n.select("vec_id").as[Long].collect().toSet
      assert(cellIds.forall(vecIds.contains), "cell ids must be seed vec_ids")
      graft.functions.VectorSum.register(spark)
      val rec = Ivf.assign(n, cents).groupBy(col("cell"))
        .agg(call_function("vec_sum", col("e")).as("s"), count(lit(1)).as("cnt"))
        .select(col("cell"),
          transform(col("s"), (x: org.apache.spark.sql.Column) => x / col("cnt")).as("m"))
      val maxErr = cents.join(rec, Seq("cell"), "left")
        .select(when(col("m").isNull, lit(0.0)).otherwise(
          array_max(zip_with(col("centroid"), col("m"),
            (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
              abs(a - b)))).as("err"))
        .agg(max(col("err"))).as[Double].head()
      assert(maxErr < 1e-9, s"fixed-point violation: max |centroid - mean| = $maxErr")
      // dispatch: above dfStateThreshold, centroids() routes here — the
      // deterministic init means the cell-id SET matches a direct call
      // (the flat path would emit dense 0..nlist−1 ids instead)
      val saved = Ivf.dfStateThreshold
      Ivf.dfStateThreshold = 8
      try {
        val viaDispatch = Ivf.centroids(n, nlist = 16, iters = 2)
          .select("cell").as[Long].collect().toSet
        val direct = Ivf.centroidsDF(n, nlist = 16, iters = 2)
          .select("cell").as[Long].collect().toSet
        assert(viaDispatch === direct, "centroids() did not dispatch to the DF path")
      } finally Ivf.dfStateThreshold = saved
    } finally { cents.unpersist(false); () }
  }

  test("IVF top-k reaches usable recall vs brute force") {
    import org.apache.spark.sql.functions._
    val e = transform(col("embedding"), (x: org.apache.spark.sql.Column) => x.cast("double"))
    val n = graft.Tables(spark, sf, "embeddings").select(col("vec_id"), e.as("e"))
    val brute = SparkEntry.queries("sim_topk")(spark, sf)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.operators.Ivf.topK(n.filter(col("vec_id") < 10), n, k = 5)
      .select("qid", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    // nprobe/nlist = 1/2 of the space probed; uniform vectors are the
    // adversarial case (see the LSH test) — deterministic given the
    // hash-sampled init.
    assert(recall >= 0.5, s"IVF recall@5 = $recall")
  }

  test("multimodal stub pipeline: schema, meta decode, frame explosion") {
    val media = Multimodal.synthetic(spark, 12)
    val meta = Multimodal.decodeMeta(media).collect()
    assert(meta.length == 12)
    assert(meta.forall(m => m.width >= 64 && m.height >= 48 && m.sizeBytes == 48))
    val resized = Multimodal.decodeMeta(Multimodal.resize(media, 320, 240)).collect()
    assert(resized.forall(m => m.width == 320 && m.height == 240))
    assert(resized.map(m => (m.media_id, m.durationMs)).sorted
      .sameElements(meta.map(m => (m.media_id, m.durationMs)).sorted))
    val frames = Multimodal.sampleFrames(media).collect()
    assert(frames.nonEmpty && frames.forall(_.feature.length == 8))
    // deterministic: same (id, idx) ⇒ same feature
    val again = Multimodal.sampleFrames(media).collect()
    assert(frames.sortBy(f => (f.media_id, f.frame_idx)).map(_.feature.toSeq).toSeq
      == again.sortBy(f => (f.media_id, f.frame_idx)).map(_.feature.toSeq).toSeq)
  }

  test("multimodal codec is a pluggable seam: a custom impl drives every operator") {
    // a drop-in codec that reads the same stub header but reports its own
    // format and embeds by payload LENGTH — proves operators only touch
    // the MediaCodec trait, never FakeCodec internals
    object LenCodec extends Multimodal.MediaCodec {
      override def decode(r: Multimodal.MediaRow): Multimodal.MediaMeta =
        Multimodal.FakeCodec.decode(r).copy(format = "len-codec")
      override def resize(r: Multimodal.MediaRow, w: Int, h: Int): Multimodal.MediaRow =
        Multimodal.FakeCodec.resize(r, w, h)
      override def payload(r: Multimodal.MediaRow): Array[Byte] =
        Multimodal.FakeCodec.payload(r)
      override def frameFeature(r: Multimodal.MediaRow, i: Int, dim: Int): Array[Float] =
        Array.fill(dim)(i.toFloat)
      override def mediaFeature(p: Array[Byte], dim: Int): Array[Float] =
        Array.fill(dim)(p.length.toFloat)
      override def luma(r: Multimodal.MediaRow, w: Int, h: Int): Array[Int] =
        Multimodal.FakeCodec.luma(r, w, h)
    }
    val media = Multimodal.synthetic(spark, 9)
    val meta = Multimodal.decodeMeta(media, LenCodec).collect()
    assert(meta.length == 9 && meta.forall(_.format == "len-codec"))
    val frames = Multimodal.sampleFrames(media, codec = LenCodec).collect()
    assert(frames.forall(f => f.feature.forall(_ == f.frame_idx.toFloat)))
    val feats = Multimodal.extractFeatures(media, dim = 4, codec = LenCodec).collect()
    assert(feats.forall(_.getSeq[Float](1).forall(_ == 32.0f))) // 32-byte payloads
  }

  test("multimodal feature extraction is content-keyed and composes with ANN") {
    import spark.implicits._
    val media = Multimodal.synthetic(spark, 30)
    val feats = Multimodal.extractFeatures(media, dim = 64)
    assert(feats.count() === 30)
    // content identity: resizing (header-only change) must NOT move the
    // embedding — features key on the decoded payload, not the envelope
    val resizedFeats =
      Multimodal.extractFeatures(Multimodal.resize(media, 10, 10), dim = 64)
    def m(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(m(feats) === m(resizedFeats))
    // composes with the ANN path: embedding column feeds Ann.lshTopK
    val e = feats.select(col("media_id").as("vec_id"),
      transform(col("embedding"), (x: org.apache.spark.sql.Column) => x.cast("double")).as("e"))
      .withColumn("norm", sqrt(aggregate(
        transform(col("e"), (x: org.apache.spark.sql.Column) => x * x),
        lit(0.0), (acc: org.apache.spark.sql.Column, x: org.apache.spark.sql.Column) => acc + x)))
    val topk = Ann.lshTopK(e.filter(col("vec_id") < 3), e, k = 3)
    assert(topk.count() > 0)
  }

  test("minhash permutations actually mix: adversarial template corpus recall") {
    // Round-15 root-cause regression pin. The old 61-bit modulus was
    // WRAP-STARVED over 32-bit shingle hashes (h·a+b < 4P folds ≤ 3
    // times), so all 64 "independent" permutations ranked shingles in
    // nearly the same order — a pair agreed on ~all bands or ~none, and
    // this corpus measured 11.6% of jac≈0.8 pairs missed in ALL 16
    // bands (signature agreement as low as 9/64 where the estimator's
    // mean is ≈51/64). Near-identical driver fixtures (jac→1) could not
    // see it. This pins banding recall on the corpus that exposed it.
    val canon = synthDocs(1000, boiler = 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sh = graft.queries.Extra7.shinglesOf(canon)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(graft.queries.Extra7.jaccardPairs(sh, 0.6))
    val hashed = sh.select(col("doc_id"), xxhash64(col("s")).as("s")).distinct()
    val lsh = pairSet(graft.operators.MinHash
      .nearDuplicatesFromText(canon, hashed, threshold = 0.6)
      .select(col("d1"), col("d2")))
    assert(exact.nonEmpty, "fixture produced no >=0.6 pairs — vacuous")
    val recall = (exact & lsh).size.toDouble / exact.size
    assert(recall >= 0.99,
      f"banding recall $recall%.4f on jac≈0.77–0.8 template pairs — " +
        "(1-s^r)^b predicts ~0.999; the permutation family is not mixing")
    // and per-pair signature agreement sits near the jac estimator mean
    // (the broken family read 9–28 of 64 here)
    val (d1, d2) = exact.head
    def sig(d: Long) = graft.operators.MinHash
      .signaturesLocal(canon.filter(col("doc_id") === d))
      .collect()(0).getSeq[Long](1)
    val agree = sig(d1).zip(sig(d2)).count(p => p._1 == p._2)
    assert(agree >= 35 && agree <= 64,
      s"signature agreement $agree/64 for a jac>=0.6 pair — estimator bias")
    sh.unpersist(false)
    canon.unpersist(false)
  }

  test("lshTopKGrouped matches lshTopK row-for-row on a dup-heavy corpus") {
    // Round-15 verdict #1 (the phash rule as an operator): collapsing
    // the distance-0 mass into representatives must be a pure plan
    // rewrite — identical vectors share every bucket in every table, so
    // rep-level reachability, scores, and (c desc, vec_id asc) ranking
    // reproduce the member-level output EXACTLY. Fixture: the real
    // embeddings table tripled (two exact-dup copies at shifted ids) so
    // groups have 3 members, plus a query whose id is in no group.
    val e = transform(col("embedding"),
      (x: org.apache.spark.sql.Column) => x.cast("double"))
    val base = graft.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), e.as("e")).filter(col("vec_id") < 60)
    val data = base
      .unionAll(base.select((col("vec_id") + 10000L).as("vec_id"), col("e")))
      .unionAll(base.select((col("vec_id") + 20000L).as("vec_id"), col("e")))
    // queries: some group members (base + a dup copy) and one row whose
    // vector exists in data but whose id does not (novel-query arm)
    val queries = data.filter(col("vec_id") < 5 || (col("vec_id") >= 10000L
        && col("vec_id") < 10005L))
      .unionAll(base.filter(col("vec_id") === 7)
        .select((col("vec_id") + 90000L).as("vec_id"), col("e")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val plain = rows(Ann.lshTopK(queries, data, k = 5, tables = 4, nprobe = 2))
    val grouped = rows(Ann.lshTopKGrouped(queries, data, k = 5, tables = 4,
      nprobe = 2))
    assert(grouped === plain)
    // and the groups actually collapsed: every base vector appears in
    // data 3 times, so exact-dup neighbours rank at c = 1.0 first
    assert(plain.exists(_._4 === 1.0), "fixture has no distance-0 mass — vacuous")
  }

  test("lshTopKDial prices the serving path: guards, monotone tables, conservative model") {
    // guards (round-14 ADVICE class: pricing APIs must not NaN silently)
    intercept[IllegalArgumentException](Ann.lshTopKPredictedRecall(1.5, 8, 4))
    intercept[IllegalArgumentException](Ann.lshTopKPredictedRecall(0.9, 0, 4))
    intercept[IllegalArgumentException](Ann.lshTopKDial(1000L, 0.9, 1.2))
    // higher floor needs >= tables at the same theta; lower theta too
    val (_, t90, _) = Ann.lshTopKDial(100000L, 0.98, 0.90, targetBucket = 32)
    val (_, t99, _) = Ann.lshTopKDial(100000L, 0.98, 0.99, targetBucket = 32)
    assert(t99 >= t90, s"tables must be monotone in the floor: $t90 -> $t99")
    // the dial's own prediction must clear the floor it was asked for
    val (p, t, _) = Ann.lshTopKDial(100000L, 0.98, 0.95, targetBucket = 32)
    assert(Ann.lshTopKPredictedRecall(0.98, p, t) >= 0.95)
    // one-sided probing prices BELOW the bidirectional pair-screen model
    // at the same point (half the recovery channels)
    assert(Ann.lshTopKPredictedRecall(0.9, 8, 4)
      <= EmbedDedup.lshPredictedRecall(0.9, 8, 4))
    // smaller targetBucket buys more planes (the crowded-space lever)
    val (pCrowd, _, _) = Ann.lshTopKDial(100000L, 0.98, 0.95, targetBucket = 32)
    val (pWide, _, _) = Ann.lshTopKDial(100000L, 0.98, 0.95, targetBucket = 250)
    assert(pCrowd > pWide)
  }

  test("maxBucketSize drops hot buckets WHOLE from the serving index") {
    // 50 identical vectors + 10 spread ones, one table: the identical
    // mass lands in one bucket per table; cap 20 must remove all 50
    // rows of that bucket and keep the sparse ones. (In production the
    // collapse runs first so identical mass never trips the cap — this
    // pins the cap semantics itself.)
    import spark.implicits._
    val hot = (0L until 50L).map(i => (i, Seq.fill(8)(1.0)))
    val sparse = (100L until 110L).map { i =>
      (i, Seq.tabulate(8)(j => if (j == (i % 8).toInt) 1.0 else -1.0)) }
    val data = (hot ++ sparse).toDF("vec_id", "e")
    val capped = Ann.dataIndex(data, tables = 2, planesPerTable = 4, dim = 8,
      maxBucketSize = 20).keys
    val kept = capped.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!kept.exists(_ < 50L), "hot-bucket rows survived the cap")
    assert((100L until 110L).forall(kept), "sparse rows must keep their keys")
    // config mismatch between index and query side must fail loudly
    val ix = Ann.dataIndex(data, tables = 2, planesPerTable = 4, dim = 8,
      maxBucketSize = 20)
    intercept[IllegalArgumentException] {
      Ann.lshTopK(data.limit(1), data, k = 1, tables = 2, planesPerTable = 4,
        dim = 8, index = Some(ix)) // maxBucketSize defaults to uncapped
    }
  }

  test("image→ANN retrieval recalls planted near-dups at the 4800-raster dial") {
    // The round-14 scale lane for the feature→ANN composition (the test
    // above runs 30 rasters; PERF.md records decades to 48k+):
    // real ImageIO rasters → content features → lshTopK with the
    // production plane dial (autoPlanes). Planted ground truth: every
    // 4th base image ships an exact-content re-encode (identical
    // embedding — misses are pure ranking crowd-out) and a one-pixel
    // nudge (near-identical — also pays feature drift). Measured
    // 1.0/1.0 at this dial; the floors leave variance margin.
    val (exactR, nudgeR, rows, nq) = plantedImageRecall(4800) {
      (queries, feats, n) =>
        Ann.lshTopK(queries, feats, k = 5,
          planesPerTable = EmbedDedup.autoPlanes(n), dim = 32, nprobe = 2)
    }
    info(f"rows=$rows queries=$nq exactRecall=$exactR%.3f nudgeRecall=$nudgeR%.3f")
    assert(nq >= 2000, "planting produced too few dup queries — vacuous")
    assert(exactR >= 0.95, f"exact-content retrieval recall $exactR%.3f < 0.95")
    assert(nudgeR >= 0.9, f"nudged near-dup retrieval recall $nudgeR%.3f < 0.9")
  }

  test("dialed image→ANN (collapse + lshTopKDial + cap) holds the recall floor") {
    // Round-15 verdict #1 close: the dialed serving path at the same
    // 4800-raster dial the fixed-dial floor above pins. Measured decades
    // (PERF.md round-15): 12k/48k/120k base rasters → 28.3/94.0/148.2 s
    // (the fixed dial read 49.9/850.6/— — 9.0× at 48k) with nudge recall
    // 0.9957/0.9963/0.9878, model conservative at every dial. Exact-dup
    // recall is structural: the collapse serves distance-0 mass from the
    // group hash-join at c=1.0, never from the candidate join.
    // the dial prices DISTINCT vectors — the collapse runs before the
    // index, so exact-dup mass must not inflate the plane count
    var distinct = 0L
    var dial = (0, 0, 0)
    val (exactR, nudgeR, rows, _) = plantedImageRecall(4800) {
      (queries, feats, _) =>
        distinct = feats.select(col("e")).distinct().count()
        dial = Ann.lshTopKDial(distinct, 0.98, 0.95, targetBucket = 32)
        val (planes, tables, nprobe) = dial
        Ann.lshTopKGrouped(queries, feats, k = 5, tables = tables,
          planesPerTable = planes, dim = 32, nprobe = nprobe,
          maxBucketSize = 4000)
    }
    val (planes, tables, _) = dial
    val predicted = Ann.lshTopKPredictedRecall(0.98, planes, tables)
    info(f"rows=$rows distinct=$distinct planes=$planes tables=$tables " +
      f"predicted=$predicted%.3f exact=$exactR%.3f nudge=$nudgeR%.3f")
    assert(distinct < rows, "no distance-0 mass collapsed — fixture drift")
    assert(exactR >= 0.99, f"exact-dup recall $exactR%.3f — the collapse " +
      "serves these structurally; anything below ~1.0 is a wiring bug")
    assert(nudgeR >= 0.95, f"nudged near-dup recall $nudgeR%.3f < dialed floor")
    assert(predicted >= 0.95, "dial under-delivered its own target")
  }

  test("ImageIO codec decodes, resizes, and content-keys REAL PNG/BMP bytes") {
    val codec = Multimodal.ImageIoCodec
    val media = Multimodal.syntheticImages(spark, 10)
    // real decode: dims come from the actual raster, format from the real
    // header sniff (even ids PNG, odd BMP — see syntheticImages)
    val meta = Multimodal.decodeMeta(media, codec).collect()
    assert(meta.length == 10)
    assert(meta.forall(m => m.width >= 8 && m.width <= 12 && m.height >= 6 && m.height <= 9))
    assert(meta.filter(_.media_id % 2 == 0).forall(_.format == "png"))
    assert(meta.filter(_.media_id % 2 == 1).forall(_.format == "bmp"))
    // real resample: resized rasters decode at the requested dims, as PNG
    val resized = Multimodal.decodeMeta(
      Multimodal.resize(media, 4, 3, codec), codec).collect()
    assert(resized.length == 10 && resized.forall(m => m.width == 4 && m.height == 3))
    assert(resized.forall(_.format == "png"))
    // frame features exist and are deterministic across runs
    val f1 = Multimodal.sampleFrames(media, dim = 16, codec = codec).collect()
      .sortBy(f => (f.media_id, f.frame_idx)).map(_.feature.toSeq).toSeq
    val f2 = Multimodal.sampleFrames(media, dim = 16, codec = codec).collect()
      .sortBy(f => (f.media_id, f.frame_idx)).map(_.feature.toSeq).toSeq
    assert(f1 == f2 && f1.nonEmpty)
  }

  test("ImageIO content identity: same pixels across PNG and BMP envelopes") {
    import spark.implicits._
    val codec = Multimodal.ImageIoCodec
    // the same raster under two real envelopes must share payload bytes
    // and therefore embedding — envelope-invariance is the content-dedup
    // law for a real codec (resize-invariance only holds for the stub)
    val img = new java.awt.image.BufferedImage(
      9, 7, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 7; x <- 0 until 9)
      img.setRGB(x, y, (x * 29 + y * 53) % (1 << 24))
    val png = Multimodal.MediaRow(1L, "image", codec.encodePng(img))
    val bmp = Multimodal.MediaRow(2L, "image", codec.encodeBmp(img))
    assert(!png.bytes.sameElements(bmp.bytes)) // envelopes genuinely differ
    assert(codec.payload(png).sameElements(codec.payload(bmp)))
    val media = spark.createDataset(Seq(png, bmp))
    val feats = Multimodal.extractFeatures(media, dim = 32, codec = codec)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L) == feats(2L))
    // and different pixels must move the payload (no degenerate identity)
    img.setRGB(0, 0, 0xffffff)
    val other = Multimodal.MediaRow(3L, "image", codec.encodePng(img))
    assert(!codec.payload(other).sameElements(codec.payload(png)))
  }

  test("hash sampling is reproducible, partition-invariant, and near-rate") {
    import graft.operators.Sampling
    val docs = graft.Tables(spark, sf, "documents")
    val a = Sampling.bernoulli(docs, col("doc_id"), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val b = Sampling.bernoulli(docs.repartition(7), col("doc_id"), 0.3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b, "sample changed under repartitioning")
    val rate = a.size.toDouble / docs.count()
    assert(rate > 0.2 && rate < 0.4, s"rate $rate far from 0.3")
    // split is a partition of the id space
    val splits = docs.withColumn("sp", Sampling.split(col("doc_id"), 0.8, 0.1))
      .groupBy("sp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.keySet == Set("train", "val", "test"))
    assert(splits.values.sum == docs.count())
    assert(splits("train") > splits("val"))
    // stratified: zh fully dropped, others near default rate
    val strat = Sampling.stratified(docs, col("doc_id"), col("lang"),
      Map("zh" -> 0.0), defaultFraction = 0.5)
    assert(strat.filter(col("lang") === "zh").count() == 0)
    assert(strat.count() > 0)
  }

  test("language ID picks marker languages deterministically") {
    import spark.implicits._
    import graft.functions.TextAnalysis
    val df = Seq(
      "the cat is in the house and it is warm",
      "el perro y la casa de los vecinos",
      "le chat est dans la maison et les jardins",
      "der hund ist nicht in das haus und",
      "xyzzy plugh frobnicate").toDF("text")
    val got = df.select(TextAnalysis.languageId(col("text"))).collect().map(_.getString(0))
    assert(got.sameElements(Array("en", "es", "fr", "de", "und")))
  }

  test("portable BpeIsh token count equals the lookaround-split reference form") {
    import graft.functions.TextAnalysis
    // The r10 regexp_extract_all formulation (RE2-expressible, mirrored
    // verbatim by the DuckDB oracle) must count exactly the units the
    // original Java-lookaround split counted — over the whole fixture
    // corpus plus hand-picked edges (leading/trailing punctuation,
    // digit runs glued to letters, consecutive marks, whitespace runs).
    import spark.implicits._
    // \x0B (vertical tab) is the one ASCII char Java's \s includes and
    // RE2's excludes — the r10 explicit Ws class (TextAnalysis.Ws) must
    // treat it as whitespace in BOTH formulations.
    val edges = Seq("", "   ", "a", "a1b2", "!!", "a,b.c", " x-2 ",
      "tab\tsep\nnl", "vt\u000Bsplit", "é ü ß 漢字, ok", "1 2  3...4").toDF("text")
    val corpus = graft.Tables(spark, sf, "documents").select(col("text"))
    for (df <- Seq(edges, corpus)) {
      val off = df.select(
          TextAnalysis.tokenCountBpeIsh(col("text")).as("a"),
          TextAnalysis.tokenCountBpeIshSplit(col("text")).as("b"))
        .filter(col("a") =!= col("b"))
      assert(off.isEmpty, off.limit(5).collect().mkString("; "))
    }
  }

  test("bulk language ID agrees with the per-row Column function") {
    import graft.functions.TextAnalysis
    val docs = graft.Tables(spark, sf, "documents")
    val perRow = docs.select(col("doc_id"),
        TextAnalysis.languageId(col("text")).as("g"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val bulk = TextAnalysis.languageIdBulk(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bulk == perRow)
  }

  test("steady-state sim_*_idx queries equal their build-included siblings and reuse the index") {
    import graft.operators.SimIndexes
    def rows(q: String): Seq[org.apache.spark.sql.Row] =
      SparkEntry.queries(q)(spark, sf).collect().toSeq
    SimIndexes.clear(spark)
    val siblings = Seq("sim_ann" -> "sim_ann_idx", "sim_ivf" -> "sim_ivf_idx",
      "sim_pq" -> "sim_pq_idx", "sim_ivf_pq" -> "sim_ivf_pq_idx")
    for ((build, steady) <- siblings) {
      val expected = rows(build)
      val first = rows(steady)
      val afterFirst = SimIndexes.builds
      val second = rows(steady)
      // memo → artifact → build (round-17 verdict #2): the first call
      // after clear() installs the index by building on a true cold
      // start OR by loading a committed artifact from a previous run
      // (builds flat) — either way the second call serves the memo
      assert(SimIndexes.builds == afterFirst,
        s"$steady: second call must reuse the cached index, not rebuild")
      // Same operator, same dials, same deterministic training — the
      // prebuilt path must not change a single row.
      assert(first === expected, s"$steady diverged from $build")
      assert(second === first, s"$steady unstable across cached calls")
    }
    // ivfPq shares ivf/pq cache entries only within the SAME tag — the
    // raw-vs-unit frames must have landed under distinct keys, or one of
    // the assertions above would already have caught the geometry mixup.
    // Whichever path ran, the artifacts are now committed: a fresh
    // session must serve every row off disk with builds flat.
    val base = s"${graft.operators.Artifacts.defaultBase(spark, sf)}/sim"
    val kinds = graft.operators.Artifacts.entries(spark, base).map(_._3).toSet
    assert(Set("ann", "ivf", "pq", "ivfpq").subsetOf(kinds),
      s"expected all four index kinds committed under $base, got $kinds")
    val sB = spark.newSession()
    val b0 = SimIndexes.builds
    for ((build, steady) <- siblings)
      assert(SparkEntry.queries(steady)(sB, sf).collect().toSeq === rows(build),
        s"$steady diverged when artifact-served in a fresh session")
    assert(SimIndexes.builds == b0,
      "fresh session BUILT instead of serving the committed artifact")
    SimIndexes.clear(sB)
    SimIndexes.clear(spark)
  }

  test("broadcast-carrier NearestCells/Coarse assign identically to the literal carrier") {
    import org.apache.spark.sql.functions._
    import graft.operators.Ivf
    val e = transform(col("embedding"), (x: org.apache.spark.sql.Column) => x.cast("double"))
    val n = graft.Tables(spark, sf, "embeddings").select(col("vec_id"), e.as("e"))
    val cents = Ivf.centroids(n, nlist = 32, iters = 2)
    def cellsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def probesOf(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "cell").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val q = n.filter(col("vec_id") < 10)
    // literal carrier (default threshold is far above 32 cells)
    val litAssign = cellsOf(Ivf.assign(n, cents))
    val litMulti = cellsOf(Ivf.assignMulti(n, cents, nassign = 2))
    val litCoarse = cellsOf(Ivf.assignMultiCoarse(n, cents, nassign = 2, wCoarse = 4))
    val litProbes = probesOf(Ivf.probeCells(q, cents, 4))
    // broadcast carrier: force it for every cell count; both carriers
    // call the same eval kernel, so assignment must be IDENTICAL — this
    // is the seam that lets corpus-scale nlist ship centroids via
    // torrent broadcast instead of per-task literals (r7 verdict #3)
    val saved = Ivf.bcThreshold
    Ivf.bcThreshold = 1
    try {
      assert(cellsOf(Ivf.assign(n, cents)) === litAssign)
      assert(cellsOf(Ivf.assignMulti(n, cents, nassign = 2)) === litMulti)
      assert(cellsOf(Ivf.assignMultiCoarse(n, cents, nassign = 2, wCoarse = 4)) === litCoarse)
      assert(probesOf(Ivf.probeCells(q, cents, 4)) === litProbes)
    } finally Ivf.bcThreshold = saved
  }

  test("dHash is envelope-invariant and locality-preserving on real images") {
    // The planted fixture: id → id+1000 is the SAME raster in the other
    // envelope (PNG↔BMP) — a perceptual hash that notices the container
    // is broken; id → id+2000 is a one-pixel nudge — it must stay within
    // a small Hamming distance (locality), and unrelated gradients far.
    val media = Multimodal.syntheticImagesWithDups(spark, 24)
    val h = Multimodal.dHash(media, Multimodal.ImageIoCodec)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = h.keys.filter(id => id < 1000 && id % 4 == 0).toSeq
    assert(planted.nonEmpty)
    planted.foreach { id =>
      assert(h(id) == h(id + 1000),
        s"envelope changed the hash for $id: ${h(id)} vs ${h(id + 1000)}")
      val d = java.lang.Long.bitCount(h(id) ^ h(id + 2000))
      assert(d <= 6, s"one-pixel nudge moved $id by $d bits")
    }
  }

  test("banded phash dup pairs equal the brute-force Hamming scan exactly") {
    // The pigeonhole guarantee is exactness, not a heuristic: ≤ k
    // differing bits cannot touch all k+1 bands, so the band join loses
    // nothing, and the popcount verify kills collisions — banded output
    // must EQUAL all-pairs.
    val media = Multimodal.syntheticImagesWithDups(spark, 24)
    val hs = Multimodal.dHash(media, Multimodal.ImageIoCodec)
    val k = 6
    val banded = Multimodal.phashDupes(hs, maxDistance = k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val all = hs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (i1, h1) <- all; (i2, h2) <- all if i1 < i2
      d = java.lang.Long.bitCount(h1 ^ h2) if d <= k
    } yield (i1, i2, d)).toSet
    assert(brute.nonEmpty, "fixture planted no close pairs — vacuous")
    assert(banded === brute)
  }

  test("phash band-bucket cap drops hot buckets whole; cold pairs survive") {
    import spark.implicits._
    // 40 identical hashes (every band bucket hot at cap 10) + two close
    // cold pairs: the hot mass must vanish ENTIRELY (not shrink), the
    // cold pairs survive untouched — the SimHash/MinHash drop-whole rule.
    val hot = (0L until 40L).map(i => (i, 0x0F0F0F0F0F0F0F0FL))
    val cold = Seq((100L, 0x123456789ABCDEF0L), (101L, 0x123456789ABCDEF1L),
      (200L, -0x7654321087654322L), (201L, -0x7654321087654326L))
    val hs = (hot ++ cold).toDF("media_id", "phash")
    val uncapped = Multimodal.phashDupes(hs, maxDistance = 6)
    val capped = Multimodal.phashDupes(hs, maxDistance = 6, maxBucketSize = 10)
    assert(uncapped.filter(org.apache.spark.sql.functions.col("id1") < 40).count() > 0)
    assert(capped.filter(org.apache.spark.sql.functions.col("id1") < 40).count() == 0,
      "hot-bucket pairs must be dropped whole by the cap")
    val coldPairs = capped.select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(coldPairs === Set((100L, 101L), (200L, 201L)))
  }

  test("phash pairs are partitioning-invariant at a 4800-raster dial") {
    // The scale-decade sanity (round 13): the banded join's output is a
    // pure function of the hash relation — shuffle-partition count must
    // not move the pair count or an order-independent checksum, at a
    // dial 100× the registered query's (dup ids offset by max(1000, n),
    // so the planted trios stay disjoint from base ids).
    import org.apache.spark.sql.functions._
    def digest(): (Long, Long) = {
      val hs = Multimodal.dHash(
        Multimodal.syntheticImagesWithDups(spark, 4800),
        Multimodal.ImageIoCodec)
      val r = Multimodal.phashDupes(hs, maxDistance = 6)
        .agg(count(lit(1)),
          coalesce(bit_xor(xxhash64(col("id1"), col("id2"), col("dist"))),
            lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val base = digest()
    assert(base._1 > 0, "no pairs at the 4800 dial — vacuous")
    val p = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "13")
      assert(digest() === base)
    } finally spark.conf.set("spark.sql.shuffle.partitions", p)
  }

  test("phash clusters equal connected components over the operator's own pairs") {
    // The dedup_cluster contract on the image graph: every planted
    // trio (original, other-envelope copy, one-pixel nudge) must land
    // in ONE cluster with the original (min id) canonical.
    val labels = SparkEntry.queries("multimodal_phash_cluster")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val byCluster = labels.groupBy(_._2)
    val planted = labels.map(_._1).filter(id => id < 1000 && id % 4 == 0)
    assert(planted.nonEmpty)
    planted.foreach { id =>
      val cid = labels.find(_._1 == id).get._2
      val members = byCluster(cid).map(_._1).toSet
      assert(members.contains(id + 1000) && members.contains(id + 2000),
        s"planted trio of $id split across clusters: $members")
    }
    byCluster.foreach { case (cid, ms) =>
      val canon = ms.filter(_._3).map(_._1)
      assert(canon.toSeq == Seq(ms.map(_._1).min),
        s"cluster $cid canonical is not the min member")
    }
  }

  test("dHash runs on the stub codec too (the pluggable-seam law)") {
    val media = Multimodal.synthetic(spark, 12)
    val a = Multimodal.dHash(media).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Multimodal.dHash(media.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a === b, "dHash must be partitioning-invariant")
    assert(a.size == 12)
  }
}
