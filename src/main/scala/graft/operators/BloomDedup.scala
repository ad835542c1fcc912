package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.sketch.BloomFilter

/** Approximate-membership dedup — the ingest-time screen of the dedup
  * family (SURVEY.md §2.3 `dedup_bloom`).
  *
  * Exact dedup against a seen corpus needs a join against ALL seen keys
  * (`dedup_doc_exact`'s groupBy, or an anti-join); at ingest time the
  * right tool is a Bloom filter of the seen corpus's content hashes:
  * O(bits) memory, no shuffle of the seen side at probe time, and the
  * one-sided error the pipeline can live with — **no false negatives**
  * (a true duplicate is ALWAYS flagged), false positives at rate ~fpp
  * which the caller routes to exact verification (the MinHash
  * candidate-then-verify discipline; a screen, not a verdict).
  *
  * Scale honesty: `DataFrameStatFunctions.bloomFilter` aggregates
  * partial filters distributed, then merges them ON THE DRIVER — driver
  * memory is the filter's bit array (≈ 1.44·n·log2(1/fpp) bits ≈ 1.2 GB
  * at 10⁹ items / 1% fpp). Past ~10⁹ seen keys use the SHARDED build
  * ([[flagMaybeSeenSharded]] / `screenReport(shards = k)`): the seen
  * corpus splits into k hash-range blocks, one bloom per block, each
  * probed only by its own incoming subset and its broadcast destroyed
  * before the next block builds — so the driver's merge peak, each
  * broadcast block, AND each executor's resident filter are bits/k at
  * any instant. The no-false-negative guarantee is per-shard exact
  * (a seen key and its probes route to the same block by pmod of the
  * same hash), and k=1 is bit-identical to the unsharded screen
  * (spec-gated in Extra4Spec).
  *
  * Determinism: Spark's BloomFilter hashes with fixed-seed Murmur3 and
  * the bit array is a pure function of the inserted key SET, so
  * `maybe_seen` is partitioning-invariant (spec-gated).
  */
object BloomDedup {

  /** Flag each `incoming` row whose `hashCol` (LONG content hash) the
    * Bloom filter built over `seen`'s `hashCol` might contain.
    * Adds column `maybe_seen`; guarantees: every incoming hash present
    * in `seen` is flagged true; a flag is NEVER null (a null hash —
    * which cannot have been inserted — reads false, "not seen").
    */
  def flagMaybeSeen(spark: SparkSession, seen: DataFrame, incoming: DataFrame,
                    hashCol: String, expectedItems: Long,
                    fpp: Double): DataFrame =
    probe(spark, seen.stat.bloomFilter(hashCol, expectedItems, fpp),
      incoming, hashCol)

  /** Sharded build+probe — the ≥10⁹-key escalation of [[flagMaybeSeen]]
    * (same output contract). The hash space splits into `shards` blocks
    * by `pmod(hash, shards)`; block i's bloom is built only over seen
    * keys in block i and probed only by incoming keys in block i, so
    * routing is exact and the guarantee is unchanged. Blocks run IN
    * SEQUENCE, each probe materialized (localCheckpoint) and its
    * broadcast destroyed before the next block builds — peak driver and
    * executor filter residency is one block (~bits/shards).
    *
    * Callers should persist `seen` and `incoming` (each is scanned once
    * per shard); `screenReport` does.
    */
  def flagMaybeSeenSharded(spark: SparkSession, seen: DataFrame,
                           incoming: DataFrame, hashCol: String,
                           expectedItems: Long, fpp: Double,
                           shards: Int): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    if (shards == 1)
      return flagMaybeSeen(spark, seen, incoming, hashCol, expectedItems, fpp)
    val perShard = math.max(expectedItems / shards, 1L)
    val shardOf = pmod(col(hashCol), lit(shards.toLong))
    // One up-front pass prices every block (≤ `shards` rows collected).
    // Needed because `stat.bloomFilter` cannot build from ZERO rows (its
    // aggregate buffer stays null → NPE), and with k shards over a
    // skewed or small seen set an empty block is routine. Null seen
    // hashes are excluded — a null was never inserted.
    val seenPerShard: Map[Long, Long] = seen
      .filter(col(hashCol).isNotNull)
      .groupBy(shardOf.as("shard")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until shards).map { i =>
      // Seen side: a bare `pmod === i` drops null hashes — correct there.
      // Incoming side must NOT use it: the null-on-null predicate would
      // exclude a null-hash row from EVERY shard's probe subset,
      // shrinking the output and breaking the "a flag is NEVER null — a
      // null hash reads false" contract (round-11 ADVICE). Route nulls
      // deterministically to shard 0, where they read false.
      val inShard = incoming.filter(coalesce(shardOf, lit(0L)) === i.toLong)
      if (!seenPerShard.contains(i.toLong)) {
        // Nothing was ever inserted in this block: every probe is false.
        inShard.withColumn("maybe_seen", lit(false)).localCheckpoint()
      } else {
        val bf = seen.filter(shardOf === i.toLong)
          .stat.bloomFilter(hashCol, perShard, fpp)
        val (flagged, bc) = probeWithHandle(spark, bf, inShard, hashCol)
        try flagged.localCheckpoint()
        finally { bc.destroy(); () }
      }
    }.reduce(_.unionAll(_))
  }

  /** The probe half alone, over a prebuilt filter — ONE definition of
    * the broadcast-map probe, so a test of the probe checks exactly the
    * operator's semantics (Extra4Spec). The broadcast lives
    * until the context cleaner collects it; materialize-then-destroy
    * callers use [[probeWithHandle]].
    */
  def probe(spark: SparkSession, bf: BloomFilter, incoming: DataFrame,
            hashCol: String): DataFrame =
    probeWithHandle(spark, bf, incoming, hashCol)._1

  /** [[probe]] plus the broadcast handle, so an EAGER caller (one that
    * materializes the result) can `destroy()` the filter bits instead
    * of waiting on the ContextCleaner.
    */
  def probeWithHandle(spark: SparkSession, bf: BloomFilter,
                      incoming: DataFrame, hashCol: String)
      : (DataFrame, Broadcast[BloomFilter]) = {
    val bc = spark.sparkContext.broadcast(bf)
    // codegen'd native probe (graft.functions.BloomMightContain): stays
    // inside the whole-stage span, no per-row Long boxing, and the
    // never-null contract (null hash ⇒ false) lives in the expression
    // itself — no coalesce wrapper
    val out = incoming.withColumn("maybe_seen",
      graft.functions.BloomMightContain(spark, bc, col(hashCol)))
    // withColumn analyzes eagerly, so the resolved expression (carrying
    // this broadcast's handle) is already baked into `out`'s plan — the
    // temp registry entry has done its one job. Drop it now so repeated
    // screens in a long-lived session don't grow the function registry
    // one entry per probe (round-11 ADVICE).
    graft.functions.BloomMightContain.drop(spark, bc)
    (out, bc)
  }

  /** The registered-query shape: split `docs` at `splitId` into seen
    * (doc_id < splitId) and incoming, hash text with xxhash64, screen
    * incoming through the seen bloom, and join back the EXACT verdict
    * (left-semi against distinct seen hashes) so the output carries the
    * screen's confusion cells: `maybe_seen`, `exact_dup`, and
    * `is_fp = maybe_seen AND NOT exact_dup`. The exact column is what a
    * production pipeline computes only FOR THE FLAGGED SUBSET; here it
    * is computed for every row so the spec can assert the
    * no-false-negative guarantee over the whole relation.
    *
    * `shards` > 1 selects the sharded build (driver/executor filter
    * residency bits/shards — see the object doc).
    */
  def screenReport(spark: SparkSession, docs: DataFrame, splitId: Long,
                   fpp: Double = 0.01, shards: Int = 1): DataFrame = {
    // The hashed relation has three consumers (the eager bloomFilter
    // job(s), the exact seen-set, the probe side) — persist + try/finally
    // release after the eager checkpoint, the repo's multi-consumer
    // discipline, so the documents scan+hash runs once per job, not
    // once per consumer.
    val hashed = docs.select(col("doc_id"), xxhash64(col("text")).as("h"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val seen = hashed.filter(col("doc_id") < splitId)
      val incoming = hashed.filter(col("doc_id") >= splitId)
      val seenSet = seen.select(col("h")).distinct()
        .withColumn("exact_dup", lit(true))
      // unsharded path keeps the handle so the filter bits are freed at
      // the eager checkpoint below, not when the ContextCleaner gets
      // around to it; the sharded path destroys per-shard internally
      val (flagged, handles) =
        if (shards == 1) {
          val bf = seen.stat.bloomFilter("h", math.max(splitId, 1L), fpp)
          val (f, bc) = probeWithHandle(spark, bf, incoming, "h")
          (f, Seq(bc))
        } else
          (flagMaybeSeenSharded(spark, seen, incoming, "h",
            math.max(splitId, 1L), fpp, shards), Seq.empty[Broadcast[BloomFilter]])
      try flagged
        .join(broadcast(seenSet), Seq("h"), "left")
        .select(col("doc_id"), col("h"), col("maybe_seen"),
          coalesce(col("exact_dup"), lit(false)).as("exact_dup"))
        .withColumn("is_fp", col("maybe_seen") && !col("exact_dup"))
        .localCheckpoint()
      finally { handles.foreach(_.destroy()); () }
    } finally { hashed.unpersist(false); () }
  }
}
