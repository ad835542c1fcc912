package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{bit_xor, coalesce, col, count, lit, xxhash64}

/** Release discipline for iterative DataFrame-resident state.
  *
  * The Dataset API has no explicit release for `localCheckpoint`ed
  * state (blocks live until the ContextCleaner GCs the RDD), so
  * iterative algorithms that checkpoint each round (Ivf's Lloyd,
  * PageRank) would keep EVERY round's state block-manager resident
  * until a GC happens to run — at odds with their O(state) residency
  * claims. [[free]] unpersists the checkpoint's RDD blocks directly;
  * callers must only pass state nothing downstream will recompute
  * from — localCheckpoint truncates lineage, so a freed block another
  * live DataFrame still references is an UNRECOVERABLE failure later.
  */
object Checkpoints {
  /** Eagerly materialize iterative/accumulated state AND reset its
    * statistics. `localCheckpoint` truncates LINEAGE but snapshots the
    * origin plan's size ESTIMATE into the new leaf — state that a later
    * plan references more than once therefore SQUARES its estimate
    * every generation, until the size-only stats visitor is multiplying
    * million-digit BigIntegers and the DRIVER livelocks in Toom-Cook
    * multiplication before any executor work (found in KCore round 15:
    * sf0.1 hung at 100% of one core; small fixtures converge in few
    * enough rounds to stay under the blowup — the worst kind of
    * latent). Wrapping the checkpointed rows in a fresh DataFrame
    * resets the estimate to the session default, making per-generation
    * stats O(plan), not O(2^generation). Returns (wrapped, checkpoint)
    * — the CHECKPOINT handle is what [[free]] must release when
    * superseded (the wrapper's leaf is a derived RDD, not the cached
    * blocks).
    */
  def snap(df: DataFrame): (DataFrame, DataFrame) = {
    val chk = df.localCheckpoint()
    (chk.sparkSession.createDataFrame(chk.rdd, chk.schema), chk)
  }

  /** Order-independent one-row digest of `df` over `cols`: (row count,
    * bit_xor of per-row xxhash64), computed by one map-side-combining
    * agg job — no shuffle of the data itself. bit_xor (not sum) because
    * ANSI mode makes `sum(BIGINT)` overflow an error, while xor is
    * closed, commutative and order-independent. The iterative
    * operators' convergence gate: differing digests prove two rounds'
    * states differ; equal ones must still be confirmed exactly.
    */
  def fingerprint(df: DataFrame, cols: String*): (Long, Long) = {
    val r = df.agg(
      count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(cols.map(col): _*)), lit(0L)).as("x")).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Free a superseded checkpoint's blocks. The contract is enforced
    * structurally, not by comment: the plan must be exactly ONE
    * `LogicalRDD` leaf under projections/filters (the shape
    * `df.localCheckpoint()` returns, and the only call-site shape) —
    * a plan with several RDD leaves (e.g. a join of two checkpoints)
    * means this frame does not exclusively OWN its leaves, and freeing
    * shared lineage-truncated blocks is how downstream consumers die
    * with block-missing errors. Such plans (and plans with no RDD leaf
    * at all) are left untouched.
    */
  def free(df: DataFrame): Unit = {
    val leaves = df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr
    }
    leaves match {
      case Seq(only) => only.rdd.unpersist(blocking = false); ()
      case Seq() => () // not a checkpoint — no-op by contract
      case many =>
        System.err.println(
          s"[checkpoints] free() skipped: plan has ${many.size} RDD leaves " +
            "(shared ownership — freeing would strand other consumers)")
    }
  }
}
