package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.etl.DroneSense
import graft.queries._
import org.apache.spark.sql.functions.{col, to_json}
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Driver contract — see /root/repo/SURVEY.md §2.3 for the declared
  * inventory this map must cover, and §7.5 for the determinism rules every
  * oracle pair follows.
  */
object SparkEntry {
  /** Flagship query (TPC-H Q1-shaped pricing summary) on sf0.001;
    * driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    Relational.aggPricing(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.3. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Joins.queries ++ SetSort.queries ++
      Scalars.queries ++ Windows.queries ++ LlmOps.queries ++
      ScaleOps.queries ++ EventTime.queries ++ Udx.queries ++
      Extra.queries ++ Extra2.queries ++ Extra3.queries ++ Extra4.queries ++
      Extra5.queries ++ Extra6.queries ++ Extra7.queries ++ Extra8.queries ++
      Extra9.queries ++ Extra10.queries ++
      Tpch.queries ++
      Tpch2.queries ++
      Embeddings.queries ++ Pipeline.queries ++ Analytics.queries ++ Map(
        // Reference-parity pipeline over the embedded fixture; nested CoT
        // structs are golden-file tested (no SQL oracle). The driver dump
        // still row-sorts no-oracle results, and its pandas comparator
        // crashes on struct cells — so nested columns are JSON-serialized
        // HERE only (the typed frame stays the library surface, golden-
        // tested in DroneSenseSpec).
        "etl_dronesense_cot" -> ((s: SparkSession, _: String) => {
          val cot = DroneSense.toCot(DroneSense.validate(DroneSense.fixture(s)))
          cot.select(cot.schema.fields.map { f =>
            f.dataType match {
              case _: StructType | _: ArrayType | _: MapType =>
                to_json(col(f.name)).as(f.name)
              case _ => col(f.name)
            }
          }.toIndexedSeq: _*).orderBy(col("id"))
        })
      )

  /** The registry rows a main runs: every query when `names` is empty,
    * else exactly the named ones. An unknown name throws instead of
    * being filtered away — a run whose only names are typos must not
    * report success over zero queries.
    */
  def select(names: Seq[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val all = queries
    val unknown = names.filterNot(all.keySet).distinct.sorted
    if (unknown.nonEmpty) throw new IllegalArgumentException(
      s"unknown query name(s): ${unknown.mkString(", ")} — not in SparkEntry.queries")
    if (names.isEmpty) all else all.view.filterKeys(names.toSet).toMap
  }

  /** Declared ORACLE-BASELINE queries: quadratic/all-pairs forms kept
    * deliberately as the oracle-checkable contract surface, each with a
    * plan-gated scale sibling that runs the same contract at production
    * shape. Bench splits these out of the engine total so the headline
    * number measures the production paths and the baselines stay priced
    * alongside, never hidden:
    *   - join_theta       → join_theta_agg (histogram identity, 0 joins)
    *   - dedup_embed      → dedup_embed_cells/_cluster (IVF canopy)
    *   - dedup_ngram      → dedup_minhash (LSH-bucketed candidates)
    *   - dedup_neardup    → dedup_minhash (same contract, bucketed)
    *   - text_editdist    → levenshtein confined to the MinHash
    *                        candidate pairs (quadratic in candidates,
    *                        not corpus — kept here because its cost is
    *                        still pair-driven at the oracle dial)
    */
  def baselineQueries: Set[String] = Set(
    "join_theta", "dedup_embed", "dedup_ngram", "dedup_neardup",
    "text_editdist")

  /** DuckDB-equivalent SQL per key in [[queries]]; keys absent here are
    * covered by unit/golden/streaming tests instead (oracle=no rows).
    */
  def oracleSql: Map[String, String] =
    Relational.oracle ++ Joins.oracle ++ SetSort.oracle ++
      Scalars.oracle ++ Windows.oracle ++ LlmOps.oracle ++
      ScaleOps.oracle ++
      EventTime.oracle ++ Udx.oracle ++ Extra.oracle ++ Extra2.oracle ++
      Extra3.oracle ++ Extra4.oracle ++ Extra5.oracle ++ Extra6.oracle ++
      Extra7.oracle ++ Extra8.oracle ++ Extra9.oracle ++ Extra10.oracle ++
      Tpch.oracle ++ Tpch2.oracle ++
      Embeddings.oracle ++
      Pipeline.oracle ++ Analytics.oracle
}
