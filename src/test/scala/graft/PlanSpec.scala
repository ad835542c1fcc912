package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: the properties PERF.md claims are
  * asserted here so they can't silently regress. Each test checks the
  * SHAPE Catalyst picked (pushdown, partial agg, broadcast, window group
  * limit, join strategy), not timings — shapes are what survive a 100×
  * scale-up.
  */
class PlanSpec extends AnyFunSuite {
  private val sf = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def plan(name: String): String = {
    // default 100-char metadata truncation hides most of PushedFilters
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  test("filter_pred pushes every conjunct into the parquet scan") {
    val p = plan("filter_pred")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("PushedFilters: []"), "no filters reached the scan")
    // spot-check representative pushed predicates
    assert(p.contains("GreaterThanOrEqual(l_quantity,5.0)"), p)
    assert(p.contains("In(l_returnflag"), p)
  }

  test("agg_pricing aggregates map-side before the exchange (partial_sum)") {
    val p = plan("agg_pricing")
    assert(p.contains("partial_sum"), p)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
  }

  test("join_broadcast broadcasts the dim side (no shuffle of nation)") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("tpch_q5 keeps nation/region broadcast in the 6-table join") {
    val p = plan("tpch_q5")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("topk_group caps groups BEFORE the shuffle (WindowGroupLimit)") {
    val p = plan("topk_group")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("join_range and join_theta plan as hash/sort-merge joins, not BNL") {
    for (q <- Seq("join_range", "join_theta", "join_range_binned")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q degenerated to a nested-loop/cartesian plan:\n$p")
    }
  }

  test("scan_project reads only the projected columns (pruned ReadSchema)") {
    val p = plan("scan_project")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_discount"), p)
    assert(!readSchema.contains("l_partkey") && !readSchema.contains("l_returnflag"),
      s"scan reads columns the query never uses: $readSchema")
  }

  test("join_multi pre-aggregates lineitem before the orders join") {
    val p = plan("join_multi")
    // the per-orderkey aggregate is the rewrite's signature: without it
    // the only aggregates are keyed on c_mktsegment (above the joins)
    assert(p.contains("HashAggregate(keys=[l_orderkey"),
      s"no per-orderkey pre-aggregation in:\n$p")
  }

  test("tpch_q4 plans the EXISTS as a semi join, not a distinct+inner") {
    val p = plan("tpch_q4")
    assert(p.contains("LeftSemi"), s"no semi join in:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)]")
      || p.contains("EqualTo(l_returnflag,R)"),
      s"returnflag filter not pushed to the lineitem scan:\n$p")
  }

  test("tpch_q2 pushes the part filters to the scan; window keys on partkey") {
    val p = plan("tpch_q2")
    assert(p.contains("EqualTo(p_type,LARGE)") && p.contains("LessThanOrEqual(p_size,15)"),
      s"part filters not pushed into the scan:\n$p")
    // the correlated min decorrelates to a per-part window — high-
    // cardinality partitioning, not a per-region serial walk
    assert(p.contains("windowspecdefinition(p_partkey"), s"no per-part window in:\n$p")
    // the (part, supplier) dedup must reuse the window's hash
    // partitioning (a superset of its key satisfies the aggregate's
    // clustered distribution) — no post-window exchange beyond the
    // ORDER BY's range partitioning. The r5 result-wide distinct()
    // reshuffled on every output column; its signature was an exchange
    // hashing p_brand/cost, keys nothing else ever hashes on.
    assert(!"""hashpartitioning\([^)]*p_brand""".r.findFirstIn(p).isDefined,
      s"result-wide distinct shuffle is back:\n$p")
    assert(!"""hashpartitioning\([^)]*s_suppkey[^)]*p_partkey|hashpartitioning\([^)]*p_partkey[^)]*s_suppkey""".r
      .findFirstIn(p).isDefined,
      s"dedup added its own exchange instead of reusing the window's:\n$p")
  }

  test("tpch_q11 shares ONE cached per-part aggregate between total and probe") {
    val p = plan("tpch_q11")
    assert(p.contains("InMemoryTableScan"),
      s"per-part aggregate not materialised (double lineitem pass):\n$p")
    // the only nested-loop is the one-row total broadcast cross join
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tpch_q16 plans NOT IN as a broadcast anti-join") {
    val p = plan("tpch_q16")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"anti join degenerated to a null-aware BNL:\n$p")
  }

  test("tpch_q20 keeps both levels as semi joins") {
    val p = plan("tpch_q20")
    assert(p.split("LeftSemi").length - 1 >= 2,
      s"expected two semi joins (parts, suppliers) in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch_q20 broadcasts the reduced suppkey set into the supplier semi join (AQE)") {
    // The r6 driver read 2.43 s vs a 0.66 s committed record with unchanged
    // code (adjudicated environmental; r7 re-measure: 0.87 s at sf0.1).
    // Pin the plan property that keeps it fast: after AQE finalizes, the
    // semi-join reduction (bigSupply -> tiny suppkey set) must BROADCAST
    // into the supplier semi join, not shuffle supplier. Finalized plans
    // need the query executed first, and only the section before
    // '== Initial Plan ==' is the final shape.
    val df = SparkEntry.queries("tpch_q20")(spark, sf)
    // collect() drives THIS df's QueryExecution (a sink write would plan
    // and finalize its own, separate execution)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("isFinalPlan=true"), s"AQE did not finalize:\n$p")
    val semiBroadcasts = p.linesIterator
      .count(l => l.contains("BroadcastHashJoin") && l.contains("LeftSemi"))
    assert(semiBroadcasts >= 2,
      s"expected both semi joins (parts, suppliers) broadcast in the final plan:\n$p")
  }

  test("tpch_q7 broadcasts all four dims; lineitem-orders is the only big shuffle") {
    val p = plan("tpch_q7")
    // supplier, customer, and both nation copies broadcast
    assert(p.split("BroadcastHashJoin").length - 1 >= 4,
      s"expected >=4 broadcast joins in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tpch_q19 keeps the disjunction one filter over one broadcast join") {
    val p = plan("tpch_q19")
    assert(p.contains("BroadcastHashJoin"), p)
    // no union-of-scans rewrite: lineitem is scanned exactly once
    assert(p.split("Scan parquet").length - 1 === 2,
      s"expected exactly 2 scans (lineitem, part) in:\n$p")
  }

  test("tpch_q22 plans the NOT EXISTS as an anti join with a one-row broadcast threshold") {
    val p = plan("tpch_q22")
    assert(p.contains("LeftAnti"), s"no anti join in:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"threshold should broadcast (one-row cross join):\n$p")
  }

  test("text_idf keeps the corpus-size join broadcast (no collect, no shuffle of one row)") {
    val p = plan("text_idf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus count should broadcast:\n$p")
  }

  test("tpch_q21 aggregates without a multi-distinct Expand") {
    // the double-countDistinct form planned a 3-replica Expand of every
    // lineitem row through the dominant shuffle; the two-level
    // aggregation must keep it out
    val p = plan("tpch_q21")
    assert(!p.contains("Expand"), s"q21 regressed to an Expand plan:\n$p")
    assert(p.contains("partial_count"), "first-level agg must combine map-side")
  }

  test("tpch_q15 computes the revenue view once (cached, not re-aggregated)") {
    val df: DataFrame = SparkEntry.queries("tpch_q15")(spark, sf)
    df.collect() // populate the cache through THIS plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("InMemoryTableScan"),
      s"q15's second consumer must read the cached view:\n$p")
  }

  test("tpch_q17 decorrelates to one lineitem scan (window, no join-back)") {
    val p = plan("tpch_q17")
    // lineitem + part = exactly two parquet scans; the aggregate-and-
    // join-back form had three
    assert(p.split("Scan parquet").length - 1 === 2,
      s"expected exactly 2 scans (lineitem, part) in:\n$p")
  }

  test("dedup_containment emits both directions without re-executing the self-join") {
    // The registered query eagerly localCheckpoints its result (its
    // executed plan is a scan of the checkpointed RDD), so the audit
    // runs on the LAZY pipeline frame the checkpoint executes — WITH the
    // same persist the registered query applies, so the audited physical
    // plan (InMemory scans feeding the self-join) is the plan that query
    // actually executes, not the unpersisted parquet-scan variant.
    val sh = graft.queries.LlmOps.shingles(spark, sf)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val p = graft.queries.LlmOps.containmentFrom(sh)
        .queryExecution.executedPlan.toString
      assert(!p.contains("Union"),
        s"containment regressed to the union-of-projections plan:\n$p")
      assert(p.contains("Generate explode"),
        s"expected the two-direction explode in:\n$p")
    } finally { sh.unpersist(false); () }
  }

  test("join_overlap plans a hash join on the bin id, never a nested loop") {
    val p = plan("join_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"overlap join fell back to a nested loop:\n$p")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no hash/merge join on the bin id:\n$p")
  }

  for (q <- Seq("win_range_frame", "win_range_frame_minmax"))
    test(s"$q windows are band-partitioned, never per-segment serial") {
      val p = plan(q)
      // The whole point of the BandedWindow rewrite: every Window operator
      // must partition by (segment, band) — a Window partitioned by the
      // 5-value segment alone is the serial-walk ceiling coming back.
      val windowSpecs = p.linesIterator.filter(_.contains("Window [")).toSeq
      assert(windowSpecs.nonEmpty, s"no Window operators found:\n$p")
      windowSpecs.foreach { w =>
        // the NULL-peer-group branch (count over the partition's isnull-
        // filtered rows) is legitimately partitioned by part alone: every
        // NULL is every other NULL's peer, so no band can subdivide it.
        // Identify it as the ONLY window touching no banded-machinery
        // column at all (a regressed wT totals window would still carry
        // __sv/__real and be caught).
        val nullPeerCount = w.contains("count(1)") && !w.contains("__")
        assert(w.contains("__band") || w.contains("__pband") || nullPeerCount,
          s"a Window lost its band partitioning (serial per-segment walk):\n$w")
      }
      assert(!p.contains("BroadcastNestedLoop"), p)
    }

  test("lshCandidates plans as hash aggregation — no sort, no self-join") {
    // The r10 rewrite's whole point (PERF.md round-10 addendum): the
    // n·bands bucket relation goes through ONE hash aggregate into capped
    // membership arrays and pairs explode map-side. A Sort, SortAggregate
    // or any Join node here is the n·log n window/self-join formulation
    // coming back — the measured term behind the pre-r10 +14%-over-linear
    // last decade.
    val sigs = graft.operators.MinHash.signatures(
      graft.queries.ScaleOps.hashedShingles(spark, sf))
    val p = graft.operators.MinHash.lshCandidates(sigs)
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0) // AQE prints Final then Initial
    assert(!p.contains("Sort ["), s"a physical sort crept into lshCandidates:\n$p")
    assert(!p.contains("SortAggregate"), s"aggregate fell back to sort-based:\n$p")
    assert(!p.contains("Join"), s"the bucket self-join came back:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("HashAggregate"),
      s"no hash aggregate found:\n$p")
  }

  test("dedup_substring plans as hash aggregation — no sort, no self-join") {
    // Same gate as lshCandidates: the gram relation goes through ONE
    // hash aggregate into capped membership arrays and pairs explode
    // map-side; a Sort/SortAggregate/Join node is the n·log n self-join
    // formulation sneaking in. (The registered query's final ORDER BY is
    // excluded by auditing the operator frame, as with lshCandidates.)
    val p = graft.operators.SubstringDedup
      .sharedGramPairs(Tables(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Sort ["), s"a physical sort crept into dedup_substring:\n$p")
    assert(!p.contains("SortAggregate"), s"aggregate fell back to sort-based:\n$p")
    assert(!p.contains("Join"), s"a self-join came back:\n$p")
    assert(p.contains("ObjectHashAggregate") || p.contains("HashAggregate"),
      s"no hash aggregate found:\n$p")
  }

  test("text_winnow evaluates the fingerprint expression once, above the sort") {
    // A global orderBy runs its input twice (RangePartitioner sketch pass
    // + real pass), so the expensive winnow projection must sit ABOVE the
    // Sort, projecting the narrow (doc_id, text) relation the exchange
    // carries — measured 88.2 → 45.8 s at 100×. This gate fails if a
    // future rewrite (or a new optimizer rule) pushes winnow_fps back
    // below the Sort, silently restoring the 2×.
    val p = plan("text_winnow").split("== Initial Plan ==")(0)
    val lines = p.linesIterator.toIndexedSeq
    val winnowAt = lines.indexWhere(_.contains("winnow_fps"))
    val sortAt = lines.indexWhere(l => l.contains("Sort [doc_id"))
    assert(winnowAt >= 0, s"winnow_fps not found in the plan:\n$p")
    assert(sortAt >= 0, s"Sort not found in the plan:\n$p")
    assert(winnowAt < sortAt,
      s"winnow_fps (line $winnowAt) must be ABOVE the Sort (line $sortAt):\n$p")
    assert(lines.count(_.contains("winnow_fps")) == 1,
      s"winnow_fps appears in more than one plan node:\n$p")
  }

  test("r10 fusion sweep: every expensive projection sits above the final Sort") {
    // The text_winnow gate generalized to the whole order-then-project
    // sweep: a global orderBy evaluates its same-stage input TWICE
    // (RangePartitioner sketch pass + real pass), so each query's
    // expensive expression — the fused native expression or the
    // interpreted HOF block — must project the ALREADY-SORTED narrow
    // relation. The marker is a substring unique to that expensive
    // expression; every plan line containing it must print ABOVE the
    // first Sort (plans print output-first). This regression happened
    // once already (the pushed-below-Sort filter, commit 1ad62a4);
    // here it fails sbt test instead of costing a silent 2×.
    val gates = Seq(
      "text_fingerprint"    -> "md5(",
      "text_repetition"     -> "repetition_stats(",
      "text_entropy"        -> "token_stats(",
      "fn_hof"              -> "lambdafunction",
      "fn_array2"           -> "array_distinct(",
      "text_gopher_quality" -> "array_intersect(",
      "text_diversity"      -> "array_distinct(",
      "embed_norm"          -> "lambdafunction",
      "embed_quantize"      -> "lambdafunction")
    gates.foreach { case (q, marker) =>
      val p = plan(q).split("== Initial Plan ==")(0)
      val lines = p.linesIterator.toIndexedSeq
      val sortAt = lines.indexWhere(_.contains("Sort ["))
      val markerAt = lines.zipWithIndex.collect {
        case (l, i) if l.contains(marker) => i
      }
      assert(sortAt >= 0, s"$q: no Sort node found:\n$p")
      assert(markerAt.nonEmpty, s"$q: marker '$marker' not in the plan:\n$p")
      assert(markerAt.forall(_ < sortAt),
        s"$q: '$marker' (lines $markerAt) must print ABOVE the Sort " +
          s"(line $sortAt) — the expensive projection was pushed below " +
          s"the global orderBy and now evaluates twice:\n$p")
    }
  }

  test("join_theta_agg plans as two hash aggregates — zero joins") {
    // The 1480× theta rewrite (798 → 0.54 s at 100×): count-only theta
    // joins must use the per-(brand, size) histogram identity
    // n_pairs = (T² − Σc²)/2 — two hash aggregates, never a pair
    // materialization. A Join node here means someone "simplified" the
    // rewrite back into the quadratic form.
    val p = plan("join_theta_agg").split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"a join crept into the aggregate rewrite:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), s"no hash aggregate found:\n$p")
    assert(!p.contains("SortAggregate"), s"aggregate fell back to sort-based:\n$p")
  }

  test("text_chunk is a map-only explode — no join, no aggregate") {
    // Context-window chunking is the highest-volume op in a pretraining
    // pipeline: the plan must be scan → project → Generate(explode) →
    // (oracle-contract Sort). Any Join or aggregate here means the
    // chunking picked up a shuffle it doesn't need.
    val p = plan("text_chunk").split("== Initial Plan ==")(0)
    assert(p.contains("Generate"), s"explode missing:\n$p")
    assert(!p.contains("Join"), s"a join crept into row-local chunking:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"an aggregate crept into row-local chunking:\n$p")
  }

  test("export_shards is one hash aggregate with map-side combine") {
    // The manifest checksum is a commutative sum precisely so the whole
    // manifest builds in ONE partial-aggregable hash aggregate. A
    // SortAggregate (string min/max fallback) or a Join would break the
    // single-pass contract; absence of partial_* means the combine
    // stopped happening map-side and the shuffle carries raw rows.
    val p = plan("export_shards").split("== Initial Plan ==")(0)
    assert(p.contains("HashAggregate"), s"hash aggregate missing:\n$p")
    assert(p.contains("partial_"), s"map-side combine missing:\n$p")
    assert(!p.contains("SortAggregate"), s"fell back to sort aggregate:\n$p")
    assert(!p.contains("Join"), s"a join crept into the manifest:\n$p")
  }

  test("win_range_frame_stats runs every aggregate family on two shared sorts") {
    // The r10 pass fusion: count/sum read the previous band's frame slice
    // off the SAME descending suffix pass min/max/first/last use, so the
    // whole multi-aggregate query sorts exactly 3 times — the ascending
    // intra-band pass, the descending probe pass, and the oracle
    // contract's output ORDER BY. A 4th sort is the deleted ascending
    // count/sum walk (or the whole-partition totals walk) regressing.
    // Needs the FINALIZED adaptive plan: pre-AQE the probe join-back
    // still shows as SMJ with its own (order-satisfied) sorts.
    val df = SparkEntry.queries("win_range_frame_stats")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(p.contains("isFinalPlan=true"), s"AQE did not finalize:\n$p")
    val sorts = p.linesIterator.count(_.contains("Sort ["))
    assert(sorts <= 3, s"expected <=3 physical sorts, found $sorts:\n$p")
    assert(!p.contains("SortAggregate"), p)
  }

  test("runtime bloom filter prunes the probe side of a selective shuffle join") {
    // At 100 TB the win: a selective dim filter becomes a bloom filter
    // EVALUATED INSIDE the fact scan, so most of the fact table never
    // reaches the join shuffle. The size thresholds exist for real
    // clusters; they are widened here only so fixture-sized inputs take
    // the same plan path a 100 TB probe side would.
    import org.apache.spark.sql.functions._
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = Tables(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
      val o = Tables(spark, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity")).as("q"))
      j.collect() // execute THIS plan (AQE finalises on the same QE)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain") || p.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  // ---- export-wave gates (round 12) ------------------------------------
  // The five round-11 export queries materialize eagerly inside their
  // builder (persist + localCheckpoint), so the registered DataFrame's
  // own plan is just an ExistingRDD scan. Gating a hand-rebuilt copy
  // would protect the copy, not the query — instead a
  // QueryExecutionListener captures every plan the REAL registered
  // query executes (each head()/checkpoint action), and the assertions
  // walk those plans structurally.

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, SortAggregateExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
  import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
  import org.apache.spark.sql.execution.window.WindowExec
  import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
  import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}

  /** Run the registered query and return every (action, finalized plan)
    * it executed. Listener delivery is async on the bus → poll to
    * quiescence (three consecutive quiet windows).
    */
  private def executedPlans(name: String): Seq[(String, SparkPlan)] = {
    val buf = scala.collection.mutable.ArrayBuffer[(String, SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        buf.synchronized { buf += fn -> qe.executedPlan; () }
      override def onFailure(fn: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries(name)(spark, sf).collect()
      var (last, stable, waited) = (-1, 0, 0)
      while (stable < 3 && waited < 15000) {
        Thread.sleep(100); waited += 100
        val n = buf.synchronized(buf.size)
        if (n == last) stable += 1 else { stable = 0; last = n }
      }
      buf.synchronized(buf.toList)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node reachable from `p`, unwrapping AQE stages, exchange
    * reuse, and cached relations (a persisted input's build plan runs
    * inside whichever captured plan first scans it). Identity-deduped:
    * one cached relation scanned four times contributes its build plan
    * once, so node COUNTS mean what they say.
    */
  private def flattenPlan(p: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(n: SparkPlan): Seq[SparkPlan] = {
      if (!seen.add(n)) return Nil
      val kids: Seq[SparkPlan] = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec        => Seq(s.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
        case o                        => o.children
      }
      n +: kids.flatMap(go)
    }
    go(p)
  }

  private def hasAggBelow(n: SparkPlan): Boolean =
    flattenPlan(n).exists(_.isInstanceOf[BaseAggregateExec])

  /** The scale invariant shared by the export gates: single-partition
    * exchanges, range exchanges (global sorts), and Sort nodes may only
    * ever see AGGREGATED (bounded) rows — the corpus itself must never
    * funnel through one partition or a sort.
    */
  private def assertOnlyBoundedRowsFunnel(nodes: Seq[SparkPlan], who: String): Unit = {
    nodes.foreach {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        assert(hasAggBelow(e.child),
          s"$who: a single-partition exchange sees un-aggregated rows:\n$e")
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] =>
        assert(hasAggBelow(e.child),
          s"$who: a global sort sees un-aggregated corpus rows:\n$e")
      case s: org.apache.spark.sql.execution.SortExec =>
        assert(hasAggBelow(s.child),
          s"$who: a sort sees un-aggregated corpus rows:\n$s")
      case _ => ()
    }
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]),
      s"$who: an aggregate fell back to sort-based")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]),
      s"$who: a cartesian product appeared")
  }

  test("corpus_prune: only the score histogram crosses the cumulative window") {
    // The exact-percentile claim (Extra5.scala): thresholds come from a
    // cumulative window over the (bounded) score histogram — the corpus
    // itself must never sort or single-partition, and the thresholds
    // join back as broadcasts.
    val nodes = executedPlans("corpus_prune").flatMap(p => flattenPlan(p._2))
    assertOnlyBoundedRowsFunnel(nodes, "corpus_prune")
    assert(nodes.count(_.isInstanceOf[WindowExec]) == 1,
      "expected exactly one (histogram) window")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]) &&
           !nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "threshold join-back must be broadcast, not a shuffle join")
  }

  test("text_bm25: query-term filter sits below the tf aggregate; top-k is TakeOrdered") {
    val plans = executedPlans("text_bm25")
    val nodes = plans.flatMap(p => flattenPlan(p._2))
    assertOnlyBoundedRowsFunnel(nodes, "text_bm25")
    // the tf aggregate keyed (doc_id, term) must have the isin filter
    // BELOW it — that filter is what makes the shuffle O(matches)
    val tfAggs = nodes.collect {
      case a: BaseAggregateExec
        if a.groupingExpressions.map(_.name).toSet == Set("doc_id", "term") => a
    }
    assert(tfAggs.nonEmpty, "tf aggregate keyed (doc_id, term) not found")
    assert(tfAggs.exists(a => flattenPlan(a.child).exists {
      case f: org.apache.spark.sql.execution.FilterExec =>
        f.condition.toString.contains("IN") || f.condition.toString.contains("In(")
      case _ => false
    }), "query-term isin filter is not below the tf aggregate — the tf shuffle carries ALL tokens")
    // df joins back broadcast on term; final top-100 never global-sorts
    assert(nodes.exists {
      case j: BroadcastHashJoinExec => (j.leftKeys ++ j.rightKeys).exists(_.toString.contains("term"))
      case _ => false
    }, "df relation must broadcast-join on term")
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "top-100 must be TakeOrdered, not a global sort + limit")
    assert(nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]) <= 1,
      "only the one-row (N, avgdl) stats cross join may be a BNL")
  }

  test("text_bigram_xent: all three count joins are gram-keyed hash joins") {
    val nodes = executedPlans("text_bigram_xent").flatMap(p => flattenPlan(p._2))
    assertOnlyBoundedRowsFunnel(nodes, "text_bigram_xent")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "a gram join degenerated to sort-merge")
    val hashJoins = nodes.count {
      case _: BroadcastHashJoinExec | _: ShuffledHashJoinExec => true
      case _ => false
    }
    assert(hashJoins >= 3, s"expected >=3 gram-keyed hash joins, found $hashJoins")
    assert(nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]) <= 1,
      "only the one-row total cross join may be a BNL")
  }

  test("sample_temperature: nothing after the per-source rollup reshuffles the corpus") {
    val nodes = executedPlans("sample_temperature").flatMap(p => flattenPlan(p._2))
    assertOnlyBoundedRowsFunnel(nodes, "sample_temperature")
    // the ONLY hash exchange is the per-source rollup's; grand/normalizer
    // run on the (source-cardinality) cached rollup and broadcast back
    val hashEx = nodes.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashEx.size <= 1, s"extra hash exchanges appeared: ${hashEx.mkString("\n")}")
    hashEx.foreach { e =>
      assert(e.outputPartitioning.asInstanceOf[HashPartitioning]
        .expressions.exists(_.toString.contains("source")),
        s"the one hash exchange must key on source:\n$e")
    }
  }

  test("sample_mix_plan: hash exchanges key only on (source, shard); targets broadcast back") {
    // The composed mixing pipeline (round 12): temperature probabilities
    // → per-source budget targets → greedy (source, shard) fill. The
    // corpus may reshuffle ONLY for the per-source rollup and the
    // 16-way sharded cumsum window; targets must join back broadcast,
    // and the one-row grand/Z normalizers stay single-partition over
    // aggregated rows.
    val nodes = executedPlans("sample_mix_plan").flatMap(p => flattenPlan(p._2))
    assert(nodes.count(_.isInstanceOf[WindowExec]) == 1,
      "expected exactly one (sharded cumsum) window")
    nodes.foreach {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        val keys = e.outputPartitioning.asInstanceOf[HashPartitioning]
          .expressions.map(_.toString)
        assert(keys.forall(k => k.contains("source") || k.contains("shard")),
          s"a hash exchange keys outside (source, shard):\n$e")
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        assert(hasAggBelow(e.child),
          s"a single-partition exchange sees un-aggregated corpus rows:\n$e")
      case _ => ()
    }
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "the targets join-back degenerated to sort-merge — it must broadcast")
    assert(nodes.exists {
      case j: BroadcastHashJoinExec =>
        (j.leftKeys ++ j.rightKeys).exists(_.toString.contains("source"))
      case _ => false
    }, "per-source targets must broadcast-join back on source")
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), "sort-agg fallback")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
  }

  test("sample_mix_dynamic: same exchange discipline as the static plan, dynamic key") {
    // The round-13 shard dial must not change the plan CLASS: one
    // (sharded cumsum) window, hash exchanges keyed only on
    // (source, substring-shard) — the window partition key is now the
    // projected substring(m, 1, plen) expression (_wN) — targets (with
    // plen) broadcast back, no sort-merge, no cartesian.
    val nodes = executedPlans("sample_mix_dynamic").flatMap(p => flattenPlan(p._2))
    assert(nodes.count(_.isInstanceOf[WindowExec]) == 1,
      "expected exactly one (sharded cumsum) window")
    nodes.foreach {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        val keys = e.outputPartitioning.asInstanceOf[HashPartitioning]
          .expressions.map(_.toString)
        assert(keys.forall(k => k.contains("source") || k.contains("shard") ||
          k.contains("substring") || k.contains("_w")),
          s"a hash exchange keys outside (source, shard):\n$e")
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        assert(hasAggBelow(e.child),
          s"a single-partition exchange sees un-aggregated corpus rows:\n$e")
      case _ => ()
    }
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "the targets join-back degenerated to sort-merge — it must broadcast")
    assert(nodes.exists {
      case j: BroadcastHashJoinExec =>
        (j.leftKeys ++ j.rightKeys).exists(_.toString.contains("source"))
      case _ => false
    }, "per-source targets must broadcast-join back on source")
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), "sort-agg fallback")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
  }

  test("quality_lr_score: scoring is map-only — no hash exchange, bounded TakeOrdered bands") {
    // The serving half of quality_lr: feature recompute + one-row
    // broadcast weight join + sigmoid is row-local; the only plan
    // structure allowed beyond the scan is the broadcast weights BNL
    // (once — the scored relation is cached, not recomputed per band)
    // and TakeOrdered band extraction.
    val nodes = executedPlans("quality_lr_score").flatMap(p => flattenPlan(p._2))
    assert(!nodes.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[HashPartitioning]
      case _ => false
    }, "scoring must not reshuffle the corpus")
    assert(nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.TakeOrderedAndProjectExec]),
      "band extraction must be TakeOrdered, not a global sort")
    assert(nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]) <= 1,
      "the one-row weight join must run once over the cached scored relation")
    assert(!nodes.exists(n => n.isInstanceOf[SortMergeJoinExec] ||
      n.isInstanceOf[ShuffledHashJoinExec] || n.isInstanceOf[CartesianProductExec]),
      "an unexpected join appeared in the scoring path")
  }

  test("graph_pagerank: rounds reuse the cached dst-partitioning — zero per-round exchanges") {
    // Round-18 strengthening of the old "every per-round exchange is
    // post-combine" gate. The contribution side is now EXPLICITLY
    // broadcast into the fan join (guide §3.1), so the join preserves
    // the cached edge relation's dst hash-partitioning and each round's
    // groupBy(dst) rides it with NO exchange at all — the per-round
    // wire is the node-sized broadcast, nothing else. The old gate's
    // "AQE-wrapped cached plans don't expose partitioning" caveat
    // applied to the sort-merge-by-src plan this replaced; with the
    // stream side untouched, the cached partitioning carries through.
    // Regression direction: a dst-keyed ENSURE_REQUIREMENTS exchange
    // reappearing means the rounds shuffle again (the initial-plan SMJ
    // pathology); sort-merge/cartesian joins stay forbidden.
    val nodes = executedPlans("graph_pagerank").flatMap(p => flattenPlan(p._2))
    val roundExchanges = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] &&
          e.outputPartitioning.asInstanceOf[HashPartitioning].expressions.size == 1 &&
          e.outputPartitioning.asInstanceOf[HashPartitioning]
            .expressions.head.toString.contains("dst") &&
          e.shuffleOrigin.toString == "ENSURE_REQUIREMENTS" => e
    }
    assert(roundExchanges.isEmpty,
      s"a per-round dst exchange reappeared — the fan join stopped " +
        s"preserving the cached dst-partitioning:\n${roundExchanges.mkString("\n")}")
    assert(nodes.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      "no broadcast join captured — the contribution side lost its hint (vacuous)")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "a propagate join degenerated to sort-merge — node-sized sides must broadcast")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
  }

  test("pipeline_end2end: stages hand off hash-partitioned; thresholds/targets broadcast") {
    // The five-stage composition: corpus-sized rows may reshuffle only on
    // the stage keys (content hash, score, source, (source, shard),
    // shard); the bounded relations (histogram total, prune thresholds,
    // mix normalizer/targets) stay single-partition-over-aggregates or
    // broadcast. Exactly three windows: the dedup row_number (per
    // content hash), the histogram cumsum, the (source, shard) fill.
    val nodes = executedPlans("pipeline_end2end").flatMap(p => flattenPlan(p._2))
    assert(nodes.count(_.isInstanceOf[WindowExec]) == 3,
      s"expected 3 windows (dedup, histogram, fill), found ${nodes.count(_.isInstanceOf[WindowExec])}")
    nodes.foreach {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        assert(hasAggBelow(e.child),
          s"a single-partition exchange sees un-aggregated corpus rows:\n$e")
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        val keys = e.outputPartitioning.asInstanceOf[HashPartitioning]
          .expressions.map(_.toString)
        // _wN = Catalyst's projected window partition key (the fill
        // window's substring(m, 1, 1) shard) — still a stage key
        assert(keys.forall(k => k.contains("ch") || k.contains("score") ||
          k.contains("source") || k.contains("shard") || k.contains("substring") ||
          k.contains("md5") || k.contains("_w")),
          s"a hash exchange keys outside the stage keys:\n$e")
      case _ => ()
    }
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]) &&
           !nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "thresholds/targets must broadcast, never shuffle-join the corpus")
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), "sort-agg fallback")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
  }

  test("pipeline_end2end_full: stage-key exchanges only; the model gate adds no shuffle") {
    // The seven-stage production pipeline (round 13): the five-stage
    // invariants carry over (exactly 3 windows — the near-dup and model
    // stages add NONE; single-partition exchanges only above
    // aggregates; no cartesian, no sort-agg fallback), plus the new
    // stages' keys join the allowed set: shingle (s), pair (d1/d2),
    // doc_id (sizes joins + the anti-join + CC), CC labels (v/c/src/
    // dst/nc). The model keep-gate must be invisible here — it is
    // row-local via the QualityScorer carry seam, so NO exchange may
    // key on the scorer's _qs_ working columns (a join-back would).
    // Unlike the five-stage gate, shuffled joins ARE allowed: the
    // shingle self-join and CC rounds are corpus-sized on both sides
    // by design.
    val nodes = executedPlans("pipeline_end2end_full").flatMap(p => flattenPlan(p._2))
    // Distinct window KINDS, not WindowExec node count: the pipeline
    // materializes eagerly several times (CC rounds + checkpoints), and
    // each captured action re-embeds upstream lineage — the same dedup
    // window appears in several plans. Strip exprIds so re-derived
    // instances of one spec collapse.
    val winKinds = nodes.collect { case w: WindowExec =>
      (w.partitionSpec.map(_.toString.replaceAll("#\\d+", "")),
        w.orderSpec.map(_.toString.replaceAll("#\\d+", "")))
    }.toSet
    assert(winKinds.size == 3,
      s"expected 3 window kinds (dedup, histogram, fill), found:\n${winKinds.mkString("\n")}")
    nodes.foreach {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        // aggregated rows OR limit-bounded rows (CC's convergence probe
        // is `…limit(1).count()` — a LocalLimit caps the exchange at
        // one row per partition)
        assert(hasAggBelow(e.child) || flattenPlan(e.child).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.LocalLimitExec]),
          s"a single-partition exchange sees un-aggregated corpus rows:\n$e")
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        val keys = e.outputPartitioning.asInstanceOf[HashPartitioning]
          .expressions.map(_.toString)
        assert(keys.forall(k => !k.contains("_qs_")),
          s"the model keep-gate leaked a shuffle (scorer working column in keys):\n$e")
        assert(keys.forall(k => k.contains("ch") || k.contains("score") ||
          k.contains("source") || k.contains("shard") || k.contains("substring") ||
          k.contains("md5") || k.contains("_w") || k.contains("doc_id") ||
          k.contains("d1") || k.contains("d2") || k.contains("s#") ||
          k.contains("v#") || k.contains("c#") || k.contains("src") ||
          k.contains("dst") || k.contains("nc")),
          s"a hash exchange keys outside the stage keys:\n$e")
      case _ => ()
    }
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), "sort-agg fallback")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
  }

  test("pipeline_end2end_scale: no shingle self-join; stage-key exchanges only") {
    // The scale form exists to REMOVE stage 3's exact shingle self-join
    // (the composed query's quadratic family at 100 TB) in favor of
    // MinHash-LSH candidates + exact verification, keeping every other
    // stage byte-identical. The discriminator: the exact form's shingle
    // self-join is an equi-join keyed on the shingle alone (a.s = b.s);
    // the scale form's only s-keyed join is the (d2, s) intersection
    // join — candidate-bounded, never corpus × corpus. So: NO join in
    // this plan may key on a single shingle column. The full-pipeline
    // invariants carry over: 3 window kinds, no scorer working column
    // in any exchange, single-partition exchanges only above aggregates
    // or limits, no cartesian, no sort-agg fallback.
    val nodes = executedPlans("pipeline_end2end_scale").flatMap(p => flattenPlan(p._2))
    def singleShingleKey(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.size == 1 && keys.head.toString.matches("s#\\d+L?(\\[.*\\])?")
    nodes.foreach {
      case j: SortMergeJoinExec =>
        assert(!singleShingleKey(j.leftKeys) && !singleShingleKey(j.rightKeys),
          s"the exact shingle self-join came back (sort-merge on s alone):\n$j")
      case j: ShuffledHashJoinExec =>
        assert(!singleShingleKey(j.leftKeys) && !singleShingleKey(j.rightKeys),
          s"the exact shingle self-join came back (shuffled hash on s alone):\n$j")
      case j: BroadcastHashJoinExec =>
        assert(!singleShingleKey(j.leftKeys) && !singleShingleKey(j.rightKeys),
          s"a join keyed on the shingle alone appeared:\n$j")
      case _ => ()
    }
    val winKinds = nodes.collect { case w: WindowExec =>
      (w.partitionSpec.map(_.toString.replaceAll("#\\d+", "")),
        w.orderSpec.map(_.toString.replaceAll("#\\d+", "")))
    }.toSet
    assert(winKinds.size == 3,
      s"expected 3 window kinds (dedup, histogram, fill), found:\n${winKinds.mkString("\n")}")
    nodes.foreach {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        assert(hasAggBelow(e.child) || flattenPlan(e.child).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.LocalLimitExec]),
          s"a single-partition exchange sees un-aggregated corpus rows:\n$e")
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] =>
        val keys = e.outputPartitioning.asInstanceOf[HashPartitioning]
          .expressions.map(_.toString)
        assert(keys.forall(k => !k.contains("_qs_")),
          s"the model keep-gate leaked a shuffle (scorer working column in keys):\n$e")
        assert(keys.forall(k => k.contains("ch") || k.contains("score") ||
          k.contains("source") || k.contains("shard") || k.contains("substring") ||
          k.contains("md5") || k.contains("_w") || k.contains("doc_id") ||
          k.contains("d1") || k.contains("d2") || k.contains("s#") ||
          k.contains("v#") || k.contains("c#") || k.contains("src") ||
          k.contains("dst") || k.contains("nc") ||
          k.contains("band") || k.contains("key")),
          s"a hash exchange keys outside the stage keys:\n$e")
      case _ => ()
    }
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), "sort-agg fallback")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
  }

  test("graph_triangles: equi hash joins only, map-side combine on the count") {
    // Triangle enumeration must stay two plain equi joins over the
    // ordered edge relation (+ the edge-build join on the order key) —
    // a BroadcastNestedLoopJoin or cartesian here is the a<b<c
    // inequality leaking out of the join condition into a filter over a
    // cross product (the classic way this query goes quadratic-in-rows
    // instead of output-bound). The per-node count must combine
    // map-side: the exploded 3×triangles relation is the biggest
    // intermediate, and only (node, partial count) rows may cross the
    // wire.
    val nodes = executedPlans("graph_triangles").flatMap(p => flattenPlan(p._2))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "a nested-loop join appeared — the ordering predicate left the equi join")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), "sort-agg fallback")
    // The round-14 capstone lesson, pinned: the wedge relation (Σ outdeg²
    // rows — the plan's largest intermediate by an order of magnitude)
    // must STREAM through shuffled-hash joins, never sort. A
    // SortMergeJoin here is the >75 GB sort-spill that killed the first
    // 100× run coming back; the final orderBy sorts only the aggregated
    // node counts (assertOnlyBoundedRowsFunnel's rule).
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "a triangle join degenerated to sort-merge — the wedge stream must never sort")
    nodes.collect { case s: org.apache.spark.sql.execution.SortExec => s }
      .foreach { s =>
        assert(flattenPlan(s.child).exists(_.isInstanceOf[BaseAggregateExec]),
          s"a sort sees un-aggregated wedge/triangle rows:\n$s")
      }
    val countExchanges = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] &&
          e.outputPartitioning.asInstanceOf[HashPartitioning]
            .expressions.exists(_.toString.contains("node")) => e
    }
    assert(countExchanges.nonEmpty, "no node-keyed count exchange captured — vacuous")
    countExchanges.foreach { e =>
      assert(flattenPlan(e.child).exists {
        case a: BaseAggregateExec =>
          a.aggregateExpressions.exists(_.mode.toString.contains("Partial"))
        case _ => false
      }, s"the triangle count shuffles raw exploded rows (no map-side combine):\n$e")
    }
  }

  test("graph_kcore: node-keyed exchanges only; the h-index window feeds its max without re-shuffling") {
    // The peel discipline's plan shape (round-15 verdict #4): every
    // hash exchange in the iteration is keyed on a graph node column
    // (v/n or the edge-builder's ok/sk) — an exchange on anything else
    // means a round is shuffling non-state — and no BNL/cartesian (an
    // inequality leaking out of the edge-build equi join). The h-index
    // recompute's window (partitionBy v) and the max that follows
    // (groupBy v) share a key, so the max must consume the window's
    // partitioning directly: a ShuffleExchange BETWEEN them would
    // double each round's traffic.
    val nodes = executedPlans("graph_kcore").flatMap(p => flattenPlan(p._2))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "a nested-loop join appeared in the kcore iteration")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
    // state-keyed only: node columns (v/n, the builder's ok/sk) plus the
    // (v, nc) pre-count key — nc is the estimate value, and that
    // exchange exists precisely so the count can combine MAP-SIDE
    // (asserted below) and ship distinct-value rows, not adjacency rows
    val graphKeys = Seq("v#", "n#", "node#", "a#", "b#", "ok#", "sk#", "nc#",
      "l_orderkey#", "l_partkey#")
    val hashed = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashed.nonEmpty, "no hash exchange captured — vacuous")
    hashed.foreach { e =>
      val exprs = e.outputPartitioning.asInstanceOf[HashPartitioning].expressions
      assert(exprs.forall(x => graphKeys.exists(x.toString.contains)),
        s"non-state-keyed exchange in the kcore iteration: $e")
    }
    // every (v, nc) exchange must sit above a PARTIAL count — the
    // map-side combine is the point of pre-counting
    hashed.filter(_.outputPartitioning.asInstanceOf[HashPartitioning]
        .expressions.exists(_.toString.contains("nc#")))
      .foreach { e =>
        assert(flattenPlan(e.child).exists {
          case a: BaseAggregateExec =>
            a.aggregateExpressions.exists(_.mode.toString.contains("Partial"))
          case _ => false
        }, s"the (v, value) pre-count shuffles raw adjacency rows:\n$e")
      }
    // window → max with no exchange in between (same v key, reused).
    // Traversal mirrors flattenPlan's AQE/reuse unwrapping but STOPS at
    // shuffle boundaries — the property is "reachable without crossing
    // an exchange".
    def kids(q: SparkPlan): Seq[SparkPlan] = q match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec        => Seq(s.plan)
      case o                        => o.children
    }
    def hasWindowNoShuffle(q: SparkPlan): Boolean = q match {
      case _: WindowExec => true
      case _: ShuffleExchangeExec => false
      case _: ReusedExchangeExec => false
      case other => kids(other).exists(hasWindowNoShuffle)
    }
    val aggsOverWindow = nodes.collect {
      case a: BaseAggregateExec if kids(a).exists(hasWindowNoShuffle) => a
    }
    assert(aggsOverWindow.nonEmpty,
      "the h-index max re-shuffles the window output — exchange not reused")
  }

  test("graph_bfs: node-keyed exchanges only; the min-distance agg combines map-side") {
    // The frontier-expansion discipline's plan shape: every hop is an
    // equi join frontier ⋈ adjacency on the node column (a BNL or
    // cartesian is the join key leaking into a filter), every hash
    // exchange in the expansion is keyed on a graph node column, and
    // the closing min(dist) must combine map-side — the union of level
    // sets is the plan's widest relation, and only (node, partial min)
    // rows may cross the final wire. A sort may only see aggregated
    // rows (the orderBy on the bounded result).
    val nodes = executedPlans("graph_bfs").flatMap(p => flattenPlan(p._2))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "a nested-loop join appeared in the BFS expansion")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), "sort-agg fallback")
    nodes.collect { case s: org.apache.spark.sql.execution.SortExec => s }
      .foreach { s =>
        assert(flattenPlan(s.child).exists(_.isInstanceOf[BaseAggregateExec]),
          s"a sort sees un-aggregated level rows:\n$s")
      }
    val graphKeys = Seq("v#", "n#", "node#", "a#", "b#", "ok#", "sk#",
      "l_orderkey#", "l_partkey#", "p_partkey#")
    val hashed = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashed.nonEmpty, "no hash exchange captured — vacuous")
    hashed.foreach { e =>
      val exprs = e.outputPartitioning.asInstanceOf[HashPartitioning].expressions
      assert(exprs.forall(x => graphKeys.exists(x.toString.contains)),
        s"non-node-keyed exchange in the BFS expansion: $e")
    }
    // the min-distance agg must combine BEFORE any wire: a PARTIAL min
    // exists (map-side), and — the stronger measured property — no
    // shuffle sits between it and the final min at all, because every
    // union branch is already node-partitioned by its level-distinct
    // exchange and Spark 4 propagates the shared partitioning through
    // the union (the plan's closing agg rides the level exchanges; the
    // only exchange above the partial min is the orderBy's range
    // partition).
    val partialMins = nodes.collect {
      case a: BaseAggregateExec
        if a.aggregateExpressions.exists(ae =>
          ae.mode.toString.contains("Partial") &&
            ae.aggregateFunction.toString.toLowerCase.startsWith("min")) => a
    }
    assert(partialMins.nonEmpty,
      "no partial min aggregate — the distance agg shuffles raw level rows")
    val hashAboveMin = hashed.filter(e => flattenPlan(e.child).exists {
      case a: BaseAggregateExec =>
        a.aggregateExpressions.exists(ae =>
          ae.mode.toString.contains("Partial") &&
            ae.aggregateFunction.toString.toLowerCase.startsWith("min"))
      case _ => false
    })
    assert(hashAboveMin.isEmpty,
      "a hash exchange re-shuffles the combined (node, min) rows — the " +
        "closing agg stopped reusing the level-distinct partitioning")
  }

  test("graph_sssp: node-keyed exchanges only; every relaxation min combines map-side") {
    // The bounded Bellman-Ford plan shape: each round is ONE equi join
    // state ⋈ self-loop-augmented adjacency (a BNL/cartesian is the
    // relaxation leaking out of the join) + ONE node-keyed min whose
    // partial runs below its exchange — the relax fan-out (state ×
    // degree rows) is each round's widest relation and only (node,
    // partial min) may cross the wire. Sorts only over aggregated rows.
    val nodes = executedPlans("graph_sssp").flatMap(p => flattenPlan(p._2))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "a nested-loop join appeared in the relaxation")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
    assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), "sort-agg fallback")
    nodes.collect { case s: org.apache.spark.sql.execution.SortExec => s }
      .foreach { s =>
        assert(flattenPlan(s.child).exists(_.isInstanceOf[BaseAggregateExec]),
          s"a sort sees un-aggregated relax rows:\n$s")
      }
    val graphKeys = Seq("v#", "n#", "node#", "a#", "b#", "ok#", "sk#",
      "l_orderkey#", "l_partkey#", "p_partkey#")
    val hashed = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashed.nonEmpty, "no hash exchange captured — vacuous")
    hashed.foreach { e =>
      val exprs = e.outputPartitioning.asInstanceOf[HashPartitioning].expressions
      assert(exprs.forall(x => graphKeys.exists(x.toString.contains)),
        s"non-node-keyed exchange in the relaxation: $e")
    }
    // every min that reaches a wire must have combined first: each
    // node-keyed exchange above min rows sits on a PARTIAL min
    val partialMins = nodes.collect {
      case a: BaseAggregateExec
        if a.aggregateExpressions.exists(ae =>
          ae.mode.toString.contains("Partial") &&
            ae.aggregateFunction.toString.toLowerCase.startsWith("min")) => a
    }
    assert(partialMins.size >= graft.queries.Extra7.SsspRounds,
      s"expected a map-side partial min per relaxation round, " +
        s"saw ${partialMins.size}")
  }

  test("graph_labelprop: vote-keyed exchanges only; every round's weight sum combines map-side") {
    // The categorical-diffusion plan shape: each round is one equi
    // join (state ⋈ self-loop-augmented adjacency), one (node, label)
    // weight sum that must combine BELOW its exchange (the vote
    // fan-out — state × degree rows — is the round's widest relation;
    // only (node, label, partial weight) may cross the wire), and one
    // window rank sharing the node key. No BNL/cartesian; exchanges
    // keyed on graph-node/vote columns only.
    val nodes = executedPlans("graph_labelprop").flatMap(p => flattenPlan(p._2))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "a nested-loop join appeared in the vote")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
    val voteKeys = Seq("v#", "n#", "node#", "a#", "b#", "ok#", "sk#",
      "l_orderkey#", "l_partkey#", "p_partkey#", "label#", "p_brand#")
    val hashed = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashed.nonEmpty, "no hash exchange captured — vacuous")
    hashed.foreach { e =>
      val exprs = e.outputPartitioning.asInstanceOf[HashPartitioning].expressions
      assert(exprs.forall(x => voteKeys.exists(x.toString.contains)),
        s"non-vote-keyed exchange in the diffusion: $e")
    }
    val partialSums = nodes.collect {
      case a: BaseAggregateExec
        if a.aggregateExpressions.exists(ae =>
          ae.mode.toString.contains("Partial") &&
            ae.aggregateFunction.toString.toLowerCase.startsWith("sum")) => a
    }
    assert(partialSums.size >= graft.queries.Extra7.LpRounds,
      s"expected a map-side partial weight sum per vote round, saw ${partialSums.size}")
  }

  test("quality_lr: each GD round is ONE aggregate over the cached features") {
    val plans = executedPlans("quality_lr")
    val rounds = plans.filter(_._1 == "head")
    assert(rounds.size == graft.queries.Extra5.LrIters,
      s"expected ${graft.queries.Extra5.LrIters} training-round actions, saw ${plans.map(_._1)}")
    rounds.zipWithIndex.foreach { case ((_, p), i) =>
      val nodes = flattenPlan(p)
      assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"round $i recomputes features instead of reading the cache")
      assert(!nodes.exists(n => n.isInstanceOf[BroadcastHashJoinExec] ||
        n.isInstanceOf[ShuffledHashJoinExec] || n.isInstanceOf[SortMergeJoinExec] ||
        n.isInstanceOf[BroadcastNestedLoopJoinExec] || n.isInstanceOf[CartesianProductExec]),
        s"round $i: a join crept into the gradient aggregate")
      assert(!nodes.exists(_.isInstanceOf[org.apache.spark.sql.execution.SortExec]),
        s"round $i: a sort crept into the gradient aggregate")
      val exchanges = nodes.collect { case e: ShuffleExchangeExec => e }
      assert(exchanges.size == 1 && exchanges.head.outputPartitioning == SinglePartition,
        s"round $i: expected exactly one single-partition (4-double) exchange, " +
          s"found ${exchanges.size}")
      assert(!nodes.exists(_.isInstanceOf[SortAggregateExec]), s"round $i: sort-agg fallback")
    }
  }

  test("graph_linkpred: equi joins only; the wedge count combines map-side under the (seed,cand) exchange") {
    // Seed-restriction is the query's scale claim: the wedge fan-out is
    // seeds × deg², and every join is an equi join (a BNL/cartesian here
    // means the seed or degree lookup leaked out of its key) — the
    // exploded wedge relation is the largest intermediate and only
    // (seed, cand, partial count) rows may cross the wire.
    val nodes = executedPlans("graph_linkpred").flatMap(p => flattenPlan(p._2))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]), "BNL appeared")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
    val wedgeExchanges = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] &&
          e.outputPartitioning.asInstanceOf[HashPartitioning]
            .expressions.exists(_.toString.contains("cand")) => e
    }
    assert(wedgeExchanges.nonEmpty, "no (seed,cand) exchange captured — vacuous")
    // the COUNT's exchange must sit above a partial agg (the anti-join's
    // input exchange legitimately carries raw (seed, cand) rows — it is
    // a join input, not an aggregation)
    assert(wedgeExchanges.exists { e =>
      flattenPlan(e.child).exists {
        case a: BaseAggregateExec =>
          a.aggregateExpressions.exists(_.mode.toString.contains("Partial"))
        case _ => false
      }
    }, "no (seed,cand) exchange combines map-side — the wedge count shuffles raw rows")
  }

  test("text_editdist_blocked: shuffled-hash candidate join, banded verify, BNL only on bounded strata") {
    // The PassJoin plan contract: (1) the candidate join streams through
    // SHUFFLE_HASH — the exploded probe relation's size is invisible to
    // the planner (Generate breaks stats) and an auto-chosen broadcast of
    // it rebuilds the whole expansion as one driver-resident hashed
    // relation (the measured 54.9 s sf0.1 pathology); (2) nothing
    // sort-merges — neither candidate nor verify joins may sort their
    // inputs (only the final orderBy and the pre-distinct agg may sort
    // AGGREGATED pair rows); (3) nested-loop joins appear ONLY where a
    // side is bounded by construction: the distinct-length fan-out
    // (≤ length-domain rows) and the ≤ k-char short stratum; (4) the
    // verify runs the BANDED threshold levenshtein, not the full matrix.
    val nodes = executedPlans("text_editdist_blocked").flatMap(p => flattenPlan(p._2))
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "a join degenerated to sort-merge — the probe expansion must never sort")
    assert(nodes.exists(_.isInstanceOf[ShuffledHashJoinExec]),
      "the candidate join lost its SHUFFLE_HASH pin")
    val bnls = nodes.collect { case b: BroadcastNestedLoopJoinExec => b }
    bnls.foreach { b =>
      val sub = flattenPlan(b).map(_.toString).mkString("\n")
      assert(sub.contains("length(substring(text") && sub.contains("<= 8)") ||
          sub.contains("srclen"),
        s"a nested-loop join outside the bounded strata:\n$b")
    }
    // banded verify: the threshold argument must be present on the
    // candidate-verify path (the short stratum's full-matrix form is
    // fine — its strings are ≤ k chars by construction)
    val planText = nodes.map(_.toString).mkString("\n")
    assert(planText.contains("levenshtein"), "verify stage missing entirely")
    assert(planText.contains("Some(8)"),
      "the candidate verify lost its banded threshold (full-matrix levenshtein)")
  }

  test("graph_ppr: node-keyed exchanges only; every round's mass sum combines map-side") {
    // The PPR round contract (the graph_pagerank gate shape): each
    // round's groupBy(node) must map-side combine BEFORE its exchange —
    // the fan join's output is edge-sized, only (node, partial sum)
    // rows may cross the wire — and the node-sized contribution side
    // must broadcast, never sort-merge the adjacency.
    val nodes = executedPlans("graph_ppr").flatMap(p => flattenPlan(p._2))
    val roundExchanges = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] &&
          e.outputPartitioning.asInstanceOf[HashPartitioning]
            .expressions.exists(_.toString.contains("node")) &&
          e.shuffleOrigin.toString == "ENSURE_REQUIREMENTS" => e
    }
    assert(roundExchanges.nonEmpty, "no round exchanges captured — vacuous")
    roundExchanges.foreach { e =>
      assert(flattenPlan(e.child).exists {
        case a: BaseAggregateExec =>
          a.aggregateExpressions.exists(_.mode.toString.contains("Partial"))
        case _ => false
      }, s"a PPR round's exchange carries un-combined fan rows:\n$e")
    }
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]),
      "a PPR join degenerated to sort-merge — node-sized sides must broadcast")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
  }

  test("text_bpe_train: pair counts combine map-side; exchanges are word- or pair-keyed only") {
    // The BPE round contract: per round the only corpus-, i.e. vocab-,
    // sized exchanges are the word-keyed window chain (all windows share
    // PARTITION BY w ORDER BY p — one exchange + one sort serves the
    // lead/row_number/island/lag stack) and the (l, r) pair-count
    // aggregate, which must combine map-side so the wire carries
    // (pair, partial sum) rows, never the state relation. No BNL, no
    // cartesian; the 1-row best collect is the bounded driver value.
    val nodes = executedPlans("text_bpe_train").flatMap(p => flattenPlan(p._2))
    assert(!nodes.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]), "BNL appeared")
    assert(!nodes.exists(_.isInstanceOf[CartesianProductExec]), "cartesian appeared")
    val hashEx = nodes.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    assert(hashEx.nonEmpty, "no hash exchanges captured — vacuous")
    // the pair key resolves pre-alias: (t, r) or (l, r) depending on
    // which side of the groupBy projection the partial agg lands
    def isPairKey(keys: String) =
      (keys.contains("t#") || keys.contains("l#")) && keys.contains("r#")
    hashEx.foreach { e =>
      val keys = e.outputPartitioning.asInstanceOf[HashPartitioning]
        .expressions.map(_.toString).mkString(",")
      assert(keys.contains("w#") || isPairKey(keys),
        s"an exchange keyed off-contract ($keys):\n$e")
    }
    val pairExchanges = hashEx.filter { e =>
      isPairKey(e.outputPartitioning.asInstanceOf[HashPartitioning]
        .expressions.map(_.toString).mkString(","))
    }
    assert(pairExchanges.nonEmpty, "no pair-count exchange captured — vacuous")
    pairExchanges.foreach { e =>
      assert(flattenPlan(e.child).exists {
        case a: BaseAggregateExec =>
          a.aggregateExpressions.exists(_.mode.toString.contains("Partial"))
        case _ => false
      }, s"a pair-count exchange carries un-combined state rows:\n$e")
    }
  }

  test("graph_*_idx steady state: the graph comes from the cache, no lineitem rescan") {
    // The Graphs seam's plan-level claim: a WARM `_idx` call must read
    // the graph from InMemoryTableScan leaves, and the edge build's
    // lineitem parquet scan must not appear OUTSIDE a cached subtree
    // (inside InMemoryRelation it is provenance, not work — flattenPlan
    // descends into cached plans by design, so this gate uses a
    // cache-boundary-stopping walk).
    import org.apache.spark.sql.execution.FileSourceScanExec
    def flattenToCache(n: SparkPlan): Seq[SparkPlan] = {
      val kids: Seq[SparkPlan] = n match {
        case _: InMemoryTableScanExec => Nil // stop at the cache boundary
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec        => Seq(s.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case o                        => o.children
      }
      n +: kids.flatMap(flattenToCache)
    }
    graft.operators.Graphs.clear(spark)
    try {
      // first call builds (its plan legitimately scans lineitem)
      SparkEntry.queries("graph_linkpred_idx")(spark, sf).collect()
      // second call is the steady-state shape under gate
      val nodes = executedPlans("graph_linkpred_idx")
        .flatMap(p => flattenToCache(p._2))
      assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
        "no cached scan in the steady-state plan — the index seam is dead")
      val rescans = nodes.collect { case f: FileSourceScanExec => f }
        .filter(_.toString.contains("lineitem"))
      assert(rescans.isEmpty,
        s"steady-state plan rescans lineitem:\n${rescans.mkString("\n")}")
    } finally graft.operators.Graphs.clear(spark)
  }

  test("cold/delta/modularity serving plans: cached frames only, no lineitem rescan") {
    // The round-17 serving rows' plan-level claim, the graph_*_idx gate
    // extended: a WARM call must read graph frames from cache
    // boundaries (the cold row's cache holds parquet-ARTIFACT scans,
    // the delta row's holds the layered pieces) and must never rescan
    // lineitem outside one — the part-table seed scan is the only
    // legitimate file scan.
    import org.apache.spark.sql.execution.FileSourceScanExec
    def flattenToCache(n: SparkPlan): Seq[SparkPlan] = {
      val kids: Seq[SparkPlan] = n match {
        case _: InMemoryTableScanExec => Nil
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec        => Seq(s.plan)
        case r: ReusedExchangeExec    => Seq(r.child)
        case o                        => o.children
      }
      n +: kids.flatMap(flattenToCache)
    }
    def gate(q: String): Unit = {
      SparkEntry.queries(q)(spark, sf).collect() // warm-up: build/load/merge
      val df = SparkEntry.queries(q)(spark, sf)  // steady-state shape
      df.collect()
      val nodes = flattenToCache(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[InMemoryTableScanExec]),
        s"$q: no cached scan in the warm plan - the serving seam is dead")
      val rescans = nodes.collect { case f: FileSourceScanExec => f }
        .filter(_.toString.contains("lineitem"))
      assert(rescans.isEmpty, s"$q: warm plan rescans lineitem:\n" +
        rescans.mkString("\n"))
    }
    graft.operators.Graphs.clear(spark)
    try {
      gate("graph_bfs_delta")
      gate("graph_modularity")
      gate("graph_bfs_cold") // serves in the cold session; the returned
                             // frame's plan is the serve plan either way
    } finally graft.operators.Graphs.clear(spark)
  }

  test("broadcastNodeState escape: off ⇒ no state-side broadcast planned; on ⇒ broadcast (round-19 verdict #2)") {
    // The billion-node escape for the per-round node-sized broadcasts
    // in graph_pagerank / graph_ppr / graph_linkpred (and the
    // Bfs/KCore operator params, which defer to the same conf). Checked
    // on the INITIAL plan with auto-broadcast disabled, so the only
    // possible broadcast source is the explicit hint — both directions
    // asserted, so the gate can never pass vacuously.
    val targets = Seq("graph_pagerank", "graph_ppr", "graph_linkpred",
      "graph_kcore", "graph_bfs")
    // executed plans (several queries end in localCheckpoint, whose
    // returned frame is an ExistingRDD stub); auto-broadcast disabled
    // on BOTH the static and the AQE runtime knob, so the only possible
    // broadcast source is the explicit hint.
    def hasBroadcast(name: String): Boolean =
      executedPlans(name).flatMap(p => flattenPlan(p._2)).exists {
        case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => true
        case _: BroadcastHashJoinExec => true
        case _ => false
      }
    val autoKeys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
    val prevAuto = autoKeys.map(k => k -> spark.conf.getOption(k))
    autoKeys.foreach(spark.conf.set(_, "-1"))
    try {
      spark.conf.set(graft.operators.Hints.BroadcastNodeStateKey, "false")
      targets.foreach { q =>
        assert(!hasBroadcast(q),
          s"$q: state broadcast executed with the escape OFF")
      }
      spark.conf.set(graft.operators.Hints.BroadcastNodeStateKey, "true")
      targets.foreach { q =>
        assert(hasBroadcast(q),
          s"$q: no state broadcast with the escape ON (vacuous gate)")
      }
    } finally {
      spark.conf.unset(graft.operators.Hints.BroadcastNodeStateKey)
      prevAuto.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
      graft.operators.Graphs.clear(spark)
    }
  }

  test("graph_kcore: zero per-step exchanges — every h-index step rides the adjacency's v-partitioning (round-19)") {
    // The graph_pagerank zero-per-round-exchange discipline applied to
    // the peel: the adjacency persists PRE-PARTITIONED by v, the state
    // join is a broadcast that preserves the stream side's
    // partitioning, and the per-step (v, nc) pre-count, (v) window and
    // (v) max all cluster on v — so the 2-exchanges-per-step shape
    // (16 total in plans/r19's before dump) must never come back.
    // Regression direction: any ENSURE_REQUIREMENTS exchange keyed on
    // the estimate value nc means a step re-shuffled its pre-count.
    // The estimate column is matched as an attribute NAMED nc in the
    // partitioning expressions, not as the substring "nc#" of their
    // printed form; and some node must reference nc at all, so renaming
    // the column cannot turn this gate vacuous.
    val nodes = executedPlans("graph_kcore").flatMap(p => flattenPlan(p._2))
    def isNc(a: Attribute): Boolean = a.name == "nc"
    assert(nodes.exists(_.references.exists(isNc)),
      "no plan node references the estimate column nc — gate vacuous")
    val stepExchanges = nodes.collect {
      case e: ShuffleExchangeExec
        if e.shuffleOrigin.toString == "ENSURE_REQUIREMENTS" &&
          (e.outputPartitioning match {
            case h: HashPartitioning =>
              h.expressions.exists(_.collectFirst {
                case a: AttributeReference if isNc(a) => a
              }.isDefined)
            case _ => false
          }) => e
    }
    assert(stepExchanges.isEmpty,
      s"h-index steps re-shuffle their pre-count again:\n${stepExchanges.mkString("\n")}")
    // non-vacuous: the one REPARTITION_BY_COL adjacency exchange exists
    assert(nodes.exists {
      case e: ShuffleExchangeExec => e.shuffleOrigin.toString.startsWith("REPARTITION_BY_COL")
      case _ => false
    }, "the up-front adjacency repartition disappeared — gate vacuous")
  }
}
