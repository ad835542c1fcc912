package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Artifacts, Bfs, Graphs, SimIndexes}

/** Round-17 operators. The reference (/root/reference/task.ts) has no
  * analogue; this is engine surface for the brief's extension menu —
  * the round's theme is SERVING DURABILITY (round-16 verdict: every
  * steady-state `graph_*_idx` / `sim_*_idx` number lived only in a warm
  * JVM):
  *
  *   - the `*_cold` rows run the full durable path INSIDE the
  *     correctness gate: build in the gate's session, save the parquet
  *     artifact, load it into a SEPARATE serving session (one per
  *     SparkContext — the cold stand-in a single-JVM test can produce:
  *     no in-memory state crosses sessions, the artifact is the only
  *     carrier), and serve from the loaded frames with build-counters
  *     provably flat.
  */
object Extra10 {
  type Q = (SparkSession, String) => DataFrame

  /** The serving session — one per SparkContext, memoized so repeated
    * calls (bench sweeps) price steady-state serving from the LOADED
    * artifact rather than re-loading per call (the `_idx` min-of-2
    * discipline; load-vs-rebuild is priced by the `*_cold` rows).
    * `newSession()` shares the context but
    * NOTHING session-scoped: the Graphs/SimIndexes caches key on
    * session identity, so the build session's entries are unreachable
    * from here — any served frame provably came off disk.
    */
  private object ColdServe {
    private val sessions = scala.collection.concurrent.TrieMap
      .empty[org.apache.spark.SparkContext, SparkSession]
    def session(s: SparkSession): SparkSession =
      sessions.getOrElseUpdate(s.sparkContext, s.newSession())
  }

  /** Artifact root for a data directory ([[Artifacts.defaultBase]]:
    * tmpdir + format version + the SOURCE CONTENT fingerprint, so
    * neither a regenerated testdata tree nor an engine-format change
    * can ever serve a stale artifact) — shared with the `graph_*_idx` /
    * `sim_*_idx` rows' memo → artifact → build path, so a cold row and
    * an `_idx` row serve the SAME committed artifact.
    */
  private[queries] def artifactBase(s: SparkSession, dir: String): String =
    Artifacts.defaultBase(s, dir)

  /** Retention after a cold-row save (round-17 verdict #4): drop
    * crashed (manifest-less) save dirs under this base and age out
    * stale fingerprint bases — each regenerated source tree or format
    * bump abandons one, and nothing else ever revisits them. keep=6
    * covers the fixtures a test/verify/bench cycle touches (sf0.001,
    * sf0.01, sf0.1, scale dirs) with headroom.
    */
  private def pruneArtifacts(s: SparkSession, base: String): Unit = {
    Artifacts.pruneUncommitted(s, base)
    Artifacts.pruneBases(s, keep = 6)
    ()
  }

  /** Co-purchase pairs derived from the orders `pred` selects — the
    * delta rows' shared edge source (pairs form WITHIN single orders,
    * so subsetting orders subsets pairs cleanly).
    */
  private def ordersEdges(s: SparkSession, dir: String,
                          pred: org.apache.spark.sql.Column): DataFrame = {
    val so = graft.Tables(s, dir, "lineitem").filter(pred)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("sk"))
      .distinct()
    so.alias("x")
      .join(so.alias("y"),
        col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
      .select(col("x.sk").as("a"), col("y.sk").as("b"))
      .distinct()
  }

  val queries: Map[String, Q] = Map(
    // -- cold-session graph serving (parquet artifact, fresh session) ----
    // Same operator, same dials, same oracle as graph_bfs — but the
    // graph is SAVED by the build session and LOADED by the serving
    // session, which never sees the builder's cache. The no-build
    // guarantee is structural: the edges thunk passed to the cold
    // lookup THROWS, so if the loaded artifact were missing or keyed
    // differently the query fails loudly instead of quietly rebuilding.
    "graph_bfs_cold" -> { (s, dir) =>
      val base = s"${artifactBase(s, dir)}/graph"
      if (!Artifacts.entries(s, base).exists(_._3 == "graph")) {
        Graphs.index(Extra7.coPurchaseEdgesPlan(s, dir), Extra9.tag(dir), s)
        Graphs.saveAll(s, base)
        pruneArtifacts(s, base)
      }
      val cold = ColdServe.session(s)
      Graphs.loadAll(cold, base)
      val g = Graphs.index(
        sys.error("graph_bfs_cold: cold session tried to BUILD — the " +
          "loaded artifact did not serve"): DataFrame,
        Extra9.tag(dir), cold)
      Bfs.hopDistancesOnAdj(g.adj, Extra7.seedParts(cold, dir),
          maxHops = Extra7.BfsHops)
        .orderBy(col("node"))
    },

    // -- incremental delta-build under the driver hash --------------------
    // applyDelta's registered face (the graph_bfs_cold rule: the path
    // itself runs inside the correctness gate): the graph builds from
    // 99% of orders, the held-out 1%'s co-purchase edges arrive as the
    // delta, and bfs serves from the MERGED frames. The oracle is
    // graph_bfs's SQL verbatim — sound because co-purchase pairs derive
    // within single orders, so pairs(S₁) ∪ pairs(S₂) = pairs(S₁ ∪ S₂):
    // the merged graph IS the full graph, and any divergence in the
    // merge (lost edge, stale degree, wrong re-orientation) fails the
    // driver hash. The build+merge body runs exactly when the cache
    // entry is ABSENT (Graphs.cachedGraph — entry presence IS the
    // "applied" signal, because applyDelta replaces the built entry
    // under the same key and Graphs.clear removes it: a cleared cache
    // rebuilds instead of hard-failing, the round-17 verdict bug);
    // later calls serve the merged entry (the error-thunk no-build
    // guarantee), and a body that dies mid-way drops the entry so the
    // unmerged graph can never be served silently.
    "graph_bfs_delta" -> { (s, dir) =>
      val dtag = s"copurchase-delta99|$dir"
      if (!Graphs.cachedGraph(dtag, s)) {
        try {
          Graphs.index(ordersEdges(s, dir,
            pmod(col("l_orderkey"), lit(100)) =!= 0), dtag, s)
          Graphs.applyDelta(dtag, s,
            ordersEdges(s, dir, pmod(col("l_orderkey"), lit(100)) === 0))
        } catch {
          case t: Throwable => Graphs.dropGraph(dtag, s); throw t
        }
      }
      val g = Graphs.index(
        sys.error("graph_bfs_delta: merged entry missing"): DataFrame,
        dtag, s)
      Bfs.hopDistancesOnAdj(g.adj, Extra7.seedParts(s, dir),
          maxHops = Extra7.BfsHops)
        .orderBy(col("node"))
    },

    // -- incremental RETRACTION under the driver hash ---------------------
    // applyDeltaRemove's registered face (round-17 verdict #3, the
    // graph_bfs_delta rule reversed): the graph builds from ALL orders,
    // then the 1%-orders' co-purchase pairs are RETRACTED as a CDC
    // delete, and bfs serves from the subtracted frames. The oracle is
    // graph_bfs's SQL with e = pairs(all) EXCEPT pairs(1% orders) —
    // note this is NOT pairs(99% orders): a pair supported by both a
    // kept and a removed order is still removed, exactly what "delete
    // these edges" means — so any divergence in the retraction (edge
    // surviving the anti layer, stale degree, missed orientation flip)
    // fails the driver hash.
    "graph_bfs_delta_rm" -> { (s, dir) =>
      val dtag = s"copurchase-rm1|$dir"
      if (!Graphs.cachedGraph(dtag, s)) {
        try {
          Graphs.index(ordersEdges(s, dir, lit(true)), dtag, s)
          Graphs.applyDeltaRemove(dtag, s,
            ordersEdges(s, dir, pmod(col("l_orderkey"), lit(100)) === 0))
        } catch {
          case t: Throwable => Graphs.dropGraph(dtag, s); throw t
        }
      }
      val g = Graphs.index(
        sys.error("graph_bfs_delta_rm: retracted entry missing"): DataFrame,
        dtag, s)
      Bfs.hopDistancesOnAdj(g.adj, Extra7.seedParts(s, dir),
          maxHops = Extra7.BfsHops)
        .orderBy(col("node"))
    },

    // -- cold-session ANN serving (the sim-family twin) -------------------
    // sim_ann_idx's exact query served from a LOADED LSH artifact in the
    // cold session: rows-only (the sim_ann recall contract — LSH top-k
    // isn't portable SQL), with ColdServeSpec pinning row-identity to
    // the build session's sim_ann_idx output and the build counter flat.
    "sim_ann_cold" -> { (s, dir) =>
      import graft.operators.Ann
      val base = s"${artifactBase(s, dir)}/sim"
      if (!Artifacts.entries(s, base).exists(_._3 == "ann")) {
        SimIndexes.ann(
          ScaleOps.normalized(s, dir).select(col("vec_id"), col("e")),
          s"$dir#raw", planesPerTable = 6)
        SimIndexes.saveAll(s, base)
        pruneArtifacts(s, base)
      }
      val cold = ColdServe.session(s)
      SimIndexes.loadAll(cold, base)
      val n = ScaleOps.normalized(cold, dir)
      val b0 = SimIndexes.builds
      val ix = SimIndexes.ann(n.select(col("vec_id"), col("e")),
        s"$dir#raw", planesPerTable = 6, artifact = Some(base))
      require(SimIndexes.builds == b0,
        "sim_ann_cold: cold session BUILT instead of serving the loaded artifact")
      Ann.lshTopK(n.filter(col("vec_id") < 10), n, k = 5,
          planesPerTable = 6, nprobe = 2, index = Some(ix))
        .localCheckpoint()
        .orderBy(col("qid"), col("rn"))
    },

    // -- BPE encoding by longest-match against the learned vocabulary -----
    // text_bpe_encode's PRODUCTION sibling (round-16 verdict #6): the
    // chained-merge encoder replays k merges as k lazy passes — honest,
    // but a shipped tokenizer applies its ~50k-symbol VOCAB by greedy
    // longest match in ONE pass. Standalone contract (the bpe family
    // rule): re-train the 8 merges, derive the vocabulary (all corpus
    // characters + the merged symbols — both vocab-sized driver values,
    // the merge-table precedent), then encode every distinct word by
    // longest match ([[graft.operators.BpeTrain.encodeWordsVocab]]) and
    // roll up per doc. Longest-match ≠ merge-order encoding in general
    // — deliberately: this row prices and checks the SERVING shape, and
    // the oracle runs the SAME greedy longest match as a recursive CTE
    // over the same derived vocab, so the hash pins both engines' greed.
    "text_bpe_encode_vocab" -> { (s, dir) =>
      import graft.operators.BpeTrain
      // spread before the word explode (round-18, Tables.spread — the
      // text_bpe_encode rule)
      val docw = graft.Tables.spread(graft.Tables(s, dir, "documents")
          .select(col("doc_id"), col("text")))
        .select(col("doc_id"),
          explode(org.apache.spark.sql.functions.filter(
            split(lower(col("text")), " "),
            (t: org.apache.spark.sql.Column) => t =!= "")).as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val words = docw.groupBy(col("w")).agg(count(lit(1)).as("c"))
        val merges = BpeTrain.trainMerges(words, Extra9.BpeMerges)
          .orderBy(col("step"))
          .collect().map(r => r.getString(3)).toSeq // merged symbols
        val chars = words
          .select(explode(sequence(lit(1), length(col("w")))).as("p"), col("w"))
          .select(col("w").substr(col("p"), lit(1)).as("ch"))
          .distinct().collect().map(_.getString(0)).toSeq // bounded alphabet
        val wt = BpeTrain.encodeWordsVocab(words.select(col("w")),
          chars ++ merges)
        val perDoc = docw.join(wt, "w")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"), sum(col("n_bpe")).as("n_tokens_vocab"))
        graft.Tables(s, dir, "documents").select(col("doc_id"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_words"), lit(0L)).as("n_words"),
            coalesce(col("n_tokens_vocab"), lit(0L)).as("n_tokens_vocab"))
          .orderBy(col("doc_id"))
          .localCheckpoint()
      } finally { docw.unpersist(false); () }
    },

    // -- hybrid retrieval served from the ANN index ------------------------
    // search_hybrid_rrf's dense top-20 is the bounded brute-cosine
    // baseline; this row (round-16 verdict #7) swaps that leg for the
    // SERVED LSH index — sim_ann_idx's exact cached index, same dials
    // (16×6 planes, nprobe 2) — through the IDENTICAL fusion body
    // ([[Extra9.searchHybrid]]), so the two rows differ only in the
    // dense leg's provenance: brute scan vs amortized index. Rows-only
    // (the LSH recall contract — the dense list is approximate), with
    // HybridIdxSpec pinning fused-rank overlap ≥ 0.9 vs the brute form
    // at the fixture (the recall-floor precedent).
    "search_hybrid_rrf_idx" -> { (s, dir) =>
      import graft.operators.Ann
      Extra9.searchHybrid(s, dir, n => {
        val ix = SimIndexes.ann(n.select(col("vec_id"), col("e")),
          s"$dir#raw", planesPerTable = 6,
          artifact = Some(s"${artifactBase(s, dir)}/sim"))
        Ann.lshTopK(n.filter(col("vec_id") < 10), n, k = 20,
            planesPerTable = 6, nprobe = 2, index = Some(ix))
          .select(col("qid"), col("vec_id").as("doc_id"),
            col("rn").as("drank"))
      })
    },

    // -- community quality: modularity over the labelprop communities -----
    // Labelprop emits communities but nothing SCORES them (round-16
    // verdict #5): Newman-Girvan modularity Q = Σ_c (e_c/m − (d_c/2m)²)
    // is the standard community-quality number, and over the cached
    // graph it is pure relational math — one label pass (the exact
    // graph_labelprop iteration, same dials), then per-community: e_c =
    // edges with both endpoints in c (two node-keyed label joins on the
    // cached edge relation), d_c = Σ degree over members (one join on
    // the cached degree table), both map-side-combined aggregates; m is
    // a one-row broadcast. Per-community output (not just the scalar Q)
    // keeps the row set informative AND totally ordered by the unique
    // group key. Float determinism: q is built from exact integers with
    // one division each + one multiply (no pow — IEEE-exact both
    // engines), rounded to 10 (the pagerank rule). An isolated seed
    // (labeled, no edge row) contributes n_nodes with d_tot 0 through
    // the left joins — defined, mirrored in SQL.
    "graph_modularity" -> { (s, dir) =>
      import graft.operators.LabelProp
      val g = Graphs.index(Extra7.coPurchaseEdgesPlan(s, dir),
        Extra9.tag(dir), s)
      val seeds = graft.Tables(s, dir, "part")
        .filter(col("p_size") === 50)
        .select(col("p_partkey").as("v"), col("p_brand").as("label"))
      // the label relation feeds THREE consumers (both sides of the
      // e_in join + the degree rollup) — un-checkpointed, each would
      // re-run the 3-round propagation over the cached adjacency
      // (measured isolated min-of-3 at sf0.1: 9.95 → 5.81 s); node-
      // sized, so the eager checkpoint is cheap
      val labels = LabelProp.propagateOnAdj(g.adj, seeds,
          rounds = Extra7.LpRounds)
        .localCheckpoint()
      val mRow = g.edges.agg(count(lit(1)).as("m"))
      // labels is node-sized and checkpointed; the two e_in joins take
      // it UNHINTED — forcing the broadcast was tried in round-18 and
      // measured SLOWER in the full-surface close lane (8.2 → 11.4 s vs
      // a 1.16× window): the checkpointed node-sized frame broadcasts
      // under AQE's runtime conversion anyway when small, and the forced
      // build added two eager broadcast jobs over the label plan.
      val ein = g.edges
        .join(labels.select(col("node").as("a"),
          col("label").as("la")), "a")
        .join(labels.select(col("node").as("b"),
          col("label").as("lb")), "b")
        .filter(col("la") === col("lb"))
        .select(col("la").as("label"))
        .groupBy(col("label")).agg(count(lit(1)).as("e_in"))
      val dc = labels.join(g.deg, labels("node") === g.deg("v"), "left")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(coalesce(col("d"), lit(0L))).as("d_tot"))
      val dm = col("d_tot").cast("double") / (lit(2.0) * col("m"))
      dc.join(ein, Seq("label"), "left")
        .crossJoin(broadcast(mRow))
        .select(col("label"), col("n_nodes"),
          coalesce(col("e_in"), lit(0L)).as("e_in"), col("d_tot"),
          round(coalesce(col("e_in"), lit(0L)).cast("double") / col("m")
            - dm * dm, 10).as("q"))
        .orderBy(col("label"))
    }
  )

  /** graph_modularity's oracle: the graph_labelprop iteration verbatim
    * (same CTEs, same clamp, same tie-break — the driver hash can only
    * match when the COMMUNITIES match), then the per-community rollup.
    */
  private val modularitySql: String = s"""
      WITH RECURSIVE so AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem
      ), e AS (
        SELECT DISTINCT x.sk AS a, y.sk AS b
        FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk
      ), seed AS (
        SELECT p_partkey AS v, MIN(p_brand) AS label
        FROM part WHERE p_size = 50 GROUP BY p_partkey
      ), adj AS (
        SELECT a AS v, b AS n, CAST(1 AS BIGINT) AS wt FROM e
        UNION ALL SELECT b, a, 1 FROM e
        UNION ALL SELECT v, v, ${graft.operators.LabelProp.ClampWeight} FROM seed
      ), iter(round, v, label) AS (
        SELECT 0, v, label FROM seed
        UNION ALL
        SELECT round + 1, v, label FROM (
          SELECT t.round, t.v, t.label,
                 ROW_NUMBER() OVER (PARTITION BY t.round, t.v
                                    ORDER BY t.wt DESC, t.label ASC) AS rn
          FROM (
            SELECT i.round, a.n AS v, i.label, SUM(a.wt) AS wt
            FROM iter i JOIN adj a ON a.v = i.v
            GROUP BY i.round, a.n, i.label
          ) t
        ) WHERE rn = 1 AND round < ${Extra7.LpRounds}
      ), labels AS (
        SELECT v AS node, label FROM iter WHERE round = ${Extra7.LpRounds}
      ), mm AS (SELECT COUNT(*) AS m FROM e
      ), deg AS (
        SELECT v, COUNT(*) AS d
        FROM (SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v
      ), ein AS (
        SELECT la.label, COUNT(*) AS e_in
        FROM e JOIN labels la ON e.a = la.node
               JOIN labels lb ON e.b = lb.node
        WHERE la.label = lb.label GROUP BY la.label
      ), dc AS (
        SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(COALESCE(d.d, 0)) AS BIGINT) AS d_tot
        FROM labels l LEFT JOIN deg d ON l.node = d.v GROUP BY l.label
      )
      SELECT dc.label, n_nodes,
             CAST(COALESCE(e_in, 0) AS BIGINT) AS e_in, d_tot,
             ROUND(CAST(COALESCE(e_in, 0) AS DOUBLE) / m
                   - (CAST(d_tot AS DOUBLE) / (2.0 * m))
                     * (CAST(d_tot AS DOUBLE) / (2.0 * m)), 10) AS q
      FROM dc LEFT JOIN ein ON dc.label = ein.label CROSS JOIN mm
      ORDER BY dc.label"""

  /** text_bpe_encode_vocab's oracle: the shared unrolled training
    * stages (both engines re-derive the merges — the standalone
    * contract), the vocabulary as corpus characters ∪ merged symbols,
    * then the SAME greedy longest match. The match lengths precompute
    * as a plain (word, pos) × vocab join — `steplen` — and the
    * recursion just WALKS them (a correlated subquery in the recursive
    * part silently returned NULL mid-word on DuckDB 1.0: 'batch' @ pos
    * 2 matched 'at' standalone but stepped 1 inside the recursion —
    * the join formulation is also what the labelprop oracle already
    * does). COALESCE(…, 1) is the byte-fallback mirror; dead on the
    * training corpus where every character is in s0, but defined
    * identically in both engines. pos strictly increases, so the
    * recursion terminates.
    */
  private val bpeEncodeVocabSql: String = s"""
      ${Extra9.bpeStagesSql},
      vocab AS MATERIALIZED (
        SELECT DISTINCT t AS sym FROM s0
        UNION
        ${(1 to Extra9.BpeMerges)
          .map(k => s"SELECT l || r FROM best_$k").mkString("\n        UNION ")}
      ),
      positions AS (
        SELECT w, unnest(generate_series(1, len(w))) AS pos FROM words),
      steplen AS MATERIALIZED (
        SELECT p.w, p.pos, CAST(COALESCE(MAX(len(v.sym)), 1) AS INT) AS step
        FROM positions p LEFT JOIN vocab v
          ON substr(p.w, p.pos, len(v.sym)) = v.sym
        GROUP BY p.w, p.pos),
      enc(w, pos, n) AS (
        SELECT w, 1, CAST(0 AS BIGINT) FROM words
        UNION ALL
        SELECT e.w, e.pos + s.step, e.n + 1
        FROM enc e JOIN steplen s ON s.w = e.w AND s.pos = e.pos
        WHERE e.pos <= len(e.w)
      ),
      wt AS (SELECT w, n AS n_bpe FROM enc WHERE pos > len(w))
      SELECT d.doc_id,
             CAST(COALESCE(x.n_words, 0) AS BIGINT) AS n_words,
             CAST(COALESCE(x.n_tokens_vocab, 0) AS BIGINT) AS n_tokens_vocab
      FROM documents d LEFT JOIN (
        SELECT doc_id, COUNT(*) AS n_words, SUM(n_bpe) AS n_tokens_vocab
        FROM docw JOIN wt USING (w) GROUP BY doc_id) x
      USING (doc_id)
      ORDER BY d.doc_id"""

  /** graph_bfs_delta_rm's oracle: graph_bfs's walk verbatim over
    * e = pairs(all) EXCEPT pairs(1%-orders) — the retraction target as
    * a set subtraction, NOT pairs(99%-orders) (see the query comment:
    * a pair supported by both a kept and a removed order is still
    * removed).
    */
  private val bfsDeltaRmSql: String = s"""
      WITH RECURSIVE so AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem
      ), eall AS (
        SELECT DISTINCT x.sk AS a, y.sk AS b
        FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk
      ), so0 AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS sk FROM lineitem
        WHERE l_orderkey % 100 = 0
      ), erm AS (
        SELECT DISTINCT x.sk AS a, y.sk AS b
        FROM so0 x JOIN so0 y ON x.ok = y.ok AND x.sk < y.sk
      ), e AS (
        -- set subtraction as an anti join: DuckDB refuses EXCEPT for a
        -- CTE inside a WITH RECURSIVE block (eall is DISTINCT, so the
        -- two forms are identical)
        SELECT a, b FROM eall
        WHERE NOT EXISTS (SELECT 1 FROM erm
                          WHERE erm.a = eall.a AND erm.b = eall.b)
      ), adj AS (
        SELECT a AS v, b AS n FROM e UNION ALL SELECT b, a FROM e
      ), walk(v, d) AS (
        SELECT p_partkey, 0 FROM part WHERE p_size = 50
        UNION
        SELECT adj.n, walk.d + 1
        FROM walk JOIN adj ON adj.v = walk.v
        WHERE walk.d < ${Extra7.BfsHops}
      )
      SELECT v AS node, CAST(MIN(d) AS BIGINT) AS dist
      FROM walk GROUP BY v ORDER BY node"""

  val oracle: Map[String, String] = Map(
    "text_bpe_encode_vocab" -> bpeEncodeVocabSql,
    "graph_bfs_delta_rm" -> bfsDeltaRmSql,
    // the cold row is oracle-IDENTICAL to graph_bfs: same operator, same
    // dials — only the graph's provenance (parquet artifact in a fresh
    // session vs per-call build) differs, so the driver hash pins the
    // save→load→serve path at full strength
    "graph_bfs_cold" -> Extra7.oracle("graph_bfs"),
    // sound because co-purchase pairs derive within single orders:
    // pairs(99%) ∪ pairs(1%) = pairs(all) — see the query comment
    "graph_bfs_delta" -> Extra7.oracle("graph_bfs"),
    "graph_modularity" -> modularitySql
  )
}
