package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheScope, KinGraph}
import graft.gx.GraphXBridge
import graft.ops.GraphOps
import graft.sources.Tables
import org.apache.spark.graphx.Graph

/** Graph-algorithm surface via the GraphX bridge, over the union of the
  * trade and geo graphs (which contains S-C-N triangles). Every entry has
  * a DuckDB oracle: exact SQL twins for the integer/fixed-point forms
  * (recursive or unrolled CTEs for the iterative ones), and for the one
  * inherently-float output (GraphX PageRank scores) the gated projection
  * is the node set while the scores are pinned by gx_pagerank_rank and
  * GraphXSpec. */
object GxQueries {

  def unionEdges(s: SparkSession, dir: String): DataFrame =
    // reuse the session-cached trade derivation (shared with the g_*
    // queries) rather than re-running the lineitem ⋈ orders join. No
    // distinct over the union: tradeEdges is distinct by construction,
    // geoEdges rows are unique per source table, and the three edge shapes
    // are mutually disjoint by key prefix (S->C vs C/S->N vs N->R) — the
    // dedup shuffle over the full union would remove nothing.
    CacheScope.session("trade", s, dir)(Tables.tradeEdges(s, dir)).select("src", "dst")
      .union(Tables.geoEdges(s, dir).select("src", "dst"))
      .withColumn("etype", lit(0))

  private def unionGraph(s: SparkSession, dir: String): KinGraph =
    KinGraph.fromEdges(CacheScope.session("gx_union", s, dir)(unionEdges(s, dir)))

  /** Session-shared GraphX union graph, registered under its cache-build
    * name: the vertex-id assignment + edge conversion run once per dataset
    * per session, shared by all algorithm calls. */
  private def unionGx(s: SparkSession, dir: String): Graph[String, Int] =
    CacheScope.sessionOf("gx_graphx", s, dir)(
      GraphXBridge.toGraphX(unionGraph(s, dir)).cache())(_.unpersist(_))

  /** Session-shared DISTINCT lexical undirected edge set of the union
    * graph — the frame the whole community family (modularity, coarsen,
    * all four louvain gates) derives from. */
  private def sharedUnd(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("gx_und", s, dir) {
      CacheScope.session("gx_union", s, dir)(unionEdges(s, dir))
        .select("src", "dst")
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
    }

  /** Position-aligned top-`n` of the integer fixed-point PageRank ranking
    * vs the float GraphX ranking: (pos, key, rank_fp, key_gx, score_gx).
    * gx_pagerank_rank consumes it as the slack-tolerant ≥49/50 driver
    * gate; GraphXSpec pins the STRUCTURE of any disagreement (adjacent
    * near-tie swaps only) — the sensitivity the frame-global flag
    * deliberately trades away. BOTH rankings run the SAME 5-iteration
    * horizon: the gate's claim is "integer fp tracks the float engine",
    * which only divergent ROUNDING may break — with mismatched horizons
    * (float at 10, fp at 5, as before r16) the comparison also carried
    * convergence-speed differences, and those are graph-dependent: fine
    * at sf0.1, but the sf1 blow-up's 10× denser nation hubs reordered
    * the 10-iter float top-50 wholesale (gx_agree 0/50). Top-n via
    * orderBy+limit (TakeOrderedAndProject) BEFORE the position window,
    * so the global window runs on n rows, never the node set. */
  private[graft] def pagerankRankAlignment(s: SparkSession, dir: String,
                                           n: Int = 50): DataFrame = {
    // the fp score table is referenced twice (the top-n cut AND the
    // tie-class score lookup joined under the float side) — materialize
    // once; statsReset frees the checkpoint's inherited plan stats
    val fpAll = GraphOps.statsReset(
      GraphOps.fixedPointPageRank(unionGraph(s, dir), iters = 5)
        .localCheckpoint(true))
    val fp = fpAll.orderBy(col("r").desc, col("key")).limit(n)
      .select(col("key"), col("r").as("rank_fp"))
    val gxr = GraphXBridge.pageRank(unionGx(s, dir), iters = 5)
      .orderBy(col("rank").desc, col("key")).limit(n)
      .select(col("key").as("key_gx"), col("rank").as("score_gx"))
    val wfp = org.apache.spark.sql.expressions.Window
      .orderBy(col("rank_fp").desc, col("key"))
    val wgx = org.apache.spark.sql.expressions.Window
      .orderBy(col("score_gx").desc, col("key_gx"))
    val gxPos = gxr.withColumn("pos", row_number().over(wgx))
      .join(fpAll.select(col("key").as("key_gx"),
        col("r").as("rank_fp_gx")), Seq("key_gx"), "left")
    fp.withColumn("pos", row_number().over(wfp))
      .join(gxPos, Seq("pos"), "left")
  }

  /** Session-shared hash-weighted undirected edge set (the gx_wsssp
    * weight family on the canonical lexical pair) — pure function of
    * cache:gx_und, the input of the weighted-Louvain gates. */
  private def sharedWund(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("gx_wund", s, dir) {
      sharedUnd(s, dir).withColumn("w",
        pmod(graft.functions.TextFunctions.hash60(
          concat(col("u"), lit("|"), col("v"))), lit(100L)) + 1L)
    }

  /** Session-shared weighted-Louvain sufficient statistics (strengths +
    * node→community link mass over the lpa5 labels) — pure functions of
    * cache:gx_wund and cache:lpa5, so gx_louvain_w's per-call cost is the
    * node-sized move pass alone, not an adjacency re-aggregation. */
  private def sharedWDeg(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("louvw_deg", s, dir)(
      GraphOps.louvainWeightedDeg(sharedWund(s, dir)))

  private def sharedWLic(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("louvw_lic", s, dir)(
      GraphOps.louvainWeightedLic(sharedLpa(s, dir), sharedWund(s, dir)))

  /** Session-shared round-1 WL structural classes — the partition both
    * agreement grades (gx_ari, gx_nmi) compare against LPA; the
    * adjacency join + checkpoint runs once per session. statsReset per
    * the checkpoint discipline (two consumers join it). */
  private def sharedWl1(s: SparkSession, dir: String): DataFrame =
    GraphOps.statsReset(CacheScope.session("wl1", s, dir)(
      GraphOps.wlRefine(sharedUnd(s, dir), rounds = 1)))

  /** Session-shared one-level Louvain refinement — gx_louvain1 emits it,
    * gx_louvain_q audits it, gx_louvain2 contracts on it; the gain
    * pipeline builds once per session (the lpa5 pattern). statsReset on
    * the way out: the persisted plan's sizeInBytes is a product over the
    * whole gain join tree, and consumers that join this frame twice
    * (louvain2's contraction) square it into the documented
    * BigInt-planning hang (270s observed, execution itself ~1s). */
  private def sharedLouvain1(s: SparkSession, dir: String): DataFrame =
    GraphOps.statsReset(CacheScope.session("louvain1", s, dir)(
      GraphOps.louvainOneLevel(sharedLpa(s, dir), sharedUnd(s, dir))))

  /** Session-shared 3-level Louvain loop output — gx_louvain_n emits it,
    * gx_louvain_nq grades its modularity payoff; the loop (driver-count
    * actions + per-level checkpoints) runs once per session. statsReset
    * for the same reason as louvain1. */
  private def sharedLouvainN(s: SparkSession, dir: String): DataFrame =
    GraphOps.statsReset(CacheScope.session("louvain_n", s, dir)(
      GraphOps.louvainMultiLevel(sharedLpa(s, dir), sharedUnd(s, dir),
        maxLevels = 3, level1 = Some(sharedLouvain1(s, dir)))))

  /** Session-shared node2vec walks (S-starts, 4 steps) — gx_walks_n2v
    * emits them, gx_walk_pairs turns them into skip-gram rows; the
    * 4-step iterative pass runs once per session. statsReset: the pair
    * query SELF-JOINS this frame (the checkpoint-squaring discipline). */
  private def sharedWalks(s: SparkSession, dir: String): DataFrame =
    GraphOps.statsReset(CacheScope.session("n2v_walks", s, dir) {
      val g = unionGraph(s, dir)
      GraphOps.node2vecWalks(g.edges.select(col("src"), col("dst")),
        g.nodes.filter(col("key").startsWith("S")).select(col("key")), 4)
    })

  /** Session-shared LPA labels (5 sync iterations) — gx_labelprop emits
    * them directly and gx_modularity grades their community quality; the
    * 5-round iterative pass builds once per session. */
  private def sharedLpa(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("lpa5", s, dir)(
      // canonFrom (r19): ride cache:gx_und (built earlier in cacheBuilds
      // order) instead of re-deriving union+distinct inside this build
      GraphOps.labelPropagationSync(unionGraph(s, dir), iters = 5,
        canonFrom = Some(sharedUnd(s, dir))))

  /** Session-shared landmark-BFS state (4 landmarks × 4 rounds) — the one
    * iterative pass gx_closeness, gx_diameter, gx_bipartite and
    * gx_hopdist all read. The landmark keys are a deterministic hash
    * sample recomputed per call (a tiny driver probe); only the BFS state
    * frame is cached. The node-sized state is localCheckpoint'ed (then
    * statsReset per the checkpoint discipline — gx_bipartite joins it
    * twice) INSIDE the cached build, so a later eviction of the persisted
    * blocks recomputes a trivial RDD scan, never the whole 4-round
    * iterative pass — the round-14 mechanism behind gx_bipartite's
    * unexplained 8.4 s (2.4× its own plan cost with zero code changes). */
  private def sharedLmBfs(s: SparkSession, dir: String)
      : (Array[String], org.apache.spark.sql.DataFrame) = {
    val g = unionGraph(s, dir)
    val lm = GraphOps.landmarkKeys(g, 4)
    (lm, CacheScope.session("lm_bfs_4x4", s, dir)(GraphOps.statsReset(
      GraphOps.landmarkBfsState(g, nLandmarks = 4, rounds = 4,
          canonFrom = Some(sharedUnd(s, dir)))._2
        .localCheckpoint(true))))
  }

  /** Forces the session-shared GraphX graph cache (vertex + edge RDDs) and
    * returns its sizes as a 1-row frame — exists so Bench can time the
    * GraphX conversion/cache build as its own `cache:` entry instead of
    * letting it land on whichever gx_* query runs first. */
  private[graft] def materializeUnionGx(s: SparkSession, dir: String): DataFrame = {
    val g = unionGx(s, dir)
    val n = g.vertices.count()
    val m = g.edges.count()
    s.createDataFrame(Seq((n, m))).toDF("n_nodes", "n_edges")
  }

  /** Session-shared derived caches in dependency order, each as a named
    * build Bench times separately (`cache:<name>`). Without this the build
    * cost lands on the alphabetically-first consumer query and silently
    * re-attributes whenever the query set changes — three rounds of bench
    * forensics (gx_assort, d_auc, d_dedup_incr) traced to exactly that. */
  private[graft] val sharedCacheBuilds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "trade" -> ((s: SparkSession, d: String) =>
      CacheScope.session("trade", s, d)(Tables.tradeEdges(s, d))),
    "gx_union" -> ((s: SparkSession, d: String) =>
      CacheScope.session("gx_union", s, d)(unionEdges(s, d))),
    "part" -> ((s: SparkSession, d: String) =>
      CacheScope.session("part", s, d)(Tables.partEdges(s, d))),
    "gx_graphx" -> ((s: SparkSession, d: String) => materializeUnionGx(s, d)),
    // gx_und precedes lpa5/lm_bfs_4x4 since r19: both builds now derive
    // their undirected view from it (canonFrom), so dependency order keeps
    // its build cost attributed to cache:gx_und, not the first consumer
    "gx_und" -> ((s: SparkSession, d: String) => sharedUnd(s, d)),
    "lpa5" -> ((s: SparkSession, d: String) => sharedLpa(s, d)),
    "lm_bfs_4x4" -> ((s: SparkSession, d: String) => sharedLmBfs(s, d)._2),
    "wl1" -> ((s: SparkSession, d: String) => sharedWl1(s, d)),
    "louvain1" -> ((s: SparkSession, d: String) => sharedLouvain1(s, d)),
    "gx_wund" -> ((s: SparkSession, d: String) => sharedWund(s, d)),
    "louvw_deg" -> ((s: SparkSession, d: String) => sharedWDeg(s, d)),
    "louvw_lic" -> ((s: SparkSession, d: String) => sharedWLic(s, d)),
    "louvain_n" -> ((s: SparkSession, d: String) => sharedLouvainN(s, d)),
    "n2v_walks" -> ((s: SparkSession, d: String) => sharedWalks(s, d))
  )

  /** Shared oracle CTE: the same union graph in DuckDB. */
  private val cte =
    """WITH ue AS MATERIALIZED (
      |  SELECT DISTINCT src, dst FROM (
      |    SELECT 'S' || CAST(l_suppkey AS VARCHAR) AS src,
      |           'C' || CAST(o_custkey AS VARCHAR) AS dst
      |    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |    UNION ALL
      |    SELECT 'C' || CAST(c_custkey AS VARCHAR), 'N' || CAST(c_nationkey AS VARCHAR) FROM customer
      |    UNION ALL
      |    SELECT 'S' || CAST(s_suppkey AS VARCHAR), 'N' || CAST(s_nationkey AS VARCHAR) FROM supplier
      |    UNION ALL
      |    SELECT 'N' || CAST(n_nationkey AS VARCHAR), 'R' || CAST(n_regionkey AS VARCHAR) FROM nation)
      |), un AS MATERIALIZED (
      |  SELECT src AS key FROM ue UNION SELECT dst AS key FROM ue
      |)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-node triangle count (GraphX TriangleCount, undirected canonical)
    "gx_triangles" -> ((s, dir) =>
      GraphXBridge.triangleCounts(unionGx(s, dir)).orderBy("key")),

    // degrees via GraphX (parity with the relational g_out_degrees path)
    "gx_degrees" -> ((s, dir) =>
      GraphXBridge.degrees(unionGx(s, dir)).orderBy("key")),

    // static PageRank — the GraphX float run executes in full, but the
    // gated projection is the oracle-checkable part only: the ranked node
    // set (float scores can't hash-match DuckDB; they are driver-gated by
    // gx_pagerank_rank's top-50 alignment and spec-gated by GraphXSpec's
    // value/adjacent-swap pins, while gx_pagerank_fp is the exact twin)
    "gx_pagerank" -> ((s, dir) =>
      GraphXBridge.pageRank(unionGx(s, dir), iters = 10)
        .select(col("key"))
        .orderBy("key")),

    // connected components — exact recursive min-label CTE oracle
    "gx_cc" -> ((s, dir) =>
      GraphXBridge.connectedComponents(unionGx(s, dir)).orderBy("key")),

    // fixed-point (integer-arithmetic) PageRank: the hash-checkable form of
    // the iterative algorithm — every step is exact 64-bit integer math, so
    // the DuckDB unrolled-CTE twin reproduces it bit-for-bit (float
    // PageRank above stays rows-only; this one is the full oracle check)
    "gx_pagerank_fp" -> ((s, dir) =>
      GraphOps.fixedPointPageRank(unionGraph(s, dir), iters = 5)
        .select(col("key"), col("r").as("rank_fp"))
        .orderBy("key")),

    // TIME-RESPECTING reachability over the order contact network: an
    // order is a supplier↔customer CONTACT dated by o_orderdate, and a
    // temporal path must use non-decreasing dates (the
    // epidemic/logistics semantics static reachability gets wrong — you
    // can't ride a contact that happened before you arrived). Seeds = a
    // deterministic 1/29 hash sample of suppliers starting before all
    // activity; 4 relax rounds = all ≤4-contact temporal paths; state is
    // the earliest arrival day per reached node, exact i64
    "gx_treach" -> ((s, dir) => {
      val o = graft.sources.Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = graft.sources.Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_suppkey"))
      val contacts = li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(concat(lit("S"), col("l_suppkey")).as("a"),
          concat(lit("C"), col("o_custkey")).as("b"),
          datediff(to_date(col("o_orderdate")), lit("1970-01-01"))
            .cast("long").as("t"))
        .distinct()
      val tedges = contacts
        .select(col("a").as("src"), col("b").as("dst"), col("t"))
        .unionByName(contacts
          .select(col("b").as("src"), col("a").as("dst"), col("t")))
      // data-adaptive seeds (fixture-size discipline: a modulus sample is
      // empty at small SF): the 3 lowest-hash suppliers, at every scale
      val seeds = contacts.select(col("a").as("key")).distinct()
        .orderBy(graft.functions.TextFunctions.hash60(col("key")),
          col("key"))
        .limit(3)
      GraphOps.temporalReachability(tedges, seeds, rounds = 4)
        .orderBy("key")}),

    // BOW-TIE decomposition (Broder web-graph macro-structure) of the
    // BOND-PERCOLATED part-sequencing digraph, rooted at the 3
    // lowest-hash nodes (data-adaptive seed discipline) with a 4-hop
    // radius: core / in / out / other census from one tagged
    // forward+backward BFS loop. The percolation (keep an edge iff its
    // pair hash ≡ 0 mod 8) is the SF-density fix: the raw sequencing
    // graph's avg degree is SF-CONSTANT ~30, so any fixed radius
    // saturates to all-core at every scale; at p=1/8 the branching
    // factor is ~2 and a 4-hop reach stays a sparse subset of the
    // SF-scaling part domain. Exact i64 counts
    "gx_bowtie" -> ((s, dir) => {
      val li = graft.sources.Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      val a = li.select(col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey").as("ok"),
        (col("l_linenumber") - 1).as("ln"), col("l_partkey").as("pb"))
      val de = a.join(b, Seq("ok", "ln"))
        .filter(col("pa") =!= col("pb"))
        .select(col("pa").as("src"), col("pb").as("dst")).distinct()
        .filter(pmod(graft.functions.TextFunctions.hash60(
          concat(col("src").cast("string"), lit("|"),
            col("dst").cast("string"))), lit(8L)) === 0)
      val nodes = de.select(col("src").as("key"))
        .union(de.select(col("dst"))).distinct()
      val seeds = nodes.orderBy(graft.functions.TextFunctions.hash60(
          col("key").cast("string")), col("key")).limit(3)
      GraphOps.bowtieCensus(de, seeds, rounds = 4).orderBy("component")}),

    // DIRECTED TRIAD census over the part-sequencing network: within
    // each order, consecutive line numbers chain their PARTS (part of
    // line i feeds line i+1), giving a genuinely CYCLIC directed graph
    // — unlike the prefix-layered union graph, which is a DAG where
    // reciprocity and 3-cycles are vacuously zero (the fixture-vacuity
    // trap). Parts, not suppliers: the part domain grows with SF, so
    // the graph stays SPARSE (avg degree ≈ 2·lines/parts at every
    // scale) and the wedge join is m²/n-bounded — a supplier variant
    // saturates to a near-complete digraph whose census goes n³.
    // Reciprocity + cyclic u→v→w→u vs transitive u→v,v→w,u→w motif
    // counts — the direction-sensitive census the undirected
    // gx_transitivity cannot see. Exact i64 counts end-to-end; the
    // edge build is one self-join on the (orderkey, linenumber) key
    "gx_triads" -> ((s, dir) => {
      val li = graft.sources.Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      val a = li.select(col("l_orderkey").as("ok"),
        col("l_linenumber").as("ln"), col("l_partkey").as("pa"))
      val b = li.select(col("l_orderkey").as("ok"),
        (col("l_linenumber") - 1).as("ln"), col("l_partkey").as("pb"))
      val de = a.join(b, Seq("ok", "ln"))
        .select(col("pa").as("src"), col("pb").as("dst"))
      GraphOps.triadCensus(de)}),

    // BUTTERFLY (4-cycle) census of the part–supplier bipartite graph —
    // the bipartite analog of the triangle census (no triangles exist in
    // a bipartite graph, so gx_transitivity/gx_triads are blind here).
    // Edges from lineitem's (partkey, suppkey) pairs: the PART side is
    // the SF-scaling domain whose degree stays ~constant across SF
    // (suppliers-per-part is bounded by lineitems-per-part, which scales
    // with parts — the gx_triads density discipline), so wedges
    // enumerate from parts, with the supplier side's wedge count
    // reported via the closed-form degree aggregate, never enumerated
    // (the supplier domain is SF-fixed and densifies; at sf0.001 its 10
    // suppliers saturate cc_left to 1000 — the documented small-fixture
    // ceiling, not a defect). Exact i64 counts; hub parts beyond the
    // degree cap are excluded from enumeration (spec-pinned)
    "gx_butterfly" -> ((s, dir) => {
      val e = graft.sources.Tables.lineitem(s, dir)
        .select(col("l_partkey").as("src"), col("l_suppkey").as("dst"))
      GraphOps.butterflyCensus(e)}),

    // k-BITRUSS peel — the butterfly analog of gx_ktruss's
    // triangle-support peel, on the part–CUSTOMER bipartite graph
    // (BOTH domains SF-scaling, so supports stay spread; the SF-fixed
    // supplier side's supports are a 1230..1658 sliver where any
    // quantile peel cascades to empty — the density trap again):
    // per-edge butterfly support from the capped part-side wedge join,
    // edges below the DATA-ADAPTIVE lower-quartile initial-support
    // threshold peel for 3 rounds, survivors with their final support
    // — exact i64 end-to-end, every round unrolled in the oracle.
    // The GATE bounds the fixture to the partkey%4 sub-graph (the
    // knnComponents subsample discipline): the 4 support recomputations
    // are each O(Σ deg²) wedge joins, and the full sf0.1 graph put the
    // entry at 36s bench for no extra semantic coverage — the operator
    // itself is unbounded
    "gx_bitruss" -> ((s, dir) => {
      val li = graft.sources.Tables.lineitem(s, dir)
        .filter(pmod(col("l_partkey"), lit(4)) === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val e = li.join(graft.sources.Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey")),
          li("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("src"), col("o_custkey").as("dst"))
      GraphOps.bitruss(e).orderBy("src", "dst")}),

    // ADJUSTED RAND INDEX between the LPA COMMUNITY partition and the
    // round-1 WL STRUCTURAL classes of the union graph — the chance-
    // corrected agreement grade every clustering comparison reports,
    // here between two partitions different BY CONSTRUCTION (community
    // cohesion vs degree-class equivalence; every community-vs-community
    // pairing on this graph converges to the identical 2-block split at
    // small SF and pins the vacuous 1.0). Exact integer pair sums + one
    // fixed IEEE tree for the floor-micro index
    "gx_ari" -> ((s, dir) => {
      val a = sharedLpa(s, dir).select(col("key"), col("label").as("la"))
      val b = sharedWl1(s, dir)
        .select(col("key"), col("l1").cast("string").as("lb"))
      GraphOps.adjustedRandIndex(a, b)}),

    // NMI — ARI's information-theoretic sibling over the same
    // LPA-vs-WL partition pair; every ln separately micro-nat-rounded
    // before summation (the PMI discipline), one IEEE tree at the end
    "gx_nmi" -> ((s, dir) => {
      val a = sharedLpa(s, dir).select(col("key"), col("label").as("la"))
      val b = sharedWl1(s, dir)
        .select(col("key"), col("l1").cast("string").as("lb"))
      GraphOps.normalizedMutualInfo(a, b)}),

    // EDGE-EMBEDDEDNESS histogram over the canonical undirected union
    // graph: support = |N(u)∩N(v)| per edge, reduced to (support,
    // n_edges) — support 0 counts the LOCAL BRIDGES (Granovetter weak
    // ties / Burt structural holes), the tie-strength curve community
    // studies plot. Degree-oriented triangle enumeration (the gx_ktruss
    // skew discipline) on the Spark side; the oracle replays the simpler
    // lexical wedge join (identical triangle set). Exact i64 end-to-end
    "gx_embed" -> ((s, dir) =>
      GraphOps.edgeSupportHist(sharedUnd(s, dir)).orderBy("support")),

    // WEISFEILER-LEHMAN color refinement (3 rounds) over the canonical
    // undirected union graph: per-node structural-equivalence classes —
    // two nodes share a round-r label iff their radius-r unfolding
    // trees agree, the signature WL kernels and GNN expressivity
    // results build on. Labels are md5-derived i64 (hash60), so the
    // unrolled string_agg twin replays the refinement bit-for-bit
    "gx_wl" -> ((s, dir) =>
      GraphOps.wlRefine(sharedUnd(s, dir), rounds = 3)
        .select(col("key"), col("l1"), col("l2"), col("l3"))
        .orderBy("key")),

    // ATTACK-TOLERANCE probe: the 4-round BFS reach curve from 3 fixed
    // low-hash non-hub seeds, on the intact graph vs the graph with
    // every p90-degree hub REMOVED (targeted-attack percolation — the
    // scale-free-network fragility result: random failure barely dents
    // reach, hub removal shatters it). Cut and seeds are DATA-ADAPTIVE
    // (percentile + lowest-hash, the gx_kcore/gx_treach disciplines);
    // state per round is the sparse reached set only; exact counts
    "gx_attack" -> ((s, dir) => {
      val und = sharedUnd(s, dir)
      // cut, hub set and seed ranking all read the degree frame —
      // materialize once per call (harness releaseAll frees it)
      val deg = graft.CacheScope.cached(und.select(col("u").as("key"))
        .union(und.select(col("v").as("key")))
        .groupBy("key").agg(count(lit(1)).as("d")))
      val cut = deg.agg(expr("percentile(d, 0.9D)").as("c90"))
      val hubs = deg.crossJoin(broadcast(cut))
        .filter(col("d") > col("c90")).select("key")
      val filt = und
        .join(hubs.select(col("key").as("u")), Seq("u"), "left_anti")
        .join(hubs.select(col("key").as("v")), Seq("v"), "left_anti")
      val seeds = deg.crossJoin(broadcast(cut))
        .filter(col("d") <= col("c90"))
        .orderBy(graft.functions.TextFunctions.hash60(
          concat(col("key"), lit("atk"))), col("key"))
        .limit(3).select("key")
      val tagged = und.withColumn("variant", lit("full"))
        .unionByName(filt.withColumn("variant", lit("attacked")))
      val seeds2 = seeds.select(col("key"),
        explode(array(lit("full"), lit("attacked"))).as("variant"))
      GraphOps.bfsReachCurveTagged(tagged, seeds2, rounds = 4)
        .select(col("variant"), col("round"), col("n_reached"))
        .orderBy("variant", "round")}),

    // HyperANF approximate neighborhood function (Boldi-Rosa-Vigna):
    // per-node Flajolet-Martin registers propagated 3 rounds over the
    // undirected adjacency — |ball(v,3)| estimation by rounds of sparse
    // (key, register) max-merges, the technique that computes distance
    // distributions on billion-edge graphs. All emitted quantities exact
    // integers (registers + the dyadic harmonic denominator), so the
    // probabilistic counter is hash-gated bit-for-bit
    "gx_anf" -> ((s, dir) =>
      GraphOps.hyperAnf(sharedUnd(s, dir), rounds = 3)
        .orderBy("key")),

    // ANF GROWTH TRACE — the neighborhood-function curve N(r) that
    // effective-diameter estimation reads: the global register state at
    // radius 1, 2, 3 (Σ est_num shrinks as balls grow — est_num is the
    // harmonic DENOMINATOR). Three runs of the same register propagation;
    // the curve flattening out IS the "most pairs within r hops" signal
    "gx_anf_growth" -> ((s, dir) =>
      GraphOps.hyperAnfTrace(sharedUnd(s, dir), rounds = 3)
        .orderBy("round")),

    // integer fixed-point KATZ centrality — the attenuation α =
    // 1/(dmax_in + 1) is DATA-ADAPTIVE (a constant α diverges/overflows
    // as degrees grow with SF — the gx_kcore parameter discipline);
    // β = 1e6, every step exact i64, 5 unrolled rounds
    "gx_katz" -> ((s, dir) =>
      GraphOps.fixedPointKatz(unionGraph(s, dir), iters = 5)
        .orderBy("key")),

    // rank-agreement gate for the FLOAT GraphX PageRank: its scores are
    // legitimately engine-specific (float damping, 10 iters), but the
    // ordering — the thing a user actually consumes — is pinned here
    // against the hash-green integer fixed-point ranking. Each top-50
    // position carries the fp key/score plus gx_agree = 1 iff the total
    // positional agreement across the frame reaches 49/50 — one
    // adjacent-near-tie swap of slack (exact per-position equality
    // could flicker red on a float tie; the measured distribution is
    // ZERO disagreements across repeated runs — GraphXSpec's stability
    // test pins it — so the floor sits one swap above observed). The
    // oracle replays the fp twin alone and asserts the floor
    // everywhere, so a real drift in the GraphX ordering (>1 displaced
    // position) turns every row red. Top-50 via orderBy+limit
    // (TakeOrderedAndProject) BEFORE the position window, so the global
    // window runs on 50 rows, never the node set.
    "gx_pagerank_rank" -> ((s, dir) => {
      val n = 50
      val W = org.apache.spark.sql.expressions.Window
      val wAll = W.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
      // TIE-CLASS grading (r17 verdict #5): agreement at position p means
      // the float engine's p-th key carries the SAME fp score as the fp
      // ranking's p-th key — the float side may permute freely inside an
      // fp tie class, never across classes. Positional key identity was
      // ill-posed once replication-blown fixtures (graft.ScaleUp) created
      // exact fp ties whose float twins differ only in last-ulp add-order
      // noise; score-class identity is well-posed at every scale. The
      // ≥ n−1 slack still absorbs one adjacent swap ACROSS a near-tie
      // class boundary (GraphXSpec pins that structure).
      pagerankRankAlignment(s, dir, n)
        .withColumn("pos_eq",
          when(col("rank_fp_gx") === col("rank_fp"), lit(1)).otherwise(lit(0)))
        .select(col("pos"), col("key"), col("rank_fp"),
          when(sum(col("pos_eq")).over(wAll) >= lit(n - 1), lit(1))
            .otherwise(lit(0)).as("gx_agree"))
        .orderBy("pos")
    }),

    // synchronous label propagation (community detection) — deterministic
    // tie-breaking makes the ITERATIVE algorithm hash-checkable against an
    // unrolled-CTE oracle, like gx_pagerank_fp. iters = 5 reaches the
    // period-2 limit cycle this graph's bipartite S-C structure settles
    // into under synchronous updates (sync LPA oscillates rather than
    // fixing on bipartite-ish graphs — GraphOpsSpec pins l5 == l7)
    "gx_labelprop" -> ((s, dir) => sharedLpa(s, dir).orderBy("key")),

    // modularity of the LPA communities — the "are these communities
    // real" grade every community detection needs: per community the
    // node count, internal-edge count e_in and degree sum d_c over the
    // undirected distinct-pair graph, plus the EXACT integer modularity
    // numerator q_num = 4m·e_in − d_c² (Q = Σ q_num / 4m²; headroom:
    // d_c ≤ 2m keeps q_num inside i64 through m < 1.5e9 — beyond that,
    // shard the Σ). The single float step (q_total_micro) is one
    // multiply-divide chain over exact integers — IEEE-exact in both
    // engines, the gx_assort discipline
    "gx_modularity" -> ((s, dir) => {
      val labels = sharedLpa(s, dir)
      val e0 = CacheScope.session("gx_union", s, dir)(unionEdges(s, dir))
        .select("src", "dst")
      val und = e0.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
      val mm = und.agg(count(lit(1)).as("m_edges"))
      val udg = und.select(col("u").as("key"))
        .union(und.select(col("v").as("key")))
        .groupBy("key").agg(count(lit(1)).as("deg"))
      val com = labels.groupBy("label").agg(count(lit(1)).as("n_nodes"))
      val ein = und
        .join(labels.select(col("key").as("u"), col("label").as("lu")), "u")
        .join(labels.select(col("key").as("v"), col("label").as("lv")), "v")
        .filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("label")).agg(count(lit(1)).as("e_in"))
      val dc = labels.join(udg, "key")
        .groupBy("label").agg(sum(col("deg")).as("deg_sum"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy().rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      com.join(ein, Seq("label"), "left").join(dc, Seq("label"), "left")
        .crossJoin(broadcast(mm))
        .select(col("label"), col("n_nodes"),
          coalesce(col("e_in"), lit(0L)).as("e_in"),
          coalesce(col("deg_sum"), lit(0L)).as("deg_sum"),
          col("m_edges"),
          (lit(4L) * col("m_edges") * coalesce(col("e_in"), lit(0L)) -
            coalesce(col("deg_sum"), lit(0L)) *
            coalesce(col("deg_sum"), lit(0L))).as("q_num"))
        .withColumn("q_total_micro",
          floor(lit(1000000.0) * sum(col("q_num")).over(w).cast("double") /
            (lit(4.0) * col("m_edges").cast("double") *
              col("m_edges").cast("double"))).cast("long"))
        .orderBy("label")}),

    // One-level Louvain refinement over the LPA communities: every node
    // synchronously evaluates moving to each neighboring community and
    // takes the best strictly-positive modularity gain (tie: smallest
    // label). Gains are EXACT INTEGERS in the 4m² modularity units of
    // gx_modularity's q_num: ΔS(i: A→B) = 4m·(l_iB − l_iA)
    // − 2·k_i·(D_B − D_A + k_i), with l_iC = links from i into C, D_A
    // the degree sum of i's community (i included), D_B of the target
    // (i excluded) — no floats anywhere, so the single pass replays as
    // one unrolled CTE chain over the same l5 oracle labels. Scale
    // shape: candidate moves are one (node, neighbor-label) aggregation
    // over the adjacency — each node scores only communities it
    // actually touches, never all communities; the per-node argmax is a
    // key-partitioned window.
    "gx_louvain1" -> ((s, dir) =>
      sharedLouvain1(s, dir).orderBy("key")),

    // per-community CONDUCTANCE of the Louvain refinement — the
    // cut-quality companion to modularity: φ(C) = cut(C) /
    // min(vol(C), 2m − vol(C)), all exact integers until one milli
    // integer division. cut = vol − 2·e_in needs no boundary-edge scan;
    // reads the session-shared louvain1 labels and und caches, adds two
    // label-keyed aggregations
    "gx_conductance" -> ((s, dir) => {
      val lab = sharedLouvain1(s, dir)
        .select(col("key"), col("label1").as("lbl"))
      val und = sharedUnd(s, dir)
      val mm = und.agg(count(lit(1)).as("m"))
      val deg = und.select(col("u").as("key"))
        .union(und.select(col("v").as("key")))
        .groupBy("key").agg(count(lit(1)).as("ki"))
      val vol = lab.join(deg, "key").groupBy("lbl")
        .agg(count(lit(1)).as("n_nodes"), sum(col("ki")).as("vol"))
      val ein = und
        .join(lab.select(col("key").as("u"), col("lbl").as("lu")), "u")
        .join(lab.select(col("key").as("v"), col("lbl").as("lv")), "v")
        .filter(col("lu") === col("lv"))
        .groupBy(col("lu").as("lbl")).agg(count(lit(1)).as("e_in"))
      vol.join(ein, Seq("lbl"), "left")
        .crossJoin(broadcast(mm))
        .withColumn("cut",
          col("vol") - lit(2) * coalesce(col("e_in"), lit(0L)))
        .withColumn("denom",
          least(col("vol"), lit(2) * col("m") - col("vol")))
        .select(col("lbl").as("label"), col("n_nodes"), col("vol"),
          col("cut"),
          when(col("denom") > 0, expr("(1000 * cut) div denom"))
            .otherwise(lit(0L)).as("cond_milli"))
        .orderBy("label")}),

    // WEIGHTED one-level Louvain refinement: the same exact-integer gain
    // algebra over hash-weighted undirected edges (w = hash60(u|v) % 100
    // + 1, the gx_wsssp weight family on the canonical lexical pair) —
    // strengths, community mass and link mass all weighted sums, W = Σw.
    // The weighted form is what runs on a COARSENED community graph; it
    // is gated here on the native graph where every quantity is
    // non-degenerate.
    "gx_louvain_w" -> ((s, dir) => {
      val wund = sharedWund(s, dir)
      GraphOps.louvainMoveWeighted(sharedLpa(s, dir),
          sharedWDeg(s, dir), sharedWLic(s, dir),
          wund.agg(sum(col("w")).as("m")))
        .orderBy("key")}),

    // TWO-LEVEL Louvain: move pass → community CONTRACTION (weighted,
    // with self-loops) → WEIGHTED move pass on the supernode graph →
    // project every node to its supernode's refined community. This is
    // the full multi-level Louvain iteration schema — each level's graph
    // shrinks to one row per community, so levels get cheaper, and the
    // weighted pass's loop-cancellation contract is exactly what the
    // contracted self-loops need. Every step exact-integer, the whole
    // two-level chain replays as one CTE pipeline.
    "gx_louvain2" -> ((s, dir) => {
      val und = sharedUnd(s, dir)
      val lab1 = sharedLouvain1(s, dir)
        .select(col("key"), col("label1").as("label"))
      val coarse = und
        .join(lab1.select(col("key").as("u"), col("label").as("lu")), "u")
        .join(lab1.select(col("key").as("v"), col("label").as("lv")), "v")
        .select(least(col("lu"), col("lv")).as("u"),
          greatest(col("lu"), col("lv")).as("v"))
        .groupBy("u", "v").agg(count(lit(1)).as("w"))
      val superLab = lab1.select(col("label").as("key")).distinct()
        .select(col("key"), col("key").as("label"))
      val out2 = GraphOps.louvainOneLevelWeighted(superLab, coarse)
      lab1.join(out2.select(col("key").as("label"),
          col("label1").as("label2")), "label")
        .select(col("key"), col("label").as("label1"), col("label2"))
        .orderBy("key")}),

    // LEIDEN-style connectivity repair of the Louvain communities: the
    // Leiden paper's headline defect of Louvain is that its communities
    // can be INTERNALLY DISCONNECTED — this op splits every refined
    // community into its connected parts (CC restricted to
    // intra-community edges; members with no intra edge become
    // singletons), emitting the repaired label (= part's min key) and
    // the per-community part count as the disconnectedness audit. One
    // intra-edge join + CC on a graph that only shrinks; the repair at
    // scale is the same CC machinery every component pass here uses.
    "gx_louvain_cc" -> ((s, dir) =>
      GraphOps.communityConnectedParts(
        sharedLouvain1(s, dir).select(col("key"), col("label1").as("label")),
        sharedUnd(s, dir))
        .orderBy("key")),

    // FULL MULTI-LEVEL Louvain (3 unrolled levels): move → contract →
    // weighted move → contract → weighted move, with early stop when a
    // weighted level moves nothing (provably identical to the static
    // unroll — see GraphOps.louvainMultiLevel). Emits every level's
    // per-node community plus the per-level move counts as the
    // termination trace. Level 1 rides cache:louvain1.
    "gx_louvain_n" -> ((s, dir) =>
      sharedLouvainN(s, dir).orderBy("key")),

    // MULTI-LEVEL modularity PAYOFF audit: S = 4m·intra − Σ D_C² (4m²
    // units) for the LPA input, the one-level refinement and the
    // three-level loop output in one row — the number that shows the
    // contract-and-repeat loop actually buys community quality. All
    // exact i64; the per-level s_* are emitted, not sign-asserted (the
    // level-1 sync pass can overshoot, gx_louvain_q's documented
    // property — the L3 column is the one the loop optimizes)
    "gx_louvain_nq" -> ((s, dir) => {
      val und = sharedUnd(s, dir)
      val multi = sharedLouvainN(s, dir)
      val deg = graft.CacheScope.cached(und.select(col("u").as("key"))
        .union(und.select(col("v").as("key")))
        .groupBy("key").agg(count(lit(1)).as("ki")))
      def stats(lab: org.apache.spark.sql.DataFrame, sfx: String) = {
        val dsq = lab.join(deg, "key")
          .groupBy("label").agg(sum(col("ki")).as("ds"))
          .agg(sum(col("ds") * col("ds")).as(s"dsq$sfx"))
        val intra = und
          .join(lab.select(col("key").as("u"), col("label").as("lu")), "u")
          .join(lab.select(col("key").as("v"), col("label").as("lv")), "v")
          .filter(col("lu") === col("lv"))
          .agg(count(lit(1)).as(s"intra$sfx"))
        broadcast(dsq).crossJoin(broadcast(intra))
      }
      val mm = und.agg(count(lit(1)).as("m_edges"))
      mm.crossJoin(stats(sharedLpa(s, dir).select("key", "label"), "_l0"))
        .crossJoin(stats(multi.select(col("key"),
          col("label1").as("label")), "_l1"))
        .crossJoin(stats(multi.select(col("key"),
          col("label3").as("label")), "_l3"))
        .select(col("m_edges"),
          (lit(4) * col("m_edges") * col("intra_l0") - col("dsq_l0"))
            .as("s_l0"),
          (lit(4) * col("m_edges") * col("intra_l1") - col("dsq_l1"))
            .as("s_l1"),
          (lit(4) * col("m_edges") * col("intra_l3") - col("dsq_l3"))
            .as("s_l3"))}),

    // modularity AUDIT of the refinement pass: S = 4m·intra − Σ D_C²
    // (4m² units) before and after gx_louvain1's synchronous move, plus
    // the move count. s_delta is emitted, NOT sign-asserted —
    // simultaneous moves can overshoot (mutually attracted nodes swap
    // past each other); this row makes that property observable. All
    // aggregates exact i64; the 1-row stat frames cross-join broadcast.
    "gx_louvain_q" -> ((s, dir) => {
      val labels = sharedLpa(s, dir)
      val und = sharedUnd(s, dir)
      // the refinement output feeds four consumers (after-stats ×3 + move
      // count) — it rides the session-shared persisted build (an
      // unmaterialized plan re-ran per consumer: first cut showed 5× at
      // 59s)
      val out = sharedLouvain1(s, dir)
      val after = out.select(col("key"), col("label1").as("label"))
      val deg = graft.CacheScope.cached(und.select(col("u").as("key"))
        .union(und.select(col("v").as("key")))
        .groupBy("key").agg(count(lit(1)).as("ki")))
      def stats(lab: org.apache.spark.sql.DataFrame, sfx: String) = {
        val dsq = lab.join(deg, "key")
          .groupBy("label").agg(sum(col("ki")).as("ds"))
          .agg(sum(col("ds") * col("ds")).as(s"dsq$sfx"))
        val intra = und
          .join(lab.select(col("key").as("u"), col("label").as("lu")), "u")
          .join(lab.select(col("key").as("v"), col("label").as("lv")), "v")
          .filter(col("lu") === col("lv"))
          .agg(count(lit(1)).as(s"intra$sfx"))
        broadcast(dsq).crossJoin(broadcast(intra))
      }
      val mm = und.agg(count(lit(1)).as("m_edges"))
      val nm = out.agg(sum(when(col("label0") =!= col("label1"), 1L)
        .otherwise(0L)).as("n_moved"))
      mm.crossJoin(stats(labels.select("key", "label"), "_b"))
        .crossJoin(stats(after, "_a"))
        .crossJoin(broadcast(nm))
        .select(col("m_edges"),
          col("intra_b").as("intra_before"), col("dsq_b").as("dsq_before"),
          (lit(4L) * col("m_edges") * col("intra_b") - col("dsq_b"))
            .as("s_before"),
          col("intra_a").as("intra_after"), col("dsq_a").as("dsq_after"),
          (lit(4L) * col("m_edges") * col("intra_a") - col("dsq_a"))
            .as("s_after"),
          ((lit(4L) * col("m_edges") * col("intra_a") - col("dsq_a")) -
            (lit(4L) * col("m_edges") * col("intra_b") - col("dsq_b")))
            .as("s_delta"),
          col("n_moved"))}),

    // community CONTRACTION (the Louvain phase-2 / graph-summarization
    // primitive): collapse each LPA community to a supernode; weighted
    // superedges = undirected edge counts between community pairs,
    // self-loops = intra-community counts. Scale shape: two node-sized
    // label attaches (AQE broadcasts the label frame when small) then
    // ONE shuffle keyed on the community pair — the contracted graph is
    // what the next coarsening level iterates on.
    "gx_coarsen" -> ((s, dir) => {
      val labels = sharedLpa(s, dir)
      sharedUnd(s, dir)
        .join(labels.select(col("key").as("u"), col("label").as("lu")), "u")
        .join(labels.select(col("key").as("v"), col("label").as("lv")), "v")
        .select(least(col("lu"), col("lv")).as("ca"),
          greatest(col("lu"), col("lv")).as("cb"))
        .groupBy("ca", "cb").agg(count(lit(1)).as("n_edges"))
        .orderBy("ca", "cb")}),

    // Jaccard link prediction on the hub-capped undirected graph: top-100
    // pairs by (1000·|N∩|) div |N∪| — common counts, degrees and union
    // size all from the SAME capped adjacency (middles above the p90
    // degree removed first, the gx_adamic scale guard applied to the
    // graph itself, so the statistic is self-consistent)
    "gx_jaccard" -> ((s, dir) =>
      GraphOps.jaccardPairs(unionGraph(s, dir), 100, hubCapPercentile = 0.9,
        canonFrom = Some(sharedUnd(s, dir)))),

    // bounded k-core peel on the supplier-part graph with DATA-ADAPTIVE
    // k = min undirected degree + 2 (a fixed k is vacuous across scale
    // factors: degrees grow with SF, so one constant either peels nothing
    // or empties the graph). Iterative, exact unrolled-CTE oracle with the
    // same adaptive k; convergence on small graphs pinned in ScalaTest
    // Luby maximal independent set — the classic symmetry-breaking
    // primitive (scheduling/coloring seed): deterministic md5 priorities
    // make the randomized rounds hash-checkable against an unrolled-CTE
    // oracle; strict-< winners are independent by construction, and
    // still-undecided nodes report honestly as 'active'
    "gx_mis" -> ((s, dir) =>
      GraphOps.lubyMis(unionGraph(s, dir), rounds = 5,
        canonFrom = Some(sharedUnd(s, dir)))
        .orderBy("key")),

    // Boruvka minimum spanning forest — per round each component picks
    // its min-weight outgoing edge (hash weights, total order) and the
    // touched components merge via the pointer-doubling subroutine;
    // forest edges + pick rounds fully replayed (an embedded doubling
    // unroll per merge round in the oracle)
    "gx_msf" -> ((s, dir) =>
      // rides cache:gx_und: weights are a pure projection of the shared
      // canonical frame (same md5 family the oracle replays)
      GraphOps.boruvkaForest(unionGraph(s, dir), rounds = 4,
        weightsFrom = Some(sharedUnd(s, dir).withColumn("w",
          conv(substring(md5(concat(lit("msf_"), col("u"), lit("|"), col("v"))),
            1, 15), 16, 10).cast("long"))))
        .orderBy("u", "v")),

    // greedy maximal matching — MIS on the line graph, run on edges:
    // per round the strict-min-priority edge at both endpoints matches,
    // neighbors block; per-edge status+round fully replayed
    "gx_matching" -> ((s, dir) =>
      GraphOps.greedyMatching(unionGraph(s, dir), rounds = 4,
        canonFrom = Some(sharedUnd(s, dir)))
        .orderBy("u", "v")),

    // Jones-Plassmann greedy coloring — the scheduling/conflict-free
    // assignment primitive: deterministic priorities, per-round mex color
    // choice (χ ≤ Δ+1 by construction), unrolled-CTE replay; nodes still
    // uncolored after 6 rounds report NULL honestly
    "gx_coloring" -> ((s, dir) =>
      GraphOps.jpColoring(unionGraph(s, dir), rounds = 6,
        canonFrom = Some(sharedUnd(s, dir)))
        .orderBy("key")),

    "gx_kcore" -> ((s, dir) =>
      GraphOps.kCoreAdaptive(
        KinGraph.fromEdges(CacheScope.session("part", s, dir)(Tables.partEdges(s, dir))),
        kOffset = 2, rounds = 3).orderBy("key")),

    // landmark betweenness (stress form): shortest landmark-pair paths
    // THROUGH each node — ratio-free Brandes alternative (integer σ
    // products, level-synchronous BFS both directions), so the classic
    // "hard at scale" centrality is hash-checked via an unrolled oracle.
    // Runs on the UNDIRECTED view: the union graph's directed edges flow
    // strictly S/C -> N -> R, so directed landmark pairs are mutually
    // unreachable and the directed statistic is vacuously empty
    "gx_betweenness" -> ((s, dir) => {
      val g = unionGraph(s, dir)
      val e0 = g.edges.select(col("src"), col("dst"))
      val ud = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
      GraphOps.landmarkBetweenness(
          graft.KinGraph.fromEdges(ud.withColumn("etype", lit(0))),
          nLandmarks = 3, rounds = 3, symmetric = true)
        .orderBy("key")}),

    // landmark harmonic closeness: bounded multi-source BFS from 4
    // hash-sampled landmarks; per-node reach count + Σ floor(1e6/d) in
    // integer micro-units (the scale form of closeness centrality —
    // exact all-pairs is O(n·m)); exact unrolled-CTE oracle. Rides the
    // session-shared BFS state (one 4-round iterative pass feeds both
    // gx_closeness and gx_diameter).
    "gx_closeness" -> ((s, dir) =>
      GraphOps.closenessFromState(sharedLmBfs(s, dir)._2).orderBy("key")),

    // landmark eccentricity / pseudo-diameter lower bound from the SAME
    // shared BFS state: per landmark the bounded-BFS reach count and max
    // distance, plus max-over-landmarks as the diameter lower bound (the
    // double-sweep-style estimate — exact diameter is all-pairs and no
    // 100 TB graph computes it)
    "gx_diameter" -> ((s, dir) => {
      val (lm, st) = sharedLmBfs(s, dir)
      GraphOps.eccentricityFromState(lm, st)}),

    // bipartiteness probe from the SAME shared landmark-BFS state (third
    // consumer after closeness/diameter — one iterative pass, three
    // gates): a BFS edge whose endpoints sit at equal-parity distances
    // closes an ODD cycle, so per landmark the count of such conflict
    // edges among reached nodes is a bipartiteness certificate within
    // the BFS radius (honest truncation, the gx_closeness discipline).
    // The union graph's S-C-N triangles make conflicts non-vacuous
    "gx_bipartite" -> ((s, dir) => {
      val (lm, st) = sharedLmBfs(s, dir)
      val dCols = st.columns.filter(_.startsWith("d")).toSeq
      val und = CacheScope.session("gx_union", s, dir)(unionEdges(s, dir))
        .select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
      val stU = st.toDF(("u" +: dCols.map("u_" + _)): _*)
      val stV = st.toDF(("v" +: dCols.map("v_" + _)): _*)
      val j = und.join(stU, Seq("u"), "left").join(stV, Seq("v"), "left")
      val confAggs = dCols.map(c =>
        sum(when(col(s"u_$c").isNotNull && col(s"v_$c").isNotNull &&
          pmod(col(s"u_$c") + col(s"v_$c"), lit(2L)) === 0, 1L)
          .otherwise(0L)).as(s"c_$c"))
      val confRow = j.agg(confAggs.head, confAggs.tail: _*)
      val reachAggs = dCols.map(c => count(col(c)).as(s"r_$c"))
      val reachRow = st.agg(reachAggs.head, reachAggs.tail: _*)
      lm.indices.map { i =>
        confRow.crossJoin(reachRow).select(
          lit(lm(i)).as("landmark"),
          col(s"r_d$i").as("n_reached"),
          col(s"c_d$i").as("n_conflicts"),
          (col(s"c_d$i") === 0L).as("bipartite_in_radius"))
      }.reduce(_ unionByName _).orderBy("landmark")
    }),

    // power-of-2 degree histogram, in/out split — the scale-free-or-not
    // shape check (straight log-log decay = heavy tail) and the skew
    // budget every hub-sensitive operator reads first. log2 is exact at
    // integer inputs (the d_len_hist discipline)
    "gx_degree_hist" -> ((s, dir) => {
      val e = CacheScope.session("gx_union", s, dir)(unionEdges(s, dir))
        .select(col("src"), col("dst"))
      def hist(c: String, dirName: String) =
        e.groupBy(col(c).as("n")).agg(count(lit(1)).as("d"))
          .withColumn("bucket", floor(log2(col("d"))).cast("int"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_nodes"),
            min(col("d")).as("min_d"), max(col("d")).as("max_d"))
          .select(lit(dirName).as("direction"), col("bucket"),
            col("n_nodes"), col("min_d"), col("max_d"))
      hist("src", "out").unionByName(hist("dst", "in"))
        .orderBy("direction", "bucket")
    }),

    // rich-club connectivity: do the hubs talk to each other? At three
    // DATA-ADAPTIVE degree cuts (p50/p75/p90 — percentile==quantile_cont
    // exactly), the fraction of possible hub-hub edges that exist, in
    // milli. φ rising toward the top percentiles = an elite core; the
    // cut frame is 3 broadcast rows, edges carry their endpoint degrees
    // once
    "gx_rich_club" -> ((s, dir) => {
      val e = CacheScope.session("gx_union", s, dir)(unionEdges(s, dir))
        .select(col("src"), col("dst"))
      val und = e.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
        .localCheckpoint(true)
      val deg = und.select(col("u").as("n"))
        .unionByName(und.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val cuts = deg.agg(expr("percentile(d, 0.5D)").as("c50"),
        expr("percentile(d, 0.75D)").as("c75"),
        expr("percentile(d, 0.9D)").as("c90"))
      val cutRows = cuts.select(explode(array(
        struct(lit(500L).as("pct_milli"), col("c50").as("cut")),
        struct(lit(750L).as("pct_milli"), col("c75").as("cut")),
        struct(lit(900L).as("pct_milli"), col("c90").as("cut")))).as("t"))
        .select("t.*")
      val nR = deg.crossJoin(broadcast(cutRows))
        .filter(col("d") > col("cut"))
        .groupBy("pct_milli").agg(count(lit(1)).as("n_rich"))
      val undD = und
        .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
        .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      val ein = undD.crossJoin(broadcast(cutRows))
        .filter(col("du") > col("cut") && col("dv") > col("cut"))
        .groupBy("pct_milli").agg(count(lit(1)).as("n_edges_within"))
      nR.join(ein, Seq("pct_milli"), "left")
        .select(col("pct_milli"), col("n_rich"),
          coalesce(col("n_edges_within"), lit(0L)).as("n_edges_within"),
          expr("""(1000 * coalesce(n_edges_within, CAST(0 AS BIGINT)))
                  div nullif((n_rich * (n_rich - 1)) div 2, 0)""")
            .as("phi_milli"))
        .orderBy("pct_milli")
    }),

    // global clustering coefficient (transitivity): 3·triangles /
    // wedges over the canonical undirected view — the one-row "how
    // clustered is this graph" companion to the per-node gx_clustering.
    // Triangle count is the same x<y<z two-join as the gx_triangles
    // oracle; wedges = Σ d(d−1)/2 over undirected degrees; the ratio is
    // one integer division in milli
    "gx_transitivity" -> ((s, dir) => {
      val e = CacheScope.session("gx_union", s, dir)(unionEdges(s, dir))
        .select(col("src"), col("dst"))
      val und = e.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v")).distinct()
        .localCheckpoint(true)
      val a = und.select(col("u").as("x"), col("v").as("y"))
      val b = und.select(col("u").as("y2"), col("v").as("z"))
      val c = und.select(col("u").as("x3"), col("v").as("z3"))
      val tri = a.join(b, col("y") === col("y2"))
        .join(c, col("x") === col("x3") && col("z") === col("z3"))
        .agg(count(lit(1)).as("n_triangles"))
      val deg = und.select(col("u").as("n"))
        .unionByName(und.select(col("v").as("n")))
        .groupBy("n").agg(count(lit(1)).as("d"))
      val wedges = deg.agg(sum(expr("(d * (d - 1)) div 2")).as("n_wedges"))
      tri.crossJoin(wedges)
        .select(col("n_triangles"), col("n_wedges"),
          expr("(3000 * n_triangles) div n_wedges").as("transitivity_milli"))
    }),

    // hop-distance histogram per landmark — the FOURTH consumer of the
    // one shared landmark-BFS pass (closeness, diameter, bipartiteness,
    // now the distance distribution — the effective-diameter/small-world
    // diagnostic). Rollup is (landmarks × rounds)-sized
    "gx_hopdist" -> ((s, dir) => {
      val (lm, st) = sharedLmBfs(s, dir)
      lm.indices.map { i =>
        st.filter(col(s"d$i").isNotNull)
          .groupBy(col(s"d$i").as("d")).agg(count(lit(1)).as("n_nodes"))
          .select(lit(lm(i)).as("landmark"), col("d"), col("n_nodes"))
      }.reduce(_ unionByName _).orderBy("landmark", "d")
    }),

    // WEIGHTED fixed-point PageRank over the same hash-weighted edges as
    // gx_wsssp (integer weights 1..100): transition mass proportional to
    // edge weight, every step exact i64, the whole iteration unrolled in
    // the oracle — the strength-aware ranking next to gx_pagerank_fp's
    // uniform one
    "gx_pagerank_wfp" -> ((s, dir) => {
      val g = unionGraph(s, dir)
      val we = g.edges.select(col("src"), col("dst"))
        .withColumn("w",
          pmod(graft.functions.TextFunctions.hash60(
            concat(col("src"), lit("|"), col("dst"))), lit(100L)) + 1L)
      GraphOps.weightedFixedPointPageRank(we, g.nodes.select(col("key")),
          iters = 4)
        .select(col("key"), col("r").as("rank_wfp"))
        .orderBy("key")}),

    // bounded weighted SSSP from S1 over hash-weighted union edges
    // (integer weights 1..100 derived from the shared md5 hash family, so
    // the Bellman-Ford relaxations replay exactly in the unrolled oracle)
    "gx_wsssp" -> ((s, dir) => {
      val g = unionGraph(s, dir)
      val we = g.edges.select(col("src"), col("dst"))
        .withColumn("w",
          pmod(graft.functions.TextFunctions.hash60(
            concat(col("src"), lit("|"), col("dst"))), lit(100L)) + 1L)
      GraphOps.weightedSsspBounded(we, g.nodes.select(col("key")), "S1", 4)
        .orderBy("key")}),

    // shortest path distances to the R0 region node (GraphX Pregel)
    "gx_sssp" -> ((s, dir) =>
      GraphXBridge.shortestPathsTo(unionGx(s, dir), "R0")
        .orderBy("key")),

    // HITS hubs & authorities: integer fixed-point with per-round integer
    // max-rescale — the iterative algorithm itself is hash-checked via the
    // unrolled scalar-subquery oracle
    "gx_hits" -> ((s, dir) =>
      GraphOps.hits(unionGraph(s, dir), 3).orderBy("key")),

    // personalized PageRank from S1: sparse reached-set state, integer
    // fixed-point, unrolled-CTE oracle
    "gx_ppr" -> ((s, dir) =>
      GraphOps.personalizedPageRank(unionGraph(s, dir), "S1", 4)
        .orderBy("key")),

    // deterministic hash-driven walks from every supplier node (the
    // DeepWalk corpus-generation step, RNG replaced by the shared hash
    // family so each path row is hash-checked)
    "gx_walks" -> ((s, dir) => {
      val g = unionGraph(s, dir)
      GraphOps.hashWalks(
          g.edges.select(col("src"), col("dst")),
          g.nodes.filter(col("key").startsWith("S")).select(col("key")), 4)
        .orderBy("start", "step", "node")}),

    // node2vec-style SECOND-ORDER biased walks (the DeepWalk upgrade
    // every graph-embedding pipeline actually ships): return/triangle/
    // forward neighbors weighted 1/2/1 (the (p,q)=(2,2) shape) with the
    // choice an exact integer cumulative-range lookup on the shared md5
    // hash family — fully deterministic, so every path row hash-checks
    // against the unrolled-CTE replay
    "gx_walks_n2v" -> ((s, dir) =>
      sharedWalks(s, dir).orderBy("start", "step", "node")),

    // SKIP-GRAM training pairs from the node2vec walks — the step that
    // turns graph walks into embedding-trainer rows: window-2 positive
    // co-occurrences + 2 DETERMINISTIC hash-drawn negatives per positive
    // from the rank-indexed node vocabulary (reproducible negative
    // sampling, no RNG). The graph→training-data bridge, end-to-end
    // hash-gated
    "gx_walk_pairs" -> ((s, dir) =>
      GraphOps.skipGramPairs(sharedWalks(s, dir),
          unionGraph(s, dir).nodes.select(col("key")))
        .orderBy("start", "i", "j", "label", "neg_k")),

    // local clustering coefficient in integer micro-units:
    // 2e6·T(v) div (deg·(deg-1)) over the undirected distinct-neighbor
    // degree — exact integer ratio, no float division
    "gx_clustering" -> ((s, dir) => {
      val tri = GraphXBridge.triangleCounts(unionGx(s, dir))
      val e0 = unionGraph(s, dir).edges.select(col("src"), col("dst"))
      val deg = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .filter(col("src") =!= col("dst")).distinct()
        .groupBy(col("src").as("key")).agg(count(lit(1)).as("deg"))
      tri.join(deg, Seq("key"), "left")
        .select(col("key"),
          when(coalesce(col("deg"), lit(0L)) >= 2,
            expr("(2000000 * cast(triangles as bigint)) div (deg * (deg - 1))"))
            .otherwise(lit(0L)).as("cc_micro"))
        .orderBy("key")}),

    // Adamic-Adar link prediction: top-100 candidate pairs by summed
    // integer micro-units of 1/ln(deg(common neighbor)), hub middles
    // above the p90 degree excluded (the data-adaptive scale guard)
    "gx_adamic" -> ((s, dir) =>
      GraphOps.adamicAdar(unionGraph(s, dir), 100, hubCapPercentile = 0.9,
        canonFrom = Some(sharedUnd(s, dir)))),

    // out-in degree assortativity: per-edge (out_deg(src), in_deg(dst))
    // pairs reduced to one row of exact BIGINT sufficient statistics
    // (m, Σx, Σy, Σxy, Σx², Σy²) plus the Pearson coefficient derived
    // from them in integer micro-units. All engine-divergence risk is
    // confined to the single-row double step, where both engines apply
    // the same correctly-rounded *,−,/,sqrt ops to identical integers —
    // floor() is IEEE-exact, unlike round() — so the hash is stable.
    "gx_assort" -> ((s, dir) => {
      val e = CacheScope.session("gx_union", s, dir)(unionEdges(s, dir))
        .select("src", "dst")
      val od = e.groupBy(col("src").as("k1")).agg(count(lit(1)).as("x"))
      val id = e.groupBy(col("dst").as("k2")).agg(count(lit(1)).as("y"))
      val st = e.join(od, col("src") === col("k1"))
        .join(id, col("dst") === col("k2"))
        .agg(count(lit(1)).as("n_edges"),
          sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
          sum(col("x") * col("y")).as("sum_xy"),
          sum(col("x") * col("x")).as("sum_xx"),
          sum(col("y") * col("y")).as("sum_yy"))
      def d(c: String) = col(c).cast("double")
      st.withColumn("assort_micro",
        floor(lit(1000000.0) *
          (d("n_edges") * d("sum_xy") - d("sum_x") * d("sum_y")) /
          sqrt((d("n_edges") * d("sum_xx") - d("sum_x") * d("sum_x")) *
               (d("n_edges") * d("sum_yy") - d("sum_y") * d("sum_y"))))
          .cast("long"))
    }),

    // k-truss peel on the union graph (k=3, 2 bounded rounds): the
    // edge-level analog of gx_kcore — same-nation S-C-N triangles
    // survive, cross-nation trade edges cascade out as their triangle
    // support vanishes round by round; every surviving edge and its
    // final support hash-checked against the fully unrolled replay
    "gx_ktruss" -> ((s, dir) =>
      GraphOps.kTruss(unionGraph(s, dir), k = 3, rounds = 2)
        .orderBy("u", "v")),

    // functional-graph labeling by POINTER DOUBLING (the O(log n)
    // list-ranking pattern a 100 TB engine uses on successor chains):
    // planted successor f(i) = (i² + 1) mod n over the doc ids — a
    // Pollard-rho-style map with tails and multiple cycles — labeled in
    // 16 doubling rounds; every node's cycle representative and basin
    // size hash-checked against the fully unrolled SQL replay
    "gx_funcgraph" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val n = d.count()
      val succ = d.select(col("doc_id").as("node"),
        expr(s"(doc_id * doc_id + 1) % $n").as("succ"))
      // probeFrom > rounds: ρ-map cycles are ~√n-length (not powers of
      // two), so the fixpoint probe can never fire — skip it (r19)
      GraphOps.pointerDoublingLabels(succ, probeFrom = 17).orderBy("node")}),

    // strongly connected components of the same planted functional graph:
    // Spark derives SCCs from the pointer-doubling state (cycles = image
    // of the 2^16-step jump; tails are singletons), while the oracle uses
    // the DEFINITION (recursive mutual reachability) — a hash match
    // cross-validates two independent formalizations of SCC
    "gx_scc" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      val n = d.count()
      val succ = d.select(col("doc_id").as("node"),
        expr(s"(doc_id * doc_id + 1) % $n").as("succ"))
      // same probe-skip as gx_funcgraph: non-power-of-two cycles (r19)
      GraphOps.functionalScc(succ, probeFrom = 17).orderBy("node")}),

    // 2-hop traversal (BFS-by-join) on the union graph
    "g_two_hop" -> ((s, dir) =>
      GraphOps.kHopNeighbors(unionGraph(s, dir), "S1", 2).orderBy("key")),

    // weighted adjacency: the reference's declared-unimplemented weight=
    // parameter, realized on the part graph (value = total quantity)
    "g_adjacency_weighted" -> ((s, dir) =>
      GraphOps.weightedAdjacencyCoo(
        KinGraph.fromEdges(CacheScope.session("part", s, dir)(Tables.partEdges(s, dir))),
        "quantity")
        .orderBy("row_id", "col_id"))
  )

  private val partCte =
    """WITH pe AS MATERIALIZED (
      |  SELECT 'S' || CAST(l_suppkey AS VARCHAR) AS src,
      |         'P' || CAST(l_partkey AS VARCHAR) AS dst,
      |         sum(l_quantity) AS quantity
      |  FROM lineitem GROUP BY 1, 2
      |), pn AS MATERIALIZED (
      |  SELECT src AS key FROM pe UNION SELECT dst AS key FROM pe
      |)""".stripMargin

  /** Louvain one-level refinement CTE chain (rides after the l5 LPA
    * CTEs): lvund/lvm/lvdeg/lvdsum feed the gain computation; the final
    * per-node verdict lands in `lvout`(key, label0, label1, gain_num).
    * Shared by the gx_louvain1 and gx_louvain_q oracles. */
  private val louvainCtes: String =
    """lvund AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
      |  FROM ue WHERE src <> dst
      |), lvm AS (
      |  SELECT CAST(count(*) AS BIGINT) AS m FROM lvund
      |), lvdeg AS (
      |  SELECT key, CAST(count(*) AS BIGINT) AS ki FROM (
      |    SELECT u AS key FROM lvund UNION ALL SELECT v FROM lvund)
      |  GROUP BY key
      |), lvdsum AS (
      |  SELECT l.label, CAST(sum(d.ki) AS BIGINT) AS dsum
      |  FROM l5 l JOIN lvdeg d ON d.key = l.key GROUP BY l.label
      |), lvadj AS (
      |  SELECT u AS key, v AS nb FROM lvund
      |  UNION ALL SELECT v, u FROM lvund
      |), lvlic AS (
      |  SELECT a.key, l.label AS nbl, CAST(count(*) AS BIGINT) AS lc
      |  FROM lvadj a JOIN l5 l ON l.key = a.nb GROUP BY a.key, l.label
      |), lvbase AS (
      |  SELECT l.key, l.label AS l0, d.ki, s.dsum AS da,
      |    coalesce(o.lc, 0) AS lown
      |  FROM l5 l JOIN lvdeg d ON d.key = l.key
      |  JOIN lvdsum s ON s.label = l.label
      |  LEFT JOIN lvlic o ON o.key = l.key AND o.nbl = l.label
      |), lvcand AS (
      |  SELECT b.key, b.l0, c.nbl,
      |    4 * lvm.m * (c.lc - b.lown) - 2 * b.ki * (s2.dsum - b.da + b.ki) AS gain
      |  FROM lvbase b JOIN lvlic c ON c.key = b.key AND c.nbl <> b.l0
      |  JOIN lvdsum s2 ON s2.label = c.nbl, lvm
      |), lvbest AS (
      |  SELECT key, nbl, gain FROM (
      |    SELECT key, nbl, gain,
      |      row_number() OVER (PARTITION BY key ORDER BY gain DESC, nbl) AS rn
      |    FROM lvcand) WHERE rn = 1
      |), lvout AS MATERIALIZED (
      |  SELECT b.key, b.l0 AS label0,
      |    CASE WHEN coalesce(lvbest.gain, 0) > 0 THEN lvbest.nbl ELSE b.l0 END AS label1,
      |    CAST(CASE WHEN coalesce(lvbest.gain, 0) > 0 THEN lvbest.gain ELSE 0 END AS BIGINT) AS gain_num
      |  FROM lvbase b LEFT JOIN lvbest ON lvbest.key = b.key
      |)""".stripMargin

  val oracles: Map[String, String] = Map(
    // gx_pagerank gates the node set the GraphX run ranks (scores are
    // float — covered by gx_pagerank_rank / gx_pagerank_fp / GraphXSpec)
    "gx_pagerank" ->
      s"""$cte
         |SELECT key FROM un ORDER BY key""".stripMargin,

    // undirected connected components via recursive min-label propagation
    // (the gx_sssp recursive-CTE technique): reach(key, label) closes over
    // the undirected edge set; component = min key label reaching the node
    "gx_cc" ->
      s"""$cte, ud AS (
         |  SELECT src, dst FROM ue UNION SELECT dst, src FROM ue
         |), rch AS (
         |  WITH RECURSIVE reach(key, label) AS (
         |    SELECT key, key FROM un
         |    UNION
         |    SELECT e.dst, r.label FROM reach r JOIN ud e ON e.src = r.key
         |  ) SELECT key, min(label) AS component FROM reach GROUP BY key
         |)
         |SELECT key, component FROM rch ORDER BY key""".stripMargin,

    "gx_pagerank_fp" ->
      s"""$cte, ${GraphOps.fixedPointPageRankSql("ue", "un", 5)}
         |SELECT key, r AS rank_fp FROM r5 ORDER BY key""".stripMargin,

    // the fp replay ranks itself; gx_agree = 1 everywhere IS the gate —
    // the Spark side computes it from the live GraphX ranking
    "gx_pagerank_rank" ->
      s"""$cte, ${GraphOps.fixedPointPageRankSql("ue", "un", 5)},
         |top AS (
         |  SELECT key, r, CAST(row_number() OVER (ORDER BY r DESC, key) AS INT) AS pos
         |  FROM r5)
         |SELECT pos, key, r AS rank_fp, 1 AS gx_agree
         |FROM top WHERE pos <= 50 ORDER BY pos""".stripMargin,

    "gx_labelprop" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)}
         |SELECT key, label FROM l5 ORDER BY key""".stripMargin,

    "gx_katz" ->
      s"""$cte, ${GraphOps.fixedPointKatzSql("ue", "un", 5)}
         |SELECT key, x AS katz FROM x5 ORDER BY key""".stripMargin,

    "gx_anf_growth" ->
      s"""$cte, agu AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), agadj AS MATERIALIZED (
         |  SELECT u AS key, v AS nb FROM agu UNION ALL SELECT v, u FROM agu
         |), agn AS (
         |  SELECT u AS key FROM agu UNION SELECT v FROM agu
         |), ${GraphOps.hyperAnfSql("agadj", "agn", 1, "g1")},
         |${GraphOps.hyperAnfSql("agadj", "agn", 2, "g2")},
         |${GraphOps.hyperAnfSql("agadj", "agn", 3, "g3")},
         |agall AS (
         |  SELECT 1 AS round, * FROM g1est
         |  UNION ALL SELECT 2, * FROM g2est
         |  UNION ALL SELECT 3, * FROM g3est
         |)
         |SELECT CAST(round AS INT) AS round,
         |  CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(sum(reg_sum) AS BIGINT) AS tot_reg,
         |  CAST(sum(est_num) AS BIGINT) AS tot_est_num
         |FROM agall GROUP BY round ORDER BY round""".stripMargin,

    "gx_treach" ->
      s"""WITH trc AS MATERIALIZED (
         |  SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS a,
         |    'C' || CAST(o_custkey AS VARCHAR) AS b,
         |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS t
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |), tre AS MATERIALIZED (
         |  SELECT a AS src, b AS dst, t FROM trc
         |  UNION ALL SELECT b, a, t FROM trc
         |), trs AS (
         |  SELECT key FROM (SELECT DISTINCT a AS key FROM trc)
         |  ORDER BY ${graft.functions.TextFunctions.hash60Sql("key")}, key
         |  LIMIT 3
         |), ${GraphOps.temporalReachabilitySql("tre", "trs", 4)}
         |SELECT key, arr FROM tr4 ORDER BY key""".stripMargin,

    "gx_bowtie" ->
      s"""WITH bte AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
         |    FROM lineitem a JOIN lineitem b
         |      ON b.l_orderkey = a.l_orderkey
         |     AND b.l_linenumber = a.l_linenumber + 1
         |    WHERE a.l_partkey <> b.l_partkey)
         |  WHERE ${graft.functions.TextFunctions.hash60Sql(
              "CAST(src AS VARCHAR) || '|' || CAST(dst AS VARCHAR)")} % 8 = 0
         |), btn AS MATERIALIZED (
         |  SELECT DISTINCT k AS key FROM (
         |    SELECT src AS k FROM bte UNION ALL SELECT dst FROM bte)
         |), bts AS (
         |  SELECT key FROM btn
         |  ORDER BY ${graft.functions.TextFunctions.hash60Sql(
              "CAST(key AS VARCHAR)")}, key
         |  LIMIT 3
         |), ${GraphOps.bowtieCensusSql("bte", "bts", "btn", 4)}""".stripMargin,

    "gx_triads" ->
      """WITH tse AS MATERIALIZED (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        |  FROM lineitem a JOIN lineitem b
        |    ON b.l_orderkey = a.l_orderkey
        |   AND b.l_linenumber = a.l_linenumber + 1
        |  WHERE a.l_partkey <> b.l_partkey
        |), tsn AS (
        |  SELECT CAST(count(DISTINCT k) AS BIGINT) AS n_nodes FROM (
        |    SELECT src AS k FROM tse UNION ALL SELECT dst FROM tse)
        |), tsne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM tse),
        |tsr AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_recip
        |  FROM tse f JOIN tse r ON f.src = r.dst AND f.dst = r.src
        |), tsc AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_cyc3
        |  FROM tse e1 JOIN tse e2 ON e2.src = e1.dst
        |  JOIN tse e3 ON e3.src = e2.dst AND e3.dst = e1.src
        |  WHERE e1.src < e1.dst AND e1.src < e2.dst
        |), tst AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_trans3
        |  FROM tse e1 JOIN tse e2 ON e2.src = e1.dst
        |  JOIN tse e3 ON e3.src = e1.src AND e3.dst = e2.dst
        |  WHERE e1.src <> e2.dst
        |)
        |SELECT n_nodes, n_edges, n_recip, n_cyc3, n_trans3,
        |  CAST(coalesce((1000 * n_recip) // nullif(n_edges, CAST(0 AS BIGINT)),
        |                CAST(0 AS BIGINT)) AS BIGINT) AS recip_milli
        |FROM tsn, tsne, tsr, tsc, tst""".stripMargin,

    "gx_butterfly" -> GraphOps.butterflyCensusSql(
      "(SELECT l_partkey AS src, l_suppkey AS dst FROM lineitem)"),

    "gx_bitruss" -> ("WITH " + GraphOps.bitrussSql(
      "(SELECT l_partkey AS src, o_custkey AS dst FROM lineitem " +
        "JOIN orders ON o_orderkey = l_orderkey WHERE l_partkey % 4 = 0)")),

    "gx_attack" ->
      s"""$cte, aku AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), akd AS MATERIALIZED (
         |  SELECT key, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT u AS key FROM aku UNION ALL SELECT v FROM aku)
         |  GROUP BY key
         |), akc AS (
         |  SELECT quantile_cont(d, 0.9) AS c90 FROM akd
         |), akh AS MATERIALIZED (
         |  SELECT key FROM akd, akc WHERE d > c90
         |), akf AS MATERIALIZED (
         |  SELECT u, v FROM aku
         |  WHERE u NOT IN (SELECT key FROM akh)
         |    AND v NOT IN (SELECT key FROM akh)
         |), aka AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM aku UNION ALL SELECT v, u FROM aku
         |), akfa AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM akf UNION ALL SELECT v, u FROM akf
         |), aks AS MATERIALIZED (
         |  SELECT key FROM akd, akc WHERE d <= c90
         |  ORDER BY ${graft.functions.TextFunctions.hash60Sql(
               "key || 'atk'")}, key
         |  LIMIT 3
         |), ${GraphOps.bfsReachCurveSql("akr", "aka", "aks", 4)},
         |${GraphOps.bfsReachCurveSql("akx", "akfa", "aks", 4)}
         |SELECT variant, round, n_reached FROM (
         |  SELECT 'full' AS variant, 1 AS round,
         |    CAST(count(*) AS BIGINT) AS n_reached FROM akr1
         |  UNION ALL SELECT 'full', 2, CAST(count(*) AS BIGINT) FROM akr2
         |  UNION ALL SELECT 'full', 3, CAST(count(*) AS BIGINT) FROM akr3
         |  UNION ALL SELECT 'full', 4, CAST(count(*) AS BIGINT) FROM akr4
         |  UNION ALL SELECT 'attacked', 1, CAST(count(*) AS BIGINT) FROM akx1
         |  UNION ALL SELECT 'attacked', 2, CAST(count(*) AS BIGINT) FROM akx2
         |  UNION ALL SELECT 'attacked', 3, CAST(count(*) AS BIGINT) FROM akx3
         |  UNION ALL SELECT 'attacked', 4, CAST(count(*) AS BIGINT) FROM akx4
         |) ORDER BY variant, round""".stripMargin,

    "gx_wl" ->
      s"""$cte, wlu AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), wladj AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM wlu UNION ALL SELECT v, u FROM wlu
         |), ${GraphOps.wlRefineSql("wladj", 3)}
         |SELECT w1.key, w1.l AS l1, w2.l AS l2, w3.l AS l3
         |FROM wl1 w1
         |JOIN wl2 w2 ON w2.key = w1.key
         |JOIN wl3 w3 ON w3.key = w1.key
         |ORDER BY w1.key""".stripMargin,

    "gx_anf" ->
      s"""$cte, anfu AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), anfadj AS MATERIALIZED (
         |  SELECT u AS key, v AS nb FROM anfu UNION ALL SELECT v, u FROM anfu
         |), anfn AS (
         |  SELECT u AS key FROM anfu UNION SELECT v FROM anfu
         |), ${GraphOps.hyperAnfSql("anfadj", "anfn", 3, "anf")}
         |SELECT key, nnz, reg_sum, est_num FROM anfest ORDER BY key""".stripMargin,

    // modularity numerators from the same l5 labels: und distinct pairs,
    // symmetric degrees, per-community e_in/deg_sum, q_num = 4m·e_in−d²;
    // the one float step mirrors the Spark op tree exactly (gx_assort
    // discipline: *,/ on exact integers are correctly rounded IEEE)
    "gx_modularity" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)},
         |mund AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), mmm AS (
         |  SELECT CAST(count(*) AS BIGINT) AS m_edges FROM mund
         |), mudg AS (
         |  SELECT key, count(*) AS deg FROM (
         |    SELECT u AS key FROM mund UNION ALL SELECT v FROM mund)
         |  GROUP BY key
         |), mcom AS (
         |  SELECT label, CAST(count(*) AS BIGINT) AS n_nodes FROM l5 GROUP BY label
         |), mein AS (
         |  SELECT la.label, CAST(count(*) AS BIGINT) AS e_in
         |  FROM mund JOIN l5 la ON la.key = mund.u
         |  JOIN l5 lb ON lb.key = mund.v
         |  WHERE la.label = lb.label GROUP BY la.label
         |), mdc AS (
         |  SELECT l.label, CAST(sum(d.deg) AS BIGINT) AS deg_sum
         |  FROM l5 l JOIN mudg d ON d.key = l.key GROUP BY l.label
         |), mrows AS (
         |  SELECT mcom.label, mcom.n_nodes,
         |    coalesce(mein.e_in, 0) AS e_in,
         |    coalesce(mdc.deg_sum, 0) AS deg_sum,
         |    mmm.m_edges,
         |    4 * mmm.m_edges * coalesce(mein.e_in, 0)
         |      - coalesce(mdc.deg_sum, 0) * coalesce(mdc.deg_sum, 0) AS q_num
         |  FROM mcom LEFT JOIN mein ON mein.label = mcom.label
         |  LEFT JOIN mdc ON mdc.label = mcom.label, mmm
         |)
         |SELECT label, n_nodes, e_in, deg_sum, m_edges, CAST(q_num AS BIGINT) AS q_num,
         |  CAST(floor(1000000.0 * CAST(CAST(SUM(q_num) OVER () AS BIGINT) AS DOUBLE)
         |    / ((4.0 * CAST(m_edges AS DOUBLE)) * CAST(m_edges AS DOUBLE)))
         |    AS BIGINT) AS q_total_micro
         |FROM mrows ORDER BY label""".stripMargin,

    // single synchronous pass replayed over the same l5 labels; all
    // gain terms exact integers (see the Spark-side derivation)
    "gx_louvain1" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)}, $louvainCtes
         |SELECT key, label0, label1, gain_num FROM lvout ORDER BY key""".stripMargin,

    "gx_conductance" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)}, $louvainCtes,
         |cdl AS MATERIALIZED (
         |  SELECT key, label1 AS lbl FROM lvout
         |), cdv AS (
         |  SELECT lbl, CAST(count(*) AS BIGINT) AS n_nodes,
         |    CAST(sum(ki) AS BIGINT) AS vol
         |  FROM cdl JOIN lvdeg ON lvdeg.key = cdl.key GROUP BY lbl
         |), cde AS (
         |  SELECT a.lbl, CAST(count(*) AS BIGINT) AS e_in
         |  FROM lvund
         |  JOIN cdl a ON a.key = lvund.u
         |  JOIN cdl b ON b.key = lvund.v
         |  WHERE a.lbl = b.lbl GROUP BY a.lbl
         |)
         |SELECT v.lbl AS label, n_nodes, vol,
         |  vol - 2 * coalesce(e_in, CAST(0 AS BIGINT)) AS cut,
         |  CASE WHEN least(vol, 2 * (SELECT m FROM lvm) - vol) > 0
         |    THEN CAST((1000 * (vol - 2 * coalesce(e_in, CAST(0 AS BIGINT))))
         |      // least(vol, 2 * (SELECT m FROM lvm) - vol) AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS cond_milli
         |FROM cdv v LEFT JOIN cde e ON e.lbl = v.lbl
         |ORDER BY label""".stripMargin,

    // modularity audit of the refinement pass: S = 4m·intra − Σ D_C² in
    // the same 4m² units, before (l5) and after (lvout.label1) the
    // synchronous move pass, plus the move count. The delta is emitted,
    // not sign-asserted — SIMULTANEOUS moves can overshoot (two mutually
    // attracted nodes may swap past each other), and this row makes that
    // property observable rather than assumed.
    "gx_louvain_q" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)}, $louvainCtes,
         |lqdsqb AS (
         |  SELECT CAST(sum(dsum * dsum) AS BIGINT) AS dsq FROM lvdsum
         |), lqintrab AS (
         |  SELECT CAST(count(*) AS BIGINT) AS intra
         |  FROM lvund JOIN l5 a ON a.key = lvund.u JOIN l5 b ON b.key = lvund.v
         |  WHERE a.label = b.label
         |), lqd2 AS (
         |  SELECT l.key, d.ki, o.label1 AS label
         |  FROM l5 l JOIN lvdeg d ON d.key = l.key
         |  JOIN lvout o ON o.key = l.key
         |), lqdsqa AS (
         |  SELECT CAST(sum(ds * ds) AS BIGINT) AS dsq FROM (
         |    SELECT CAST(sum(ki) AS BIGINT) AS ds FROM lqd2 GROUP BY label)
         |), lqintraa AS (
         |  SELECT CAST(count(*) AS BIGINT) AS intra
         |  FROM lvund JOIN lqd2 a ON a.key = lvund.u JOIN lqd2 b ON b.key = lvund.v
         |  WHERE a.label = b.label
         |), lqmoved AS (
         |  SELECT CAST(sum(CASE WHEN label0 <> label1 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
         |  FROM lvout
         |)
         |SELECT lvm.m AS m_edges,
         |  lqintrab.intra AS intra_before, lqdsqb.dsq AS dsq_before,
         |  CAST(4 * lvm.m * lqintrab.intra - lqdsqb.dsq AS BIGINT) AS s_before,
         |  lqintraa.intra AS intra_after, lqdsqa.dsq AS dsq_after,
         |  CAST(4 * lvm.m * lqintraa.intra - lqdsqa.dsq AS BIGINT) AS s_after,
         |  CAST((4 * lvm.m * lqintraa.intra - lqdsqa.dsq)
         |     - (4 * lvm.m * lqintrab.intra - lqdsqb.dsq) AS BIGINT) AS s_delta,
         |  lqmoved.n_moved
         |FROM lvm, lqintrab, lqdsqb, lqintraa, lqdsqa, lqmoved""".stripMargin,


    // weighted twin of the louvain CTE chain: weights from the shared
    // md5-60 family on the canonical lexical pair; every aggregate a
    // weighted BIGINT sum
    "gx_louvain_w" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)},
         |lwu AS (
         |  SELECT u, v,
         |    ${graft.functions.TextFunctions.hash60Sql("u || '|' || v")} % 100 + 1 AS w
         |  FROM (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |        FROM ue WHERE src <> dst)
         |), ${GraphOps.weightedLouvainSql("lwu", "l5", "lw")}
         |SELECT key, label0, label1, gain_num FROM lwout ORDER BY key""".stripMargin,

    // level-1 verdicts (lvout) → weighted contraction with self-loops →
    // the weighted chain on singleton supernode communities → projection
    "gx_louvain2" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)}, $louvainCtes,
         |l2e AS MATERIALIZED (
         |  SELECT least(la.label1, lb.label1) AS u,
         |    greatest(la.label1, lb.label1) AS v,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM lvund JOIN lvout la ON la.key = lvund.u
         |  JOIN lvout lb ON lb.key = lvund.v
         |  GROUP BY 1, 2
         |), l2lab AS (
         |  SELECT DISTINCT label1 AS key, label1 AS label FROM lvout
         |), ${GraphOps.weightedLouvainSql("l2e", "l2lab", "l2")}
         |SELECT o.key, o.label1, p.label1 AS label2
         |FROM lvout o JOIN l2out p ON p.key = o.label1
         |ORDER BY o.key""".stripMargin,

    // Leiden repair replay: recursive min-label closure over the
    // intra-community edge subset only (the gx_cc technique restricted by
    // a label-equality predicate); singleton members seed themselves
    "gx_louvain_cc" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)}, $louvainCtes,
         |lcl AS MATERIALIZED (
         |  SELECT key, label1 AS label FROM lvout
         |), lce AS MATERIALIZED (
         |  SELECT e.u AS src, e.v AS dst FROM lvund e
         |  JOIN lcl a ON a.key = e.u JOIN lcl b ON b.key = e.v
         |  WHERE a.label = b.label
         |), lcd AS (
         |  SELECT src, dst FROM lce UNION SELECT dst, src FROM lce
         |), lcr AS (
         |  WITH RECURSIVE reach(key, lbl) AS (
         |    SELECT key, key FROM lcl
         |    UNION
         |    SELECT e.dst, r.lbl FROM reach r JOIN lcd e ON e.src = r.key
         |  ) SELECT key, min(lbl) AS label_cc FROM reach GROUP BY key
         |), lco AS MATERIALIZED (
         |  SELECT l.key, l.label, r.label_cc
         |  FROM lcl l JOIN lcr r ON r.key = l.key
         |), lcp AS (
         |  SELECT label, CAST(count(DISTINCT label_cc) AS BIGINT) AS n_parts
         |  FROM lco GROUP BY label
         |)
         |SELECT o.key, o.label, o.label_cc, p.n_parts
         |FROM lco o JOIN lcp p ON p.label = o.label
         |ORDER BY o.key""".stripMargin,

    // three-level unroll of the gx_louvain2 chain: level-1 verdicts →
    // weighted contraction → weighted move (l2) → contraction of the
    // WEIGHTED supernode graph by the l2 verdicts → weighted move (l3),
    // plus per-level move counts (the termination trace). The static
    // unroll equals the Spark side's early-stopping loop: a zero-move
    // weighted level leaves both labels and the contracted graph
    // unchanged, so later levels replay identically.
    "gx_louvain_n" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)}, $louvainCtes,
         |lnm1 AS (
         |  SELECT CAST(sum(CASE WHEN label0 <> label1 THEN 1 ELSE 0 END) AS BIGINT) AS moved1
         |  FROM lvout
         |), l2e AS MATERIALIZED (
         |  SELECT least(la.label1, lb.label1) AS u,
         |    greatest(la.label1, lb.label1) AS v,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM lvund JOIN lvout la ON la.key = lvund.u
         |  JOIN lvout lb ON lb.key = lvund.v
         |  GROUP BY 1, 2
         |), l2lab AS (
         |  SELECT DISTINCT label1 AS key, label1 AS label FROM lvout
         |), ${GraphOps.weightedLouvainSql("l2e", "l2lab", "l2")},
         |lnm2 AS (
         |  SELECT CAST(sum(CASE WHEN label0 <> label1 THEN 1 ELSE 0 END) AS BIGINT) AS moved2
         |  FROM l2out
         |), l3e AS MATERIALIZED (
         |  SELECT least(ma.label1, mb.label1) AS u,
         |    greatest(ma.label1, mb.label1) AS v,
         |    CAST(sum(e.w) AS BIGINT) AS w
         |  FROM l2e e JOIN l2out ma ON ma.key = e.u
         |  JOIN l2out mb ON mb.key = e.v
         |  GROUP BY 1, 2
         |), l3lab AS (
         |  SELECT DISTINCT label1 AS key, label1 AS label FROM l2out
         |), ${GraphOps.weightedLouvainSql("l3e", "l3lab", "l3")},
         |lnm3 AS (
         |  SELECT CAST(sum(CASE WHEN label0 <> label1 THEN 1 ELSE 0 END) AS BIGINT) AS moved3
         |  FROM l3out
         |)
         |SELECT o.key, o.label1, p.label1 AS label2, q.label1 AS label3,
         |  lnm1.moved1, lnm2.moved2, lnm3.moved3
         |FROM lvout o JOIN l2out p ON p.key = o.label1
         |JOIN l3out q ON q.key = p.label1, lnm1, lnm2, lnm3
         |ORDER BY o.key""".stripMargin,

    // multi-level payoff replay: the gx_louvain_n chain's labelings fed
    // through the gx_louvain_q stat blocks (lvdeg/lvund shared)
    "gx_louvain_nq" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)}, $louvainCtes,
         |l2e AS MATERIALIZED (
         |  SELECT least(la.label1, lb.label1) AS u,
         |    greatest(la.label1, lb.label1) AS v,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM lvund JOIN lvout la ON la.key = lvund.u
         |  JOIN lvout lb ON lb.key = lvund.v
         |  GROUP BY 1, 2
         |), l2lab AS (
         |  SELECT DISTINCT label1 AS key, label1 AS label FROM lvout
         |), ${GraphOps.weightedLouvainSql("l2e", "l2lab", "l2")},
         |l3e AS MATERIALIZED (
         |  SELECT least(ma.label1, mb.label1) AS u,
         |    greatest(ma.label1, mb.label1) AS v,
         |    CAST(sum(e.w) AS BIGINT) AS w
         |  FROM l2e e JOIN l2out ma ON ma.key = e.u
         |  JOIN l2out mb ON mb.key = e.v
         |  GROUP BY 1, 2
         |), l3lab AS (
         |  SELECT DISTINCT label1 AS key, label1 AS label FROM l2out
         |), ${GraphOps.weightedLouvainSql("l3e", "l3lab", "l3")},
         |nql1 AS MATERIALIZED (
         |  SELECT key, label1 AS label FROM lvout
         |), nql3 AS MATERIALIZED (
         |  SELECT o.key, q.label1 AS label
         |  FROM lvout o JOIN l2out p ON p.key = o.label1
         |  JOIN l3out q ON q.key = p.label1
         |), nqd0 AS (
         |  SELECT CAST(sum(ds * ds) AS BIGINT) AS dsq FROM (
         |    SELECT CAST(sum(d.ki) AS BIGINT) AS ds FROM l5 l
         |    JOIN lvdeg d ON d.key = l.key GROUP BY l.label)
         |), nqi0 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS intra FROM lvund
         |  JOIN l5 a ON a.key = lvund.u JOIN l5 b ON b.key = lvund.v
         |  WHERE a.label = b.label
         |), nqd1 AS (
         |  SELECT CAST(sum(ds * ds) AS BIGINT) AS dsq FROM (
         |    SELECT CAST(sum(d.ki) AS BIGINT) AS ds FROM nql1 l
         |    JOIN lvdeg d ON d.key = l.key GROUP BY l.label)
         |), nqi1 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS intra FROM lvund
         |  JOIN nql1 a ON a.key = lvund.u JOIN nql1 b ON b.key = lvund.v
         |  WHERE a.label = b.label
         |), nqd3 AS (
         |  SELECT CAST(sum(ds * ds) AS BIGINT) AS dsq FROM (
         |    SELECT CAST(sum(d.ki) AS BIGINT) AS ds FROM nql3 l
         |    JOIN lvdeg d ON d.key = l.key GROUP BY l.label)
         |), nqi3 AS (
         |  SELECT CAST(count(*) AS BIGINT) AS intra FROM lvund
         |  JOIN nql3 a ON a.key = lvund.u JOIN nql3 b ON b.key = lvund.v
         |  WHERE a.label = b.label
         |)
         |SELECT lvm.m AS m_edges,
         |  CAST(4 * lvm.m * nqi0.intra - nqd0.dsq AS BIGINT) AS s_l0,
         |  CAST(4 * lvm.m * nqi1.intra - nqd1.dsq AS BIGINT) AS s_l1,
         |  CAST(4 * lvm.m * nqi3.intra - nqd3.dsq AS BIGINT) AS s_l3
         |FROM lvm, nqi0, nqd0, nqi1, nqd1, nqi3, nqd3""".stripMargin,

    "gx_coarsen" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)},
         |cund AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |)
         |SELECT least(la.label, lb.label) AS ca,
         |  greatest(la.label, lb.label) AS cb,
         |  CAST(count(*) AS BIGINT) AS n_edges
         |FROM cund JOIN l5 la ON la.key = cund.u
         |JOIN l5 lb ON lb.key = cund.v
         |GROUP BY 1, 2 ORDER BY ca, cb""".stripMargin,

    "gx_jaccard" ->
      s"""$cte, ${GraphOps.jaccardPairsSql("ue", hubCapPercentile = 0.9)}
         |SELECT a, b, common, jac_milli FROM jpair
         |ORDER BY jac_milli DESC, common DESC, a, b LIMIT 100""".stripMargin,

    "gx_mis" ->
      s"""$cte, ${GraphOps.lubyMisSql("ue", "un", 5)}
         |SELECT key, status, round FROM mres ORDER BY key""".stripMargin,

    "gx_coloring" ->
      s"""$cte, ${GraphOps.jpColoringSql("ue", "un", 6)}
         |SELECT key, color, round FROM kfin ORDER BY key""".stripMargin,

    "gx_matching" ->
      s"""$cte, ${GraphOps.greedyMatchingSql("ue", 4)}
         |SELECT u, v, status, round FROM gres ORDER BY u, v""".stripMargin,

    "gx_msf" ->
      s"""$cte, ${GraphOps.boruvkaForestSql("ue", "un", 4)}
         |SELECT u, v, w, round FROM bfor ORDER BY u, v""".stripMargin,

    "gx_kcore" -> {
      val kExpr =
        "(SELECT min(d) + 2 FROM (SELECT count(*) AS d FROM ud GROUP BY dst))"
      s"""$partCte, ${GraphOps.kCoreSql("pe", "pn", kExpr, 3)}
         |SELECT key FROM a3 ORDER BY key""".stripMargin
    },

    "gx_betweenness" ->
      s"""$cte, uebw AS (
         |  SELECT src, dst FROM ue WHERE src <> dst
         |  UNION SELECT dst, src FROM ue WHERE src <> dst
         |), ${GraphOps.landmarkBetweennessSql("uebw", "un", 3, 3, symmetric = true)}
         |SELECT node AS key, CAST(SUM(sf * sb) AS BIGINT) AS n_paths_through
         |FROM bwj JOIN bwd_min USING (i, j)
         |WHERE df + db = dij AND df > 0 AND db > 0
         |GROUP BY node ORDER BY key""".stripMargin,

    "gx_closeness" ->
      s"""$cte, ${GraphOps.landmarkClosenessSql("ue", "un", 4, 4)}
         |SELECT node AS key, CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(sum(CASE WHEN d > 0 THEN CAST(floor(1000000.0 / d) AS BIGINT)
         |           ELSE 0 END) AS BIGINT) AS harmonic_micro
         |FROM c4 GROUP BY node ORDER BY key""".stripMargin,

    // per-landmark rollup of the same c4 reached set: count + max d per
    // landmark, window-max over the (nLandmarks-row) aggregate for the
    // shared diameter lower bound
    "gx_diameter" ->
      s"""$cte, ${GraphOps.landmarkClosenessSql("ue", "un", 4, 4)}
         |SELECT landmark, CAST(count(*) AS BIGINT) AS n_reached,
         |  CAST(max(d) AS BIGINT) AS ecc_bounded,
         |  CAST(max(CAST(max(d) AS BIGINT)) OVER () AS BIGINT) AS diameter_lb
         |FROM c4 GROUP BY landmark ORDER BY landmark""".stripMargin,

    // conflict edges from the same c4 reached set: equal-parity distance
    // pairs across the distinct canonical undirected edges
    "gx_bipartite" ->
      s"""$cte, ${GraphOps.landmarkClosenessSql("ue", "un", 4, 4)},
         |bund AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), bconf AS (
         |  SELECT cu.landmark, CAST(count(*) AS BIGINT) AS n_conflicts
         |  FROM bund
         |  JOIN c4 cu ON cu.node = bund.u
         |  JOIN c4 cv ON cv.node = bund.v AND cv.landmark = cu.landmark
         |  WHERE (cu.d + cv.d) % 2 = 0
         |  GROUP BY cu.landmark
         |), brch AS (
         |  SELECT landmark, CAST(count(*) AS BIGINT) AS n_reached
         |  FROM c4 GROUP BY landmark
         |)
         |SELECT r.landmark, r.n_reached,
         |  CAST(coalesce(c.n_conflicts, 0) AS BIGINT) AS n_conflicts,
         |  coalesce(c.n_conflicts, 0) = 0 AS bipartite_in_radius
         |FROM brch r LEFT JOIN bconf c ON c.landmark = r.landmark
         |ORDER BY r.landmark""".stripMargin,

    "gx_degree_hist" ->
      s"""$cte, ghall AS (
         |  SELECT 'out' AS direction, CAST(floor(log2(d)) AS INT) AS bucket, d
         |  FROM (SELECT count(*) AS d FROM ue GROUP BY src)
         |  UNION ALL
         |  SELECT 'in', CAST(floor(log2(d)) AS INT), d
         |  FROM (SELECT count(*) AS d FROM ue GROUP BY dst)
         |)
         |SELECT direction, bucket, CAST(count(*) AS BIGINT) AS n_nodes,
         |  CAST(min(d) AS BIGINT) AS min_d, CAST(max(d) AS BIGINT) AS max_d
         |FROM ghall GROUP BY direction, bucket
         |ORDER BY direction, bucket""".stripMargin,

    "gx_rich_club" ->
      s"""$cte, rund AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), rdeg AS MATERIALIZED (
         |  SELECT n, count(*) AS d FROM (
         |    SELECT u AS n FROM rund UNION ALL SELECT v FROM rund)
         |  GROUP BY n
         |), rcuts AS MATERIALIZED (
         |  SELECT CAST(500 AS BIGINT) AS pct_milli, quantile_cont(d, 0.5) AS cut FROM rdeg
         |  UNION ALL
         |  SELECT 750, quantile_cont(d, 0.75) FROM rdeg
         |  UNION ALL
         |  SELECT 900, quantile_cont(d, 0.9) FROM rdeg
         |), rrich AS (
         |  SELECT c.pct_milli, CAST(count(*) AS BIGINT) AS n_rich
         |  FROM rdeg d, rcuts c WHERE d.d > c.cut GROUP BY 1
         |), rein AS (
         |  SELECT c.pct_milli, CAST(count(*) AS BIGINT) AS n_edges_within
         |  FROM rund e
         |  JOIN rdeg du ON du.n = e.u JOIN rdeg dv ON dv.n = e.v, rcuts c
         |  WHERE du.d > c.cut AND dv.d > c.cut GROUP BY 1
         |)
         |SELECT r.pct_milli, r.n_rich,
         |  CAST(coalesce(e.n_edges_within, 0) AS BIGINT) AS n_edges_within,
         |  CAST((1000 * coalesce(e.n_edges_within, 0))
         |    // nullif((r.n_rich * (r.n_rich - 1)) // 2, 0) AS BIGINT) AS phi_milli
         |FROM rrich r LEFT JOIN rein e ON e.pct_milli = r.pct_milli
         |ORDER BY r.pct_milli""".stripMargin,

    "gx_transitivity" ->
      s"""$cte, tund AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), ttri AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM tund a JOIN tund b ON b.u = a.v
         |  JOIN tund c ON c.u = a.u AND c.v = b.v
         |), twdg AS (
         |  SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS n_wedges FROM (
         |    SELECT n, count(*) AS d FROM (
         |      SELECT u AS n FROM tund UNION ALL SELECT v FROM tund)
         |    GROUP BY n)
         |)
         |SELECT n_triangles, n_wedges,
         |  CAST((3000 * n_triangles) // n_wedges AS BIGINT) AS transitivity_milli
         |FROM ttri, twdg""".stripMargin,

    "gx_hopdist" ->
      s"""$cte, ${GraphOps.landmarkClosenessSql("ue", "un", 4, 4)}
         |SELECT landmark, CAST(d AS BIGINT) AS d,
         |  CAST(count(*) AS BIGINT) AS n_nodes
         |FROM c4 GROUP BY landmark, d ORDER BY landmark, d""".stripMargin,

    "gx_wsssp" -> {
      val w = s"${graft.functions.TextFunctions.hash60Sql("src || '|' || dst")} % 100 + 1"
      s"""$cte, we AS (
         |  SELECT src, dst, CAST($w AS BIGINT) AS w FROM ue
         |), ${GraphOps.weightedSsspSql("we", "un", "S1", 4)}
         |SELECT key, d FROM d4 WHERE d IS NOT NULL ORDER BY key""".stripMargin
    },

    "gx_pagerank_wfp" -> {
      val w = s"${graft.functions.TextFunctions.hash60Sql("src || '|' || dst")} % 100 + 1"
      s"""$cte, we AS (
         |  SELECT src, dst, CAST($w AS BIGINT) AS w FROM ue
         |), ${GraphOps.weightedFixedPointPageRankSql("we", "un", 4)}
         |SELECT key, r AS rank_wfp FROM wr4 ORDER BY key""".stripMargin
    },

    "gx_hits" ->
      s"""$cte, ${GraphOps.hitsSql("ue", "un", 3)}
         |SELECT h3.key, h3.v AS hub, a3.v AS auth
         |FROM h3 JOIN a3 ON h3.key = a3.key ORDER BY h3.key""".stripMargin,

    "gx_ppr" ->
      s"""$cte, ${GraphOps.personalizedPageRankSql("ue", "un", "S1", 4)}
         |SELECT key, r FROM p4 ORDER BY key""".stripMargin,

    "gx_walks" ->
      s"""$cte, ${GraphOps.hashWalksSql("ue",
             "SELECT key FROM un WHERE key LIKE 'S%'", 4)}
         |SELECT start, step, node FROM (
         |${GraphOps.hashWalksPathSql(4)}
         |) ORDER BY start, step, node""".stripMargin,

    "gx_walks_n2v" ->
      s"""$cte, ${GraphOps.node2vecWalksSql("ue",
             "SELECT key FROM un WHERE key LIKE 'S%'", 4)}
         |SELECT start, step, node FROM (
         |${GraphOps.node2vecWalksPathSql(4)}
         |) ORDER BY start, step, node""".stripMargin,

    "gx_walk_pairs" ->
      s"""$cte, ${GraphOps.node2vecWalksSql("ue",
             "SELECT key FROM un WHERE key LIKE 'S%'", 4)},
         |wpp AS MATERIALIZED (
         |SELECT start, step, node FROM (
         |${GraphOps.node2vecWalksPathSql(4)}
         |)
         |), wpw AS (
         |  SELECT a.start, a.step AS i, b.step AS j,
         |    a.node AS center, b.node AS context
         |  FROM wpp a JOIN wpp b ON a.start = b.start
         |    AND a.step <> b.step AND abs(a.step - b.step) <= 2
         |), wpn AS (
         |  SELECT key, CAST(row_number() OVER (ORDER BY key) - 1 AS BIGINT) AS rk
         |  FROM un
         |), wpc AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM un
         |), wpneg AS (
         |  SELECT w.start, w.i, w.j, w.center, r.key AS context,
         |    0 AS label, CAST(k.k AS INT) AS neg_k
         |  FROM wpw w
         |  CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS k) k
         |  CROSS JOIN wpc
         |  JOIN wpn r ON r.rk =
         |    ${graft.functions.TextFunctions.hash60Sql(
                "w.center || '|' || w.context || '|' || CAST(k.k AS VARCHAR) || '|neg'")} % wpc.n
         |)
         |SELECT start, i, j, center, context, 1 AS label, 0 AS neg_k FROM wpw
         |UNION ALL
         |SELECT start, i, j, center, context, label, neg_k FROM wpneg
         |ORDER BY start, i, j, label, neg_k""".stripMargin,

    "gx_clustering" ->
      s"""$cte, und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), tri AS MATERIALIZED (
         |  SELECT a.u AS x, a.v AS y, b.v AS z
         |  FROM und a JOIN und b ON b.u = a.v
         |  JOIN und c ON c.u = a.u AND c.v = b.v
         |), pernode AS MATERIALIZED (
         |  SELECT node, count(*) AS t FROM (
         |    SELECT x AS node FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri)
         |  GROUP BY node
         |), udg AS MATERIALIZED (
         |  SELECT src AS key, count(*) AS deg FROM (
         |    SELECT src, dst FROM ue WHERE src <> dst
         |    UNION SELECT dst, src FROM ue WHERE src <> dst)
         |  GROUP BY src
         |)
         |SELECT un.key,
         |  CASE WHEN coalesce(udg.deg, 0) >= 2
         |       THEN CAST((2000000 * CAST(coalesce(p.t, 0) AS BIGINT))
         |                 // (udg.deg * (udg.deg - 1)) AS BIGINT)
         |       ELSE CAST(0 AS BIGINT) END AS cc_micro
         |FROM un LEFT JOIN pernode p ON un.key = p.node
         |LEFT JOIN udg ON un.key = udg.key
         |ORDER BY un.key""".stripMargin,

    "gx_adamic" ->
      s"""$cte, ${GraphOps.adamicAdarSql("ue", hubCapPercentile = 0.9)}
         |SELECT a, b, score_micro, common FROM apair
         |ORDER BY score_micro DESC, a, b LIMIT 100""".stripMargin,

    "gx_sssp" ->
      s"""$cte, rev AS (
         |  WITH RECURSIVE r(key, d) AS (
         |    SELECT 'R0' AS key, 0 AS d
         |    UNION ALL
         |    SELECT e.src, r.d + 1 FROM r JOIN ue e ON e.dst = r.key
         |  ) SELECT key, min(d) AS dist FROM r GROUP BY key
         |)
         |SELECT key, CAST(dist AS INT) AS dist FROM rev ORDER BY key""".stripMargin,

    "g_two_hop" ->
      s"""$cte SELECT DISTINCT e2.dst AS key
         |FROM ue e1 JOIN ue e2 ON e1.dst = e2.src
         |WHERE e1.src = 'S1' ORDER BY key""".stripMargin,

    "g_adjacency_weighted" ->
      s"""$partCte, ids AS (
         |  SELECT key, row_number() OVER (ORDER BY key) - 1 AS id FROM pn)
         |SELECT a.id AS row_id, b.id AS col_id, pe.quantity AS value
         |FROM pe JOIN ids a ON pe.src = a.key JOIN ids b ON pe.dst = b.key
         |ORDER BY row_id, col_id""".stripMargin,

    "gx_ari" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)},
         |wlu AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), wladj AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM wlu UNION ALL SELECT v, u FROM wlu
         |), ${GraphOps.wlRefineSql("wladj", 1)},
         |arpa AS (SELECT key, label AS la FROM l5),
         |arpb AS (SELECT key, CAST(l AS VARCHAR) AS lb FROM wl1),
         |${GraphOps.adjustedRandIndexSql("arpa", "arpb")}""".stripMargin,

    "gx_nmi" ->
      s"""$cte, ${GraphOps.labelPropagationSql("ue", "un", 5)},
         |wlu AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), wladj AS MATERIALIZED (
         |  SELECT u AS a, v AS b FROM wlu UNION ALL SELECT v, u FROM wlu
         |), ${GraphOps.wlRefineSql("wladj", 1)},
         |arpa AS (SELECT key, label AS la FROM l5),
         |arpb AS (SELECT key, CAST(l AS VARCHAR) AS lb FROM wl1),
         |${GraphOps.normalizedMutualInfoSql("arpa", "arpb")}""".stripMargin,

    "gx_embed" ->
      s"""$cte, und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), ${GraphOps.edgeSupportHistSql("und")}""".stripMargin,

    "gx_triangles" ->
      s"""$cte, und AS MATERIALIZED (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM ue WHERE src <> dst
         |), tri AS MATERIALIZED (
         |  SELECT a.u AS x, a.v AS y, b.v AS z
         |  FROM und a JOIN und b ON b.u = a.v
         |  JOIN und c ON c.u = a.u AND c.v = b.v
         |), pernode AS MATERIALIZED (
         |  SELECT node, count(*) AS t FROM (
         |    SELECT x AS node FROM tri
         |    UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri)
         |  GROUP BY node
         |)
         |SELECT un.key, CAST(coalesce(p.t, 0) AS INT) AS triangles
         |FROM un LEFT JOIN pernode p ON un.key = p.node
         |ORDER BY un.key""".stripMargin,

    // same left-to-right association as the Spark column expression:
    // (1e6 * (m·Σxy − Σx·Σy)) / sqrt(...) — identical double ops on
    // identical integers, floor is IEEE-exact in both engines
    "gx_assort" ->
      s"""$cte, od AS (SELECT src, count(*) AS x FROM ue GROUP BY src),
         |idg AS (SELECT dst, count(*) AS y FROM ue GROUP BY dst),
         |st AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_edges,
         |    CAST(sum(x) AS BIGINT) AS sum_x, CAST(sum(y) AS BIGINT) AS sum_y,
         |    CAST(sum(x * y) AS BIGINT) AS sum_xy,
         |    CAST(sum(x * x) AS BIGINT) AS sum_xx,
         |    CAST(sum(y * y) AS BIGINT) AS sum_yy
         |  FROM ue JOIN od USING (src) JOIN idg USING (dst)
         |)
         |SELECT *, CAST(floor(1000000.0 *
         |  (CAST(n_edges AS DOUBLE) * CAST(sum_xy AS DOUBLE)
         |     - CAST(sum_x AS DOUBLE) * CAST(sum_y AS DOUBLE)) /
         |  sqrt((CAST(n_edges AS DOUBLE) * CAST(sum_xx AS DOUBLE)
         |          - CAST(sum_x AS DOUBLE) * CAST(sum_x AS DOUBLE))
         |     * (CAST(n_edges AS DOUBLE) * CAST(sum_yy AS DOUBLE)
         |          - CAST(sum_y AS DOUBLE) * CAST(sum_y AS DOUBLE))))
         |  AS BIGINT) AS assort_micro
         |FROM st""".stripMargin,

    "gx_ktruss" ->
      s"""$cte, ${GraphOps.kTrussSql("ue", 3, 2)}""",

    "gx_funcgraph" ->
      s"""WITH fs AS (
         |  SELECT doc_id AS node,
         |    (doc_id * doc_id + 1) % (SELECT count(*) FROM documents) AS succ
         |  FROM documents
         |), ${GraphOps.pointerDoublingSql()}
         |ORDER BY node""".stripMargin,

    "gx_scc" ->
      s"""WITH fs AS (
         |  SELECT doc_id AS node,
         |    (doc_id * doc_id + 1) % (SELECT count(*) FROM documents) AS succ
         |  FROM documents
         |), ${GraphOps.functionalSccSql()}
         |ORDER BY node""".stripMargin,

    "gx_degrees" ->
      s"""$cte, od AS (SELECT src, count(*) AS d FROM ue GROUP BY src),
         |idg AS (SELECT dst, count(*) AS d FROM ue GROUP BY dst)
         |SELECT un.key,
         |CAST(coalesce(od.d, 0) AS INT) AS out_degree,
         |CAST(coalesce(idg.d, 0) AS INT) AS in_degree
         |FROM un LEFT JOIN od ON un.key = od.src
         |LEFT JOIN idg ON un.key = idg.dst
         |ORDER BY un.key""".stripMargin
  )
}
