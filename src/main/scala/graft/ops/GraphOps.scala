package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{CacheScope, KinGraph}

/** Batched traversal / aggregation operators beyond the reference's
  * point-wise surface — the set-oriented forms a Spark engine should offer.
  */
object GraphOps {

  /** All nodes reachable from `start` in exactly `k` hops (distinct), as a
    * 1-column DataFrame (`key`). Each hop is one semi-join-shaped
    * shuffle: frontier ⋈ edges on src. BFS-by-join, no driver loop over
    * rows — the loop is over k (plan depth k, bounded and small). */
  def kHopNeighbors(g: KinGraph, start: String, k: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    var frontier = g.edges.filter(col("src") === start)
      .select(col("dst").as("key")).distinct()
    for (_ <- 2 to k) {
      frontier = g.edges
        .join(frontier, g.edges("src") === frontier("key"), "left_semi")
        .select(col("dst").as("key")).distinct()
    }
    frontier
  }

  /** Nodes within <= k hops (the BFS closure minus the start node). */
  def withinKHops(g: KinGraph, start: String, k: Int): DataFrame = {
    var reached = g.edges.filter(col("src") === start)
      .select(col("dst").as("key")).distinct()
    var frontier = reached
    for (_ <- 2 to k) {
      val next = g.edges
        .join(frontier, g.edges("src") === frontier("key"), "left_semi")
        .select(col("dst").as("key")).distinct()
      frontier = next.except(reached)
      reached = reached.union(frontier).distinct()
    }
    reached
  }

  /** Weighted adjacency COO — implements the `weight=` parameter the
    * reference declares NOT IMPLEMENTED (graph.py:1192): value = the named
    * edge-attribute column (summed across duplicate (src,dst) pairs). */
  def weightedAdjacencyCoo(g: KinGraph, weightCol: String): DataFrame = {
    // Same shape as KinGraph.adjacencyCoo: the id mapping feeds two joins,
    // so it is materialized once (a checkpoint) — otherwise the
    // global sort + zipWithIndex re-runs per branch. The weight aggregation
    // runs AFTER the id joins, keyed on compact (long, long) ids: with the
    // checkpointed ids broadcast by AQE, the map side stays narrow and the
    // only wide shuffle moves (long, long, double) rows.
    val ids = CacheScope.checkpoint(g.denseIds)
    g.edges
      .join(ids.withColumnRenamed("key", "src").withColumnRenamed("id", "row_id"), "src")
      .join(ids.withColumnRenamed("key", "dst").withColumnRenamed("id", "col_id"), "dst")
      .groupBy(col("row_id"), col("col_id"))
      .agg(sum(col(weightCol)).as("value"))
  }

  /** Row limit under which a loop's node-sized state joins as an explicit
    * broadcast (see `regime`). */
  private val NodeLimit = 5000000L

  /** The broadcast regime of one message-passing op. When `small`, the
    * node-sized frames `bc` wraps join as explicit broadcasts, so a round
    * is narrow over the op's cached, pre-partitioned edge set; otherwise
    * both sides fall back to declarative joins — ranks/labels/distances
    * shuffle-partition on key, the only correct plan once the state no
    * longer fits on one executor. */
  private final case class Regime(small: Boolean) {
    def bc(df: DataFrame): DataFrame = if (small) broadcast(df) else df
  }

  /** The one broadcast decision of the loops: small iff `frame` has at
    * most `limit` rows and the session has not switched broadcast joins
    * off (`spark.sql.autoBroadcastJoinThreshold` < 0, Spark's own off
    * switch — no engine code sets it, so it only reaches the shuffle
    * regime on request, e.g. from a test). The count always runs: on a
    * freshly cached frame it is the materializing pass. */
  private def regime(frame: DataFrame, limit: Long = NodeLimit): Regime = {
    val n = frame.count()
    Regime(n <= limit &&
      frame.sparkSession.sessionState.conf.autoBroadcastJoinThreshold >= 0)
  }

  /** The round driver of the message-passing loops: `rounds` applications
    * of `step` to the state, which is checkpointed (`CacheScope.checkpoint`)
    * after every `checkpointEvery`-th round except the last. A state
    * referenced once per round only needs that for plan depth; one
    * referenced twice needs a short cadence so the branched lineage is not
    * re-evaluated. */
  private def iterate(init: DataFrame, rounds: Int, checkpointEvery: Int)
                     (step: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    (1 to rounds).foldLeft(init) { (st, i) =>
      val next = step(st)
      if (i % checkpointEvery == 0 && i < rounds) CacheScope.checkpoint(next)
      else next
    }
  }

  /** Fixed-point (integer) PageRank: ranks are maintained as 64-bit
    * integers in units of `1/scale`, so every arithmetic step — the
    * per-edge contribution `rank div out_degree`, the exact integer sum of
    * incoming contributions, and the damping `base + 85·inc div 100` — is
    * deterministic and replayable bit-for-bit by any engine (the DuckDB
    * twin is [[fixedPointPageRankSql]], making an ITERATIVE algorithm
    * hash-checkable, unlike float PageRank whose sum order perturbs low
    * bits). Semantics: standard damping 0.85, rank_0 = scale, dangling
    * mass dropped (same choice GraphX's staticPageRank makes).
    *
    * Scale: each iteration is ONE big-small join (edges ⋈ current
    * contributions) + one map-side-combinable sum — the aggregateMessages
    * shape. Two static structures are built once and reused by every
    * iteration (the same trick GraphX's Pregel uses):
    *
    *  - the edge set is cached HASH-PARTITIONED ON dst, so the incoming-sum
    *    aggregation reuses that partitioning — zero per-iteration edge
    *    shuffle (without this, AQE materializes a full edge shuffle per
    *    iteration before it can even decide to broadcast);
    *  - the node frame carries the out-degree, so there is no per-iteration
    *    degree re-join.
    *
    * While the rank state fits in a broadcast (the `regime`) the
    * contribution side is explicitly broadcast and an iteration is a fully
    * narrow stage; beyond it both sides fall back to declarative joins.
    * The rank state is referenced exactly once per iteration, so lineage is
    * a chain (no branch recompute) and checkpointing is only for plan
    * depth, every 4 iterations. `scale` must satisfy
    * n_nodes · scale · 100 < 2^63; the default 1e9 (nine fractional
    * digits) is safe to ~10^8 nodes. */
  def fixedPointPageRank(g: KinGraph, iters: Int,
                         scale: Long = 1000000000L): DataFrame = {
    // (key, od) with od null for sink nodes — the one static node-side frame
    val nodesOd = CacheScope.cached(
      g.nodes.select(col("key")).join(
        g.edges.groupBy(col("src").as("key")).agg(count(lit(1)).as("od")),
        Seq("key"), "left"))
    val rg = regime(nodesOd)
    val e = CacheScope.cached(
      g.edges.select(col("src"), col("dst")).repartition(col("dst")))
    val base = (15L * scale) / 100L
    iterate(nodesOd.withColumn("r", lit(scale)), iters, 4) { r =>
      val contrib = r.filter(col("od").isNotNull)
        .select(col("key"), expr("r div od").as("c"))
      val inc = e.join(rg.bc(contrib), e("src") === contrib("key"))
        .groupBy(e("dst").as("key")).agg(sum(col("c")).as("inc"))
      nodesOd.join(rg.bc(inc), Seq("key"), "left")
        .select(col("key"), col("od"),
          (lit(base) + expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) div 100"))
            .as("r"))
    }.select(col("key"), col("r"))
  }

  /** DuckDB twin of [[fixedPointPageRank]]: CTE fragments (od, r0..rN)
    * over an edge CTE `edges`(src, dst) and node CTE `nodes`(key), with the
    * iterations unrolled (recursive CTEs cannot aggregate in the recursive
    * term). Append after an existing WITH list; the final ranks are in
    * `r<iters>`. */
  def fixedPointPageRankSql(edges: String, nodes: String, iters: Int,
                            scale: Long = 1000000000L): String = {
    val base = (15L * scale) / 100L
    val its = (1 to iters).map { k =>
      s"""r$k AS (
         |  SELECT n.key, CAST($base + (85 * COALESCE(s.inc, 0)) // 100 AS BIGINT) AS r
         |  FROM $nodes n LEFT JOIN (
         |    SELECT e.dst AS key, CAST(SUM(r.r // od.od) AS BIGINT) AS inc
         |    FROM $edges e JOIN r${k - 1} r ON e.src = r.key
         |    JOIN od ON e.src = od.key
         |    GROUP BY e.dst) s ON n.key = s.key)""".stripMargin
    }
    (s"od AS (SELECT src AS key, count(*) AS od FROM $edges GROUP BY src)" +:
      s"r0 AS (SELECT key, CAST($scale AS BIGINT) AS r FROM $nodes)" +:
      its).mkString(",\n")
  }

  /** Integer fixed-point KATZ centrality: x' (v) = β + α·Σ_{u→v} x(u)
    * with β = `scale` and the DATA-ADAPTIVE attenuation α = 1/(dmax+1)
    * (dmax = max in-degree, a one-row driver probe) applied as one exact
    * integer division AFTER the neighbor sum. A constant α is the
    * classic fixture-size trap — degrees grow with SF, and α ≥ 1/λmax
    * diverges (and overflows i64) exactly when the data gets big; the
    * adaptive divisor bounds every iterate by (k+1)·scale at ANY scale
    * (Σ_in x ≤ dmax·max x, so the damped increment never exceeds the
    * previous max). All steps exact i64 → unrolled-CTE replayable
    * ([[fixedPointKatzSql]] computes the same divisor as a scalar
    * subquery). Same iteration/broadcast shape as
    * [[fixedPointPageRank]]. */
  def fixedPointKatz(g: KinGraph, iters: Int,
                     scale: Long = 1000000L): DataFrame = {
    val nodes = CacheScope.cached(g.nodes.select(col("key")))
    val rg = regime(nodes)
    val e = CacheScope.cached(
      g.edges.select(col("src"), col("dst")).repartition(col("dst")))
    // max over an EMPTY degree frame is a NULL cell — an edgeless graph
    // (filtered subgraph, degenerate fixture) must score all-β (inc = 0
    // every round), not NPE on Row.getLong
    val dmaxRow = e.groupBy(col("dst")).agg(count(lit(1)).as("d"))
      .agg(max(col("d"))).head()
    val dmax = if (dmaxRow.isNullAt(0)) 0L else dmaxRow.getLong(0)
    val kdiv = dmax + 1
    iterate(nodes.withColumn("x", lit(scale)), iters, 4) { x =>
      val xs = x.select(col("key"), col("x"))
      val inc = e.join(rg.bc(xs), e("src") === xs("key"))
        .groupBy(e("dst").as("key")).agg(sum(col("x")).as("inc"))
      nodes.join(rg.bc(inc), Seq("key"), "left")
        .select(col("key"),
          (lit(scale) +
            expr(s"coalesce(inc, CAST(0 AS BIGINT)) div $kdiv")).as("x"))
    }.select(col("key"), col("x").as("katz"))
  }

  /** DuckDB twin of [[fixedPointKatz]]: kdiv scalar + unrolled x0..xN
    * over edge CTE `$edges`(src, dst) and node CTE `$nodes`(key). */
  def fixedPointKatzSql(edges: String, nodes: String, iters: Int,
                        scale: Long = 1000000L): String = {
    val its = (1 to iters).map { k =>
      s"""x$k AS (
         |  SELECT n.key, CAST($scale + COALESCE(s.inc, 0) // kdiv.d AS BIGINT) AS x
         |  FROM $nodes n LEFT JOIN (
         |    SELECT e.dst AS key, CAST(SUM(x.x) AS BIGINT) AS inc
         |    FROM $edges e JOIN x${k - 1} x ON e.src = x.key
         |    GROUP BY e.dst) s ON n.key = s.key, kdiv)""".stripMargin
    }
    // coalesce mirrors the Spark dmaxRow.isNullAt guard: on an edgeless
    // graph max(cnt) is NULL and every katz value would go NULL instead
    // of the all-β score the Spark side emits
    (s"""kdiv AS (SELECT coalesce(max(cnt), 0) + 1 AS d FROM (
        |  SELECT count(*) AS cnt FROM $edges GROUP BY dst))""".stripMargin +:
      s"x0 AS (SELECT key, CAST($scale AS BIGINT) AS x FROM $nodes)" +:
      its).mkString(",\n")
  }

  /** WEIGHTED fixed-point PageRank over integer edge weights — the
    * strength-aware ranking (trade volume, co-occurrence counts, …):
    * transition mass is weight-proportional, per-edge contribution
    * `(r·w) div W_u` with W_u = Σ out-weights, damping as in
    * [[fixedPointPageRank]]. The div moves inside the edge join (weights
    * differ per edge, so there is no shared per-node quotient), which
    * keeps every step exact i64 and the rounds replayable
    * ([[weightedFixedPointPageRankSql]]). Same iteration shape and
    * broadcast/shuffle regimes as the unweighted form; headroom:
    * max_r · max_w must stay inside i64 — with scale 1e9 and w ≤ 100
    * that holds through ~10⁷-node total mass concentrating on one hub,
    * far beyond these fixtures (shard the scale down past that). */
  def weightedFixedPointPageRank(edges: DataFrame, nodes: DataFrame,
                                 iters: Int,
                                 scale: Long = 1000000000L): DataFrame = {
    val nodesW = CacheScope.cached(
      nodes.select(col("key")).join(
        edges.groupBy(col("src").as("key")).agg(sum(col("w")).as("wout")),
        Seq("key"), "left"))
    val rg = regime(nodesW)
    val e = CacheScope.cached(
      edges.select(col("src"), col("dst"), col("w")).repartition(col("dst")))
    val base = (15L * scale) / 100L
    iterate(nodesW.withColumn("r", lit(scale)), iters, 4) { r =>
      val st = r.filter(col("wout").isNotNull)
        .select(col("key"), col("r"), col("wout"))
      val inc = e.join(rg.bc(st), e("src") === st("key"))
        .select(col("dst"), expr("(r * w) div wout").as("c"))
        .groupBy(col("dst").as("key")).agg(sum(col("c")).as("inc"))
      nodesW.join(rg.bc(inc), Seq("key"), "left")
        .select(col("key"), col("wout"),
          (lit(base) + expr("(85 * coalesce(inc, CAST(0 AS BIGINT))) div 100"))
            .as("r"))
    }.select(col("key"), col("r"))
  }

  /** DuckDB twin of [[weightedFixedPointPageRank]]: CTE fragments
    * (wo, wr0..wrN) over `edges`(src, dst, w) and `nodes`(key); final
    * ranks in `wr<iters>`. */
  def weightedFixedPointPageRankSql(edges: String, nodes: String, iters: Int,
                                    scale: Long = 1000000000L): String = {
    val base = (15L * scale) / 100L
    val its = (1 to iters).map { k =>
      s"""wr$k AS (
         |  SELECT n.key, CAST($base + (85 * COALESCE(s.inc, 0)) // 100 AS BIGINT) AS r
         |  FROM $nodes n LEFT JOIN (
         |    SELECT e.dst AS key, CAST(SUM((r.r * e.w) // wo.wout) AS BIGINT) AS inc
         |    FROM $edges e JOIN wr${k - 1} r ON e.src = r.key
         |    JOIN wo ON e.src = wo.key
         |    GROUP BY e.dst) s ON n.key = s.key)""".stripMargin
    }
    (s"wo AS (SELECT src AS key, CAST(sum(w) AS BIGINT) AS wout FROM $edges GROUP BY src)" +:
      s"wr0 AS (SELECT key, CAST($scale AS BIGINT) AS r FROM $nodes)" +:
      its).mkString(",\n")
  }

  /** Synchronous label propagation (community detection) with DETERMINISTIC
    * semantics, so the iterative algorithm is exactly SQL-replayable (the
    * [[labelPropagationSql]] twin unrolls the iterations):
    *
    *  - undirected neighbor view (edges + reversed, self-loops dropped);
    *  - label_0(v) = v's key;
    *  - label_{i+1}(v) = the most frequent label among v's neighbors, ties
    *    broken by the lexicographically SMALLEST label (vanilla async LPA
    *    breaks ties randomly — useless for a verifiable pipeline);
    *  - isolated nodes never receive messages and keep their own key.
    *
    * Scale: per iteration one join keyed on the (cached, pre-shuffled)
    * undirected edge set + one map-side-combinable count + one
    * map-side-combinable `min(struct(-cnt, label))` argmax (NOT a window:
    * a window argmax costs an extra sort-exchange per iteration; the
    * struct-min aggregation partial-combines and its per-key groupBy is
    * satisfied by the same dst partitioning the count reuses) —
    * aggregateMessages-shaped, no all-pairs anywhere. The
    * label state is referenced once per iteration (the no-message fallback
    * is the INITIAL key, not the previous label — isolated nodes get no
    * messages in any iteration, so the two are equivalent), keeping
    * lineage a chain; checkpoints only bound plan depth.
    *
    * @param canonFrom when given, MUST be the distinct `u < v`,
    *   non-self-loop pairs `(u, v)` of `g.edges` (`cache:gx_und` for the
    *   union graph; GraphOpsSpec pins that). It is trusted unchecked. */
  def labelPropagationSync(g: KinGraph, iters: Int,
                           canonFrom: Option[DataFrame] = None): DataFrame = {
    // cached hash-partitioned ON dst: the per-iteration (dst, label) count
    // and the per-dst window argmax both reuse this partitioning, so with
    // the label state broadcast an iteration is fully narrow over the edge
    // set — no per-iteration edge shuffle (same shape as fixedPointPageRank).
    // canonFrom (r19): derive from the session-shared canonical frame when
    // given — skips this op's own union+distinct pass (same set by
    // construction, the lubyMis/jpColoring discipline)
    val ud = canonFrom.map(undirectedFromCanon(_, Some(col("dst"))))
      .getOrElse(undirectedEdges(g, Some(col("dst"))))
    val nodes = CacheScope.cached(g.nodes.select(col("key")))
    val rg = regime(nodes)
    iterate(nodes.withColumn("label", col("key")), iters, 3) { labels =>
      val msgs = ud.join(rg.bc(labels.withColumnRenamed("key", "src")), "src")
        .groupBy(col("dst").as("key"), col("label"))
        .agg(count(lit(1)).as("cnt"))
      // deterministic argmax (max cnt, tie -> min label) as a struct-min
      // aggregation: partial-combinable, no per-iteration sort-exchange
      val pick = msgs
        .groupBy(col("key"))
        .agg(min(struct((-col("cnt")).as("nc"), col("label").as("label"))).as("m"))
        .select(col("key"), col("m.label").as("label"))
      nodes.join(rg.bc(pick), Seq("key"), "left")
        .select(col("key"), coalesce(col("label"), col("key")).as("label"))
    }
  }

  /** Bounded weighted single-source shortest paths — Bellman-Ford as
    * `iters` relaxation joins (the aggregateMessages shape again; exact
    * with integer weights, so the unrolled [[weightedSsspSql]] twin replays
    * it bit-for-bit). `edges` must carry (src, dst, w); returns the nodes
    * REACHED within `iters` hops with their best distance.
    *
    * Scale (the fixedPointPageRank pattern): the ONLY loop state is the
    * reached set (key, best d) — node-bounded and usually far smaller;
    * the full node frame is never materialized. The edge set is cached
    * hash-partitioned ON dst so the per-iteration min-relaxation
    * aggregation reuses that partitioning (HashPartitioning(dst) satisfies
    * the groupBy(dst) distribution — zero per-iteration edge shuffle), and
    * the reached set is explicitly broadcast into the relaxation join
    * in the small `regime` (beyond it both fall back to declarative
    * shuffle joins — the correct plan when the distance state itself no
    * longer fits on one executor). The state is referenced twice per
    * iteration (relax probe + carry-over), so it is checkpointed every 2
    * rounds to bound the branched recompute and hand AQE exact sizes.
    *
    * The reached set is closed over `nodes` EVERY round (a key-only
    * broadcast semi-join, never the full node frame): an edge dst absent
    * from `nodes` neither appears in the result nor relays distance —
    * exactly the per-round `LEFT JOIN nodes` of [[weightedSsspSql]], so
    * the twin replays callers whose edge endpoints are NOT closed over
    * `nodes` bit-for-bit too. */
  def weightedSsspBounded(edges: DataFrame, nodes: DataFrame,
                          source: String, iters: Int): DataFrame = {
    val e = CacheScope.cached(
      edges.select(col("src"), col("dst"), col("w")).repartition(col("dst")))
    val nk = CacheScope.cached(nodes.select(col("key")))
    val rg = regime(nk)
    // reached set only: starts as the single source row
    val reached0 = nk.filter(col("key") === source)
      .select(col("key"), lit(0L).as("d"))
    iterate(reached0, iters, 2) { dist =>
      // per-dst min over relaxed candidates — narrow over e's partitioning;
      // closed over nodes (key-only semi-join) so foreign dsts never enter
      // the reached set, matching the twin's per-round LEFT JOIN nodes
      val relax = e.join(rg.bc(dist.withColumnRenamed("key", "src")), "src")
        .groupBy(col("dst").as("key")).agg(min(col("d") + col("w")).as("d"))
        .join(rg.bc(nk), Seq("key"), "left_semi")
      // combine with carry-over: one node-bounded (reached-set-sized) shuffle
      dist.unionByName(relax)
        .groupBy(col("key")).agg(min(col("d")).as("d"))
    }
  }

  /** DuckDB twin of [[weightedSsspBounded]]: CTE fragments (d0..dN) over a
    * weighted edge CTE `edges`(src, dst, w) and node CTE `nodes`(key);
    * reached set in `d<iters>` (filter d IS NOT NULL). */
  def weightedSsspSql(edges: String, nodes: String, source: String,
                      iters: Int): String = {
    val its = (1 to iters).map { k =>
      s"""d$k AS (
         |  SELECT n.key, c.d FROM $nodes n LEFT JOIN (
         |    SELECT key, min(d) AS d FROM (
         |      SELECT key, d FROM d${k - 1} WHERE d IS NOT NULL
         |      UNION ALL
         |      SELECT e.dst AS key, p.d + e.w AS d
         |      FROM $edges e JOIN d${k - 1} p ON e.src = p.key
         |      WHERE p.d IS NOT NULL
         |    ) GROUP BY key) c ON n.key = c.key)""".stripMargin
    }
    (s"""d0 AS (SELECT key,
        |  CASE WHEN key = '$source' THEN CAST(0 AS BIGINT) END AS d
        |  FROM $nodes)""".stripMargin +: its).mkString(",\n")
  }

  /** Personalized PageRank from a single source — integer fixed-point
    * (same micro-unit discipline as [[fixedPointPageRank]]: contribution
    * `r div od`, damped `85·inc div 100`, teleport `15%·scale` to the
    * SOURCE only), so the iterations replay bit-for-bit in the unrolled
    * [[personalizedPageRankSql]] twin. Returns only the REACHED keys with
    * nonzero-path mass — PPR is a local algorithm, and the loop state is
    * kept sparse accordingly (the wsssp reached-set pattern, NOT the full
    * node frame): at 10^9 nodes a 4-hop PPR touches only the source's
    * neighborhood, and this plan's state is exactly that neighborhood.
    *
    * The out-degree frame is built once (cached); the edge set is cached
    * dst-partitioned so the per-iteration message sum reuses its
    * partitioning; the sparse rank state is broadcast into the edge join
    * in the small `regime`. */
  def personalizedPageRank(g: KinGraph, source: String, iters: Int,
                           scale: Long = 1000000000L): DataFrame = {
    val od = CacheScope.cached(
      g.edges.groupBy(col("src").as("key")).agg(count(lit(1)).as("od")))
    val e = CacheScope.cached(
      g.edges.select(col("src"), col("dst")).repartition(col("dst")))
    val rg = regime(g.nodes)
    val base = (15L * scale) / 100L
    val start = g.nodes.filter(col("key") === source)
      .select(col("key"), lit(scale).as("r"))
    val baseRow = start.select(col("key"), lit(base).as("v"))
    iterate(start, iters, 2) { r =>
      // sinks contribute nothing (od inner join), same as fixedPointPageRank
      val contrib = r.join(rg.bc(od), "key")
        .select(col("key").as("src"), expr("r div od").as("c"))
      val inc = e.join(rg.bc(contrib), "src")
        .groupBy(col("dst").as("key")).agg(sum(col("c")).as("inc"))
      inc.select(col("key"), expr("(85 * inc) div 100").as("v"))
        .unionByName(baseRow)
        .groupBy(col("key")).agg(sum(col("v")).as("r"))
    }
  }

  /** DuckDB twin of [[personalizedPageRank]]: CTE fragments (od, p0..pN)
    * over `edges`(src, dst) and `nodes`(key); reached ranks in
    * `p<iters>`. */
  def personalizedPageRankSql(edges: String, nodes: String, source: String,
                              iters: Int,
                              scale: Long = 1000000000L): String = {
    val base = (15L * scale) / 100L
    val its = (1 to iters).map { k =>
      s"""p$k AS (
         |  SELECT key, CAST(SUM(v) AS BIGINT) AS r FROM (
         |    SELECT key, CAST($base AS BIGINT) AS v FROM p0
         |    UNION ALL
         |    SELECT dst AS key, CAST((85 * inc) // 100 AS BIGINT) AS v FROM (
         |      SELECT e.dst, CAST(SUM(p.r // od.od) AS BIGINT) AS inc
         |      FROM $edges e JOIN p${k - 1} p ON e.src = p.key
         |      JOIN od ON e.src = od.key
         |      GROUP BY e.dst)
         |  ) GROUP BY key)""".stripMargin
    }
    (s"od AS (SELECT src AS key, count(*) AS od FROM $edges GROUP BY src)" +:
      s"""p0 AS (SELECT key, CAST($scale AS BIGINT) AS r FROM $nodes
         |  WHERE key = '$source')""".stripMargin +: its).mkString(",\n")
  }

  /** HITS hubs & authorities — bounded iterations, integer fixed-point, so
    * the iterative algorithm is exactly SQL-replayable ([[hitsSql]] unrolls
    * it). Per round (the standard sequential update):
    * `a_k(v) = Σ_{(u,v)∈E} h_{k-1}(u)`, then `h_k(u) = Σ_{(u,v)∈E} a_k(v)`,
    * each rescaled back under `scale` by the integer division
    * `raw div max(max_raw div scale, 1)` — no float normalization, no
    * overflow (raw ≤ max_degree · scale, far under 2^63 at the default
    * scale 1e6 even for 10^9-degree hubs), and the rescale denominator is
    * a deterministic integer both engines compute identically.
    *
    * Scale (the fixedPointPageRank shape twice per round): the edge set is
    * cached once per direction — dst-partitioned for the authority sum,
    * src-partitioned for the hub sum — so neither per-round aggregation
    * re-shuffles edges; the node-sized state is broadcast into the edge
    * join in the small `regime`; each raw sum is eagerly checkpointed
    * (it is referenced twice: the max-rescale and the rescaled frame), so
    * lineage stays shallow and the per-round max is a cheap driver action
    * on materialized blocks — the kCore data-adaptive-parameter pattern. */
  def hits(g: KinGraph, iters: Int, scale: Long = 1000000L): DataFrame = {
    require(iters >= 1, "iters >= 1")
    val nodes = CacheScope.cached(g.nodes.select(col("key")))
    val rg = regime(nodes)
    val ePair = g.edges.select(col("src"), col("dst"))
    val eDst = CacheScope.cached(ePair.repartition(col("dst")))
    val eSrc = CacheScope.cached(ePair.repartition(col("src")))
    def half(e: DataFrame, state: DataFrame, joinKey: String,
             groupKey: String): DataFrame = {
      val raw = e.join(rg.bc(state.withColumnRenamed("key", joinKey)), joinKey)
        .groupBy(col(groupKey).as("key")).agg(sum(col("v")).as("raw"))
        .transform(CacheScope.checkpoint)
      val mx = raw.agg(max(col("raw"))).head.get(0) match {
        case m: java.lang.Long => math.max(m.longValue / scale, 1L)
        case _ => 1L
      }
      nodes.join(rg.bc(raw), Seq("key"), "left")
        .select(col("key"),
          coalesce(expr(s"raw div $mx"), lit(0L)).as("v"))
    }
    var h = nodes.select(col("key"), lit(scale).as("v"))
    var a = h
    for (_ <- 1 to iters) {
      a = half(eDst, h, "src", "dst")
      h = half(eSrc, a, "dst", "src")
    }
    h.withColumnRenamed("v", "hub")
      .join(a.withColumnRenamed("v", "auth"), Seq("key"))
  }

  /** DuckDB twin of [[hits]]: unrolled CTE fragments (h0, a1r, a1, h1r,
    * h1, ...) over `edges`(src, dst) and `nodes`(key); final values in
    * `h<iters>` / `a<iters>`. The per-round max-rescale is a scalar
    * subquery over the raw CTE — the same deterministic integer the Spark
    * driver action computes. */
  def hitsSql(edges: String, nodes: String, iters: Int,
              scale: Long = 1000000L): String = {
    val its = (1 to iters).flatMap { k =>
      Seq(
        s"""a${k}r AS (
           |  SELECT e.dst AS key, CAST(SUM(h.v) AS BIGINT) AS raw
           |  FROM $edges e JOIN h${k - 1} h ON e.src = h.key GROUP BY e.dst)""".stripMargin,
        s"""a$k AS (
           |  SELECT n.key, CAST(COALESCE(
           |    r.raw // GREATEST((SELECT MAX(raw) FROM a${k}r) // $scale, 1),
           |    0) AS BIGINT) AS v
           |  FROM $nodes n LEFT JOIN a${k}r r ON n.key = r.key)""".stripMargin,
        s"""h${k}r AS (
           |  SELECT e.src AS key, CAST(SUM(a.v) AS BIGINT) AS raw
           |  FROM $edges e JOIN a$k a ON e.dst = a.key GROUP BY e.src)""".stripMargin,
        s"""h$k AS (
           |  SELECT n.key, CAST(COALESCE(
           |    r.raw // GREATEST((SELECT MAX(raw) FROM h${k}r) // $scale, 1),
           |    0) AS BIGINT) AS v
           |  FROM $nodes n LEFT JOIN h${k}r r ON n.key = r.key)""".stripMargin)
    }
    (s"h0 AS (SELECT key, CAST($scale AS BIGINT) AS v FROM $nodes)" +: its)
      .mkString(",\n")
  }

  /** Deterministic "random" walks — the DeepWalk/node2vec corpus-generation
    * step with hash-driven choices instead of RNG, so every walk is
    * reproducible, partition-independent, and exactly replayable by the
    * unrolled [[hashWalksSql]] twin. At step k from node v the walk moves
    * to the `hash(v || '|' || k) % out_deg(v)`-th neighbor in dst order
    * (the md5-derived [[graft.functions.TextFunctions.hash60]] family both
    * engines share); a walk ends early at a sink. One walk per start key;
    * returns (start, step, node) path rows, step 0 = the start itself.
    *
    * Scale: the ranked-neighbor table (src, dst, rk, deg) is built with
    * ONE window pass over the distinct edge set and cached — every step
    * joins the (starts-sized) walk frontier against it on src, with the
    * hash-index residual evaluated inside the join. The frontier is
    * checkpointed per step (it is referenced twice: path output + next
    * hop), so lineage stays flat for any `steps`. */
  def hashWalks(edges: DataFrame, starts: DataFrame, steps: Int): DataFrame = {
    require(steps >= 1, "steps >= 1")
    import org.apache.spark.sql.expressions.Window
    val byDst = Window.partitionBy("src").orderBy("dst")
    val bySrc = Window.partitionBy("src")
    val ranked = CacheScope.cached(
      edges.select(col("src"), col("dst")).distinct()
        .withColumn("rk", row_number().over(byDst) - 1)
        .withColumn("deg", count(lit(1)).over(bySrc)))
    var cur = starts.select(col("key").as("start"), col("key").as("node"))
    val paths = scala.collection.mutable.ArrayBuffer(
      cur.withColumn("step", lit(0)))
    for (k <- 1 to steps) {
      val idx = pmod(graft.functions.TextFunctions.hash60(
        concat(col("node"), lit(s"|$k"))), col("deg"))
      cur = cur.join(ranked,
          cur("node") === ranked("src") && ranked("rk") === idx)
        .select(col("start"), col("dst").as("node"))
        .transform(CacheScope.checkpoint)
      paths += cur.withColumn("step", lit(k))
    }
    paths.reduce(_ unionByName _).select(col("start"), col("step"), col("node"))
  }

  /** node2vec-style SECOND-ORDER biased hash walks: step 1 is the uniform
    * hash choice of [[hashWalks]]; every later step weights each
    * out-neighbor x of the current node v by its relation to the
    * PREVIOUS node t — return (x = t) weight 1, triangle-closing
    * (edge t→x exists) weight 2, forward weight 1, i.e. the node2vec
    * (p, q) = (2, 2)-shaped bias with INTEGER weights, so the choice is
    * an exact cumulative-range lookup: r = hash60(t|v|k) mod Σw lands in
    * one neighbor's [cum−w, cum) slot. Deterministic, partition-
    * invariant, and the whole walk replays as unrolled CTEs
    * ([[node2vecWalksSql]]). Walkers at sink nodes stop (same contract
    * as hashWalks).
    *
    * Scale shape: one walker row per start; each step is one equi-join
    * on the current node plus one LEFT adjacency probe on (prev, x) —
    * both on the shared distinct edge frame — and a per-walker window
    * over its candidate slate (bounded by out-degree). State is
    * checkpointed per step (the iterative discipline). */
  def node2vecWalks(edges: DataFrame, starts: DataFrame, steps: Int): DataFrame = {
    require(steps >= 2, "steps >= 2 (the bias needs a previous node)")
    import org.apache.spark.sql.expressions.Window
    val de = CacheScope.cached(edges.select(col("src"), col("dst")).distinct())
    val byDst = Window.partitionBy("src").orderBy("dst")
    val ranked = de
      .withColumn("rk", row_number().over(byDst) - 1)
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
    val cur0 = starts.select(col("key").as("start"), col("key").as("node"))
    val paths = scala.collection.mutable.ArrayBuffer(
      cur0.select(col("start"), lit(0).as("step"), col("node")))
    val idx1 = pmod(graft.functions.TextFunctions.hash60(
      concat(col("node"), lit("|1"))), col("deg"))
    var st = cur0.join(ranked,
        cur0("node") === ranked("src") && ranked("rk") === idx1)
      .select(col("start"), cur0("node").as("prev"), col("dst").as("node"))
      .transform(CacheScope.checkpoint)
    paths += st.select(col("start"), lit(1).as("step"), col("node"))
    val e1 = de.select(col("src").as("node"), col("dst").as("x"))
    val adj = de.select(col("src").as("prev"), col("dst").as("x"),
      lit(1).as("has_adj"))
    for (k <- 2 to steps) {
      val cand = st.join(e1, "node")
        .join(adj, Seq("prev", "x"), "left")
        .withColumn("wgt", when(col("x") === col("prev"), lit(1L))
          .when(col("has_adj").isNotNull, lit(2L)).otherwise(lit(1L)))
      val wOrd = Window.partitionBy("start").orderBy("x")
      val wAllS = Window.partitionBy("start")
      val r = pmod(graft.functions.TextFunctions.hash60(
        concat(col("prev"), lit("|"), col("node"), lit(s"|$k"))), col("tot"))
      st = cand
        .withColumn("cum", sum(col("wgt")).over(wOrd))
        .withColumn("tot", sum(col("wgt")).over(wAllS))
        .filter(r >= col("cum") - col("wgt") && r < col("cum"))
        .select(col("start"), col("node").as("prev"), col("x").as("node"))
        .transform(CacheScope.checkpoint)
      paths += st.select(col("start"), lit(k).as("step"), col("node"))
    }
    paths.reduce(_ unionByName _)
  }

  /** DuckDB twin of [[node2vecWalks]]: CTE fragments (n2de, rkn reuse is
    * separate — this builds its own nvrk) producing nv0..nvN; select the
    * path rows with [[node2vecWalksPathSql]]. */
  def node2vecWalksSql(edges: String, startsSelect: String, steps: Int): String = {
    import graft.functions.TextFunctions.hash60Sql
    val its = (2 to steps).map { k =>
      s"""nvc$k AS (
         |  SELECT w.start, w.prev, w.node, e.dst AS x,
         |    CASE WHEN e.dst = w.prev THEN 1
         |         WHEN a.src IS NOT NULL THEN 2
         |         ELSE 1 END AS wgt
         |  FROM nv${k - 1} w JOIN n2de e ON e.src = w.node
         |  LEFT JOIN n2de a ON a.src = w.prev AND a.dst = e.dst
         |), nvh$k AS (
         |  SELECT start, prev, node, x, wgt,
         |    sum(wgt) OVER (PARTITION BY start ORDER BY x) AS cum,
         |    sum(wgt) OVER (PARTITION BY start) AS tot
         |  FROM nvc$k
         |), nv$k AS (
         |  SELECT start, node AS prev, x AS node FROM nvh$k
         |  WHERE ${hash60Sql(s"prev || '|' || node || '|$k'")} % tot >= cum - wgt
         |    AND ${hash60Sql(s"prev || '|' || node || '|$k'")} % tot < cum)""".stripMargin
    }
    (s"""n2de AS MATERIALIZED (SELECT DISTINCT src, dst FROM $edges),
        |nvrk AS (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rk,
        |         count(*) OVER (PARTITION BY src) AS deg
        |  FROM n2de)""".stripMargin +:
      s"nvs0 AS (SELECT key AS start, key AS node FROM ($startsSelect))" +:
      s"""nv1 AS (
         |  SELECT w.start, w.node AS prev, e.dst AS node FROM nvs0 w JOIN nvrk e
         |  ON e.src = w.node
         |  AND e.rk = ${hash60Sql("w.node || '|1'")} % e.deg)""".stripMargin +:
      its).mkString(",\n")
  }

  /** The path-row union over [[node2vecWalksSql]]'s fragments. */
  /** SKIP-GRAM training pairs from random walks — the step that turns
    * [[node2vecWalks]] output into the (center, context, label) rows an
    * embedding trainer consumes: positives are co-occurrences within
    * `window` steps of the same walk; each positive draws `negatives`
    * DETERMINISTIC negative samples by hashing (center, context, k) into
    * the rank-indexed node vocabulary — reproducible negative sampling,
    * no RNG state. Output (start, i, j, center, context, label, neg_k).
    *
    * Scale shape: the pair join is per-walk (walks are bounded-length),
    * the vocabulary rank table is the distributed range-bucket + offset
    * two-pass ([[graft.operators.Ranks.rowNumber]] — never a
    * single-partition window over the node set), and negatives attach by
    * an equi join on the 8-byte rank. */
  def skipGramPairs(walks: DataFrame, nodes: DataFrame,
                    window: Int = 2, negatives: Int = 2): DataFrame = {
    val a = walks.select(col("start"), col("step").as("i"),
      col("node").as("center"))
    val b = walks.select(col("start"), col("step").as("j"),
      col("node").as("context"))
    val pos = a.join(b, Seq("start"))
      .filter(col("i") =!= col("j") &&
        abs(col("i") - col("j")) <= window)
      .select(col("start"), col("i"), col("j"), col("center"),
        col("context"), lit(1).as("label"), lit(0).as("neg_k"))
    val n = nodes.count()
    val ranked = CacheScope.cached(
      graft.operators.Ranks.rowNumber(nodes.select(col("key")), "rk",
          col("key"))
        .withColumn("rk", col("rk") - 1))
    val negs = pos
      .select(col("start"), col("i"), col("j"), col("center"),
        col("context").as("pos_ctx"),
        explode(expr(s"sequence(1, $negatives)")).as("neg_k"))
      .withColumn("rk", pmod(graft.functions.TextFunctions.hash60(
        concat_ws("|", col("center"), col("pos_ctx"), col("neg_k"),
          lit("neg"))), lit(n)))
      .join(ranked, "rk")
      .select(col("start"), col("i"), col("j"), col("center"),
        col("key").as("context"), lit(0).as("label"),
        col("neg_k").cast("int").as("neg_k"))
    pos.unionByName(negs)
  }

  def node2vecWalksPathSql(steps: Int): String =
    (s"SELECT start, 0 AS step, node FROM nvs0" +:
      (1 to steps).map(k => s"SELECT start, $k AS step, node FROM nv$k"))
      .mkString("\nUNION ALL\n")

  /** DuckDB twin of [[hashWalks]]: CTE fragments (rkn, wk0..wkN) over an
    * edge CTE `edges`(src, dst); `startsSelect` must yield one column
    * `key`. Select the path rows by UNION ALL over wk0..wkN (use
    * [[hashWalksPathSql]]). */
  def hashWalksSql(edges: String, startsSelect: String, steps: Int): String = {
    import graft.functions.TextFunctions.hash60Sql
    val its = (1 to steps).map { k =>
      s"""wk$k AS (
         |  SELECT w.start, e.dst AS node FROM wk${k - 1} w JOIN rkn e
         |  ON e.src = w.node
         |  AND e.rk = ${hash60Sql(s"w.node || '|$k'")} % e.deg)""".stripMargin
    }
    (s"""rkn AS (
        |  SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rk,
        |         count(*) OVER (PARTITION BY src) AS deg
        |  FROM (SELECT DISTINCT src, dst FROM $edges))""".stripMargin +:
      s"wk0 AS (SELECT key AS start, key AS node FROM ($startsSelect))" +:
      its).mkString(",\n")
  }

  /** The path-row union over [[hashWalksSql]]'s wk0..wkN fragments. */
  def hashWalksPathSql(steps: Int): String =
    (0 to steps).map(k => s"SELECT start, $k AS step, node FROM wk$k")
      .mkString("\nUNION ALL\n")

  /** Adamic-Adar link-prediction scores over the undirected neighbor
    * graph: `score(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w))`, kept in integer
    * micro-units — each term is rounded to `round(1e6/ln(deg))` BEFORE
    * summing (the repo's micro-nat discipline: the only float ever
    * computed is inside a per-term round both engines evaluate
    * identically, and a common neighbor necessarily has deg ≥ 2 so
    * ln > 0). Returns the top `k` pairs by (score desc, a, b) — a total
    * order, so the cut is deterministic.
    *
    * Scale: the candidate join is the triangle shape — neighbor lists
    * joined through the shared middle w, cost Σ deg(w)², the inherent
    * Adamic-Adar candidate volume. `hubCapPercentile` is the production
    * guard: middles above that degree percentile are excluded BEFORE the
    * pair join (hub middles dominate Σ deg² — 16x the volume on the
    * fixture's union graph — while contributing the least signal,
    * 1/ln(deg) being smallest for hubs). The cap is data-adaptive (a
    * percentile, not a constant that goes vacuous across SFs) and exact
    * across engines: an integer degree only sits on the boundary when the
    * interpolated percentile lands on an integer, which both engines
    * compute exactly. The undirected edge set is w-partitioned once and
    * reused narrow by the degree aggregation, the per-w term join and
    * BOTH sides of the self-join; the only new shuffle is the final
    * (a,b) aggregation, and the top-k is a TakeOrdered, never a global
    * sort.
    *
    * @param canonFrom when given, MUST be the distinct `u < v`,
    *   non-self-loop pairs `(u, v)` of `g.edges` (`cache:gx_und` for the
    *   union graph; GraphOpsSpec pins that). It is trusted unchecked. */
  def adamicAdar(g: KinGraph, k: Int,
                 hubCapPercentile: Double = 1.0,
                 canonFrom: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, "k >= 1")
    require(hubCapPercentile > 0.0 && hubCapPercentile <= 1.0,
      "0 < hubCapPercentile <= 1")
    // canonFrom (r19): same-set derivation from the session-shared
    // canonical frame, skipping this op's own union+distinct pass
    val ud = canonFrom.map(undirectedFromCanon(_, Some(col("src"))))
      .getOrElse(undirectedEdges(g, Some(col("src"))))
    val deg = ud.groupBy(col("src").as("w")).agg(count(lit(1)).as("deg"))
    val cap = deg.agg(expr(s"percentile(deg, $hubCapPercentile)").as("cap"))
    // deg-1 middles can never yield a pair; dropping them BEFORE the term
    // keeps 1/ln(1) from ever being evaluated (inf would poison the cast)
    val term = deg.crossJoin(broadcast(cap))
      .filter(col("deg") >= 2 && col("deg") <= col("cap"))
      .select(col("w"),
        round(lit(1000000.0) / log(col("deg"))).cast("long").as("aa"))
    val xa = ud.select(col("src").as("w"), col("dst").as("a"))
      .join(term, "w")
    val y = ud.select(col("src").as("w"), col("dst").as("b"))
    xa.join(y, "w").filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(sum(col("aa")).as("score_micro"), count(lit(1)).as("common"))
      .orderBy(col("score_micro").desc, col("a"), col("b"))
      .limit(k)
  }

  /** DuckDB twin of [[adamicAdar]]: CTE fragments (aud, adeg, acap, aterm,
    * apair) over an edge CTE `edges`(src, dst); select the top-k from
    * `apair` with `ORDER BY score_micro DESC, a, b LIMIT k`. */
  def adamicAdarSql(edges: String, hubCapPercentile: Double = 1.0): String =
    s"""aud AS (
       |  SELECT src, dst FROM $edges WHERE src <> dst
       |  UNION SELECT dst, src FROM $edges WHERE src <> dst
       |), adeg AS (
       |  SELECT src AS w, count(*) AS deg FROM aud GROUP BY src
       |), acap AS (
       |  SELECT quantile_cont(deg, $hubCapPercentile) AS cap FROM adeg
       |), aterm AS (
       |  SELECT w, CAST(round(1000000.0 / ln(deg)) AS BIGINT) AS aa
       |  FROM adeg, acap WHERE deg >= 2 AND deg <= cap
       |), apair AS (
       |  SELECT x.dst AS a, y.dst AS b,
       |         CAST(SUM(t.aa) AS BIGINT) AS score_micro,
       |         CAST(count(*) AS BIGINT) AS common
       |  FROM aud x JOIN aud y ON x.src = y.src AND x.dst < y.dst
       |  JOIN aterm t ON t.w = x.src
       |  GROUP BY 1, 2
       |)""".stripMargin

  /** Jaccard link-prediction scores over the HUB-CAPPED undirected
    * neighbor graph: middles (shared neighbors) above the
    * `hubCapPercentile` degree are removed from the graph FIRST, then
    * `jac(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)|` is exact on the filtered
    * graph — common counts, degrees and the union size all come from the
    * same capped adjacency, so the statistic is self-consistent (not a
    * mixed estimate). The ratio is kept as `(1000·common) div
    * (deg(a)+deg(b)−common)` — one integer division, engine-exact.
    * Returns the top `k` pairs by (jac_milli desc, common desc, a, b) —
    * a total order, so the cut is deterministic.
    *
    * Scale: identical candidate-volume story to [[adamicAdar]] — the pair
    * join costs Σ deg(w)² over SURVIVING middles only, and the cap is
    * data-adaptive (a percentile, not a constant that goes vacuous across
    * SFs). Degrees join back on the node key (node-sized, shuffle join);
    * the top-k is a TakeOrdered, never a global sort.
    *
    * @param canonFrom when given, MUST be the distinct `u < v`,
    *   non-self-loop pairs `(u, v)` of `g.edges` (`cache:gx_und` for the
    *   union graph; GraphOpsSpec pins that). It is trusted unchecked. */
  def jaccardPairs(g: KinGraph, k: Int,
                   hubCapPercentile: Double = 0.9,
                   canonFrom: Option[DataFrame] = None): DataFrame = {
    require(k >= 1, "k >= 1")
    require(hubCapPercentile > 0.0 && hubCapPercentile <= 1.0,
      "0 < hubCapPercentile <= 1")
    // canonFrom (r19): same-set derivation from the session-shared
    // canonical frame, skipping this op's own union+distinct pass
    val ud = canonFrom.map(undirectedFromCanon(_, Some(col("src"))))
      .getOrElse(undirectedEdges(g, Some(col("src"))))
    val deg = ud.groupBy(col("src").as("w")).agg(count(lit(1)).as("deg"))
    val cap = deg.agg(expr(s"percentile(deg, $hubCapPercentile)").as("cap"))
    // the capped graph: every edge whose NEIGHBOR side (the potential
    // middle w) survives the cap — one broadcast 1-row frame, no collect.
    // cached (materialized): the self-joins on w below see its hash
    // partitioning and skip both sides' re-exchange
    val keep = CacheScope.cached(
      ud.join(deg.crossJoin(broadcast(cap))
          .filter(col("deg") <= col("cap")).select(col("w")),
        ud("src") === col("w"))
        .select(col("w"), col("dst").as("x")))
    val degc = keep.groupBy(col("x")).agg(count(lit(1)).as("dc"))
    val pairs = keep.select(col("w"), col("x").as("a"))
      .join(keep.select(col("w"), col("x").as("b")), "w")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    pairs
      .join(degc.select(col("x").as("a"), col("dc").as("da")), "a")
      .join(degc.select(col("x").as("b"), col("dc").as("db")), "b")
      .select(col("a"), col("b"), col("common"),
        expr("(1000 * common) div (da + db - common)").as("jac_milli"))
      .orderBy(col("jac_milli").desc, col("common").desc, col("a"), col("b"))
      .limit(k)
  }

  /** DuckDB twin of [[jaccardPairs]]: CTE fragments (jud, jdeg, jcap,
    * jkeep, jdegc, jpair) over an edge CTE `edges`(src, dst); select the
    * top-k from `jpair` with
    * `ORDER BY jac_milli DESC, common DESC, a, b LIMIT k`. */
  def jaccardPairsSql(edges: String, hubCapPercentile: Double = 0.9): String =
    s"""jud AS (
       |  SELECT src, dst FROM $edges WHERE src <> dst
       |  UNION SELECT dst, src FROM $edges WHERE src <> dst
       |), jdeg AS (
       |  SELECT src AS w, count(*) AS deg FROM jud GROUP BY src
       |), jcap AS (
       |  SELECT quantile_cont(deg, $hubCapPercentile) AS cap FROM jdeg
       |), jkeep AS (
       |  SELECT u.src AS w, u.dst AS x FROM jud u
       |  JOIN jdeg d ON d.w = u.src, jcap WHERE d.deg <= jcap.cap
       |), jdegc AS (
       |  SELECT x, count(*) AS dc FROM jkeep GROUP BY x
       |), jpair AS (
       |  SELECT p.a, p.b, p.common,
       |    CAST((1000 * p.common) // (da.dc + db.dc - p.common) AS BIGINT)
       |      AS jac_milli
       |  FROM (
       |    SELECT ka.x AS a, kb.x AS b, CAST(count(*) AS BIGINT) AS common
       |    FROM jkeep ka JOIN jkeep kb ON ka.w = kb.w AND ka.x < kb.x
       |    GROUP BY 1, 2) p
       |  JOIN jdegc da ON da.x = p.a
       |  JOIN jdegc db ON db.x = p.b
       |)""".stripMargin

  /** Landmark harmonic closeness: multi-source bounded BFS from the
    * `nLandmarks` nodes with the smallest salted key hash (a deterministic
    * uniform sample — exact all-pairs closeness is O(n·m) and no 100 TB
    * pipeline runs it; landmark estimation is the standard scale form).
    * Per node: how many landmarks reach it within `rounds` undirected hops
    * and the harmonic sum Σ floor(1e6/d) over positive distances —
    * integer micro-units per term BEFORE summing, so the result is
    * order-free and replays in [[landmarkClosenessSql]].
    *
    * Scale shape: loop state is the reached (landmark, node, dist) set —
    * at most nLandmarks·n rows, usually far sparser; the edge set is
    * cached dst-partitioned once so each round's frontier expansion
    * reuses its shuffle; the frontier broadcasts in the small `regime`.
    * The state is referenced twice per round (carry + expand) like
    * weightedSsspBounded; ReusedExchange shares the subplan in the
    * un-checkpointed rounds (verified in the executed plan — the
    * d_bigram_lm escape hatch), so a checkpoint every 2 rounds suffices. */
  def landmarkCloseness(g: KinGraph, nLandmarks: Int = 4,
                        rounds: Int = 4): DataFrame =
    closenessFromState(landmarkBfsState(g, nLandmarks, rounds)._2)

  /** The deterministic landmark sample: the `nLandmarks` keys with the
    * smallest salted hash. The keys ride to the driver — nLandmarks is a
    * handful by construction (a documented tiny collect, like the other
    * threshold probes). */
  def landmarkKeys(g: KinGraph, nLandmarks: Int): Array[String] =
    g.nodes.select(col("key"))
      .withColumn("h", graft.functions.TextFunctions.hash60(
        concat(col("key"), lit("lm"))))
      .orderBy(col("h"), col("key")).limit(nLandmarks)
      .select("key").collect().map(_.getString(0))

  /** The bounded multi-source BFS state both landmark centralities read:
    * one row per reached node with a distance column `d<i>` per landmark
    * (null = unreached within `rounds`). Returned with the landmark keys
    * so callers can label per-landmark outputs; shared via a session
    * cache by the query layer (gx_closeness and gx_diameter read the
    * same frame).
    *
    * @param canonFrom when given, MUST be the distinct `u < v`,
    *   non-self-loop pairs `(u, v)` of `g.edges` (`cache:gx_und` for the
    *   union graph; GraphOpsSpec pins that). It is trusted unchecked. */
  def landmarkBfsState(g: KinGraph, nLandmarks: Int = 4, rounds: Int = 4,
                       canonFrom: Option[DataFrame] = None)
      : (Array[String], DataFrame) = {
    require(nLandmarks >= 1, "nLandmarks >= 1")
    val sp = g.nodes.sparkSession
    // canonFrom (r19): ride the session-shared canonical undirected frame
    // when given — same set, skips the per-build union+distinct shuffle
    val ud = canonFrom.map(undirectedFromCanon(_, Some(col("dst"))))
      .getOrElse(undirectedEdges(g, Some(col("dst"))))
    val rg = regime(g.nodes)
    val lm = landmarkKeys(g, nLandmarks)
    val L = lm.length
    val dCols = (0 until L).map(i => s"d$i")
    // state: ONE row per reached node with a distance column per landmark
    // (nulls = unreached). Keying by node alone is what lets each round's
    // message aggregation group by dst and reuse ud's dst partitioning —
    // a (landmark, node) compound key would re-shuffle the edge-sized
    // message set every round.
    val schema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("node",
        org.apache.spark.sql.types.StringType) +:
      dCols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.LongType)))
    val initRows = lm.zipWithIndex.map { case (k, i) =>
      org.apache.spark.sql.Row.fromSeq(
        k +: (0 until L).map(j => if (i == j) 0L else null))
    }
    val st0 = sp.createDataFrame(
      sp.sparkContext.parallelize(initRows.toSeq, 1), schema)
    def minAgg(of: String => Column) = {
      val aggs = dCols.map(c => of(c).as(c))
      (df: org.apache.spark.sql.RelationalGroupedDataset) =>
        df.agg(aggs.head, aggs.tail: _*)
    }
    (lm, iterate(st0, rounds, 2) { st =>
      // min-then-+1 per landmark column == min of (d+1); min skips nulls
      val msgs = minAgg(c => min(col(c)) + 1L)(
        ud.join(rg.bc(st.withColumnRenamed("node", "src")), "src")
          .groupBy(col("dst").as("node")))
      minAgg(c => min(col(c)))(st.unionByName(msgs).groupBy(col("node")))
    })
  }

  /** Per-node harmonic closeness from a [[landmarkBfsState]] frame. */
  def closenessFromState(st: DataFrame): DataFrame = {
    val dCols = st.columns.filter(_.startsWith("d"))
    val nReached = dCols.map(c =>
      when(col(c).isNotNull, 1L).otherwise(0L)).reduce(_ + _)
    val harmonic = dCols.map(c =>
      when(col(c) > 0, floor(lit(1000000.0) / col(c)).cast("long"))
        .otherwise(0L)).reduce(_ + _)
    st.select(col("node").as("key"), nReached.as("n_reached"),
      harmonic.as("harmonic_micro"))
  }

  /** Per-landmark bounded eccentricity from a [[landmarkBfsState]] frame:
    * for each landmark, the nodes reached within the BFS bound and the
    * max distance among them (= eccentricity whenever the BFS bound
    * exceeds the true eccentricity; a LOWER bound otherwise), plus the
    * shared pseudo-diameter lower bound max-over-landmarks — the standard
    * double-sweep-style diameter estimate a 100 TB graph actually
    * computes (exact diameter is all-pairs). All integers: counts and
    * max-of-BFS-distances, order-free, exact in [[landmarkBfsSql]]'s
    * `c<rounds>` replay. */
  def eccentricityFromState(lm: Array[String], st: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perLm = lm.indices.map { i =>
      st.agg(count(col(s"d$i")).as("n_reached"),
          max(col(s"d$i")).as("ecc_bounded"))
        .select(lit(lm(i)).as("landmark"), col("n_reached"),
          col("ecc_bounded"))
    }.reduce(_ unionByName _)
    val w = Window.partitionBy().rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // the unpartitioned window runs over nLandmarks rows — a handful by
    // construction, never the graph
    perLm.withColumn("diameter_lb", max(col("ecc_bounded")).over(w))
      .orderBy("landmark")
  }

  /** DuckDB twin of [[landmarkCloseness]]: CTE fragments (udc, lmc,
    * c0..cN) over edge CTE `edges`(src, dst) and node CTE `nodes`(key);
    * reached set in `c<rounds>`. Duplicate undirected edges are harmless
    * under min-distance, so udc's UNION-dedup need not match the Spark
    * side's distinct exactly. */
  def landmarkClosenessSql(edges: String, nodes: String,
                           nLandmarks: Int, rounds: Int): String = {
    val h = graft.functions.TextFunctions.hash60Sql("key || 'lm'")
    val its = (1 to rounds).map { k =>
      s"""c$k AS (
         |  SELECT landmark, node, min(d) AS d FROM (
         |    SELECT landmark, node, d FROM c${k - 1}
         |    UNION ALL
         |    SELECT p.landmark, e.dst AS node, p.d + 1 AS d
         |    FROM udc e JOIN c${k - 1} p ON e.src = p.node
         |  ) GROUP BY landmark, node)""".stripMargin
    }
    (Seq(
      s"udc AS (SELECT src, dst FROM $edges WHERE src <> dst UNION SELECT dst, src FROM $edges WHERE src <> dst)",
      s"lmc AS (SELECT key AS landmark FROM $nodes ORDER BY $h, key LIMIT $nLandmarks)",
      "c0 AS (SELECT landmark, landmark AS node, CAST(0 AS BIGINT) AS d FROM lmc)"
    ) ++ its).mkString(",\n")
  }

  /** One level-synchronous expansion: messages from the frontier's sigma
    * along `edges`, summed per (tag, dst) at distance `k`. The frontier
    * broadcasts only when `small` (the caller's `regime`) —
    * package-visible so PlanSpec can pin that the large-graph path plans a
    * shuffle join. */
  private[graft] def expandFrontier(edges: DataFrame, frontier: DataFrame,
                                    tag: String, small: Boolean,
                                    k: Int): DataFrame = {
    val fr = frontier.select(col(tag), col("node").as("src"), col("sigma"))
    edges.join(Regime(small).bc(fr), "src")
      .groupBy(col(tag), col("dst").as("node"))
      .agg(sum(col("sigma")).as("sigma"))
      .select(col(tag), col("node"), lit(k.toLong).as("d"), col("sigma"))
  }

  /** Landmark betweenness (stress form): for every node v, the number of
    * landmark-pair shortest paths passing THROUGH v —
    * Σ over ordered landmark pairs (a, b) of σ(a→v)·σ(v→b) where
    * d(a,v) + d(v,b) equals the pair's shortest distance (computed as
    * min over v of that sum, exact whenever ≤ 2·rounds). Endpoints are
    * excluded by d > 0 on both legs, the standard betweenness convention.
    * Unlike Brandes' δ-accumulation this form is RATIO-FREE: path counts
    * σ are integers from a level-synchronous BFS (a node's σ is the sum
    * of its distance-(k−1) predecessors' σ, fixed at first reach), so
    * every term is an integer product and the whole statistic replays
    * bit-for-bit in [[landmarkBetweennessSql]]. Exact full betweenness is
    * O(n·m) (no 100 TB pipeline runs it); landmark pairs are the standard
    * scale estimate.
    *
    * Scale shape: one sparse BFS per landmark per direction (states are
    * reached-set-sized; the frontier broadcasts only in the small
    * `regime`, like [[landmarkCloseness]] — beyond it the expansion is
    * a shuffle join), then one join of the two state tables
    * on node. The loop is PURE message passing: no per-round visited
    * anti-join. Level synchrony makes that sound — for any node v, every
    * in-neighbor contributing a message to v's round-dist(v) candidate
    * row must itself sit at distance dist(v)−1 (a closer one would give v
    * a shorter path, a farther one cannot be in that round's frontier
    * with a smaller-d row), so by induction the min-d candidate row per
    * (landmark, node) carries exactly σ; one arg-min-d aggregation at the
    * end replaces `rounds` anti-joins. σ products fit i64 comfortably at
    * bounded depth on hub-capped degrees — on graphs with 10⁵⁺ fan-out
    * hubs, cap rounds (σ grows as Π degree per level); `sigmaLimit`
    * guards the final σ table at runtime (σ·σ products summed over
    * nLandmarks² pairs must stay under 2⁶³). */
  def landmarkBetweenness(g: KinGraph, nLandmarks: Int = 3, rounds: Int = 3,
                          symmetric: Boolean = false,
                          sigmaLimit: Long = 1000000000L): DataFrame = {
    require(nLandmarks >= 2, "nLandmarks >= 2")
    require(rounds >= 1, "rounds >= 1")
    val sp = g.nodes.sparkSession
    import sp.implicits._
    val e = CacheScope.cached(g.edges.select(col("src"), col("dst")))
    val er = e.select(col("dst").as("src"), col("src").as("dst"))
    // nodes derive from the CACHED edge set (landmarks are sampled from
    // the connected support — an isolated node carries no paths anyway);
    // going through g.nodes would rescan the raw edge plan per use
    val nk = CacheScope.cached(
      e.select(col("src").as("key")).union(e.select(col("dst").as("key")))
        .distinct())
    val small = regime(nk).small
    val lms: Array[String] = nk
      .withColumn("h", graft.functions.TextFunctions.hash60(
        concat(col("key"), lit("lm"))))
      .orderBy(col("h"), col("key")).limit(nLandmarks)
      .select("key").collect().map(_.getString(0))
    // ONE landmark-tagged level-synchronous BFS per direction (landmarks
    // never interact, so the tagged loop is exactly the per-landmark loop
    // with 1/nLandmarks the job count). No visited anti-join: each round
    // expands ALL of the previous round's candidates (interior re-reaches
    // included — their rows carry inflated d and are discarded by the
    // closing arg-min-d aggregation, which by level synchrony holds the
    // exact first-reach sigma; see the scale-shape note above).
    def bfs(edges: DataFrame, tag: String): DataFrame = {
      var frontier = lms.zipWithIndex
        .map { case (l, i) => (i, l, 0L, 1L) }.toSeq
        .toDF(tag, "node", "d", "sigma")
      var all = frontier
      for (k <- 1 to rounds) {
        frontier = expandFrontier(edges, frontier, tag, small, k)
          .transform(CacheScope.checkpoint) // reused by the union AND the next round
        all = all.unionByName(frontier)
      }
      // the arg-min-d state is referenced by the overflow guard AND the
      // downstream pair join — checkpoint it so the closing aggregation
      // runs once, not once per consumer
      val fin = all.groupBy(col(tag), col("node"))
        .agg(max(struct((-col("d")).as("nd"), col("sigma"))).as("m"))
        .select(col(tag), col("node"), (-col("m.nd")).as("d"),
          col("m.sigma").as("sigma"))
        .transform(CacheScope.checkpoint)
      // overflow guard: a wrapped sigma would hash-match nothing with a
      // confusing signature — fail loudly instead. One tiny agg over the
      // in-memory checkpoint.
      val bounds = fin.agg(max(col("sigma")).as("mx"), min(col("sigma")).as("mn"))
        .head()
      if (!bounds.isNullAt(0) &&
          (bounds.getLong(0) > sigmaLimit || bounds.getLong(1) < 1L))
        throw new IllegalStateException(
          s"landmarkBetweenness sigma out of [1, $sigmaLimit] " +
            s"(max=${bounds.getLong(0)}, min=${bounds.getLong(1)}): " +
            "path counts are overflowing i64 — reduce `rounds` or cap hub degrees")
      fin
    }
    // on a symmetric (undirected) edge set the backward BFS IS the
    // forward one — callers passing an undirected graph set `symmetric`
    // and halve the work
    val fwd = bfs(e, "i")
    val bwd =
      if (symmetric) fwd.withColumnRenamed("i", "j") else bfs(er, "j")
    val joined = fwd.select(col("i"), col("node"),
        col("d").as("df"), col("sigma").as("sf"))
      .join(bwd.select(col("j"), col("node"),
        col("d").as("db"), col("sigma").as("sb")), "node")
      .filter(col("i") =!= col("j"))
    val dmin = joined.groupBy("i", "j")
      .agg(min(col("df") + col("db")).as("dij"))
    joined.join(broadcast(dmin), Seq("i", "j"))
      .filter(col("df") + col("db") === col("dij") &&
        col("df") > 0 && col("db") > 0)
      .groupBy(col("node").as("key"))
      .agg(sum(col("sf") * col("sb")).as("n_paths_through"))
  }

  /** DuckDB twin of [[landmarkBetweenness]]: CTE fragments over edge CTE
    * `edges`(src, dst) and node CTE `nodes`(key) — per-landmark BFS chains
    * (distance + path counts per level), both directions, then the
    * pair-distance join. Final SELECT comes from the caller over `bwj`
    * and `bwd_min`. */
  def landmarkBetweennessSql(edges: String, nodes: String,
                             nLandmarks: Int, rounds: Int,
                             symmetric: Boolean = false): String = {
    val h = graft.functions.TextFunctions.hash60Sql("key || 'lm'")
    val lmSel = (i: Int) =>
      s"(SELECT key FROM $nodes ORDER BY $h, key LIMIT 1 OFFSET $i)"
    def chain(tag: String, i: Int, fromCol: String, toCol: String): Seq[String] = {
      val f0 =
        s"""$tag${i}f0 AS (SELECT ${lmSel(i)} AS node,
           |  CAST(0 AS BIGINT) AS d, CAST(1 AS BIGINT) AS sigma)""".stripMargin
      val v0 = s"$tag${i}v0 AS (SELECT * FROM $tag${i}f0)"
      val levels = (1 to rounds).flatMap { k =>
        Seq(
          s"""$tag${i}f$k AS (
             |  SELECT e.$toCol AS node, CAST($k AS BIGINT) AS d,
             |    CAST(SUM(f.sigma) AS BIGINT) AS sigma
             |  FROM $edges e JOIN $tag${i}f${k - 1} f ON e.$fromCol = f.node
             |  WHERE e.$toCol NOT IN (SELECT node FROM $tag${i}v${k - 1})
             |  GROUP BY e.$toCol)""".stripMargin,
          s"""$tag${i}v$k AS (SELECT * FROM $tag${i}v${k - 1}
             |  UNION ALL SELECT * FROM $tag${i}f$k)""".stripMargin)
      }
      f0 +: v0 +: levels
    }
    val chains = (0 until nLandmarks).flatMap { i =>
      chain("bwf", i, "src", "dst") ++
        (if (symmetric)
          Seq(s"bwb${i}v$rounds AS (SELECT * FROM bwf${i}v$rounds)")
        else chain("bwb", i, "dst", "src"))
    }
    val fwdAll = (0 until nLandmarks)
      .map(i => s"SELECT $i AS i, node, d, sigma FROM bwf${i}v$rounds")
      .mkString(" UNION ALL ")
    val bwdAll = (0 until nLandmarks)
      .map(j => s"SELECT $j AS j, node, d, sigma FROM bwb${j}v$rounds")
      .mkString(" UNION ALL ")
    val joins = Seq(
      s"""bwj AS (
         |  SELECT f.i, b.j, f.node, f.d AS df, f.sigma AS sf,
         |    b.d AS db, b.sigma AS sb
         |  FROM ($fwdAll) f JOIN ($bwdAll) b ON f.node = b.node
         |  WHERE f.i <> b.j)""".stripMargin,
      "bwd_min AS (SELECT i, j, min(df + db) AS dij FROM bwj GROUP BY i, j)")
    (chains ++ joins).mkString(",\n")
  }

  /** Cached undirected edge view (edges + reversed, self-loops dropped),
    * optionally pre-partitioned so downstream per-key aggregations reuse
    * the shuffle. When pre-partitioning, the repartition runs BEFORE the
    * distinct: HashPartitioning(dst) satisfies the (src, dst) dedup's
    * clustered distribution (duplicate pairs share a dst), so the dedup
    * reuses that one shuffle instead of adding its own — the build costs
    * one edge shuffle, not two. */
  private def undirectedEdges(g: KinGraph,
                              partitionOn: Option[Column]): DataFrame = {
    val e0 = g.edges.select(col("src"), col("dst"))
    val ud = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
    CacheScope.cached(
      partitionOn.fold(ud.distinct())(p => ud.repartition(p).distinct()))
  }

  /** Both-directions view of an already-canonical DISTINCT undirected
    * edge frame `canon`(u, v) with u < v and no self-loops (e.g. the
    * session-shared cache:gx_und) — skips the per-query dedup shuffle
    * [[undirectedEdges]] pays: distinct canonical pairs expanded both
    * ways are distinct by construction. */
  private def undirectedFromCanon(canon: DataFrame,
                                  partitionOn: Option[Column]): DataFrame = {
    val ud = canon.select(col("u").as("src"), col("v").as("dst"))
      .union(canon.select(col("v").as("src"), col("u").as("dst")))
    CacheScope.cached(partitionOn.fold(ud)(p => ud.repartition(p)))
  }

  /** One-level Louvain refinement: every node synchronously evaluates
    * moving to each community among its neighbors and takes the best
    * strictly-positive modularity gain (tie: smallest label). Gains are
    * EXACT INTEGERS in 4m² modularity units:
    * ΔS(i: A→B) = 4m·(l_iB − l_iA) − 2·k_i·(D_B − D_A + k_i), where
    * l_iC = links from i into community C, D_A = degree sum of i's own
    * community (i included), D_B = of the target (i excluded), m = |und|.
    * Input: `labels`(key, label) and DISTINCT lexical undirected edges
    * `und`(u, v); output (key, label0, label1, gain_num), gain 0 on stay.
    * Nodes with no edges drop (they have no modularity mass).
    *
    * Scale shape: candidate moves are one (node, neighbor-label)
    * aggregation over the adjacency — each node scores only communities
    * it actually TOUCHES, never all communities; the argmax is a
    * key-partitioned window; m rides a broadcast 1-row frame. */
  def louvainOneLevel(labels: DataFrame, und: DataFrame): DataFrame = {
    val mm = und.agg(count(lit(1)).as("m"))
    // deg and lic each feed two downstream joins (dsum+base / lown+cand);
    // without materialization the adjacency-sized aggregations re-run per
    // consumer (the gx_louvain_q fan-out showed ~5× re-evaluation)
    val deg = CacheScope.cached(und.select(col("u").as("key"))
      .union(und.select(col("v").as("key")))
      .groupBy("key").agg(count(lit(1)).as("ki")))
    val adj = und.select(col("u").as("key"), col("v").as("nb"))
      .union(und.select(col("v").as("key"), col("u").as("nb")))
    val lic = CacheScope.cached(adj
      .join(labels.select(col("key").as("nb"), col("label").as("nbl")), "nb")
      .groupBy("key", "nbl").agg(count(lit(1)).as("lc")))
    louvainMovePass(labels, deg, lic, mm)
  }

  /** WEIGHTED one-level Louvain refinement — same exact-integer gain
    * algebra as [[louvainOneLevel]] with W = Σw, weighted strengths and
    * weighted community links. Input `wund`(u, v, w): distinct undirected
    * weighted edges with integer weights; SELF-LOOPS (u == v) are allowed
    * — a loop contributes 2w to its node's strength but cancels out of
    * every gain (moving a node carries its loop to either community), so
    * the link aggregation reads loop-free adjacency only. This is the
    * refinement step that runs on a COARSENED community graph
    * (gx_coarsen's output shape) as well as on natively weighted edges. */
  def louvainOneLevelWeighted(labels: DataFrame, wund: DataFrame): DataFrame =
    louvainMoveWeighted(labels,
      CacheScope.cached(louvainWeightedDeg(wund)),
      CacheScope.cached(louvainWeightedLic(labels, wund)),
      wund.agg(sum(col("w")).as("m")))

  /** Weighted node strengths `(key, ki)` of `wund`(u, v, w) — a self-loop
    * contributes 2w to its own node (it appears once in the edge list but
    * twice in the stub count). Exposed unpersisted so callers with a
    * session-shared `wund` can lift this frame into their own shared cache
    * (gx_louvain_w rides CacheScope.session; per-call forms use
    * CacheScope.cached). */
  def louvainWeightedDeg(wund: DataFrame): DataFrame = {
    val noloop = wund.filter(col("u") =!= col("v"))
    noloop.select(col("u").as("key"), col("w"))
      .unionByName(noloop.select(col("v").as("key"), col("w")))
      .unionByName(wund.filter(col("u") === col("v"))
        .select(col("u").as("key"), (col("w") * 2).as("w")))
      .groupBy("key").agg(sum(col("w")).as("ki"))
  }

  /** Weighted node→community link mass `(key, nbl, lc)` over the loop-free
    * adjacency of `wund` under `labels` — loops cancel out of every gain
    * so they are excluded here by construction. */
  def louvainWeightedLic(labels: DataFrame, wund: DataFrame): DataFrame = {
    val noloop = wund.filter(col("u") =!= col("v"))
    noloop.select(col("u").as("key"), col("v").as("nb"), col("w"))
      .unionByName(noloop.select(col("v").as("key"), col("u").as("nb"), col("w")))
      .join(labels.select(col("key").as("nb"), col("label").as("nbl")), "nb")
      .groupBy("key", "nbl").agg(sum(col("w")).as("lc"))
  }

  /** Weighted move pass over PREBUILT sufficient statistics — the gain
    * formula reads only `deg`/`lic`/`mm`, so callers that session-share
    * those frames pay just the node-sized join tree per invocation. */
  private[graft] def louvainMoveWeighted(labels: DataFrame, deg: DataFrame,
                                         lic: DataFrame, mm: DataFrame): DataFrame =
    louvainMovePass(labels, deg, lic, mm)

  /** TIME-RESPECTING reachability over a temporal edge multiset
    * `tedges`(src, dst, t) — integer edge times, a path is valid iff its
    * edge times are non-decreasing (you can't take a flight that left
    * before you arrived). State: earliest time-respecting ARRIVAL per
    * reached node; seeds start at -1 (before all activity). One relax
    * round extends every ≤ `rounds`-hop temporal path, so the bounded
    * horizon is the landmark-BFS contract; each round is one edge join +
    * a map-side-combinable min — arrival state only ever SHRINKS the
    * frontier it re-expands (sparse, like wsssp). Exact i64 end to end →
    * unrolled-CTE replayable ([[temporalReachabilitySql]]). */
  def temporalReachability(tedges: DataFrame, seeds: DataFrame,
                           rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = CacheScope.cached(
      tedges.select(col("src"), col("dst"), col("t").cast("long").as("t"))
        .repartition(col("dst")))
    var arr = seeds.select(col("key")).distinct()
      .withColumn("arr", lit(-1L))
    for (_ <- 1 to rounds) {
      arr = CacheScope.checkpoint(arr.unionByName(
          e.join(arr.select(col("key").as("src"), col("arr")), "src")
            .filter(col("t") >= col("arr"))
            .select(col("dst").as("key"), col("t").as("arr")))
        .groupBy("key").agg(min(col("arr")).as("arr")))
    }
    arr
  }

  /** DuckDB twin of [[temporalReachability]]: unrolled min-union rounds
    * over `$tedges`(src, dst, t) from seed CTE `$seeds`(key); final state
    * in `tr$rounds`(key, arr). */
  def temporalReachabilitySql(tedges: String, seeds: String,
                              rounds: Int): String = {
    val its = (1 to rounds).map { k =>
      s"""tr$k AS (
         |  SELECT key, CAST(min(arr) AS BIGINT) AS arr FROM (
         |    SELECT key, arr FROM tr${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS key, e.t AS arr
         |    FROM $tedges e JOIN tr${k - 1} a ON a.key = e.src AND e.t >= a.arr
         |  ) GROUP BY key)""".stripMargin
    }
    (s"tr0 AS (SELECT DISTINCT key, CAST(-1 AS BIGINT) AS arr FROM $seeds)" +:
      its).mkString(",\n")
  }

  /** HyperANF (Boldi-Rosa-Vigna): the approximate NEIGHBORHOOD FUNCTION
    * — per node, a probabilistic-counter estimate of |ball(v, k)| —
    * computed by propagating Flajolet-Martin registers `rounds` steps
    * over the undirected adjacency. Node v's register j after k rounds =
    * max rank among bucket-j nodes within distance k (self included);
    * bucket = hash60(key) mod `buckets`, rank = trailing zeros of the
    * remaining hash bits + 1, capped. The state is SPARSE (only touched
    * registers get rows) and every update is a map-side-combinable
    * (key, j) max — the whole algorithm is `rounds` shuffles of ≤
    * buckets·|E| 12-byte rows, the reason HyperANF scales where exact
    * per-node BFS cannot.
    *
    * Output (key, nnz, reg_sum, est_num): all EXACT integers —
    * est_num = Σ_j 2^(cap − M_j) (absent registers at rank 0 contribute
    * 2^cap), the HLL harmonic denominator as an exact dyadic rational in
    * 2^cap units, so the float estimate αm·m²·2^cap / est_num is a
    * post-hoc division while the gate hashes integers. */
  def hyperAnf(und: DataFrame, rounds: Int, buckets: Int = 16,
               rankCap: Int = 40): DataFrame = {
    require(rounds >= 1 && buckets >= 2)
    var st = CacheScope.cached(anfSeed(und, buckets, rankCap))
    val small = regime(st, AnfStateLimit).small
    val adj = anfAdj(und)
    for (_ <- 1 to rounds) st = anfStep(adj, st, buckets, small)
    anfPerKey(st, buckets, rankCap)
  }

  /** The N(r) GROWTH TRACE from ONE register propagation: the state after
    * round r of a continuous run IS hyperAnf(r)'s state (same
    * recurrence), so the whole radius-1..rounds curve costs `rounds`
    * shuffles, not the triangular 1+2+…+rounds of independent runs.
    * Output one row per round: (round, n_nodes, tot_reg, tot_est_num). */
  def hyperAnfTrace(und: DataFrame, rounds: Int, buckets: Int = 16,
                    rankCap: Int = 40): DataFrame = {
    require(rounds >= 1 && buckets >= 2)
    var st = CacheScope.cached(anfSeed(und, buckets, rankCap))
    val small = regime(st, AnfStateLimit).small
    val adj = anfAdj(und)
    val perRound = (1 to rounds).map { r =>
      st = anfStep(adj, st, buckets, small)
      anfPerKey(st, buckets, rankCap)
        .agg(count(lit(1)).as("n_nodes"), sum(col("reg_sum")).as("tot_reg"),
          sum(col("est_num")).as("tot_est_num"))
        .select(lit(r).as("round"), col("n_nodes"), col("tot_reg"),
          col("tot_est_num"))
    }
    perRound.reduce(_ unionByName _)
  }

  /** Broadcast limit on the HyperANF register state (rows): the wide
    * state is ~(4·buckets + key) bytes/node — 2M nodes ≈ 150 MB
    * broadcast, still a comfortable broadcast size; beyond it the merge
    * falls back to the one-shuffle union shape. */
  private val AnfStateLimit = 2000000L

  /** Doubled adjacency + one SELF-LOOP per node, cached hash-partitioned
    * ON `key` (the fixedPointPageRank layout): the per-round register
    * merge groups by `key`, so with the state broadcast the whole round
    * is narrow over this cache — zero per-iteration edge shuffle. The
    * self-loop delivers each node's own registers through the same join,
    * replacing the old `st ∪ msgs` union; max-merge is idempotent, so
    * the loop also stays harmless for the non-broadcast fallback. */
  private def anfAdj(und: DataFrame): DataFrame = CacheScope.cached {
    val doubled = und.select(col("u").as("key"), col("v").as("nb"))
      .union(und.select(col("v").as("key"), col("u").as("nb")))
    doubled
      .union(doubled.select(col("key")).distinct()
        .select(col("key"), col("key").as("nb")))
      .repartition(col("key"))
  }

  /** Register state is PACKED WIDE (r18): one row per node with `buckets`
    * int columns r0..r{B-1} (0 = empty register) instead of up to B sparse
    * (key, j, r) rows. The sparse layout shuffled B rows per node per
    * round (adj ⋈ state exploded to B·2m rows into the max-merge); the
    * wide layout shuffles one row per adjacency edge and the per-bucket
    * max-merge is B codegen `max` aggregates with map-side partial
    * aggregation (guide §2.3: shuffle fewer bytes; §4.1: built-in
    * expressions only). Register VALUES are identical — same seed hash,
    * same per-bucket max recurrence — so every emitted quantity
    * (nnz/reg_sum/est_num) is bit-identical to the sparse form and the
    * unrolled sparse-SQL oracle still matches. */
  private def anfSeed(und: DataFrame, buckets: Int, rankCap: Int): DataFrame = {
    val nodes = und.select(col("u").as("key"))
      .union(und.select(col("v").as("key"))).distinct()
    val sparse = nodes
      .withColumn("__h", graft.functions.TextFunctions.hash60(col("key")))
      .withColumn("j", pmod(col("__h"), lit(buckets.toLong)).cast("int"))
      .withColumn("__x", expr(s"__h div $buckets"))
      // trailing zeros via bit_count((x & -x) - 1); x = 0 caps out
      .withColumn("r",
        least(expr("bit_count((__x & -__x) - 1) + 1"), lit(rankCap))
          .cast("int"))
    sparse.select(col("key") +: (0 until buckets).map(k =>
      when(col("j") === k, col("r")).otherwise(lit(0))
        .cast("int").as(s"r$k")): _*)
  }

  private def anfStep(adj: DataFrame, st: DataFrame, buckets: Int,
                      small: Boolean): DataFrame = {
    val regs = (0 until buckets).map(k => col(s"r$k"))
    val byNb = st.withColumnRenamed("key", "nb")
    // small regime: broadcast the node-sized wide state; the join and the
    // per-key max-merge are then both narrow over adj's key partitioning
    // (self-loops in adj carry each node's own registers). Beyond the
    // broadcast limit, the classic one-shuffle union shape.
    val merged =
      if (small)
        adj.join(broadcast(byNb), "nb").select(col("key") +: regs: _*)
      else
        st.unionByName(
          adj.join(byNb, "nb").select(col("key") +: regs: _*))
    val agg = merged.groupBy("key")
      .agg(max(regs.head).as("r0"),
        regs.tail.zipWithIndex.map { case (r, i) =>
          max(r).as(s"r${i + 1}") }: _*)
    CacheScope.checkpoint(agg)
  }

  private def anfPerKey(st: DataFrame, buckets: Int, rankCap: Int): DataFrame = {
    val regs = (0 until buckets).map(k => col(s"r$k"))
    // empty register (r = 0) contributes 2^rankCap to the harmonic
    // denominator — exactly the (buckets - nnz) * 2^rankCap term of the
    // sparse form; nnz counts non-empty registers
    st.select(col("key"),
      regs.map(r => when(r > 0, 1).otherwise(0)).reduce(_ + _)
        .cast("int").as("nnz"),
      regs.map(_.cast("long")).reduce(_ + _).as("reg_sum"),
      (0 until buckets).map(k =>
          expr(s"shiftleft(CAST(1 AS BIGINT), $rankCap - r$k)"))
        .reduce(_ + _).as("est_num"))
  }

  /** DuckDB twin of [[hyperAnf]]: seed registers from the same md5-60
    * bucket/rank split, `rounds` unrolled sparse max-merge CTEs over the
    * doubled adjacency `$adj`(key, nb); final aggregate in `${p}est`. */
  def hyperAnfSql(adj: String, nodes: String, rounds: Int, p: String,
                  buckets: Int = 16, rankCap: Int = 40): String = {
    val h = graft.functions.TextFunctions.hash60Sql("key")
    val its = (1 to rounds).map { k =>
      s"""${p}s$k AS MATERIALIZED (
         |  SELECT key, j, CAST(max(r) AS INT) AS r FROM (
         |    SELECT key, j, r FROM ${p}s${k - 1}
         |    UNION ALL
         |    SELECT a.key, s.j, s.r FROM $adj a
         |    JOIN ${p}s${k - 1} s ON s.key = a.nb
         |  ) GROUP BY key, j)""".stripMargin
    }
    val seed =
      s"""${p}s0 AS (
         |  SELECT key, CAST(h % $buckets AS INT) AS j,
         |    CAST(least(bit_count((x & -x) - 1) + 1, $rankCap) AS INT) AS r
         |  FROM (SELECT key, h, h // $buckets AS x
         |        FROM (SELECT key, $h AS h FROM $nodes)))""".stripMargin
    val est =
      s"""${p}est AS (
         |  SELECT key, CAST(count(*) AS INT) AS nnz,
         |    CAST(sum(r) AS BIGINT) AS reg_sum,
         |    CAST(sum(CAST(1 AS BIGINT) << ($rankCap - r))
         |      + ($buckets - count(*)) * (CAST(1 AS BIGINT) << $rankCap)
         |      AS BIGINT) AS est_num
         |  FROM ${p}s$rounds GROUP BY key)""".stripMargin
    (seed +: its :+ est).mkString(",\n")
  }

  /** LEIDEN-style connectivity repair: split every community of
    * `labels`(key, label) into its CONNECTED parts over the undirected
    * edges `und`(u, v) — the Leiden paper's fix for Louvain's headline
    * defect (internally disconnected communities). Output (key, label,
    * label_cc, n_parts): label_cc = the part's min key (the repaired
    * community id), n_parts = how many parts the node's community
    * shattered into (1 = already connected). Members with no
    * intra-community edge become singletons. One intra-edge join + CC on
    * a graph that only SHRINKS from the input adjacency. */
  def communityConnectedParts(labels: DataFrame, und: DataFrame): DataFrame = {
    val lab = labels.select(col("key"), col("label"))
    val intra = und
      .join(lab.select(col("key").as("u"), col("label").as("lu")), "u")
      .join(lab.select(col("key").as("v"), col("label").as("lv")), "v")
      .filter(col("lu") === col("lv"))
      .select(col("u").as("src"), col("v").as("dst"))
    val cc = graft.gx.GraphXBridge.connectedComponents(
      graft.gx.GraphXBridge.toGraphX(KinGraph.fromEdges(intra)))
    val out = lab.join(cc, Seq("key"), "left")
      .select(col("key"), col("label"),
        coalesce(col("component"), col("key")).as("label_cc"))
    val parts = out.groupBy("label")
      .agg(countDistinct(col("label_cc")).as("n_parts"))
    out.join(parts, "label")
      .select(col("key"), col("label"), col("label_cc"), col("n_parts"))
  }

  /** Contract a weighted undirected edge set `wund`(u, v, w) by a
    * community map `map`(key, label): edge mass between (and within)
    * communities sums; intra-community edges become self-loops — exactly
    * the input shape [[louvainOneLevelWeighted]]'s loop-cancellation
    * contract expects. One shuffle on the (community, community) key. */
  private def contractWeighted(wund: DataFrame, map: DataFrame): DataFrame =
    wund
      .join(map.select(col("key").as("u"), col("label").as("lu")), "u")
      .join(map.select(col("key").as("v"), col("label").as("lv")), "v")
      .groupBy(least(col("lu"), col("lv")).as("u"),
        greatest(col("lu"), col("lv")).as("v"))
      .agg(sum(col("w")).as("w"))

  /** FULL multi-level Louvain: one unweighted move pass on the native
    * graph, then repeat (contract communities → weighted move pass on the
    * supernode graph) until a weighted level moves nothing or `maxLevels`
    * is reached. Output: one row per connected node with its community
    * after EVERY level plus the per-level move counts (frame-global,
    * replicated — the termination trace):
    * (key, label1..labelN, moved1..movedN).
    *
    * Early-stop ≡ static unroll: a weighted level with zero moves leaves
    * both the labels (every node stays) and the contracted graph
    * (contraction by the identity map) unchanged, so every later level
    * replays the identical pass and also moves nothing — filling the
    * remaining label columns with the fixpoint is exactly what running
    * them would produce, and the unrolled fixed-depth oracle CTE chain
    * agrees with the early-stopping loop by construction. Level 2 always
    * runs even when level 1 moved nothing: the level-1→2 CONTRACTION (by
    * the input labels) changes the graph regardless of moves.
    *
    * Scale shape: each level is one adjacency-sized contraction shuffle
    * plus a move pass over a graph that SHRINKS to one node per
    * community — levels get strictly cheaper; per-level state is
    * checkpointed (the projection joins each level map once). */
  def louvainMultiLevel(labels: DataFrame, und: DataFrame, maxLevels: Int,
                        level1: Option[DataFrame] = None): DataFrame = {
    require(maxLevels >= 1, "maxLevels must be >= 1")
    // checkpoint BEFORE the move count: the count and the projection both
    // read the pass output, and an unmaterialized plan would run the full
    // gain pipeline once per consumer (level1 arrives pre-persisted from
    // the session cache when provided)
    val out1 = level1.getOrElse(CacheScope.checkpoint(
      louvainOneLevel(labels, und)
        .select(col("key"), col("label0"), col("label1"))))
    var moves = Vector(
      out1.filter(col("label0") =!= col("label1")).count())
    var acc = CacheScope.checkpoint(out1.select(col("key"), col("label1")))
    var g = CacheScope.checkpoint(contractWeighted(und.withColumn("w", lit(1L)),
        acc.select(col("key"), col("label1").as("label"))))
    var lastCol = "label1"
    var stopped = false
    for (lvl <- 2 to maxLevels) {
      val cname = s"label$lvl"
      if (stopped) {
        acc = acc.withColumn(cname, col(lastCol))
        moves :+= 0L
      } else {
        val superLab = g.select(col("u").as("key"))
          .union(g.select(col("v").as("key"))).distinct()
          .select(col("key"), col("key").as("label"))
        // one materialization per level: the count, the projection join
        // and the next contraction all read this checkpoint — an
        // unmaterialized pass would re-run its gain pipeline per consumer
        val outK = CacheScope.checkpoint(louvainOneLevelWeighted(superLab, g)
          .select(col("key"), col("label0"), col("label1")))
        val movedK = outK.filter(col("label0") =!= col("label1")).count()
        moves :+= movedK
        if (movedK == 0L) {
          stopped = true
          acc = acc.withColumn(cname, col(lastCol))
        } else {
          acc = CacheScope.checkpoint(acc
            .join(outK.select(col("key").as(lastCol),
              col("label1").as(cname)), lastCol))
          g = CacheScope.checkpoint(contractWeighted(g,
              outK.select(col("key"), col("label1").as("label"))))
          lastCol = cname
        }
      }
    }
    val labelCols = (1 to maxLevels).map(i => col(s"label$i"))
    val moveCols = moves.zipWithIndex.map { case (m, i) =>
      lit(m).as(s"moved${i + 1}") }
    acc.select((col("key") +: labelCols) ++ moveCols: _*)
  }

  /** Shared gain/argmax/stay-or-move tail of the two refinement forms:
    * `deg`(key, ki) node strengths, `lic`(key, nbl, lc) node→community
    * link mass, `mm` 1-row total mass — the gain formula reads only these
    * sufficient statistics, so weighting is entirely upstream. */
  private def louvainMovePass(labels: DataFrame, deg: DataFrame,
                              lic: DataFrame, mm: DataFrame): DataFrame = {
    val dsum = labels.join(deg, "key")
      .groupBy("label").agg(sum(col("ki")).as("dsum"))
    // node-sized, referenced by cand AND the final stay/move projection
    val base = labels.select(col("key"), col("label").as("l0"))
      .join(deg, "key")
      .join(dsum.select(col("label").as("l0"), col("dsum").as("da")), "l0")
      .join(lic.select(col("key"), col("nbl").as("l0"),
        col("lc").as("lown")), Seq("key", "l0"), "left")
      .withColumn("lown", coalesce(col("lown"), lit(0L)))
    val cand = base.join(lic, "key").filter(col("nbl") =!= col("l0"))
      .join(dsum.select(col("label").as("nbl"), col("dsum").as("db")), "nbl")
      .crossJoin(broadcast(mm))
      .withColumn("gain",
        lit(4L) * col("m") * (col("lc") - col("lown")) -
          lit(2L) * col("ki") * (col("db") - col("da") + col("ki")))
    // per-node argmax as a map-side-combinable min(struct(−gain, label))
    // — (gain DESC, label ASC) without a window sort over the candidates
    val best = cand.groupBy("key")
      .agg(min(struct((-col("gain")).as("ng"), col("nbl").as("bl"))).as("mb"))
      .select(col("key"), col("mb.bl").as("bl"), (-col("mb.ng")).as("gain"))
    base.select(col("key"), col("l0"))
      .join(best, Seq("key"), "left")
      .select(col("key"), col("l0").as("label0"),
        when(col("gain") > 0, col("bl")).otherwise(col("l0")).as("label1"),
        when(col("gain") > 0, col("gain")).otherwise(lit(0L)).as("gain_num"))
  }

  /** DuckDB twin of [[louvainOneLevelWeighted]]: CTE fragments over a
    * weighted undirected edge CTE `$wedges`(u, v, w) — self-loops allowed
    * — and a labels CTE `$labels`(key, label); per-node verdicts land in
    * `${p}out`(key, label0, label1, gain_num). Loops feed strength twice
    * (the UNION ALL double-count IS the 2w) but are excluded from the
    * link adjacency, mirroring the Spark side's cancellation contract. */
  def weightedLouvainSql(wedges: String, labels: String, p: String): String =
    s"""${p}m AS MATERIALIZED (
       |  SELECT CAST(sum(w) AS BIGINT) AS m FROM $wedges
       |), ${p}deg AS MATERIALIZED (
       |  SELECT key, CAST(sum(w) AS BIGINT) AS ki FROM (
       |    SELECT u AS key, w FROM $wedges UNION ALL SELECT v, w FROM $wedges)
       |  GROUP BY key
       |), ${p}dsum AS MATERIALIZED (
       |  SELECT l.label, CAST(sum(d.ki) AS BIGINT) AS dsum
       |  FROM $labels l JOIN ${p}deg d ON d.key = l.key GROUP BY l.label
       |), ${p}adj AS (
       |  SELECT u AS key, v AS nb, w FROM $wedges WHERE u <> v
       |  UNION ALL SELECT v, u, w FROM $wedges WHERE u <> v
       |), ${p}lic AS MATERIALIZED (
       |  SELECT a.key, l.label AS nbl, CAST(sum(a.w) AS BIGINT) AS lc
       |  FROM ${p}adj a JOIN $labels l ON l.key = a.nb GROUP BY a.key, l.label
       |), ${p}base AS MATERIALIZED (
       |  SELECT l.key, l.label AS l0, d.ki, s.dsum AS da,
       |    coalesce(o.lc, 0) AS lown
       |  FROM $labels l JOIN ${p}deg d ON d.key = l.key
       |  JOIN ${p}dsum s ON s.label = l.label
       |  LEFT JOIN ${p}lic o ON o.key = l.key AND o.nbl = l.label
       |), ${p}cand AS (
       |  SELECT b.key, b.l0, c.nbl,
       |    4 * ${p}m.m * (c.lc - b.lown) - 2 * b.ki * (s2.dsum - b.da + b.ki) AS gain
       |  FROM ${p}base b JOIN ${p}lic c ON c.key = b.key AND c.nbl <> b.l0
       |  JOIN ${p}dsum s2 ON s2.label = c.nbl, ${p}m
       |), ${p}best AS (
       |  SELECT key, nbl, gain FROM (
       |    SELECT key, nbl, gain,
       |      row_number() OVER (PARTITION BY key ORDER BY gain DESC, nbl) AS rn
       |    FROM ${p}cand) WHERE rn = 1
       |), ${p}out AS (
       |  SELECT b.key, b.l0 AS label0,
       |    CASE WHEN coalesce(${p}best.gain, 0) > 0 THEN ${p}best.nbl ELSE b.l0 END AS label1,
       |    CAST(CASE WHEN coalesce(${p}best.gain, 0) > 0 THEN ${p}best.gain ELSE 0 END AS BIGINT) AS gain_num
       |  FROM ${p}base b LEFT JOIN ${p}best ON ${p}best.key = b.key
       |)""".stripMargin

  /** DuckDB twin of [[labelPropagationSync]]: CTE fragments (ud, l0..lN)
    * over edge CTE `edges`(src, dst) and node CTE `nodes`(key); final
    * labels in `l<iters>`. */
  def labelPropagationSql(edges: String, nodes: String, iters: Int): String = {
    val its = (1 to iters).map { k =>
      s"""l$k AS (
         |  SELECT n.key, coalesce(p.label, n.key) AS label
         |  FROM $nodes n LEFT JOIN (
         |    SELECT key,
         |      min(struct_pack(nc := -cnt, label := label)).label AS label
         |    FROM (
         |      SELECT e.dst AS key, l.label, count(*) AS cnt
         |      FROM ud e JOIN l${k - 1} l ON e.src = l.key
         |      GROUP BY e.dst, l.label)
         |    GROUP BY key) p ON n.key = p.key)""".stripMargin
    }
    (s"""ud AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM $edges UNION ALL
        |    SELECT dst AS src, src AS dst FROM $edges)
        |  WHERE src <> dst)""".stripMargin +:
      s"l0 AS (SELECT key, key AS label FROM $nodes)" +:
      its).mkString(",\n")
  }

  /** Luby's maximal-independent-set rounds with DETERMINISTIC priorities,
    * so the randomized algorithm is exactly SQL-replayable (the
    * [[lubyMisSql]] twin unrolls the rounds): p(v) derives from md5
    * ("mis_" seed family, 15 hex chars → positive i60 — the repo's
    * engine-portable hash idiom), and per round over the ACTIVE subgraph
    *
    *  - v joins the MIS iff p(v) is STRICTLY below every active
    *    neighbor's priority (isolated active nodes join);
    *  - active neighbors of new MIS members are removed;
    *  - ties (p equal) add neither endpoint — both stay active, which
    *    keeps the update deterministic in any engine.
    *
    * Strict-< makes each round's MIS independent by construction (two
    * adjacent winners would each need the smaller priority). A bounded
    * round count keeps the plan finite; nodes still undecided after
    * `rounds` report status 'active' (round 0) rather than being forced,
    * so the output is honest at every SF. Returns (key, status, round)
    * with status ∈ mis|removed|active.
    *
    * Scale (the labelPropagationSync pattern): the edge set is cached
    * hash-partitioned ON dst — the per-round min-priority aggregation
    * reuses that partitioning; the node-sized active/MIS/removed frames
    * broadcast in the small `regime` and fall back to shuffle joins
    * beyond it. The active set is checkpointed after every round but the
    * last. Expected O(log n) rounds to empty the active set.
    *
    * @param canonFrom when given, MUST be the distinct `u < v`,
    *   non-self-loop pairs `(u, v)` of `g.edges` (`cache:gx_und` for the
    *   union graph; GraphOpsSpec pins that). It is trusted unchecked. */
  def lubyMis(g: KinGraph, rounds: Int,
              canonFrom: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val ud = canonFrom.map(undirectedFromCanon(_, Some(col("dst"))))
      .getOrElse(undirectedEdges(g, Some(col("dst"))))
    val nodes = CacheScope.cached(g.nodes.select(col("key")))
    val rg = regime(nodes)
    val prio = conv(substring(md5(concat(lit("mis_"), col("key"))), 1, 15),
      16, 10).cast("long")
    var active = nodes.select(col("key"), prio.as("p"))
    var result = nodes
      .select(col("key"), lit("").as("status"), lit(0).as("round"))
      .filter(lit(false))
    for (r <- 1 to rounds) {
      val ae = ud
        .join(rg.bc(active.select(col("key").as("src"), col("p").as("psrc"))), "src")
        .join(rg.bc(active.select(col("key").as("dst"))), "dst")
      val minNb = ae.groupBy(col("dst").as("key")).agg(min(col("psrc")).as("pmin"))
      // checkpointed: each round's winners feed the result AND the removal
      val mis = CacheScope.checkpoint(active.join(rg.bc(minNb), Seq("key"), "left")
        .filter(col("pmin").isNull || col("p") < col("pmin"))
        .select("key"))
      // referenced twice (result + anti-join): under the broadcast regime
      // both references re-evaluate two broadcast joins over CACHED
      // inputs — cheaper than a blocking localCheckpoint job per round;
      // at scale (shuffle joins) the materialization wins
      val removedRaw = ae.join(rg.bc(mis.withColumnRenamed("key", "src")), "src")
        .select(col("dst").as("key")).distinct()
      val removed =
        if (rg.small) removedRaw else CacheScope.checkpoint(removedRaw)
      result = result
        .unionByName(mis.select(col("key"), lit("mis").as("status"),
          lit(r).as("round")))
        .unionByName(removed.select(col("key"), lit("removed").as("status"),
          lit(r).as("round")))
      active = active.join(rg.bc(mis), Seq("key"), "left_anti")
        .join(rg.bc(removed), Seq("key"), "left_anti")
      if (r < rounds) active = CacheScope.checkpoint(active)
    }
    result.unionByName(
      active.select(col("key"), lit("active").as("status"), lit(0).as("round")))
  }

  /** DuckDB twin of [[lubyMis]]: CTE fragments (mud, ma0..maN with
    * per-round mi/mx winner/removed sets) plus the assembled result CTE
    * `mres`(key, status, round). */
  def lubyMisSql(edges: String, nodes: String, rounds: Int): String = {
    val its = (1 to rounds).map { k =>
      val p = k - 1
      s"""me$k AS MATERIALIZED (
         |  SELECT e.src, e.dst, s.p AS psrc FROM mud e
         |  JOIN ma$p s ON s.key = e.src JOIN ma$p d ON d.key = e.dst
         |), mm$k AS (
         |  SELECT dst AS key, min(psrc) AS pmin FROM me$k GROUP BY dst
         |), mi$k AS MATERIALIZED (
         |  SELECT a.key FROM ma$p a LEFT JOIN mm$k m ON m.key = a.key
         |  WHERE m.pmin IS NULL OR a.p < m.pmin
         |), mx$k AS (
         |  SELECT DISTINCT e.dst AS key FROM me$k e JOIN mi$k i ON i.key = e.src
         |), ma$k AS MATERIALIZED (
         |  SELECT a.key, a.p FROM ma$p a
         |  LEFT JOIN mi$k i ON i.key = a.key
         |  LEFT JOIN mx$k x ON x.key = a.key
         |  WHERE i.key IS NULL AND x.key IS NULL
         |)""".stripMargin
    }
    val unions = (1 to rounds).map { k =>
      s"""  SELECT key, 'mis' AS status, CAST($k AS INT) AS round FROM mi$k
         |  UNION ALL
         |  SELECT key, 'removed', CAST($k AS INT) FROM mx$k""".stripMargin
    }.mkString("\n  UNION ALL\n")
    (s"""mud AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM $edges UNION ALL
        |    SELECT dst AS src, src AS dst FROM $edges)
        |  WHERE src <> dst)""".stripMargin +:
      (s"ma0 AS MATERIALIZED (SELECT key, CAST('0x' || substring(md5('mis_' || key), 1, 15) " +
        s"AS BIGINT) AS p FROM $nodes)") +:
      its :+
      s"""mres AS (
         |$unions
         |  UNION ALL
         |  SELECT key, 'active', CAST(0 AS INT) FROM ma$rounds
         |)""".stripMargin).mkString(",\n")
  }

  /** Boruvka minimum spanning forest with DETERMINISTIC hash weights —
    * the classic O(log n)-round distributed MSF (clustering backbone /
    * cheapest-connectivity skeleton): per round every component picks
    * its minimum-weight outgoing edge under the (w, u, v) total order,
    * picked edges join the forest, and touching components merge. With
    * distinct weights each round's partner graph is a pseudoforest
    * whose cycles are 2-cycles (following min-edges strictly decreases
    * the weight until a mutual pair), and the merged component label is
    * the min label in the merged tree — computed by the SAME pointer-
    * doubling subroutine the functional-graph ops use (correct for ANY
    * cycle length, so even a freak weight tie merges safely). Weights
    * hash the canonical pair ("msf_" seed) unless supplied via
    * `weightsFrom`(u, v, w). Returns the forest edges (u, v, w, round).
    *
    * Scale shape: per round one edge relabel join + one map-side-
    * combinable struct-min per component + a component-sized doubling
    * loop (log-depth keyed self-joins on frames that HALVE per round).
    * The doubling depth (2^16 jumps) bounds partner-chain length — the
    * same documented contract as [[pointerDoublingLabels]]. */
  def boruvkaForest(g: KinGraph, rounds: Int = 4,
                    weightsFrom: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val e0 = g.edges.select(col("src"), col("dst"))
    val und = CacheScope.cached(weightsFrom.getOrElse {
      e0.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct()
        .withColumn("w",
          conv(substring(md5(concat(lit("msf_"), col("u"), lit("|"), col("v"))),
            1, 15), 16, 10).cast("long"))
    })
    val nodes = CacheScope.cached(g.nodes.select(col("key")))
    val rg = regime(nodes)
    var labels = nodes.select(col("key"), col("key").as("comp"))
    var forest = und.select(col("u"), col("v"), col("w"), lit(0).as("round"))
      .filter(lit(false))
    for (r <- 1 to rounds) {
      val cross = und
        .join(rg.bc(labels.select(col("key").as("u"), col("comp").as("cu"))), "u")
        .join(rg.bc(labels.select(col("key").as("v"), col("comp").as("cv"))), "v")
        .filter(col("cu") =!= col("cv"))
      val pick = struct(col("w"), col("u"), col("v"), col("cu"), col("cv"))
      val picks = cross
        .select(col("cu").as("c"), pick.as("m"))
        .unionByName(cross.select(col("cv").as("c"), pick.as("m")))
        .groupBy("c").agg(min(col("m")).as("m"))
        .select(col("c"), col("m.w").as("w"), col("m.u").as("u"),
          col("m.v").as("v"), col("m.cu").as("ecu"), col("m.cv").as("ecv"))
        .transform(CacheScope.checkpoint)
      forest = forest.unionByName(
        picks.select(col("u"), col("v"), col("w")).distinct()
          .withColumn("round", lit(r)))
      // partner pointers: each picking component points across its edge;
      // components with no outgoing edge (their piece is finished) self-loop
      val pg = labels.select(col("comp")).distinct()
        .join(picks.select(col("c").as("comp"),
          when(col("c") === col("ecu"), col("ecv")).otherwise(col("ecu"))
            .as("succ0")), Seq("comp"), "left")
        .select(col("comp").as("node"), coalesce(col("succ0"), col("comp")).as("succ"))
      val relabel = pointerDoublingLabels(pg)
        .select(col("node").as("comp"), col("cycle_rep"))
      labels = CacheScope.checkpoint(labels.join(rg.bc(relabel), "comp")
        .select(col("key"), col("cycle_rep").as("comp")))
    }
    forest
  }

  /** DuckDB twin of [[boruvkaForest]] over edge CTE `edges`(src, dst) —
    * canonical hash-weighted edges, every Boruvka round unrolled with an
    * embedded [[doublingCtes]] block per merge; forest in
    * `bfor`(u, v, w, round). */
  def boruvkaForestSql(edges: String, nodes: String, rounds: Int = 4,
                       doubling: Int = 16): String = {
    val its = (1 to rounds).map { k =>
      val p = k - 1
      s"""be$k AS (
         |  SELECT e.u, e.v, e.w, la.comp AS cu, lb.comp AS cv
         |  FROM bwe e JOIN bl$p la ON la.key = e.u JOIN bl$p lb ON lb.key = e.v
         |  WHERE la.comp <> lb.comp
         |), bq$k AS MATERIALIZED (
         |  SELECT c, m['w'] AS w, m['u'] AS u, m['v'] AS v,
         |    m['cu'] AS ecu, m['cv'] AS ecv
         |  FROM (
         |    SELECT c, min(m) AS m FROM (
         |      SELECT cu AS c,
         |        struct_pack(w := w, u := u, v := v, cu := cu, cv := cv) AS m
         |      FROM be$k
         |      UNION ALL
         |      SELECT cv,
         |        struct_pack(w := w, u := u, v := v, cu := cu, cv := cv)
         |      FROM be$k)
         |    GROUP BY c)
         |), bf$k AS (
         |  SELECT DISTINCT u, v, w FROM bq$k
         |), bpg$k AS MATERIALIZED (
         |  SELECT d.comp AS node,
         |    coalesce(CASE WHEN q.c = q.ecu THEN q.ecv ELSE q.ecu END, d.comp)
         |      AS succ
         |  FROM (SELECT DISTINCT comp FROM bl$p) d
         |  LEFT JOIN bq$k q ON q.c = d.comp
         |), ${doublingCtes(s"bd${k}_", s"bpg$k", doubling)},
         |bl$k AS MATERIALIZED (
         |  SELECT l.key, n.cycle_rep AS comp
         |  FROM bl$p l JOIN bd${k}_lab n ON n.node = l.comp
         |)""".stripMargin
    }
    val unions = (1 to rounds)
      .map(k => s"  SELECT u, v, w, CAST($k AS INT) AS round FROM bf$k")
      .mkString("\n  UNION ALL\n")
    (s"""bwe AS MATERIALIZED (
        |  SELECT u, v,
        |    CAST('0x' || substring(md5('msf_' || u || '|' || v), 1, 15)
        |      AS BIGINT) AS w
        |  FROM (
        |    SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |    FROM $edges WHERE src <> dst))""".stripMargin +:
      s"bl0 AS MATERIALIZED (SELECT key, key AS comp FROM $nodes)" +:
      its :+
      s"""bfor AS (
         |$unions
         |)""".stripMargin).mkString(",\n")
  }

  /** Greedy maximal matching with DETERMINISTIC edge priorities — MIS on
    * the line graph, run directly on edges (the assignment/pairing
    * primitive: one-to-one task pairing, graph coarsening's heavy-edge
    * step): per round an active edge joins the matching iff its priority
    * is the STRICT minimum among active edges at BOTH endpoints (two
    * adjacent edges can't both win — they share an endpoint where only
    * one can be minimal), then all edges touching newly matched nodes
    * deactivate. Priorities hash the canonical endpoint pair ("mat_"
    * seed), so the rounds replay in SQL ([[greedyMatchingSql]]). Output:
    * one row per canonical undirected edge — status 'matched' with its
    * round, or 'open' (still active after `rounds`; ties block, honest),
    * or 'blocked' (an endpoint matched elsewhere).
    *
    * Scale (the lubyMis pattern): per round two map-side-combinable
    * min-priority aggregations (one per endpoint) + broadcast semi-joins
    * in the small `regime`; the active edge set only shrinks. Expected
    * O(log m) rounds.
    *
    * @param canonFrom when given, MUST be the distinct `u < v`,
    *   non-self-loop pairs `(u, v)` of `g.edges` (`cache:gx_und` for the
    *   union graph; GraphOpsSpec pins that). It is trusted unchecked. */
  def greedyMatching(g: KinGraph, rounds: Int,
                     canonFrom: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val e0 = g.edges.select(col("src"), col("dst"))
    val base = canonFrom.getOrElse(
      e0.filter(col("src") =!= col("dst"))
        .select(least(col("src"), col("dst")).as("u"),
          greatest(col("src"), col("dst")).as("v"))
        .distinct())
    val canon = CacheScope.cached(
      base.withColumn("p",
        conv(substring(md5(concat(lit("mat_"), col("u"), lit("|"), col("v"))),
          1, 15), 16, 10).cast("long")))
    val rg = regime(canon)
    var active = canon
    var result = canon.select(col("u"), col("v"), lit("").as("status"),
      lit(0).as("round")).filter(lit(false))
    for (r <- 1 to rounds) {
      val byEnd = active.select(explode(array(col("u"), col("v"))).as("n"), col("p"))
      val minAt = byEnd.groupBy("n").agg(min(col("p")).as("pmin"))
      val dupAt = byEnd.groupBy("n", "p").agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select(col("n"), col("p"))
      val won = active
        .join(rg.bc(minAt.select(col("n").as("u"), col("pmin").as("pu"))), "u")
        .join(rg.bc(minAt.select(col("n").as("v"), col("pmin").as("pv"))), "v")
        .filter(col("p") === col("pu") && col("p") === col("pv"))
        // a priority TIE at an endpoint lets two adjacent edges both
        // "equal the min" — require strict uniqueness by excluding an
        // edge iff ITS OWN endpoint sees its priority twice. Scoped to
        // (endpoint, priority) pairs: a same-priority collision elsewhere
        // in the graph must not disqualify an unrelated edge (the old
        // global-p exclusion did exactly that)
        .join(rg.bc(dupAt.select(col("n").as("u"), col("p"))),
          Seq("u", "p"), "left_anti")
        .join(rg.bc(dupAt.select(col("n").as("v"), col("p"))),
          Seq("v", "p"), "left_anti")
        .select("u", "v").transform(CacheScope.checkpoint)
      val matchedNodes = CacheScope.checkpoint(
        won.select(explode(array(col("u"), col("v"))).as("n"))
          .distinct())
      val blocked = active.join(won, Seq("u", "v"), "left_anti")
        .join(rg.bc(matchedNodes.withColumnRenamed("n", "u")), Seq("u"), "left_semi")
        .select("u", "v")
        .unionByName(active.join(won, Seq("u", "v"), "left_anti")
          .join(rg.bc(matchedNodes.withColumnRenamed("n", "v")), Seq("v"), "left_semi")
          .select("u", "v"))
        .distinct().transform(CacheScope.checkpoint)
      result = result
        .unionByName(won.select(col("u"), col("v"), lit("matched").as("status"),
          lit(r).as("round")))
        .unionByName(blocked.select(col("u"), col("v"), lit("blocked").as("status"),
          lit(r).as("round")))
      active = CacheScope.checkpoint(active.join(rg.bc(won), Seq("u", "v"), "left_anti")
        .join(rg.bc(blocked), Seq("u", "v"), "left_anti"))
    }
    result.unionByName(
      active.select(col("u"), col("v"), lit("open").as("status"),
        lit(0).as("round")))
  }

  /** DuckDB twin of [[greedyMatching]]: canonical edge CTE with hashed
    * priorities, every round unrolled (MATERIALIZED), result in
    * `gres`(u, v, status, round). */
  def greedyMatchingSql(edges: String, rounds: Int): String = {
    val its = (1 to rounds).map { k =>
      val p = k - 1
      s"""gn$k AS (
         |  SELECT n, min(p) AS pmin FROM (
         |    SELECT u AS n, p FROM ga$p UNION ALL SELECT v, p FROM ga$p)
         |  GROUP BY n
         |), gd$k AS (
         |  SELECT n, p FROM (
         |    SELECT u AS n, p FROM ga$p UNION ALL SELECT v, p FROM ga$p)
         |  GROUP BY n, p HAVING count(*) > 1
         |), gw$k AS MATERIALIZED (
         |  SELECT a.u, a.v FROM ga$p a
         |  JOIN gn$k nu ON nu.n = a.u AND nu.pmin = a.p
         |  JOIN gn$k nv ON nv.n = a.v AND nv.pmin = a.p
         |  LEFT JOIN gd$k du ON du.n = a.u AND du.p = a.p
         |  LEFT JOIN gd$k dv ON dv.n = a.v AND dv.p = a.p
         |  WHERE du.n IS NULL AND dv.n IS NULL
         |), gm$k AS MATERIALIZED (
         |  SELECT DISTINCT n FROM (
         |    SELECT u AS n FROM gw$k UNION ALL SELECT v FROM gw$k)
         |), gb$k AS MATERIALIZED (
         |  SELECT DISTINCT a.u, a.v FROM ga$p a
         |  LEFT JOIN gw$k w ON w.u = a.u AND w.v = a.v
         |  WHERE w.u IS NULL
         |    AND (a.u IN (SELECT n FROM gm$k) OR a.v IN (SELECT n FROM gm$k))
         |), ga$k AS MATERIALIZED (
         |  SELECT a.u, a.v, a.p FROM ga$p a
         |  LEFT JOIN gw$k w ON w.u = a.u AND w.v = a.v
         |  LEFT JOIN gb$k b ON b.u = a.u AND b.v = a.v
         |  WHERE w.u IS NULL AND b.u IS NULL
         |)""".stripMargin
    }
    val unions = (1 to rounds).map { k =>
      s"""  SELECT u, v, 'matched' AS status, CAST($k AS INT) AS round FROM gw$k
         |  UNION ALL
         |  SELECT u, v, 'blocked', CAST($k AS INT) FROM gb$k""".stripMargin
    }.mkString("\n  UNION ALL\n")
    (s"""ga0 AS MATERIALIZED (
        |  SELECT u, v,
        |    CAST('0x' || substring(md5('mat_' || u || '|' || v), 1, 15)
        |      AS BIGINT) AS p
        |  FROM (
        |    SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        |    FROM $edges WHERE src <> dst))""".stripMargin +:
      its :+
      s"""gres AS (
         |$unions
         |  UNION ALL
         |  SELECT u, v, 'open', CAST(0 AS INT) FROM ga$rounds
         |)""".stripMargin).mkString(",\n")
  }

  /** Jones-Plassmann greedy coloring with DETERMINISTIC priorities — the
    * second classic symmetry-breaking primitive next to [[lubyMis]]
    * (register allocation / conflict-free scheduling): per round, an
    * uncolored node is READY when its priority strictly exceeds every
    * UNCOLORED neighbor's, and a ready node takes the mex — the smallest
    * color in 0..deg(v) not used by an already-colored neighbor (some
    * color in that range is always free, so every ready node colors and
    * the greedy bound χ ≤ Δ+1 holds). Priorities are LARGEST-DEGREE-
    * FIRST with an md5 tiebreak (p = deg·2³² + h32("col_"+key)): with
    * uniform random priorities a hub waits for every higher-priority
    * neighbor and JP degenerates to O(Δ) rounds on star-heavy graphs
    * (measured: 38/190 nodes in 6 rounds on the union graph); with LDF
    * the hubs color in the first rounds and their spokes unblock
    * together (measured: full coloring in 6).
    * Ties (equal p on adjacent uncolored nodes) block both FOREVER —
    * vanishing at 60-bit priorities, and deterministic in both engines,
    * so the unrolled twin ([[jpColoringSql]]) replays every round.
    * Nodes still uncolored after `rounds` report NULL color honestly.
    *
    * Scale (the lubyMis pattern): per round one max-priority aggregation
    * over the cached dst-partitioned edge set, one colored-neighbor
    * join, and a Σ(deg+1)-row mex explode over READY nodes only;
    * node-sized frames broadcast in the small `regime`. Expected
    * O(log n) rounds on random priorities.
    *
    * @param canonFrom when given, MUST be the distinct `u < v`,
    *   non-self-loop pairs `(u, v)` of `g.edges` (`cache:gx_und` for the
    *   union graph; GraphOpsSpec pins that). It is trusted unchecked. */
  def jpColoring(g: KinGraph, rounds: Int,
                 canonFrom: Option[DataFrame] = None): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val ud = canonFrom.map(undirectedFromCanon(_, Some(col("dst"))))
      .getOrElse(undirectedEdges(g, Some(col("dst"))))
    val nodes = CacheScope.cached(g.nodes.select(col("key")))
    val rg = regime(nodes)
    val degs = CacheScope.cached(
      ud.groupBy(col("dst").as("key")).agg(count(lit(1)).cast("int").as("deg")))
    val h32 = conv(substring(md5(concat(lit("col_"), col("key"))), 1, 8),
      16, 10).cast("long")
    var unc = nodes.join(rg.bc(degs), Seq("key"), "left")
      .select(col("key"),
        (coalesce(col("deg"), lit(0)).cast("long") * lit(4294967296L) + h32)
          .as("p"))
    var colors = nodes.select(col("key"), lit(0).as("color"), lit(0).as("round"))
      .filter(lit(false))
    for (r <- 1 to rounds) {
      val pmax = ud
        .join(rg.bc(unc.select(col("key").as("src"), col("p").as("psrc"))), "src")
        .join(rg.bc(unc.select(col("key").as("dst"))), "dst")
        .groupBy(col("dst").as("key")).agg(max(col("psrc")).as("pmax"))
      val ready = CacheScope.checkpoint(unc.join(rg.bc(pmax), Seq("key"), "left")
        .filter(col("pmax").isNull || col("p") > col("pmax"))
        .select("key"))
      val used = ud.join(rg.bc(ready.withColumnRenamed("key", "dst")), "dst")
        .join(rg.bc(colors.select(col("key").as("src"), col("color"))), "src")
        .select(col("dst").as("key"), col("color")).distinct()
      val mex = ready.join(rg.bc(degs), Seq("key"), "left")
        .select(col("key"),
          explode(sequence(lit(0), coalesce(col("deg"), lit(0)))).as("c"))
        .join(used.withColumnRenamed("color", "c"), Seq("key", "c"), "left_anti")
        .groupBy("key").agg(min(col("c")).as("color"))
      colors = CacheScope.checkpoint(colors
        .unionByName(mex.withColumn("round", lit(r))))
      unc = CacheScope.checkpoint(
        unc.join(rg.bc(ready), Seq("key"), "left_anti"))
    }
    nodes.join(colors, Seq("key"), "left")
      .select(col("key"), col("color"), col("round"))
  }

  /** DuckDB twin of [[jpColoring]]: CTE fragments over edge CTE
    * `edges`(src, dst) and node CTE `nodes`(key) with every round
    * unrolled (MATERIALIZED — rounds reference predecessors repeatedly);
    * final labels in `kfin`(key, color, round). */
  def jpColoringSql(edges: String, nodes: String, rounds: Int): String = {
    val its = (1 to rounds).map { k =>
      val p = k - 1
      s"""kp$k AS (
         |  SELECT e.dst AS key, max(s.p) AS pmax FROM kud e
         |  JOIN ku$p s ON s.key = e.src JOIN ku$p d ON d.key = e.dst
         |  GROUP BY 1
         |), kr$k AS MATERIALIZED (
         |  SELECT u.key FROM ku$p u LEFT JOIN kp$k m ON m.key = u.key
         |  WHERE m.pmax IS NULL OR u.p > m.pmax
         |), ks$k AS (
         |  SELECT DISTINCT e.dst AS key, c.color
         |  FROM kud e JOIN kr$k r ON r.key = e.dst
         |  JOIN kc$p c ON c.key = e.src
         |), km$k AS MATERIALIZED (
         |  SELECT key, CAST(min(k) AS INT) AS color FROM (
         |    SELECT cand.key, cand.k FROM (
         |      SELECT r.key, unnest(generate_series(0, coalesce(d.deg, 0))) AS k
         |      FROM kr$k r LEFT JOIN kdeg d ON d.key = r.key) cand
         |    LEFT JOIN ks$k u ON u.key = cand.key AND u.color = cand.k
         |    WHERE u.key IS NULL)
         |  GROUP BY key
         |), kc$k AS MATERIALIZED (
         |  SELECT key, color, round FROM kc$p
         |  UNION ALL
         |  SELECT key, color, CAST($k AS INT) AS round FROM km$k
         |), ku$k AS MATERIALIZED (
         |  SELECT u.key, u.p FROM ku$p u
         |  LEFT JOIN kr$k r ON r.key = u.key WHERE r.key IS NULL
         |)""".stripMargin
    }
    (s"""kud AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM $edges UNION ALL
        |    SELECT dst AS src, src AS dst FROM $edges)
        |  WHERE src <> dst)""".stripMargin +:
      s"kdeg AS (SELECT dst AS key, CAST(count(*) AS INT) AS deg FROM kud GROUP BY dst)" +:
      (s"ku0 AS MATERIALIZED (SELECT n.key, CAST(coalesce(d.deg, 0) AS BIGINT) * 4294967296 " +
        s"+ CAST('0x' || substring(md5('col_' || n.key), 1, 8) AS BIGINT) AS p " +
        s"FROM $nodes n LEFT JOIN kdeg d ON d.key = n.key)") +:
      "kc0 AS (SELECT CAST(NULL AS VARCHAR) AS key, CAST(0 AS INT) AS color, CAST(0 AS INT) AS round WHERE false)" +:
      its :+
      s"""kfin AS (
         |  SELECT n.key, c.color, c.round
         |  FROM $nodes n LEFT JOIN kc$rounds c ON c.key = n.key
         |)""".stripMargin).mkString(",\n")
  }

  /** Bounded k-core peel: `rounds` synchronous iterations of "drop every
    * node whose UNDIRECTED degree among surviving nodes is < k". With
    * enough rounds this converges to the exact k-core; a bounded round
    * count keeps the plan finite and SQL-replayable (the
    * [[kCoreSql]] twin unrolls the rounds — convergence on a given graph
    * is assertable by checking round N == round N-1, which the spec does).
    *
    * Returns the surviving node set (key). Per round: two semi-joins of
    * the cached undirected edge set against the alive set + one
    * map-side-combinable degree count — no all-pairs, no driver loop over
    * rows. The alive set is referenced TWICE per round (once per
    * endpoint), so it is materialized after every round but the last —
    * that keeps the branched lineage from re-evaluating and hands AQE an
    * exact (node-bounded, shrinking) size for the semi-join build sides. */
  def kCore(g: KinGraph, k: Int, rounds: Int): DataFrame =
    kCorePeel(undirectedEdges(g, Some(col("dst"))),
      g.nodes.select(col("key")), k, rounds)

  /** [[kCore]] with DATA-ADAPTIVE k = (min undirected degree + kOffset):
    * a fixed k is the wrong knob across corpus sizes — degrees grow with
    * the data, so one constant either peels nothing or empties the graph.
    * Builds the undirected view once and reuses it for both the degree
    * floor and the peel. */
  def kCoreAdaptive(g: KinGraph, kOffset: Int, rounds: Int): DataFrame = {
    val ud = undirectedEdges(g, Some(col("dst")))
    // min over an EMPTY degree frame is NULL: on an edgeless graph every
    // node has degree 0
    val minDeg = ud.groupBy(col("dst")).agg(count(lit(1)).as("d"))
      .agg(coalesce(min(col("d")), lit(0L))).first().getLong(0)
    kCorePeel(ud, g.nodes.select(col("key")),
      (minDeg + kOffset).toInt, rounds)
  }

  private def kCorePeel(ud: DataFrame, nodes0: DataFrame, k: Int,
                        rounds: Int): DataFrame = {
    require(k >= 1, "k >= 1")
    val rg = regime(nodes0)
    iterate(nodes0, rounds, 1) { alive =>
      // edges with BOTH endpoints alive, counted per dst — two semi joins
      // against the (broadcast-sized, shrinking) alive set, one count that
      // reuses ud's dst partitioning
      ud.join(rg.bc(alive.withColumnRenamed("key", "src")), Seq("src"), "left_semi")
        .join(rg.bc(alive.withColumnRenamed("key", "dst")), Seq("dst"), "left_semi")
        .groupBy(col("dst").as("key")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("key"))
    }
  }

  /** DuckDB twin of [[kCore]]: CTE fragments (ud, a0..aN) over edge CTE
    * `edges`(src, dst) and node CTE `nodes`(key); survivors in `a<rounds>`.
    * `kExpr` is a SQL expression (a literal, or a scalar subquery over the
    * emitted `ud` CTE for data-adaptive k). */
  def kCoreSql(edges: String, nodes: String, kExpr: String, rounds: Int): String = {
    val its = (1 to rounds).map { r =>
      s"""a$r AS MATERIALIZED (
         |  SELECT dst AS key FROM ud
         |  WHERE src IN (SELECT key FROM a${r - 1})
         |    AND dst IN (SELECT key FROM a${r - 1})
         |  GROUP BY dst HAVING count(*) >= $kExpr)""".stripMargin
    }
    (s"""ud AS MATERIALIZED (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM $edges UNION ALL
        |    SELECT dst AS src, src AS dst FROM $edges)
        |  WHERE src <> dst)""".stripMargin +:
      s"a0 AS (SELECT key FROM $nodes)" +:
      its).mkString(",\n")
  }

  /** Hub-skew-safe neighbor collection: two-stage collect_list with a salt
    * so one mega-hub's adjacency never lands in a single task's buffer in
    * stage one. Stage 2 still unions per key, but over `salts` partial
    * lists instead of raw edges (bounded memory per stage-1 task; use for
    * the reference's one_node_many_neighbors-style hub shapes). */
  def saltedNeighborLists(g: KinGraph, salts: Int = 16): DataFrame = {
    val salted = g.edges
      .withColumn("salt", pmod(xxhash64(col("dst")), lit(salts)))
      .groupBy(col("src"), col("salt"))
      .agg(collect_set(col("dst")).as("partial"))
    salted.groupBy(col("src").as("key"))
      .agg(sort_array(flatten(collect_list(col("partial")))).as("neighbors"))
  }

  /** k-truss peel (bounded rounds): iteratively drop undirected edges
    * supported by fewer than k−2 triangles in the CURRENT edge set — the
    * edge-level analog of k-core, and the standard community-backbone
    * extractor (an edge survives only while enough of its triangles do,
    * so weak ties fall away in cascades the per-round recount captures).
    * Canonical least/greatest edges; triangle enumeration is the same
    * x<y<z two-join shape the gx_triangles oracle uses; support is the
    * per-edge count over the triangle's three edge roles. Bounded
    * `rounds` with honest truncation (the gx_closeness discipline);
    * output = surviving edges with their support in the FINAL edge set.
    *
    * Scale shape: per round ONE triangle enumeration (two u/v-keyed
    * equi-joins, the same cost profile as a triangle count) plus a
    * map-side-combinable support aggregation; the edge set shrinks
    * monotonically and each round checkpoints, so plans stay flat and
    * later rounds run on the pruned set. */
  /** Undirected edges `(u, v)` re-oriented from the lower-(degree, key)
    * endpoint, carrying the head endpoint's degree: `(a, b, db)` with
    * (deg, key)(a) < (deg, key)(b). Every wedge is then generated at its
    * lowest-degree corner, bounding any node's out-degree by O(√m)
    * amortized regardless of raw degree — the standard skew-killer for
    * triangle/truss enumeration (a u<v lexical orientation leaves a
    * high-degree `least`-side hub generating deg² wedges: a 300-spoke
    * hub alone is 44 850 wedge rows lexically vs 0 here, pinned by
    * GraphOpsSpec's planted-hub wedge-count assert). */
  private[graft] def degreeOriented(e: DataFrame): DataFrame = {
    // the degree frame is node-sized; broadcast it so the edge set never
    // shuffles for the attach — eo is then a MAP-ONLY view over e, free
    // to re-scan for each of the three wedge/closing-edge roles (the
    // identical broadcast subplan is built once and reused)
    val deg = broadcast(e.select(col("u").as("node"))
      .unionByName(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg")))
    val withDeg = e
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), "u")
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), "v")
    val lowFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    withDeg.select(
      when(lowFirst, col("u")).otherwise(col("v")).as("a"),
      when(lowFirst, col("v")).otherwise(col("u")).as("b"))
  }

  /** Wedge rows `(x, y, z)` CENTERED at y under the (degree, key)
    * orientation: incoming oriented edge x -> y paired with outgoing
    * y -> z. Per-node wedge count is in(y)·out(y), and out(y) is
    * O(√m)-bounded by the orientation, so the total is O(m^1.5)
    * worst-case — a mixed-neighborhood hub (half its neighbors ordered
    * below it, half above) generates deg²/4 wedges under any FIXED key
    * order but ZERO here, because every edge at a max-degree hub points
    * INTO it (the planted-hub spec pins this at 300 spokes). */
  private[graft] def orientedWedges(e: DataFrame): DataFrame =
    orientedWedgesOf(degreeOriented(e))

  private def orientedWedgesOf(eo: DataFrame): DataFrame = {
    val wa = eo.select(col("a").as("x"), col("b").as("y"))
    val wb = eo.select(col("a").as("y2"), col("b").as("z"))
    wa.join(wb, col("y2") === col("y")).select(col("x"), col("y"), col("z"))
  }

  /** Edge-EMBEDDEDNESS histogram (Granovetter weak ties): for every
    * undirected edge, its embeddedness = triangle support = |N(u)∩N(v)|,
    * reduced to `(support, n_edges)` — the support-0 row counts the graph's
    * LOCAL BRIDGES (edges whose endpoints share no neighbor, the weak-tie /
    * Burt structural-hole signal), and the histogram's mass profile is the
    * community-embeddedness curve tie-strength studies plot. Reference
    * analog: per-edge neighborhood intersection, `common_neighbors`
    * (graph.py:751) evaluated edge-wise.
    *
    * Scale shape: one degree-oriented triangle enumeration (the
    * [[kTruss]] wedge discipline — per-node wedge count bounded O(√m) by
    * the orientation, so a 300-spoke hub contributes zero wedge rows),
    * support counted on the ORIENTED edge identity (orientation is a
    * bijection on edges, so the histogram is identical to the lexical
    * form), then a support-sized final aggregate. No corpus-sized frame is
    * ever joined unkeyed. */
  def edgeSupportHist(und: DataFrame): DataFrame = {
    val eo = CacheScope.checkpoint(degreeOriented(und.select(col("u"), col("v"))))
    val wc = eo.select(col("a").as("x3"), col("b").as("z3"))
    val tri = orientedWedgesOf(eo)
      .join(wc, col("x") === col("x3") && col("z") === col("z3"))
      .select("x", "y", "z")
    val sup = tri.select(col("x").as("a"), col("y").as("b"))
      .unionByName(tri.select(col("y").as("a"), col("z").as("b")))
      .unionByName(tri.select(col("x").as("a"), col("z").as("b")))
      .groupBy("a", "b").agg(count(lit(1)).as("s"))
    eo.join(sup, Seq("a", "b"), "left")
      .select(coalesce(col("s"), lit(0L)).as("support"))
      .groupBy("support").agg(count(lit(1)).as("n_edges"))
  }

  /** DuckDB twin of [[edgeSupportHist]] over an undirected lexical edge
    * CTE `und`(u, v) — the simpler lexical triangle enumeration (same
    * triangle set, same per-edge support). */
  def edgeSupportHistSql(und: String): String =
    s"""tri AS MATERIALIZED (
       |  SELECT a.u AS x, a.v AS y, b.v AS z
       |  FROM $und a JOIN $und b ON b.u = a.v
       |  JOIN $und c ON c.u = a.u AND c.v = b.v
       |), te AS MATERIALIZED (
       |  SELECT x AS u, y AS v FROM tri
       |  UNION ALL SELECT y, z FROM tri
       |  UNION ALL SELECT x, z FROM tri
       |), sup AS MATERIALIZED (
       |  SELECT u, v, CAST(count(*) AS BIGINT) AS s FROM te GROUP BY u, v
       |)
       |SELECT coalesce(sup.s, 0) AS support,
       |  CAST(count(*) AS BIGINT) AS n_edges
       |FROM $und e LEFT JOIN sup ON e.u = sup.u AND e.v = sup.v
       |GROUP BY 1 ORDER BY support""".stripMargin

  def kTruss(g: KinGraph, k: Int, rounds: Int): DataFrame = {
    // The LOOP STATE lives in (degree, key)-oriented form (a -> b): the
    // orientation is computed ONCE on the input graph (any fixed total
    // order keeps triangle enumeration correct, and out-degrees of a
    // peeled SUBSET only shrink, so the O(√m) hub bound survives every
    // round), making each peel round exactly the old three-scan shape —
    // no per-round degree recompute. Triangle edges come out already
    // oriented, so support aggregates on the (a, b) identity directly;
    // the lexical u<v identity is restored only on the final output.
    def support(e: DataFrame): DataFrame = {
      val wa = e.select(col("a").as("x"), col("b").as("y"))
      val wb = e.select(col("a").as("y2"), col("b").as("z"))
      val wc = e.select(col("a").as("x3"), col("b").as("z3"))
      val tri = wa.join(wb, col("y") === col("y2"))
        .join(wc, col("x") === col("x3") && col("z") === col("z3"))
        .select("x", "y", "z")
      tri.select(col("x").as("a"), col("y").as("b"))
        .unionByName(tri.select(col("y").as("a"), col("z").as("b")))
        .unionByName(tri.select(col("x").as("a"), col("z").as("b")))
        .groupBy("a", "b").agg(count(lit(1)).as("supp"))
    }
    // checkpoint the lexical set BEFORE orienting: degreeOriented scans
    // its input twice (degree aggregate + attach), which would otherwise
    // re-run the whole edge derivation + distinct shuffle
    val lex = g.edges.filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct().transform(CacheScope.checkpoint)
    var e = degreeOriented(lex).transform(CacheScope.checkpoint)
    // No fixpoint early-exit here (unlike [[bitruss]]): the gate runs 2
    // rounds on a graph whose peel keeps cascading, so a per-round
    // convergence count is pure overhead — measured slower in r18.
    for (_ <- 1 to rounds) {
      e = e.join(support(e), Seq("a", "b"), "left")
        .filter(coalesce(col("supp"), lit(0L)) >= k - 2)
        .select("a", "b").transform(CacheScope.checkpoint)
    }
    e.join(support(e), Seq("a", "b"), "left")
      .select(least(col("a"), col("b")).as("u"),
        greatest(col("a"), col("b")).as("v"),
        coalesce(col("supp"), lit(0L)).as("supp"))
  }

  /** DuckDB twin of [[kTruss]] over directed edge CTE `$edges`(src, dst):
    * every peel round unrolled (MATERIALIZED — each round's edge set is
    * referenced three times by the next triangle join). */
  def kTrussSql(edges: String, k: Int, rounds: Int): String = {
    def suppCte(e: String, p: String): String =
      s"""${p}tri AS (
         |  SELECT a.u AS x, a.v AS y, b.v AS z
         |  FROM $e a JOIN $e b ON b.u = a.v
         |  JOIN $e c ON c.u = a.u AND c.v = b.v
         |), ${p}supp AS (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS supp FROM (
         |    SELECT x AS u, y AS v FROM ${p}tri
         |    UNION ALL SELECT y, z FROM ${p}tri
         |    UNION ALL SELECT x, z FROM ${p}tri)
         |  GROUP BY u, v
         |)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""${suppCte(s"kt${r - 1}", s"r$r")}, kt$r AS MATERIALIZED (
         |  SELECT e.u, e.v FROM kt${r - 1} e
         |  LEFT JOIN r${r}supp s ON s.u = e.u AND s.v = e.v
         |  WHERE coalesce(s.supp, 0) >= ${k - 2}
         |)""".stripMargin
    }.mkString(", ")
    s"""kt0 AS MATERIALIZED (
       |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
       |  FROM $edges WHERE src <> dst
       |), $roundCtes, ${suppCte(s"kt$rounds", "fin")}
       |SELECT e.u, e.v, CAST(coalesce(s.supp, 0) AS BIGINT) AS supp
       |FROM kt$rounds e
       |LEFT JOIN finsupp s ON s.u = e.u AND s.v = e.v
       |ORDER BY e.u, e.v""".stripMargin
  }

  /** Functional-graph labeling by POINTER DOUBLING — the O(log n)
    * list-ranking technique that labels linked structures (successor
    * chains, parent pointers, ρ-shaped hash orbits) without n sequential
    * rounds. Input is a total successor function (node, succ), i.e. a
    * functional graph: every weakly-connected component is a ρ — one
    * cycle plus trees hanging off it. Round k materializes, per node,
    * `jump = f^(2^k)(node)` and `mn = min id of f^j(node), j ∈ [1, 2^k]`
    * via ONE self-join (jump_{k+1}(v) = jump_k(jump_k(v)), min composes
    * with least). After rounds ≥ log₂(n), `jump` lands on the component's
    * cycle for every node, and the cycle's canonical label is
    * `mn(jump(v))` — the min id ON the cycle (tail ids can't pollute it:
    * the min is taken from a cycle node, whose forward orbit IS the
    * cycle). Output: (node, cycle_rep, basin_size).
    *
    * Scale shape: rounds = 16 covers n ≤ 65536 per component-path; at
    * 100 TB the table is shuffled once on `node` and each round is one
    * equi-join reusing that partitioning — 16 joins total where naive
    * traversal needs cycle-length rounds. State is one row per node;
    * each round checkpoints (the GraphOps iterative discipline). */
  def pointerDoublingLabels(succ: DataFrame, rounds: Int = 16,
                            probeFrom: Int = 4): DataFrame = {
    val t = doublingState(succ, rounds, probeFrom)
    val atRoot = t.select(col("node").as("r"), col("mn").as("cycle_rep"))
    val lbl = t.join(atRoot, t("jump") === atRoot("r"))
      .select(col("node"), col("cycle_rep"))
    val wB = org.apache.spark.sql.expressions.Window.partitionBy(col("cycle_rep"))
    lbl.withColumn("basin_size", count(lit(1)).over(wB))
  }

  /** The shared doubling loop: final state (node, jump = f^(2^rounds),
    * mn = min over the nodes 1..2^rounds steps ahead).
    *
    * EARLY FIXPOINT STOP (r18): the loop halts as soon as `jump` is
    * POINTWISE STABLE between consecutive rounds — a sound convergence
    * proof, not a heuristic. If f^(2^k)(v) = f^(2^(k-1))(v) for every v,
    * then (a) every jump target is on its cycle (a tail position would
    * advance strictly), (b) the cycle length divides 2^(k-1), so both
    * windows already cover the whole cycle, and (c) one more round maps
    * cycle nodes to themselves and mins over covered orbits — the state
    * is a fixpoint, so rounds k+1..16 are provably no-ops and the
    * stopped state EQUALS the full-depth state (labels, basins, and the
    * jump image used by [[functionalScc]] — all identical). The probe is
    * one narrow scan over the just-checkpointed RDD per round (the
    * previous jump rides along as a column), while each skipped round
    * saves a keyed self-join shuffle + checkpoint. Boruvka partner
    * graphs (short min-weight chains into 2-cycles) stop after ~3-4
    * rounds instead of 16; a worst-case chain still runs the full
    * documented 2^rounds depth. (A fused-chunk variant was measured
    * SLOWER: duplicated self-join subtrees only dedupe their exchanges,
    * the join work itself re-executes per reference.) */
  private def doublingState(succ: DataFrame, rounds: Int,
                            probeFrom: Int = 4): DataFrame = {
    // probe every 4th round from probeFrom on: a per-round probe job costs
    // about as much as the skipped self-join on small frames, so checking
    // at 4/8/12 keeps the fast-converging case (Boruvka partner graphs, ~3
    // rounds) at one probe while bounding the slow case's overhead. With
    // no probe round below `rounds` the __jprev rider column goes too:
    // stability needs every cycle length to DIVIDE 2^(k-1), so callers
    // whose cycles are not powers of two (the planted ρ-map: random
    // ~√n-length cycles) pass probeFrom >= rounds
    def probesAt(r: Int): Boolean = r % 4 == 0 && r >= probeFrom && r < rounds
    val probing = (1 until rounds).exists(probesAt)
    var t = CacheScope.checkpoint(succ.select(col("node"), col("succ").as("jump"),
      col("succ").as("mn")))
    var stable = false
    var r = 0
    while (r < rounds && !stable) {
      val o = t.select(col("node").as("n2"), col("jump").as("j2"),
        col("mn").as("m2"))
      val base = t.join(o, t("jump") === o("n2"))
      val nxt = CacheScope.checkpoint(
        if (probing)
          base.select(t("node"), col("j2").as("jump"),
            least(col("mn"), col("m2")).as("mn"), t("jump").as("__jprev"))
        else
          base.select(t("node"), col("j2").as("jump"),
            least(col("mn"), col("m2")).as("mn")))
      r += 1
      if (probesAt(r))
        stable = nxt.filter(col("jump") =!= col("__jprev")).isEmpty
      t = if (probing) nxt.drop("__jprev") else nxt
    }
    t
  }

  /** Strongly connected components of a FUNCTIONAL graph (out-degree 1),
    * derived from the pointer-doubling state rather than an iterative
    * SCC decomposition: in a functional graph every SCC is either one of
    * the terminal cycles or a tail singleton, and after the doubling
    * rounds the image of `jump` is EXACTLY the union of cycles (jump
    * restricted to a cycle is a rotation — a bijection — while every
    * tail node maps strictly inside its cycle). So
    *   scc(v) = cycle_rep(v)  if v ∈ image(jump)   (v is on a cycle)
    *          = v             otherwise            (tail singleton).
    * The oracle derives the SAME labels from the textbook definition —
    * mutual reachability via a recursive CTE ([[functionalSccSql]]) — so
    * a hash match cross-validates two independent formalizations.
    *
    * Scale shape: the doubling loop (log-depth keyed self-joins) plus
    * one distinct over the node-sized final state; labels ≤ 2^rounds
    * deep, same contract as [[pointerDoublingLabels]]. */
  def functionalScc(succ: DataFrame, rounds: Int = 16,
                    probeFrom: Int = 4): DataFrame = {
    val t = doublingState(succ, rounds, probeFrom)
    val atRoot = t.select(col("node").as("r"), col("mn").as("cycle_rep"))
    val onCycle = t.select(col("jump").as("node")).distinct()
      .withColumn("on_cycle", lit(1))
    val lbl = t.join(atRoot, t("jump") === atRoot("r"))
      .select(col("node"), col("cycle_rep"))
      .join(onCycle, Seq("node"), "left")
      .select(col("node"),
        when(col("on_cycle") === 1, col("cycle_rep")).otherwise(col("node"))
          .as("scc"))
    val wS = org.apache.spark.sql.expressions.Window.partitionBy(col("scc"))
    lbl.withColumn("scc_size", count(lit(1)).over(wS))
  }

  /** DuckDB twin of [[functionalScc]] — the DEFINITIONAL form over
    * successor CTE `fs`(node, succ): recursive forward reachability,
    * mutual pairs, min mutual partner as the SCC label, tails default to
    * themselves. Deliberately NOT the doubling construction. */
  def functionalSccSql(): String =
    s"""frch AS (
       |  WITH RECURSIVE r(s, t) AS (
       |    SELECT node, succ FROM fs
       |    UNION
       |    SELECT r.s, fs.succ FROM r JOIN fs ON fs.node = r.t
       |  ) SELECT s, t FROM r
       |), fmut AS (
       |  SELECT r1.s AS v, r1.t AS u
       |  FROM frch r1 JOIN frch r2 ON r2.s = r1.t AND r2.t = r1.s
       |), fscc AS (
       |  SELECT v, min(u) AS scc FROM fmut GROUP BY v
       |), flbl AS (
       |  SELECT n.node, coalesce(s.scc, n.node) AS scc
       |  FROM fs n LEFT JOIN fscc s ON s.v = n.node
       |)
       |SELECT node, scc,
       |  CAST(count(*) OVER (PARTITION BY scc) AS BIGINT) AS scc_size
       |FROM flbl""".stripMargin

  /** Reusable doubling CTE fragments over successor CTE `src`(node,
    * succ), names prefixed so several instances can coexist in one WITH
    * (the Boruvka twin embeds one per merge round). Final labels land in
    * `<prefix>lab`(node, cycle_rep). Every round references its
    * predecessor TWICE, so the CTEs must be MATERIALIZED — DuckDB's
    * default inlining would expand the chain exponentially. */
  def doublingCtes(prefix: String, src: String, rounds: Int = 16): String = {
    val roundCtes = (1 to rounds).map { k =>
      val prev = s"$prefix${k - 1}"
      s"""$prefix$k AS MATERIALIZED (
         |  SELECT a.node, b.jump AS jump, least(a.mn, b.mn) AS mn
         |  FROM $prev a JOIN $prev b ON b.node = a.jump
         |)""".stripMargin
    }.mkString(", ")
    s"""${prefix}0 AS MATERIALIZED (
       |  SELECT node, succ AS jump, succ AS mn FROM $src
       |), $roundCtes, ${prefix}lab AS (
       |  SELECT a.node, r.mn AS cycle_rep
       |  FROM $prefix$rounds a JOIN $prefix$rounds r ON r.node = a.jump
       |)""".stripMargin
  }

  /** DuckDB twin of [[pointerDoublingLabels]] over successor CTE
    * `fs`(node, succ) — [[doublingCtes]] plus the basin rollup. */
  def pointerDoublingSql(rounds: Int = 16): String =
    s"""${doublingCtes("pd", "fs", rounds)}
       |SELECT node, cycle_rep,
       |  CAST(count(*) OVER (PARTITION BY cycle_rep) AS BIGINT) AS basin_size
       |FROM pdlab""".stripMargin

  /** Per-round BFS reach curve over an undirected edge set (u, v) from
    * a seed frame (`key`): after each of `rounds` frontier expansions,
    * the size of the reached set — (round, n_reached) rows. Each round
    * is one adjacency semi-join + distinct, state is the reached set
    * only (sparse-state discipline), checkpointed per round. The
    * counting frames read the checkpointed states, so the curve costs
    * one action over materialized RDDs. */
  def bfsReachCurve(und: DataFrame, seeds: DataFrame,
                    rounds: Int): DataFrame =
    bfsReachCurveTagged(und.withColumn("variant", lit("_")),
      seeds.withColumn("variant", lit("_")), rounds)
      .select(col("round"), col("n_reached"))

  /** [[bfsReachCurve]] over several TAGGED edge sets at once: adjacency
    * and seeds carry a `variant` column and every round expands all
    * variants in one job, so comparing graphs (gx_attack's intact vs
    * attacked pair) costs ONE checkpoint chain, not one per variant —
    * in local mode the sequential blocking jobs are the floor, and this
    * halves them. Returns (variant, round, n_reached). */
  def bfsReachCurveTagged(undTagged: DataFrame, seedsTagged: DataFrame,
                          rounds: Int): DataFrame = {
    require(rounds >= 1)
    val adj = CacheScope.cached(
      undTagged.select(col("variant"), col("u").as("a"), col("v").as("b"))
        .unionByName(undTagged
          .select(col("variant"), col("v").as("a"), col("u").as("b")))
        .repartition(col("a")))
    var reached = seedsTagged.select(col("variant"), col("key")).distinct()
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      reached = CacheScope.checkpoint(reached.unionByName(
          adj.join(reached.withColumnRenamed("key", "a"),
              Seq("variant", "a"))
            .select(col("variant"), col("b").as("key")))
        .distinct())
      val c = reached.groupBy("variant")
        .agg(count(lit(1)).as("n_reached"))
        .select(col("variant"), lit(r).as("round"), col("n_reached"))
      out = if (out == null) c else out.unionByName(c)
    }
    out
  }

  /** DuckDB twin of [[bfsReachCurve]]: unrolled rounds over adjacency
    * CTE `$adj`(a, b) from seed CTE `$seeds`(key); per-round reached
    * sets in `$prefix1..$prefix$rounds`. */
  def bfsReachCurveSql(prefix: String, adj: String, seeds: String,
                       rounds: Int): String =
    (1 to rounds).map { k =>
      val prev = if (k == 1) seeds else s"$prefix${k - 1}"
      s"""$prefix$k AS MATERIALIZED (
         |  SELECT DISTINCT key FROM (
         |    SELECT key FROM $prev
         |    UNION ALL
         |    SELECT $adj.b AS key FROM $adj
         |    JOIN $prev p ON p.key = $adj.a)
         |)""".stripMargin
    }.mkString(", ")

  /** ADJUSTED RAND INDEX between two node partitions `a`(key, la) and
    * `b`(key, lb) — the standard clustering-agreement grade (chance-
    * corrected pair-counting): emits the exact integer pair sums
    * (n, sij = ΣC(n_ij,2), sa = ΣC(a_i,2), sb = ΣC(b_j,2), nc2 = C(n,2))
    * plus `ari_micro = floor(10⁶·(sij − sa·sb/nc2) / ((sa+sb)/2 −
    * sa·sb/nc2))`. Every binomial is pure integer arithmetic; the final
    * ratio is a fixed left-associated IEEE tree over exact integers
    * (< 2⁵³), so the floor-micro replays engine-exactly (the gx_assort
    * discipline). A zero denominator (both partitions trivial) yields 0.
    *
    * Scale shape: one key-equi join, one (la, lb) contingency aggregation
    * (map-side combinable), then label-count-sized reductions crossed as
    * 1-row frames — nothing larger than the contingency table shuffles. */
  def adjustedRandIndex(a: DataFrame, b: DataFrame): DataFrame = {
    val j = a.select(col("key"), col("la"))
      .join(b.select(col("key"), col("lb")), "key")
    val ct = CacheScope.cached(
      j.groupBy("la", "lb").agg(count(lit(1)).as("c")))
    val s1 = ct.agg(sum(expr("c * (c - 1) div 2")).as("sij"))
    val s2 = ct.groupBy("la").agg(sum(col("c")).as("ai"))
      .agg(sum(expr("ai * (ai - 1) div 2")).as("sa"))
    val s3 = ct.groupBy("lb").agg(sum(col("c")).as("bj"))
      .agg(sum(expr("bj * (bj - 1) div 2")).as("sb"))
    // n off the CACHED contingency, not the raw join — a j.agg would
    // re-evaluate the whole upstream (e.g. a WL refinement) a second time
    val s4 = ct.agg(sum(col("c")).as("n"))
    val base = s4.crossJoin(broadcast(s1)).crossJoin(broadcast(s2))
      .crossJoin(broadcast(s3))
      .withColumn("nc2", expr("n * (n - 1) div 2"))
    val expd = col("sa").cast("double") * col("sb").cast("double") / col("nc2")
    val num = col("sij").cast("double") - expd
    val den = (col("sa") + col("sb")).cast("double") / 2.0 - expd
    base.select(col("n"), col("sij"), col("sa"), col("sb"), col("nc2"),
      when(den === 0.0, 0L)
        .otherwise(floor(lit(1000000.0) * num / den).cast("long"))
        .as("ari_micro"))
  }

  /** DuckDB twin of [[adjustedRandIndex]] over partition CTEs
    * `$a`(key, la) and `$b`(key, lb). */
  def adjustedRandIndexSql(a: String, b: String): String = {
    val exp = "CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) / nc2"
    s"""arj AS (
       |  SELECT $a.key, la, lb FROM $a JOIN $b ON $a.key = $b.key
       |), arct AS (
       |  SELECT la, lb, CAST(count(*) AS BIGINT) AS c FROM arj GROUP BY 1, 2
       |), ars1 AS (
       |  SELECT CAST(sum(c * (c - 1) // 2) AS BIGINT) AS sij FROM arct
       |), ars2 AS (
       |  SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS sa FROM (
       |    SELECT CAST(sum(c) AS BIGINT) AS ai FROM arct GROUP BY la)
       |), ars3 AS (
       |  SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS sb FROM (
       |    SELECT CAST(sum(c) AS BIGINT) AS bj FROM arct GROUP BY lb)
       |), ars4 AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n FROM arj
       |), arbase AS (
       |  SELECT n, sij, sa, sb, n * (n - 1) // 2 AS nc2
       |  FROM ars1, ars2, ars3, ars4
       |)
       |SELECT n, sij, sa, sb, nc2,
       |  CAST(CASE WHEN CAST(sa + sb AS DOUBLE) / 2.0 - $exp = 0 THEN 0
       |    ELSE floor(1000000 * (CAST(sij AS DOUBLE) - $exp)
       |         / (CAST(sa + sb AS DOUBLE) / 2.0 - $exp)) END AS BIGINT)
       |    AS ari_micro
       |FROM arbase""".stripMargin
  }

  /** NORMALIZED MUTUAL INFORMATION between two node partitions — ARI's
    * information-theoretic sibling (the two agreement grades every
    * clustering comparison reports together): per contingency cell the
    * pointwise term n_ij·(ln n_ij + ln n − ln a_i − ln b_j) with EVERY ln
    * separately rounded to integer micro-nats before the additive
    * combination (the PMI discipline — order-free i64 sums, no libm
    * divergence can compound), marginal entropies likewise; the final
    * `nmi_micro = floor(10⁶·2I/(H_a+H_b))` is one fixed IEEE tree over
    * exact integers. Same scale shape as [[adjustedRandIndex]]: one key
    * join + one contingency aggregation, label-sized everything after. */
  def normalizedMutualInfo(a: DataFrame, b: DataFrame): DataFrame = {
    def lmicro(c: Column): Column = round(log(c) * 1e6, 0).cast("long")
    val j = a.select(col("key"), col("la"))
      .join(b.select(col("key"), col("lb")), "key")
    val ct = CacheScope.cached(
      j.groupBy("la", "lb").agg(count(lit(1)).as("c")))
    val ai = ct.groupBy("la").agg(sum(col("c")).as("ai"))
    val bj = ct.groupBy("lb").agg(sum(col("c")).as("bj"))
    // n off the CACHED contingency (see adjustedRandIndex's note)
    val nF = ct.agg(sum(col("c")).as("n"),
      lmicro(sum(col("c"))).as("ln_n"))
    val iNum = ct.join(ai, "la").join(bj, "lb").crossJoin(broadcast(nF))
      .select((col("c") * (lmicro(col("c")) + col("ln_n")
        - lmicro(col("ai")) - lmicro(col("bj")))).as("t"))
      .agg(sum(col("t")).as("i_num"))
    // H = n·ln n − Σ a_i·ln a_i (micro-nat·count units, same as i_num)
    val ha = ai.crossJoin(broadcast(nF))
      .select((col("ai") * (col("ln_n") - lmicro(col("ai")))).as("t"))
      .agg(sum(col("t")).as("h_a"))
    val hb = bj.crossJoin(broadcast(nF))
      .select((col("bj") * (col("ln_n") - lmicro(col("bj")))).as("t"))
      .agg(sum(col("t")).as("h_b"))
    nF.select(col("n")).crossJoin(broadcast(iNum))
      .crossJoin(broadcast(ha)).crossJoin(broadcast(hb))
      .select(col("n"), col("i_num"), col("h_a"), col("h_b"),
        when((col("h_a") + col("h_b")) === 0L, 0L)
          .otherwise(floor(lit(1000000.0) * (lit(2.0) * col("i_num"))
            / (col("h_a") + col("h_b")).cast("double")).cast("long"))
          .as("nmi_micro"))
  }

  /** DuckDB twin of [[normalizedMutualInfo]] over partition CTEs
    * `$a`(key, la) and `$b`(key, lb). */
  def normalizedMutualInfoSql(a: String, b: String): String = {
    val lm = (x: String) => s"CAST(round(ln($x) * 1000000.0) AS BIGINT)"
    s"""nmj AS (
       |  SELECT $a.key, la, lb FROM $a JOIN $b ON $a.key = $b.key
       |), nmct AS (
       |  SELECT la, lb, CAST(count(*) AS BIGINT) AS c FROM nmj GROUP BY 1, 2
       |), nmai AS (
       |  SELECT la, CAST(sum(c) AS BIGINT) AS ai FROM nmct GROUP BY 1
       |), nmbj AS (
       |  SELECT lb, CAST(sum(c) AS BIGINT) AS bj FROM nmct GROUP BY 1
       |), nmn AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n,
       |    ${lm("count(*)")} AS ln_n FROM nmj
       |), nmi AS (
       |  SELECT CAST(sum(c * (${lm("c")} + nmn.ln_n
       |    - ${lm("ai")} - ${lm("bj")})) AS BIGINT) AS i_num
       |  FROM nmct JOIN nmai ON nmct.la = nmai.la
       |  JOIN nmbj ON nmct.lb = nmbj.lb, nmn
       |), nmha AS (
       |  SELECT CAST(sum(ai * (nmn.ln_n - ${lm("ai")})) AS BIGINT) AS h_a
       |  FROM nmai, nmn
       |), nmhb AS (
       |  SELECT CAST(sum(bj * (nmn.ln_n - ${lm("bj")})) AS BIGINT) AS h_b
       |  FROM nmbj, nmn
       |)
       |SELECT n, i_num, h_a, h_b,
       |  CAST(CASE WHEN h_a + h_b = 0 THEN 0
       |    ELSE floor(1000000.0 * (2.0 * i_num)
       |         / CAST(h_a + h_b AS DOUBLE)) END AS BIGINT) AS nmi_micro
       |FROM nmn, nmi, nmha, nmhb""".stripMargin
  }

  /** Seed-rooted bounded BOW-TIE decomposition (Broder et al.'s web-graph
    * macro-structure, rooted at a seed set the way [[bfsReachCurve]]
    * roots its percolation probe): nodes that both reach the seeds and
    * are reached from them within `rounds` directed hops form the CORE,
    * reach-only is IN, reached-only is OUT, the rest OTHER — returned as
    * the `(component, n_nodes)` census. Self-loops and duplicate edges
    * are dropped first (they never change reachability).
    *
    * Scale shape: two directed BFS frontiers (forward + backward) expand
    * as ONE tagged loop over a variant-keyed adjacency cache — per round
    * one keyed equi-join + distinct on the SPARSE reached set (the
    * gx_attack discipline), checkpointed per round; the final
    * classification is two reached-set-sized left joins against the node
    * frame. Nothing node² anywhere. */
  def bowtieCensus(edges: DataFrame, seeds: DataFrame,
                   rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = CacheScope.cached(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    val adj = CacheScope.cached(
      e.select(lit("f").as("variant"), col("src").as("a"), col("dst").as("b"))
        .unionByName(e.select(lit("b").as("variant"),
          col("dst").as("a"), col("src").as("b")))
        .repartition(col("a")))
    var reached = seeds.select(col("key"))
      .withColumn("variant", explode(array(lit("f"), lit("b"))))
      .select(col("variant"), col("key")).distinct()
    for (_ <- 1 to rounds) {
      reached = CacheScope.checkpoint(reached.unionByName(
          adj.join(reached.withColumnRenamed("key", "a"),
              Seq("variant", "a"))
            .select(col("variant"), col("b").as("key")))
        .distinct())
    }
    val nodes = e.select(col("src").as("key"))
      .unionByName(e.select(col("dst").as("key"))).distinct()
    val f = reached.filter(col("variant") === "f")
      .select(col("key"), lit(1).as("fwd"))
    val b = reached.filter(col("variant") === "b")
      .select(col("key"), lit(1).as("bwd"))
    nodes.join(f, Seq("key"), "left").join(b, Seq("key"), "left")
      .select(when(col("fwd").isNotNull && col("bwd").isNotNull, "core")
        .when(col("bwd").isNotNull, "in")
        .when(col("fwd").isNotNull, "out")
        .otherwise("other").as("component"))
      .groupBy("component").agg(count(lit(1)).as("n_nodes"))
  }

  /** Unrolled DIRECTED reach CTEs over edge CTE `$edges`(src, dst) from
    * seed CTE `$seeds`(key) — the directed sibling of
    * [[bfsReachCurveSql]]; `reversed` walks dst→src. */
  def directedReachSql(prefix: String, edges: String, seeds: String,
                       rounds: Int, reversed: Boolean): String = {
    val (s, d) = if (reversed) ("dst", "src") else ("src", "dst")
    (1 to rounds).map { k =>
      val prev = if (k == 1) seeds else s"$prefix${k - 1}"
      s"""$prefix$k AS MATERIALIZED (
         |  SELECT DISTINCT key FROM (
         |    SELECT key FROM $prev
         |    UNION ALL
         |    SELECT e.$d AS key FROM $edges e JOIN $prev p ON p.key = e.$s)
         |)""".stripMargin
    }.mkString(", ")
  }

  /** DuckDB twin of [[bowtieCensus]]: forward/backward unrolled reach +
    * the classification census, over deduped self-loop-free edge CTE
    * `$edges`(src, dst), seed CTE `$seeds`(key), node CTE `$nodes`(key). */
  def bowtieCensusSql(edges: String, seeds: String, nodes: String,
                      rounds: Int): String =
    s"""${directedReachSql("btf", edges, seeds, rounds, reversed = false)},
       |${directedReachSql("btb", edges, seeds, rounds, reversed = true)}
       |SELECT component, CAST(count(*) AS BIGINT) AS n_nodes FROM (
       |  SELECT CASE
       |    WHEN f.key IS NOT NULL AND b.key IS NOT NULL THEN 'core'
       |    WHEN b.key IS NOT NULL THEN 'in'
       |    WHEN f.key IS NOT NULL THEN 'out'
       |    ELSE 'other' END AS component
       |  FROM $nodes n
       |  LEFT JOIN btf$rounds f ON n.key = f.key
       |  LEFT JOIN btb$rounds b ON n.key = b.key)
       |GROUP BY 1 ORDER BY component""".stripMargin

  /** WEISFEILER-LEHMAN color refinement over an undirected edge set
    * (u, v): every node starts in one class (label 0) and each round
    * re-hashes (own label | sorted multiset of neighbor labels), so
    * after r rounds two nodes share a label iff their radius-r
    * unfolding trees agree — the structural-equivalence signature WL
    * graph kernels and GNN expressivity results are built on. Each
    * round is one adjacency join + one sorted per-node aggregation
    * (map-side combinable up to the sort), labels are md5-derived i64
    * ([[graft.functions.TextFunctions.hash60]]) so the DuckDB
    * string_agg twin replays bit-for-bit; state checkpointed per round.
    * Returns (key, l0..lR). */
  def wlRefine(und: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    val adj = CacheScope.cached(
      und.select(col("u").as("a"), col("v").as("b"))
        .unionByName(und.select(col("v").as("a"), col("u").as("b")))
        .repartition(col("a")))
    var labels = adj.select(col("a").as("key")).distinct()
      .withColumn("l0", lit(0L))
    for (r <- 1 to rounds) {
      val prev = s"l${r - 1}"
      val nb = adj
        .join(labels.select(col("key").as("b"), col(prev).as("nl")), "b")
        .groupBy(col("a"))
        .agg(sort_array(collect_list(col("nl"))).as("nls"))
      labels = CacheScope.checkpoint(labels
        .join(nb, labels("key") === nb("a")).drop("a")
        .withColumn(s"l$r", graft.functions.TextFunctions.hash60(
          concat(col(prev).cast("string"), lit("|"),
            array_join(expr("transform(nls, x -> cast(x as string))"),
              ","))))
        .drop("nls"))
    }
    labels
  }

  /** DuckDB twin of [[wlRefine]]: unrolled rounds over adjacency CTE
    * `$adj`(a, b); round-k labels in `wl$k`(key, l). */
  def wlRefineSql(adj: String, rounds: Int): String = {
    import graft.functions.TextFunctions.hash60Sql
    val h = hash60Sql("CAST(p.l AS VARCHAR) || '|' || " +
      "string_agg(CAST(nb.l AS VARCHAR), ',' ORDER BY nb.l)")
    val its = (1 to rounds).map { k =>
      s"""wl$k AS MATERIALIZED (
         |  SELECT p.key, $h AS l
         |  FROM wl${k - 1} p
         |  JOIN $adj ON $adj.a = p.key
         |  JOIN wl${k - 1} nb ON nb.key = $adj.b
         |  GROUP BY p.key, p.l
         |)""".stripMargin
    }.mkString(", ")
    s"""wl0 AS (
       |  SELECT DISTINCT a AS key, CAST(0 AS BIGINT) AS l FROM $adj
       |), $its""".stripMargin
  }

  /** Directed TRIAD census of an edge set (src, dst): reciprocity
    * (edges whose reverse edge also exists), cyclic triangles
    * (u→v→w→u, each counted ONCE via its unique minimal node — the one
    * rotation with e1.src = min passes `e1.src < e1.dst AND e1.src <
    * e2.dst`), and transitive triads (u→v, v→w, u→w — the feed-forward
    * motif), plus the reciprocity rate in integer milli. The
    * direction-sensitive companion to the undirected transitivity
    * census: a DAG scores n_recip = n_cyc3 = 0, so feedback structure
    * shows up here and nowhere in the undirected view. Self-loops and
    * duplicate edges are dropped on entry; every join keys on a node
    * column (AQE skew handling applies at scale) and all outputs are
    * exact i64, so the DuckDB twin is bit-for-bit. */
  def triadCensus(edges: DataFrame): DataFrame = {
    val e = CacheScope.cached(
      edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst")).distinct())
    val nN = e.select(col("src").as("k"))
      .union(e.select(col("dst").as("k")))
      .agg(countDistinct(col("k")).as("n_nodes"))
    val nE = e.agg(count(lit(1)).as("n_edges"))
    val rec = e.as("f").join(e.as("r"),
        col("f.src") === col("r.dst") && col("f.dst") === col("r.src"))
      .agg(count(lit(1)).as("n_recip"))
    val cyc = e.as("e1")
      .join(e.as("e2"), col("e2.src") === col("e1.dst"))
      .join(e.as("e3"), col("e3.src") === col("e2.dst") &&
        col("e3.dst") === col("e1.src"))
      .filter(col("e1.src") < col("e1.dst") &&
        col("e1.src") < col("e2.dst"))
      .agg(count(lit(1)).as("n_cyc3"))
    val tr = e.as("e1")
      .join(e.as("e2"), col("e2.src") === col("e1.dst"))
      .join(e.as("e3"), col("e3.src") === col("e1.src") &&
        col("e3.dst") === col("e2.dst"))
      .filter(col("e1.src") =!= col("e2.dst"))
      .agg(count(lit(1)).as("n_trans3"))
    broadcast(nN).crossJoin(broadcast(nE)).crossJoin(broadcast(rec))
      .crossJoin(broadcast(cyc)).crossJoin(broadcast(tr))
      .select(col("n_nodes"), col("n_edges"), col("n_recip"),
        col("n_cyc3"), col("n_trans3"),
        coalesce(expr("(1000 * n_recip) div nullif(n_edges, 0)"), lit(0L))
          .as("recip_milli"))
  }

  /** BUTTERFLY (4-cycle) census of a bipartite graph — the bipartite
    * analog of the triangle census ([[triadCensus]] cannot see it: a
    * bipartite graph has no triangles at all). `edges` = (src = left
    * node, dst = right node), deduped here.
    *
    * Wedges are enumerated ONLY from the left side, which callers must
    * pick as the side whose degree is bounded by the data model (the
    * gx_triads density discipline: the part side of part–supplier stays
    * at ~constant degree at every SF, while the SF-fixed supplier side
    * densifies and its wedge ENUMERATION goes d² per node — its wedge
    * COUNT is still reported, via the closed-form degree aggregate that
    * needs no enumeration). Left nodes with degree > `maxDeg` are
    * excluded from wedge enumeration entirely (the winnowMatchPairs
    * maxDf move: a hub's d² wedge rows dominate the join and carry no
    * similarity signal; the planted-hub spec pins the exclusion).
    *
    * Output (one row, exact i64 end-to-end):
    * n_left, n_right, n_edges, wedges_left (Σ over right-node pairs of
    * their common-left count c, capped graph), wedges_right (closed-form
    * Σ C(d,2), uncapped), butterflies (Σ C(c,2)), closed_wedges_left
    * (Σ c over pairs with c ≥ 2 — wedges participating in ≥1 butterfly)
    * and cc_left_milli = 1000·closed/wedges (null on a wedgeless graph).
    *
    * Scale shape: one distinct + the left-keyed self-join (bounded by
    * Σ d_left² ≤ maxDeg·|E|), then pair-keyed counts — never an
    * all-pairs product on either node domain. */
  def butterflyCensus(edges: DataFrame, maxDeg: Long = 64): DataFrame = {
    val e = CacheScope.cached(
      edges.select(col("src"), col("dst")).distinct())
    val counts = e.agg(countDistinct(col("src")).as("n_left"),
      countDistinct(col("dst")).as("n_right"),
      count(lit(1)).as("n_edges"))
    val wr = e.groupBy(col("dst")).agg(count(lit(1)).as("d"))
      .agg(coalesce(sum(expr("d * (d - 1) div 2")), lit(0L))
        .as("wedges_right"))
    val keep = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDeg).select("src")
    val ek = e.join(keep, Seq("src"), "left_semi")
    val pairs = ek.select(col("src"), col("dst").as("u"))
      .join(ek.select(col("src"), col("dst").as("v")), Seq("src"))
      .filter(col("u") < col("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("c"))
    val ws = pairs.agg(
      coalesce(sum(col("c")), lit(0L)).as("wedges_left"),
      coalesce(sum(expr("c * (c - 1) div 2")), lit(0L)).as("butterflies"),
      coalesce(sum(when(col("c") >= 2, col("c")).otherwise(0L)), lit(0L))
        .as("closed_wedges_left"))
    broadcast(counts).crossJoin(broadcast(wr)).crossJoin(broadcast(ws))
      .select(col("n_left"), col("n_right"), col("n_edges"),
        col("wedges_left"), col("wedges_right"), col("butterflies"),
        col("closed_wedges_left"),
        expr("(1000 * closed_wedges_left) div nullif(wedges_left, 0)")
          .as("cc_left_milli"))
  }

  /** k-BITRUSS peel of a bipartite graph — the butterfly analog of
    * [[kTruss]]: per round, every edge's butterfly SUPPORT is computed
    * (support(p,s) = Σ over wedges p–{s,s'} of c_{s,s'}−1, where c is
    * the right-pair common-left count — each wedge at p pairs p with
    * its c−1 fellow center parts) and edges below the threshold peel;
    * `rounds` fixed iterations, then the survivors with their final
    * support. The threshold is DATA-ADAPTIVE — the `q`-quantile of the
    * initial edge supports (a constant k is vacuous at one SF and total
    * at another; the gx_kcore parameter discipline) — computed as one
    * driver probe and replayed by the oracle's scalar quantile_cont
    * CTE. q defaults to 0.25: support distributions are heavily
    * interdependent (removing an edge drops its whole neighborhood's
    * support), so a median-threshold peel CASCADES to empty on fixture
    * graphs — the lower quartile peels meaningfully while leaving a
    * non-vacuous core at every SF (measured: sf0.001 5382→1051 edges,
    * sf0.01 59391→12161).
    *
    * Scale shape: the [[butterflyCensus]] discipline per round — wedges
    * enumerate only from the left side with hub-capped degrees (cap
    * applied ONCE on the input, like kTruss's one-time orientation;
    * degrees only shrink under peeling), support aggregates are
    * pair-keyed sums, and each round's state is checkpointed (support()
    * references e twice). */
  def bitruss(edges: DataFrame, rounds: Int = 3,
              maxDeg: Long = 64, q: Double = 0.25): DataFrame = {
    val e0 = edges.select(col("src"), col("dst")).distinct()
    val keep = e0.groupBy("src").agg(count(lit(1)).as("d"))
      .filter(col("d") <= maxDeg).select("src")
    var e = e0.join(keep, Seq("src"), "left_semi").transform(CacheScope.checkpoint)
    def support(ed: DataFrame): DataFrame = {
      val w = ed.select(col("src"), col("dst").as("u"))
        .join(ed.select(col("src"), col("dst").as("v")), Seq("src"))
        .filter(col("u") < col("v"))
      val c = w.groupBy("u", "v").agg(count(lit(1)).as("c"))
      val ws = w.join(c, Seq("u", "v"))
      ws.select(col("src"), col("u").as("dst"), (col("c") - 1).as("b"))
        .unionByName(ws.select(col("src"), col("v").as("dst"),
          (col("c") - 1).as("b")))
        .groupBy("src", "dst").agg(sum(col("b")).as("supp"))
    }
    val s0 = CacheScope.cached(support(e))
    // one-row data-adaptive threshold probe (exact in both engines per
    // the percentile discipline); NULL only on an edgeless graph —
    // guarded like the Katz dmax probe. FLOORED at 1: on sparse graphs
    // the quantile lands on the zero mass (sf0.1's part–customer
    // subsample reads median 0) and a 0 threshold peels nothing —
    // floor 1 always excises the butterfly-free periphery
    // greatest(1.0D, percentile(...)) already floors the edgeless case:
    // Spark's greatest ignores the NULL percentile and returns 1.0, so
    // the probe is never null (the DuckDB twin's greatest-NULL quirk is
    // unobservable there — its result set is empty on an edgeless graph)
    val k = e.join(s0, Seq("src", "dst"), "left")
      .select(coalesce(col("supp"), lit(0L)).as("s"))
      .agg(expr(s"greatest(1.0D, percentile(s, $q))").as("k")).head().getDouble(0)
    // Fixpoint early-exit (r18): the peel only REMOVES edges, so a round
    // that removes nothing leaves the edge set — and therefore support(e),
    // which is a pure function of it — unchanged for every remaining round,
    // and the final support equals the last one computed. Each peel round
    // is one wedge self-join (the expensive pass); the convergence probe is
    // a count() over the just-checkpointed RDD (cheap). Identical output:
    // skipped rounds are provably no-ops.
    var prevCnt = e.count()
    var lastSup = s0
    var converged = false
    for (r <- 1 to rounds if !converged) {
      val sup = if (r == 1) s0 else CacheScope.cached(support(e))
      lastSup = sup
      e = CacheScope.checkpoint(e.join(sup, Seq("src", "dst"), "left")
        .filter(coalesce(col("supp"), lit(0L)) >= k)
        .select("src", "dst"))
      val c = e.count()
      if (c == prevCnt) converged = true else prevCnt = c
    }
    val finSup = if (converged) lastSup else support(e)
    e.join(finSup, Seq("src", "dst"), "left")
      .select(col("src"), col("dst"),
        coalesce(col("supp"), lit(0L)).as("supp"))
  }

  /** DuckDB twin of [[bitruss]] over edge CTE `$edges`(src, dst): the
    * hub cap, the scalar median-support threshold and every peel round
    * unrolled (MATERIALIZED — each round's edge set feeds the next
    * wedge self-join twice). */
  def bitrussSql(edges: String, rounds: Int = 3,
                 maxDeg: Long = 64, q: Double = 0.25): String = {
    // every CTE here is MATERIALIZED: DuckDB inlines CTEs per reference
    // (CLAUDE.md, gx_louvain2 r11), and the wedge self-join would
    // otherwise re-execute once per supp/c reference per round
    def suppCte(e: String, p: String): String =
      s"""${p}w AS MATERIALIZED (
         |  SELECT x.src, x.dst AS u, y.dst AS v
         |  FROM $e x JOIN $e y ON y.src = x.src AND x.dst < y.dst
         |), ${p}c AS MATERIALIZED (
         |  SELECT u, v, CAST(count(*) AS BIGINT) AS c
         |  FROM ${p}w GROUP BY 1, 2
         |), ${p}supp AS MATERIALIZED (
         |  SELECT src, dst, CAST(sum(b) AS BIGINT) AS supp FROM (
         |    SELECT w.src, w.u AS dst, c.c - 1 AS b
         |    FROM ${p}w w JOIN ${p}c c ON c.u = w.u AND c.v = w.v
         |    UNION ALL
         |    SELECT w.src, w.v, c.c - 1
         |    FROM ${p}w w JOIN ${p}c c ON c.u = w.u AND c.v = w.v)
         |  GROUP BY 1, 2
         |)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      val supPrefix = if (r == 1) "s0" else s"r$r"
      val supCte =
        if (r == 1) "" else s"${suppCte(s"bt${r - 1}", s"r$r")}, "
      s"""${supCte}bt$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM bt${r - 1} e
         |  LEFT JOIN ${supPrefix}supp s
         |    ON s.src = e.src AND s.dst = e.dst, btk
         |  WHERE coalesce(s.supp, 0) >= btk.k
         |)""".stripMargin
    }.mkString(", ")
    s"""bt0 AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM $edges
       |  WHERE src IN (
       |    SELECT src FROM (SELECT DISTINCT src, dst FROM $edges)
       |    GROUP BY src HAVING count(*) <= $maxDeg)
       |), ${suppCte("bt0", "s0")}, btk AS MATERIALIZED (
       |  SELECT greatest(1.0, quantile_cont(coalesce(s.supp, 0), $q)) AS k
       |  FROM bt0 e LEFT JOIN s0supp s ON s.src = e.src AND s.dst = e.dst
       |), $roundCtes, ${suppCte(s"bt$rounds", "fin")}
       |SELECT e.src, e.dst, CAST(coalesce(s.supp, 0) AS BIGINT) AS supp
       |FROM bt$rounds e
       |LEFT JOIN finsupp s ON s.src = e.src AND s.dst = e.dst
       |ORDER BY e.src, e.dst""".stripMargin
  }

  /** DuckDB twin of [[butterflyCensus]] over edge CTE `$edges`(src, dst)
    * (deduped inside, same as the Spark side). */
  def butterflyCensusSql(edges: String, maxDeg: Long = 64): String =
    s"""WITH bfe AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM $edges
       |), bfp AS MATERIALIZED (
       |  SELECT x.dst AS u, y.dst AS v, CAST(count(*) AS BIGINT) AS c
       |  FROM bfe x JOIN bfe y ON x.src = y.src AND x.dst < y.dst
       |  WHERE x.src IN (
       |    SELECT src FROM bfe GROUP BY src HAVING count(*) <= $maxDeg)
       |  GROUP BY 1, 2
       |)
       |SELECT
       |  CAST((SELECT count(DISTINCT src) FROM bfe) AS BIGINT) AS n_left,
       |  CAST((SELECT count(DISTINCT dst) FROM bfe) AS BIGINT) AS n_right,
       |  CAST((SELECT count(*) FROM bfe) AS BIGINT) AS n_edges,
       |  CAST(coalesce((SELECT sum(c) FROM bfp), 0) AS BIGINT) AS wedges_left,
       |  CAST(coalesce((SELECT sum(d * (d - 1) // 2) FROM (
       |    SELECT count(*) AS d FROM bfe GROUP BY dst)), 0) AS BIGINT)
       |    AS wedges_right,
       |  CAST(coalesce((SELECT sum(c * (c - 1) // 2) FROM bfp), 0) AS BIGINT)
       |    AS butterflies,
       |  CAST(coalesce((SELECT sum(CASE WHEN c >= 2 THEN c ELSE 0 END)
       |    FROM bfp), 0) AS BIGINT) AS closed_wedges_left,
       |  CAST((1000 * coalesce((SELECT sum(CASE WHEN c >= 2 THEN c ELSE 0 END)
       |      FROM bfp), 0))
       |    // nullif(coalesce((SELECT sum(c) FROM bfp), 0), 0) AS BIGINT)
       |    AS cc_left_milli""".stripMargin
}

