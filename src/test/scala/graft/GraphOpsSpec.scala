package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.ops.GraphOps

/** Traversal / weighted-adjacency / skew-safe aggregation operators. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  //  a -> b -> c -> d,  a -> c  (so 2-hop from a = {c, d})
  lazy val g = KinGraph(
    Seq("a", "b", "c", "d").toDF("key"),
    Seq(("a", "b", 0), ("b", "c", 0), ("c", "d", 0), ("a", "c", 0))
      .toDF("src", "dst", "etype"))

  // fixtures shared by an op's own test and the regime-agreement table
  //  x -> y, y -> x, z -> x  (z is a source)
  lazy val xyz = KinGraph(
    Seq("x", "y", "z").toDF("key"),
    Seq(("x", "y", 0), ("y", "x", 0), ("z", "x", 0)).toDF("src", "dst", "etype"))
  // triangles {a,b,c} and {d,e,f} bridged by c-d
  lazy val twoTriangles = KinGraph(
    Seq("a", "b", "c", "d", "e", "f").toDF("key"),
    Seq(("a", "b", 0), ("b", "c", 0), ("a", "c", 0),
        ("d", "e", 0), ("e", "f", 0), ("d", "f", 0),
        ("c", "d", 0)).toDF("src", "dst", "etype"))
  // hub h points at a1,a2,a3; a1 also points at a2
  lazy val hubGraph = KinGraph(
    Seq("h", "a1", "a2", "a3").toDF("key"),
    Seq(("h", "a1", 0), ("h", "a2", 0), ("h", "a3", 0), ("a1", "a2", 0))
      .toDF("src", "dst", "etype"))
  //  s -1-> a -1-> b ;  s -5-> b ;  b -1-> c   (cheapest s→b is 2 via a)
  lazy val ssspEdges = Seq(("s", "a", 1L), ("a", "b", 1L), ("s", "b", 5L),
    ("b", "c", 1L)).toDF("src", "dst", "w")
  lazy val ssspNodes = Seq("s", "a", "b", "c", "iso").toDF("key")
  // triangle {a,b,c} + pendant d-a + pendant chain e-d: 2-core = triangle
  lazy val peelGraph = KinGraph(
    Seq("a", "b", "c", "d", "e").toDF("key"),
    Seq(("a", "b", 0), ("b", "c", 0), ("a", "c", 0),
        ("d", "a", 0), ("e", "d", 0)).toDF("src", "dst", "etype"))
  // a sends 1:3 to b:c, b and c return everything to a
  lazy val wprEdges = Seq(("a", "b", 1L), ("a", "c", 3L),
    ("b", "a", 2L), ("c", "a", 2L)).toDF("src", "dst", "w")
  lazy val wprNodes = Seq("a", "b", "c").toDF("key")
  // path a-b-c
  lazy val path3 = KinGraph(
    Seq("a", "b", "c").toDF("key"),
    Seq(("a", "b", 0), ("b", "c", 0)).toDF("src", "dst", "etype"))
  // a->{b,c}->d->e: two parallel shortest paths into d
  lazy val parallelPaths = KinGraph(
    Seq("a", "b", "c", "d", "e").toDF("key"),
    Seq(("a", "b", 0), ("a", "c", 0), ("b", "d", 0), ("c", "d", 0),
        ("d", "e", 0)).toDF("src", "dst", "etype"))
  lazy val anfUnd = Seq(("a","b"),("b","c"),("c","d"),("x","y")).toDF("u", "v")
  // square a-b-c-d-a with diagonal a-c; weights force MST {ab, bc, cd}
  lazy val mstGraph = KinGraph(
    Seq("a", "b", "c", "d").toDF("key"),
    Seq(("a", "b", 0), ("b", "c", 0), ("c", "d", 0), ("d", "a", 0),
      ("a", "c", 0)).toDF("src", "dst", "etype"))
  lazy val mstWeights = Seq(("a", "b", 1L), ("b", "c", 2L), ("c", "d", 3L),
    ("a", "d", 9L), ("a", "c", 8L)).toDF("u", "v", "w")
  // path a-b-c-d-e plus chord a-c
  lazy val matchGraph = KinGraph(
    Seq("a", "b", "c", "d", "e").toDF("key"),
    Seq(("a", "b", 0), ("b", "c", 0), ("c", "d", 0), ("d", "e", 0),
      ("a", "c", 0)).toDF("src", "dst", "etype"))
  // star center x with leaves l1..l4, plus edge l1-l2
  lazy val starTriangle = KinGraph(
    Seq("x", "l1", "l2", "l3", "l4").toDF("key"),
    Seq(("x", "l1", 0), ("x", "l2", 0), ("x", "l3", 0), ("x", "l4", 0),
      ("l1", "l2", 0)).toDF("src", "dst", "etype"))
  // 3-spoke star into c
  lazy val katzStar = KinGraph(
    Seq("s1", "s2", "s3", "c").toDF("key"),
    Seq(("s1","c"), ("s2","c"), ("s3","c")).toDF("src", "dst")
      .withColumn("etype", lit(0)))

  test("kHopNeighbors: exact-k frontier") {
    assert(GraphOps.kHopNeighbors(g, "a", 1).as[String].collect().toSet == Set("b", "c"))
    assert(GraphOps.kHopNeighbors(g, "a", 2).as[String].collect().toSet == Set("c", "d"))
    assert(GraphOps.kHopNeighbors(g, "a", 3).as[String].collect().toSet == Set("d"))
  }

  test("withinKHops: closure") {
    assert(GraphOps.withinKHops(g, "a", 2).as[String].collect().toSet ==
      Set("b", "c", "d"))
  }

  test("weightedAdjacencyCoo sums the weight column per pair") {
    val wg = KinGraph(
      Seq("x", "y").toDF("key"),
      Seq(("x", "y", 0, 2.0), ("x", "y", 1, 3.0)).toDF("src", "dst", "etype", "w"))
    val coo = GraphOps.weightedAdjacencyCoo(wg, "w").collect()
    assert(coo.length == 1)
    assert(coo.head.getDouble(2) == 5.0)
  }

  test("salted neighbor lists equal the direct aggregation (hub-safe)") {
    // hub: one node with many out-edges (one_node_many_neighbors shape)
    val hubEdges = (0 until 500).map(i => ("hub", s"t$i", 0)) ++
      Seq(("t1", "t2", 0))
    val hg = KinGraph.fromEdges(hubEdges.toDF("src", "dst", "etype"))
    val salted = GraphOps.saltedNeighborLists(hg, salts = 8)
      .as[(String, Seq[String])].collect().toMap
    val direct = hg.edges.groupBy($"src")
      .agg(sort_array(collect_set($"dst")).as("n"))
      .as[(String, Seq[String])].collect().toMap
    assert(salted.keySet == direct.keySet)
    assert(salted("hub").sorted == direct("hub"))
    assert(salted("t1") == direct("t1"))
  }

  test("fixedPointPageRank replays an exact integer reference loop") {
    // xyz: z is a source, so ranks are exactly computable
    val scale = 1000000000L
    val got = GraphOps.fixedPointPageRank(xyz, iters = 5, scale)
      .as[(String, Long)].collect().toMap
    // reference loop: same integer arithmetic, driver-side
    val edges = Seq("x" -> "y", "y" -> "x", "z" -> "x")
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = Map("x" -> scale, "y" -> scale, "z" -> scale)
    val base = 15L * scale / 100L
    for (_ <- 1 to 5) {
      val inc = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / outdeg(s) }.sum).toMap
      r = r.keys.map(k => k -> (base + 85L * inc.getOrElse(k, 0L) / 100L)).toMap
    }
    assert(got == r)
    // sink z never receives rank; hub x outranks y
    assert(got("z") == base && got("x") > got("y"))
  }

  test("labelPropagationSync splits two cliques at the bridge; replays a reference loop") {
    val got = GraphOps.labelPropagationSync(twoTriangles, iters = 4)
      .as[(String, String)].collect().toMap
    // reference loop: same deterministic semantics, driver-side
    val ud = Seq("a" -> "b", "b" -> "c", "a" -> "c", "d" -> "e", "e" -> "f",
      "d" -> "f", "c" -> "d").flatMap { case (s, t) => Seq(s -> t, t -> s) }
    var lab = Seq("a", "b", "c", "d", "e", "f").map(k => k -> k).toMap
    for (_ <- 1 to 4) {
      val next = ud.groupBy(_._2).view.mapValues { in =>
        val counts = in.map { case (s, _) => lab(s) }
          .groupBy(identity).view.mapValues(_.size).toMap
        counts.toSeq.sortBy { case (l, c) => (-c, l) }.head._1
      }.toMap
      lab = lab.keys.map(k => k -> next.getOrElse(k, k)).toMap
    }
    assert(got == lab)
    // the two triangles end in different communities
    assert(Set("a", "b", "c").map(got) != Set("d", "e", "f").map(got))
    assert(Set("a", "b", "c").map(got).size == 1 ||
      Set("d", "e", "f").map(got).size == 1)
  }

  test("personalizedPageRank replays an exact integer reference loop; state stays sparse") {
    // xyz with source x: z is never reached (no in-path)
    val scale = 1000000000L
    val got = GraphOps.personalizedPageRank(xyz, "x", 5, scale)
      .as[(String, Long)].collect().toMap
    // reference loop: same integer arithmetic, sparse state, driver-side
    val edges = Seq("x" -> "y", "y" -> "x", "z" -> "x")
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val base = 15L * scale / 100L
    var r = Map("x" -> scale)
    for (_ <- 1 to 5) {
      val inc = edges.filter(e => r.contains(e._1)).groupBy(_._2).view
        .mapValues(_.map { case (s, _) => r(s) / outdeg(s) }.sum).toMap
      r = (inc.keySet + "x").map(k =>
        k -> ((if (k == "x") base else 0L) + 85L * inc.getOrElse(k, 0L) / 100L))
        .toMap
    }
    assert(got == r)
    // z never enters the reached set (no in-path from the source); the
    // source always holds at least its teleport mass
    assert(!got.contains("z"))
    assert(got("x") >= base)
  }

  test("hashWalks: deterministic hash choices, sink stop, reference replay") {
    import graft.functions.TextFunctions
    // s has 3 neighbors; each t* leads to u; u is a sink
    val edges = Seq(("s", "t0", 0), ("s", "t1", 0), ("s", "t2", 0),
      ("t0", "u", 0), ("t1", "u", 0), ("t2", "u", 0))
      .toDF("src", "dst", "etype").select($"src", $"dst")
    val starts = Seq("s").toDF("key")
    val got = GraphOps.hashWalks(edges, starts, 5)
      .as[(String, Int, String)].collect().sortBy(r => (r._2, r._3))
    // reference replay: neighbor index = hash60(node || '|k') % deg over
    // dst-sorted neighbors, driver-side (hash60 = first 15 md5 hex chars)
    def h60(sIn: String): Long = {
      val hx = java.security.MessageDigest.getInstance("MD5")
        .digest(sIn.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hx.take(15), 16)
    }
    val adj = Map("s" -> Seq("t0", "t1", "t2"),
      "t0" -> Seq("u"), "t1" -> Seq("u"), "t2" -> Seq("u"))
    var node = "s"
    var ref = Seq(("s", 0, "s"))
    var k = 1
    var alive = true
    while (k <= 5 && alive) {
      adj.get(node) match {
        case Some(ns) =>
          node = ns((h60(s"$node|$k") % ns.size).toInt)
          ref = ref :+ (("s", k, node))
          k += 1
        case None => alive = false // sink: walk ends
      }
    }
    assert(got.toSeq == ref.sortBy(r => (r._2, r._3)))
    // walk visits s -> t? -> u and stops at the sink: exactly 3 rows
    assert(got.length == 3 && got.last._3 == "u")
    // partition-independence
    val again = GraphOps.hashWalks(edges.repartition(5), starts, 5)
      .as[(String, Int, String)].collect().sortBy(r => (r._2, r._3))
    assert(again.toSeq == got.toSeq)
  }

  test("hits replays an exact integer reference loop; hub/authority split") {
    // hubGraph: h = pure hub, a2 = strongest authority
    val scale = 1000000L
    val got = GraphOps.hits(hubGraph, iters = 3, scale)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // reference loop: same integer arithmetic, driver-side
    val edges = Seq("h" -> "a1", "h" -> "a2", "h" -> "a3", "a1" -> "a2")
    val keys = Seq("h", "a1", "a2", "a3")
    var h = keys.map(_ -> scale).toMap
    var a = h
    for (_ <- 1 to 3) {
      val ar = edges.groupBy(_._2).view.mapValues(_.map(e => h(e._1)).sum).toMap
      val ad = math.max(ar.values.max / scale, 1L)
      a = keys.map(k => k -> ar.getOrElse(k, 0L) / ad).toMap
      val hr = edges.groupBy(_._1).view.mapValues(_.map(e => a(e._2)).sum).toMap
      val hd = math.max(hr.values.max / scale, 1L)
      h = keys.map(k => k -> hr.getOrElse(k, 0L) / hd).toMap
    }
    assert(got == keys.map(k => k -> ((h(k), a(k)))).toMap)
    // h is the dominant hub; a2 the dominant authority; h has no authority
    assert(got("h")._1 == keys.map(got(_)._1).max)
    assert(got("a2")._2 == keys.map(got(_)._2).max)
    assert(got("h")._2 == 0L)
  }

  test("adamicAdar scores the square's diagonals; rarer middles score higher") {
    // square u-a-v-b: (u,v) and (a,b) each share 2 deg-2 middles
    val sq = KinGraph(
      Seq("u", "a", "v", "b").toDF("key"),
      Seq(("u", "a", 0), ("a", "v", 0), ("v", "b", 0), ("b", "u", 0))
        .toDF("src", "dst", "etype"))
    val got = GraphOps.adamicAdar(sq, 10)
      .as[(String, String, Long, Long)].collect().toSet
    val t = math.round(1e6 / math.log(2)) // 1442695
    assert(got == Set(("u", "v", 2 * t, 2L), ("a", "b", 2 * t, 2L)))
    // a high-degree middle contributes less than a low-degree one
    val star = KinGraph.fromEdges(
      ((0 until 10).map(i => ("hub", s"x$i", 0)) ++
        Seq(("x0", "w", 0), ("x1", "w", 0))).toDF("src", "dst", "etype"))
    val scores = GraphOps.adamicAdar(star, 100)
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    // (x0,x1) share hub (deg 10) AND w (deg 2); pairs sharing only the
    // hub score exactly round(1e6/ln 10) < round(1e6/ln 2)
    val hubT = math.round(1e6 / math.log(10))
    assert(scores(("x0", "x1")) == hubT + t)
    assert(scores(("x2", "x3")) == hubT)
    assert(hubT < t)
    // hub cap: p90 of the star's degrees is 2, so the deg-10 hub MIDDLE is
    // excluded — every pair scored only through deg-2 middles. (hub,w) as
    // ENDPOINTS still pair via their shared deg-2 middles x0 and x1
    val capped = GraphOps.adamicAdar(star, 100, hubCapPercentile = 0.9)
      .as[(String, String, Long, Long)].collect()
    assert(capped.toSeq == Seq(("hub", "w", 2 * t, 2L), ("x0", "x1", t, 1L)))
  }

  test("jaccardPairs: exact milli ratios on the square; hub cap filters the graph itself") {
    // square u-a-v-b: (u,v) and (a,b) each share both their deg-2
    // neighbors — |N∩| = |N∪| = 2 ⇒ jac exactly 1000; tie breaks on a
    val sq = KinGraph(
      Seq("u", "a", "v", "b").toDF("key"),
      Seq(("u", "a", 0), ("a", "v", 0), ("v", "b", 0), ("b", "u", 0))
        .toDF("src", "dst", "etype"))
    val got = GraphOps.jaccardPairs(sq, 10)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(("a", "b", 2L, 1000L), ("u", "v", 2L, 1000L)))
    // star + w: p90 degree cap (2) removes the deg-10 hub from the capped
    // graph — (x0,x1) then share ONLY w with capped degree 1 each ⇒ 1000;
    // (hub,w) pair via middles x0,x1 with capped degrees 10 and 2 ⇒
    // 2000 div (10+2-2) = 200
    val star = KinGraph.fromEdges(
      ((0 until 10).map(i => ("hub", s"x$i", 0)) ++
        Seq(("x0", "w", 0), ("x1", "w", 0))).toDF("src", "dst", "etype"))
    val capped = GraphOps.jaccardPairs(star, 100, hubCapPercentile = 0.9)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(capped == Seq(("x0", "x1", 1L, 1000L), ("hub", "w", 2L, 200L)))
  }

  test("weightedSsspBounded relaxes multi-hop shortcuts; bound limits reach") {
    val got = GraphOps.weightedSsspBounded(ssspEdges, ssspNodes, "s", 4)
      .as[(String, Long)].collect().toMap
    assert(got == Map("s" -> 0L, "a" -> 1L, "b" -> 2L, "c" -> 3L))
    // one iteration reaches only direct successors, with the direct weight
    val one = GraphOps.weightedSsspBounded(ssspEdges, ssspNodes, "s", 1)
      .as[(String, Long)].collect().toMap
    assert(one == Map("s" -> 0L, "a" -> 1L, "b" -> 5L))
  }

  test("weightedSsspBounded is closed over nodes: foreign dst neither appears nor relays") {
    // s -> x (x NOT in nodes) -> c : x must not appear AND must not relay to c,
    // matching the SQL twin's per-round LEFT JOIN nodes behavior
    val edges = Seq(("s", "x", 1L), ("x", "c", 1L), ("s", "a", 7L))
      .toDF("src", "dst", "w")
    val nodes = Seq("s", "a", "c").toDF("key")
    val got = GraphOps.weightedSsspBounded(edges, nodes, "s", 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map("s" -> 0L, "a" -> 7L))
  }

  test("kCore peels to the exact core once rounds converge") {
    val r3 = GraphOps.kCore(peelGraph, k = 2, rounds = 3).as[String].collect().toSet
    assert(r3 == Set("a", "b", "c"))
    // convergence: one more round changes nothing
    val r4 = GraphOps.kCore(peelGraph, k = 2, rounds = 4).as[String].collect().toSet
    assert(r4 == r3)
    // a 3-core does not exist in this graph
    assert(GraphOps.kCore(peelGraph, k = 3, rounds = 3).count() == 0)
  }

  test("weightedFixedPointPageRank distributes mass weight-proportionally (exact hand check)") {
    // wprEdges: w is irrelevant on b's and c's single out-edge. One
    // iteration from r0 = 1e9 has a closed form: inc(b) = (1e9*1) div 4,
    // inc(c) = (1e9*3) div 4, inc(a) = 2e9; r1 = 15e7 + (85*inc) div 100.
    val r1 = GraphOps.weightedFixedPointPageRank(wprEdges, wprNodes, iters = 1)
      .as[(String, Long)].collect().toMap
    assert(r1 == Map(
      "a" -> (150000000L + 85L * 2000000000L / 100L),
      "b" -> (150000000L + 85L * 250000000L / 100L),
      "c" -> (150000000L + 85L * 750000000L / 100L)))
    // c's incoming mass is exactly 3x b's — the weight proportionality
    assert((r1("c") - 150000000L) == 3L * (r1("b") - 150000000L))
  }

  test("fixedPointPageRank conserves order with GraphX static PageRank") {
    val edges = Seq(("a", "b", 0), ("b", "c", 0), ("c", "a", 0),
      ("d", "a", 0), ("e", "a", 0), ("a", "c", 0)).toDF("src", "dst", "etype")
    val g = KinGraph.fromEdges(edges)
    val fp = GraphOps.fixedPointPageRank(g, iters = 20)
      .as[(String, Long)].collect().sortBy(r => (-r._2, r._1)).map(_._1)
    val gx = graft.gx.GraphXBridge.pageRank(
      graft.gx.GraphXBridge.toGraphX(g), iters = 20)
      .as[(String, Double)].collect().sortBy(r => (-r._2, r._1)).map(_._1)
    assert(fp.toSeq == gx.toSeq) // identical ranking order
  }

  test("landmark closeness: all-landmarks on a path = exact harmonic centrality") {
    // path3 undirected; with every node a landmark and enough rounds,
    // the landmark estimate IS the exact harmonic centrality
    val got = GraphOps.landmarkCloseness(path3, nLandmarks = 3, rounds = 3)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // a: d=1 to b, d=2 to c -> 1e6 + 5e5; b: 1e6 + 1e6; c symmetric to a
    assert(got("a") == ((3L, 1500000L)))
    assert(got("b") == ((3L, 2000000L)))
    assert(got("c") == ((3L, 1500000L)))
    // bounded rounds truncate honestly: 1 round sees only direct neighbors
    val r1 = GraphOps.landmarkCloseness(path3, nLandmarks = 3, rounds = 1)
      .as[(String, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(r1("a") == 2L && r1("b") == 3L)
  }

  test("landmark eccentricity: bounded ecc per landmark + diameter lower bound") {
    // path3 with every node a landmark: ecc(a)=ecc(c)=2, ecc(b)=1,
    // so the pseudo-diameter lower bound hits the true diameter 2
    val (lm, st) = GraphOps.landmarkBfsState(path3, nLandmarks = 3, rounds = 4)
    val got = GraphOps.eccentricityFromState(lm, st)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got("a") == ((3L, 2L, 2L)))
    assert(got("b") == ((3L, 1L, 2L)))
    assert(got("c") == ((3L, 2L, 2L)))
    // bounded rounds clip honestly: 1 round reaches only direct
    // neighbors, so every ecc (and the lb) reports 1
    val (lm1, st1) = GraphOps.landmarkBfsState(path3, nLandmarks = 3, rounds = 1)
    val r1 = GraphOps.eccentricityFromState(lm1, st1)
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(r1("a") == ((2L, 1L, 1L)) && r1("b") == ((3L, 1L, 1L)))
    // closeness from the SAME state frame matches the one-shot API
    val viaState = GraphOps.closenessFromState(st)
      .as[(String, Long, Long)].collect().toSet
    val direct = GraphOps.landmarkCloseness(path3, nLandmarks = 3, rounds = 4)
      .as[(String, Long, Long)].collect().toSet
    assert(viaState == direct)
  }

  test("landmark betweenness counts exact shortest paths through nodes") {
    // diamond a->{b,c}->d: with all 4 nodes as landmarks, pair (a,d) has
    // D=2 with one shortest path through each of b and c
    val dg = KinGraph(
      Seq("a", "b", "c", "d").toDF("key"),
      Seq(("a", "b", 0), ("a", "c", 0), ("b", "d", 0), ("c", "d", 0))
        .toDF("src", "dst", "etype"))
    val got = GraphOps.landmarkBetweenness(dg, nLandmarks = 4, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(got == Map("b" -> 1L, "c" -> 1L))
    // a shortcut kills the through-path: a->c direct makes the 2-hop
    // route via b non-shortest for (a, c)
    val sg = KinGraph(
      Seq("a", "b", "c").toDF("key"),
      Seq(("a", "b", 0), ("b", "c", 0), ("a", "c", 0))
        .toDF("src", "dst", "etype"))
    val got2 = GraphOps.landmarkBetweenness(sg, nLandmarks = 3, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(got2.isEmpty, s"shortcut must remove all through-paths: $got2")
    // parallel shortest paths multiply: a->{b,c}->d->e gives d sigma 2
    val got3 = GraphOps.landmarkBetweenness(parallelPaths, nLandmarks = 5, rounds = 3)
      .as[(String, Long)].collect().toMap
    // (a,e): sigma(a->d)=2 through d, sigma(d->e)=1 -> d carries 2; plus
    // (a,d) contributes b:1, c:1; (b,e)/(c,e) each put 1 on d
    assert(got3("d") == 2L + 1L + 1L, s"got $got3")
    assert(got3("b") == 1L + 1L && got3("c") == 1L + 1L, s"got $got3")
    // symmetric fast path: on an undirected edge set, reusing the forward
    // BFS as the backward one changes nothing
    val udE = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
      .flatMap { case (s, t) => Seq((s, t, 0), (t, s, 0)) }
      .toDF("src", "dst", "etype")
    val udG = KinGraph.fromEdges(udE)
    val sym = GraphOps.landmarkBetweenness(udG, 4, 3, symmetric = true)
      .as[(String, Long)].collect().toMap
    val gen = GraphOps.landmarkBetweenness(udG, 4, 3, symmetric = false)
      .as[(String, Long)].collect().toMap
    assert(sym == gen, s"symmetric fast path must not change results: $sym vs $gen")
    // large-graph path: broadcast joins switched off force the
    // shuffle-join expansion; results are identical (the regime changes
    // the plan only)
    val noBc = withBroadcastJoinsOff(
      GraphOps.landmarkBetweenness(parallelPaths, nLandmarks = 5, rounds = 3)
        .as[(String, Long)].collect().toMap)
    assert(noBc == got3, s"shuffle-path results diverged: $noBc vs $got3")
    // sigma guard: the diamond pushes sigma(a->d) to 2 — a limit of 1
    // must fail loudly instead of risking a silent i64 wrap at depth
    val ex = intercept[IllegalStateException] {
      GraphOps.landmarkBetweenness(dg, nLandmarks = 4, rounds = 3,
        sigmaLimit = 1L)
    }
    assert(ex.getMessage.contains("sigma"), ex.getMessage)
  }

  test("gx_labelprop/gx_wsssp bounded iterations HAVE stabilized at gate scale") {
    // if a fixture change made the drivers' bounds under-iterate, the
    // oracle would still agree (it replays the same bound) but the answer
    // would silently stop being the stable one — this pins stability at
    // the gate scale. WSSSP reaches a true fixpoint (d4 == d5). Sync LPA
    // on this graph's bipartite S-C structure does NOT fix — it enters a
    // period-2 limit cycle (classic synchronous-update oscillation), so
    // the stability statement for gx_labelprop's iters = 5 is l5 == l7,
    // and l5 != l6 is asserted too so this can't silently weaken into a
    // fixpoint claim that a 2-cycle would also satisfy
    val dir = "/root/testdata/sf0.01"
    assume(new java.io.File(dir).exists, s"gate-scale fixture $dir not present")
    val ug = KinGraph.fromEdges(graft.queries.GxQueries.unionEdges(spark, dir))
    def lpa(i: Int) = GraphOps.labelPropagationSync(ug, iters = i)
      .as[(String, String)].collect().toMap
    val (l5, l6, l7) = (lpa(5), lpa(6), lpa(7))
    assert(l5 == l7, "gx_labelprop's iters=5 left the period-2 cycle at sf0.01")
    assert(l5 != l6, "cycle collapsed to a fixpoint — tighten this to l5 == l6")
    val we = ug.edges.select($"src", $"dst").withColumn("w",
      pmod(graft.functions.TextFunctions.hash60(
        concat($"src", lit("|"), $"dst")), lit(100L)) + 1L)
    val nodes = ug.nodes.select($"key")
    val d4 = GraphOps.weightedSsspBounded(we, nodes, "S1", 4)
      .as[(String, Long)].collect().toMap
    val d5 = GraphOps.weightedSsspBounded(we, nodes, "S1", 5)
      .as[(String, Long)].collect().toMap
    assert(d4 == d5, "gx_wsssp's rounds=4 no longer converges at sf0.01")
  }

  test("canonFrom contract: cache:gx_und is the distinct u < v pairs of the union graph") {
    // the gx ops trust a canonFrom frame unchecked; GxQueries pairs the
    // union graph with cache:gx_und, so that pairing must hold exactly
    val und = SparkEntry.cacheBuilds.toMap.apply("gx_und")(spark, sf)
      .select($"u", $"v")
    val canon = KinGraph.fromEdges(graft.queries.GxQueries.unionEdges(spark, sf))
      .edges.filter($"src" =!= $"dst")
      .select(least($"src", $"dst").as("u"), greatest($"src", $"dst").as("v"))
      .distinct()
    assert(und.count() == canon.count())
    assert(und.except(canon).isEmpty, "gx_und holds pairs outside the union graph")
    assert(canon.except(und).isEmpty, "gx_und misses pairs of the union graph")
  }

  test("GraftExtensions injects SQL functions into a fresh session") {
    spark.sparkContext // ensure the shared context exists
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate() // reuses the SparkContext, new session w/ extensions
      val r = s2.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").head
      assert(r.getDouble(0) == 11.0)
    } finally {
      prev.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }

  test("pointer doubling labels rho-shaped functional graphs with cycle minima") {
    val succ = Seq(
      0L -> 1L, 1L -> 2L, 2L -> 0L, 3L -> 1L,  // 3-cycle {0,1,2} + tail 3
      4L -> 5L, 5L -> 4L, 6L -> 4L,            // 2-cycle {4,5} + tail 6
      7L -> 7L, 8L -> 7L, 9L -> 8L,            // self-loop 7 + 2-deep chain
      10L -> 11L, 11L -> 12L, 12L -> 11L       // tail id BELOW its cycle {11,12}
    ).toDF("node", "succ")
    val out = GraphOps.pointerDoublingLabels(succ, rounds = 5)
      .select("node", "cycle_rep", "basin_size")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val exp = Map(
      0L -> ((0L, 4L)), 1L -> ((0L, 4L)), 2L -> ((0L, 4L)), 3L -> ((0L, 4L)),
      4L -> ((4L, 3L)), 5L -> ((4L, 3L)), 6L -> ((4L, 3L)),
      7L -> ((7L, 3L)), 8L -> ((7L, 3L)), 9L -> ((7L, 3L)),
      // the label is the min ON THE CYCLE: tail node 10 cannot pollute it
      10L -> ((11L, 3L)), 11L -> ((11L, 3L)), 12L -> ((11L, 3L)))
    assert(out == exp, s"got $out")
    // probeFrom only moves the probe rounds (multiples of 4 in
    // [probeFrom, rounds)), never the labels: 4 probes at 4/8/12, 5 and 8
    // at 8/12, 16 and 17 never (no rider column either)
    Seq(4, 5, 8, 16, 17).foreach { pf =>
      val got = GraphOps.pointerDoublingLabels(succ, probeFrom = pf)
        .select("node", "cycle_rep", "basin_size")
        .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == exp, s"probeFrom = $pf: got $got")
    }
  }

  test("pointer doubling early fixpoint stop: long tail crosses probe rounds") {
    // 40-node tail into a 3-cycle: jump stabilizes once 2^(k-1) >= tail
    // AND the cycle length divides 2^(k-1) (3 never divides a power of
    // two, so stability waits for the full-depth contract here — the
    // probe at rounds 4/8/12 must never stop early and corrupt labels).
    // Cycle {0,1,2}, tail 42 -> 41 -> ... -> 3 -> 0 (ids ABOVE the cycle
    // min so the label is provably the on-cycle min).
    val succ = ((0L -> 1L) +: (1L -> 2L) +: (2L -> 0L) +:
      (3L to 42L).map(i => i -> (i - 1))).toDF("node", "succ")
    val out = GraphOps.pointerDoublingLabels(succ)
      .select("node", "cycle_rep").as[(Long, Long)].collect().toMap
    assert(out.size == 43)
    assert(out.values.forall(_ == 0L), s"got $out")
    // and a stabilizing shape (2-cycle: length divides 2^(k-1)) with a
    // tail long enough that the FIRST probe (round 4, window 16) is
    // already past it — the early-stopped state must equal full depth
    val succ2 = ((100L -> 101L) +: (101L -> 100L) +:
      (102L to 110L).map(i => i -> (i - 1))).toDF("node", "succ")
    val out2 = GraphOps.pointerDoublingLabels(succ2)
      .select("node", "cycle_rep").as[(Long, Long)].collect().toMap
    assert(out2.size == 11 && out2.values.forall(_ == 100L), s"got $out2")
  }

  /** `run`'s sorted rows in the small regime (explicit broadcasts) and
    * with broadcast joins switched off, which every regime op reads as the
    * shuffle regime (hyperAnf: the union fallback). */
  private def inBothRegimes(run: () => DataFrame): (Seq[Row], Seq[Row]) = {
    def rows(df: DataFrame) = df.collect().toSeq.sortBy(_.toString)
    (rows(run()), withBroadcastJoinsOff(rows(run())))
  }

  test("broadcast and shuffle regimes agree bit-for-bit on every regime op") {
    // each op on its own fixture, in both regimes. Round counts cross
    // each loop's checkpoint cadence.
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "fixedPointPageRank" -> (() => GraphOps.fixedPointPageRank(xyz, iters = 5)),
      "fixedPointKatz" -> (() => GraphOps.fixedPointKatz(katzStar, iters = 5)),
      "weightedFixedPointPageRank" -> (() =>
        GraphOps.weightedFixedPointPageRank(wprEdges, wprNodes, iters = 5)),
      "labelPropagationSync" -> (() =>
        GraphOps.labelPropagationSync(twoTriangles, iters = 4)),
      "weightedSsspBounded" -> (() =>
        GraphOps.weightedSsspBounded(ssspEdges, ssspNodes, "s", 4)),
      "personalizedPageRank" -> (() => GraphOps.personalizedPageRank(xyz, "x", 5)),
      "landmarkBfsState" -> (() =>
        GraphOps.landmarkBfsState(path3, nLandmarks = 3, rounds = 4)._2),
      "kCore" -> (() => GraphOps.kCore(peelGraph, k = 2, rounds = 3)),
      "kCoreAdaptive" -> (() => GraphOps.kCoreAdaptive(peelGraph, kOffset = 1, rounds = 3)),
      "hits" -> (() => GraphOps.hits(hubGraph, iters = 3)),
      "landmarkBetweenness" -> (() =>
        GraphOps.landmarkBetweenness(parallelPaths, nLandmarks = 5, rounds = 3)),
      "hyperAnf" -> (() => GraphOps.hyperAnf(anfUnd, rounds = 2)),
      "hyperAnfTrace" -> (() => GraphOps.hyperAnfTrace(anfUnd, rounds = 2)),
      "lubyMis" -> (() => GraphOps.lubyMis(g, rounds = 4)),
      "boruvkaForest" -> (() =>
        GraphOps.boruvkaForest(mstGraph, rounds = 3, weightsFrom = Some(mstWeights))),
      "greedyMatching" -> (() => GraphOps.greedyMatching(matchGraph, rounds = 4)),
      "jpColoring" -> (() => GraphOps.jpColoring(starTriangle, rounds = 4)))
    ops.foreach { case (name, run) =>
      val (bcast, shuffle) = inBothRegimes(run)
      assert(bcast.nonEmpty, s"$name: empty fixture output proves nothing")
      assert(bcast == shuffle, s"$name: broadcast=$bcast shuffle=$shuffle")
    }
  }

  test("every regime op runs on an edgeless graph, alike in both regimes") {
    // a filtered subgraph can lose every edge: no op may trip on the empty
    // aggregates (kCoreAdaptive's min degree read a NULL cell)
    val none = Seq.empty[(String, String, Int)].toDF("src", "dst", "etype")
    val edgeless = KinGraph(Seq("a", "b", "c").toDF("key"), none)
    def noEdges(df: DataFrame) = df.filter(lit(false))
    val ops: Seq[(String, () => DataFrame)] = Seq(
      "fixedPointPageRank" -> (() => GraphOps.fixedPointPageRank(edgeless, iters = 5)),
      "fixedPointKatz" -> (() => GraphOps.fixedPointKatz(edgeless, iters = 5)),
      "weightedFixedPointPageRank" -> (() =>
        GraphOps.weightedFixedPointPageRank(noEdges(wprEdges), wprNodes, iters = 5)),
      "labelPropagationSync" -> (() =>
        GraphOps.labelPropagationSync(edgeless, iters = 4)),
      "weightedSsspBounded" -> (() =>
        GraphOps.weightedSsspBounded(noEdges(ssspEdges), ssspNodes, "s", 4)),
      "personalizedPageRank" -> (() => GraphOps.personalizedPageRank(edgeless, "a", 5)),
      "landmarkBfsState" -> (() =>
        GraphOps.landmarkBfsState(edgeless, nLandmarks = 3, rounds = 4)._2),
      "kCore" -> (() => GraphOps.kCore(edgeless, k = 2, rounds = 3)),
      "kCoreAdaptive" -> (() => GraphOps.kCoreAdaptive(edgeless, kOffset = 1, rounds = 3)),
      "hits" -> (() => GraphOps.hits(edgeless, iters = 3)),
      "landmarkBetweenness" -> (() =>
        GraphOps.landmarkBetweenness(edgeless, nLandmarks = 3, rounds = 3)),
      "hyperAnf" -> (() => GraphOps.hyperAnf(noEdges(anfUnd), rounds = 2)),
      "hyperAnfTrace" -> (() => GraphOps.hyperAnfTrace(noEdges(anfUnd), rounds = 2)),
      "lubyMis" -> (() => GraphOps.lubyMis(edgeless, rounds = 4)),
      "boruvkaForest" -> (() => GraphOps.boruvkaForest(edgeless, rounds = 3,
        weightsFrom = Some(noEdges(mstWeights)))),
      "greedyMatching" -> (() => GraphOps.greedyMatching(edgeless, rounds = 4)),
      "jpColoring" -> (() => GraphOps.jpColoring(edgeless, rounds = 4)))
    ops.foreach { case (name, run) =>
      val (bcast, shuffle) = inBothRegimes(run)
      assert(bcast == shuffle, s"$name: broadcast=$bcast shuffle=$shuffle")
    }
    // every node has degree 0 < 0 + kOffset: the adaptive core is empty
    assert(GraphOps.kCoreAdaptive(edgeless, kOffset = 1, rounds = 3).isEmpty)
  }

  test("boruvkaForest: hand-weighted graph yields the exact MST") {
    val forest = GraphOps.boruvkaForest(mstGraph, rounds = 3,
        weightsFrom = Some(mstWeights))
      .select("u", "v", "w").as[(String, String, Long)].collect().toSet
    assert(forest == Set(("a", "b", 1L), ("b", "c", 2L), ("c", "d", 3L)),
      s"got $forest")
  }

  test("greedyMatching: matched edges disjoint, blocked justified, maximal") {
    val out = GraphOps.greedyMatching(matchGraph, rounds = 4).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getString(2))).toMap
    assert(out.size == 5)
    val matched = out.filter(_._2 == "matched").keySet
    // a matching: no node appears in two matched edges
    val ends = matched.toSeq.flatMap { case (u, v) => Seq(u, v) }
    assert(ends.distinct.size == ends.size, s"not a matching: $matched")
    // converged: nothing open, and every blocked edge touches a matched node
    assert(!out.values.exists(_ == "open"))
    val matchedNodes = ends.toSet
    out.filter(_._2 == "blocked").keys.foreach { case (u, v) =>
      assert(matchedNodes(u) || matchedNodes(v), s"($u,$v) blocked unjustly")
    }
    // MAXIMAL: no edge has both endpoints unmatched
    out.keys.foreach { case (u, v) =>
      assert(matchedNodes(u) || matchedNodes(v))
    }
    // on this 5-node graph a maximal matching has 2 edges
    assert(matched.size == 2)
  }

  test("jpColoring: proper, within the greedy bound, hubs color early") {
    // starTriangle: x-l1-l2 is a triangle, so chi = 3 and a proper
    // coloring needs l1, l2 and x pairwise distinct while l3/l4 only
    // avoid x's color
    val out = GraphOps.jpColoring(starTriangle, rounds = 4).collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) -1 else r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    val color = out.map(r => r._1 -> r._2).toMap
    // fully colored at this size, and the coloring is PROPER
    assert(out.forall(_._2 >= 0), s"all colored: $out")
    val und = Seq(("x", "l1"), ("x", "l2"), ("x", "l3"), ("x", "l4"), ("l1", "l2"))
    und.foreach { case (u, v) => assert(color(u) != color(v), s"$u-$v clash") }
    // greedy bound: colors stay within 0..Delta (= deg(x) = 4)
    assert(out.map(_._2).max <= 4)
    // largest-degree-first: the hub is a round-1 local maximum and takes 0
    assert(out.find(_._1 == "x").get == (("x", 0, 1)))
    // deterministic
    val out2 = GraphOps.jpColoring(starTriangle, rounds = 4).collect()
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) -1 else r.getInt(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(out.sortBy(_._1) == out2.sortBy(_._1))
  }

  test("functionalScc: cycles are SCCs with min label, tails are singletons") {
    // rho: 9 -> 1 -> 2 -> 5 -> 7 -> 2 (cycle {2,5,7}), plus fixpoint 4 -> 4
    val succ = Seq((9L, 1L), (1L, 2L), (2L, 5L), (5L, 7L), (7L, 2L), (4L, 4L))
      .toDF("node", "succ")
    val out = GraphOps.functionalScc(succ)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 1L, 1L),          // tail singleton
      (2L, 2L, 3L), (5L, 2L, 3L), (7L, 2L, 3L), // the cycle, min label 2
      (4L, 4L, 1L),          // self-loop: a 1-cycle IS an SCC of size 1
      (9L, 9L, 1L)).sortBy(_._1))
  }

  test("lubyMis: winners independent, removals justified, maximal at fixpoint") {
    // path a-b-c-d plus chord a-c: undirected view has edges
    // {a-b, b-c, c-d, a-c}; any MIS is independent and maximal
    val out = GraphOps.lubyMis(g, rounds = 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(out.length == 4, "every node reports exactly one status")
    val mis = out.filter(_._2 == "mis").map(_._1).toSet
    val und = Set(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
    // independence: no undirected edge inside the MIS
    assert(!und.exists { case (u, v) => mis(u) && mis(v) })
    // 4 rounds empty the active set on 4 nodes; with none left, every
    // removed node must have a MIS neighbor (maximality)
    assert(!out.exists(_._2 == "active"))
    val removed = out.filter(_._2 == "removed").map(_._1).toSet
    assert(removed.forall(v =>
      und.exists { case (x, y) => (x == v && mis(y)) || (y == v && mis(x)) }))
    // deterministic: same priorities, same result, any partitioning
    val out2 = GraphOps.lubyMis(g, rounds = 4).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(out.sortBy(_._1).toSeq == out2.sortBy(_._1).toSeq)
    // an isolated node joins the MIS in round 1 (no neighbors to beat)
    val gi = KinGraph(Seq("a", "b", "z").toDF("key"),
      Seq(("a", "b", 0)).toDF("src", "dst", "etype"))
    val zi = GraphOps.lubyMis(gi, rounds = 2).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2)))
      .find(_._1 == "z").get
    assert(zi._2 == "mis" && zi._3 == 1)
  }

  test("k-truss keeps the clique, drops pendant triangles, and cascades to empty") {
    def kg(edges: Seq[(String, String)]) = KinGraph(
      edges.flatMap(e => Seq(e._1, e._2)).distinct.toDF("key"),
      edges.map(e => (e._1, e._2, 0)).toDF("src", "dst", "etype"))
    // 4-clique {a,b,c,d} + pendant triangle {d,e,f}
    val g1 = kg(Seq("a"->"b","a"->"c","a"->"d","b"->"c","b"->"d","c"->"d",
      "d"->"e","d"->"f","e"->"f"))
    val t4 = GraphOps.kTruss(g1, k = 4, rounds = 3)
      .as[(String, String, Long)].collect().toSet
    // the clique survives with support 2 per edge; the pendant triangle
    // (support 1 each) is peeled in round 1
    val clique = Set(("a","b",2L),("a","c",2L),("a","d",2L),
      ("b","c",2L),("b","d",2L),("c","d",2L))
    assert(t4 == clique, s"got $t4")
    // triangle chain {a,b,c} + {b,c,d}: edge (b,c) has support 2, the
    // rest 1 — k=4 drops the rest in round 1, which strands (b,c) with
    // support 0 in round 2: the cascade empties the graph
    val g2 = kg(Seq("a"->"b","a"->"c","b"->"c","b"->"d","c"->"d"))
    assert(GraphOps.kTruss(g2, k = 4, rounds = 2).isEmpty,
      "cascade must empty the chain at k=4")
    // at k=3 the chain is already a 3-truss: every edge in >= 1 triangle
    val t3 = GraphOps.kTruss(g2, k = 3, rounds = 2)
      .as[(String, String, Long)].collect().toSet
    assert(t3.map(e => (e._1, e._2)) ==
      Set(("a","b"),("a","c"),("b","c"),("b","d"),("c","d")))
    assert(t3.find(e => e._1 == "b" && e._2 == "c").get._3 == 2L)
  }

  test("k-truss on a planted hub: star wedges peel clean (skew shape)") {
    // a 300-spoke hub with MIXED-lexical spokes (half sort below "hub",
    // half above) is the wedge-join skew case: a lexical u<v orientation
    // centers 150·150 = 22 500 wedge rows on the hub key in round 1's
    // triangle enumeration. The degree-ordered orientation generates
    // ZERO — every edge at a max-degree node points INTO it, so
    // in·out = 300·0 (asserted below). No spoke pair is connected, so
    // every star edge has support 0 and peels in round 1, while the
    // disjoint 4-clique rides through untouched with support 2 per edge.
    val star = (1 to 150).map(i => s"a$i" -> "hub") ++
      (1 to 150).map(i => "hub" -> s"z$i")
    val clique = Seq("b"->"c","b"->"d","b"->"e","c"->"d","c"->"e","d"->"e")
    val g = KinGraph.fromEdges(
      (star ++ clique).map(e => (e._1, e._2, 0)).toDF("src", "dst", "etype"))
    val t = GraphOps.kTruss(g, k = 3, rounds = 2)
      .as[(String, String, Long)].collect().toSet
    assert(t == Set(("b","c",2L),("b","d",2L),("b","e",2L),
      ("c","d",2L),("c","e",2L),("d","e",2L)), s"got ${t.size} edges")
    // wedge accounting under (deg, key) order: hub contributes 0; the
    // 4-clique (all degree 3, ordered b<c<d<e) contributes
    // in(y)·out(y) = c:1·2 + d:2·1 -> 4 total
    val lex = (star ++ clique).map { case (p, q) =>
      (if (p < q) p else q, if (p < q) q else p) }
      .distinct.toDF("u", "v")
    assert(GraphOps.orientedWedges(lex).count() == 4L)
    assert(GraphOps.orientedWedges(lex).filter($"y" === "hub").count() == 0L)
  }

  test("adjustedRandIndex: identity = 1e6, hand contingency exact") {
    val a = Seq("a" -> "A", "b" -> "A", "c" -> "A",
      "d" -> "B", "e" -> "B", "f" -> "B").toDF("key", "la")
    // identical partition (relabeled) -> ARI exactly 1.0
    val ident = a.select($"key", $"la".as("lb"))
      .withColumn("lb", concat(lit("x"), $"lb"))
    val r1 = GraphOps.adjustedRandIndex(a, ident)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(r1 == ((6L, 6L, 6L, 6L, 15L, 1000000L)), s"got $r1")
    // A = {abc|def}, B = {ab|cdef}: n_ij = 2,1,3 -> sij 4, sa 6, sb 7,
    // exp = 6*7/15 = 2.8, ari = 1.2/3.7 -> floor micro 324324
    val b = Seq("a" -> "X", "b" -> "X", "c" -> "Y",
      "d" -> "Y", "e" -> "Y", "f" -> "Y").toDF("key", "lb")
    val r2 = GraphOps.adjustedRandIndex(a, b)
      .as[(Long, Long, Long, Long, Long, Long)].head()
    assert(r2 == ((6L, 4L, 6L, 7L, 15L, 324324L)), s"got $r2")
    // the trivial one-cluster partition is chance-level: ARI = 0
    val t = a.select($"key", lit("Z").as("lb"))
    assert(GraphOps.adjustedRandIndex(a, t)
      .select($"ari_micro").as[Long].head() == 0L)
  }

  test("normalizedMutualInfo: identity = 1e6, trivial = 0, hand case exact") {
    val a = Seq("a" -> "A", "b" -> "A", "c" -> "A",
      "d" -> "B", "e" -> "B", "f" -> "B").toDF("key", "la")
    val ident = a.select($"key", concat(lit("x"), $"la").as("lb"))
    assert(GraphOps.normalizedMutualInfo(a, ident)
      .select($"nmi_micro").as[Long].head() == 1000000L)
    // one-cluster partition: I = 0, H_b = 0 -> NMI 0 (not NaN/div-by-0)
    val t = a.select($"key", lit("Z").as("lb"))
    assert(GraphOps.normalizedMutualInfo(a, t)
      .select($"nmi_micro").as[Long].head() == 0L)
    // {abc|def} vs {ab|cdef}: replay the micro-nat formula exactly
    val b = Seq("a" -> "X", "b" -> "X", "c" -> "Y",
      "d" -> "Y", "e" -> "Y", "f" -> "Y").toDF("key", "lb")
    def lm(x: Long) = math.round(math.log(x.toDouble) * 1e6)
    val lnN = lm(6)
    // cells: (A,X)=2 (A,Y)=1 (B,Y)=3; a: A=3 B=3; b: X=2 Y=4
    val iNum = 2 * (lm(2) + lnN - lm(3) - lm(2)) +
      1 * (lm(1) + lnN - lm(3) - lm(4)) + 3 * (lm(3) + lnN - lm(3) - lm(4))
    val hA = 3 * (lnN - lm(3)) + 3 * (lnN - lm(3))
    val hB = 2 * (lnN - lm(2)) + 4 * (lnN - lm(4))
    val want = math.floor(1e6 * (2.0 * iNum) / (hA + hB).toDouble).toLong
    val r = GraphOps.normalizedMutualInfo(a, b)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(r == ((6L, iNum, hA, hB, want)), s"got $r want $want")
  }

  test("bowtieCensus: seed-rooted core/in/out/other classification") {
    // cycle a->b->c->a is the core when seeded at a; d feeds in, e flows
    // out, (f,g) is disconnected; self-loop + duplicate edge must be inert
    val de = Seq(("a","b"),("b","c"),("c","a"),("d","a"),("c","e"),
      ("f","g"),("a","b"),("b","b")).toDF("src", "dst")
    val seeds = Seq("a").toDF("key")
    val out = GraphOps.bowtieCensus(de, seeds, rounds = 3)
      .as[(String, Long)].collect().toMap
    assert(out == Map("core" -> 3L, "in" -> 1L, "out" -> 1L, "other" -> 2L),
      s"got $out")
  }

  test("edgeSupportHist: triangle support per edge, bridges at support 0") {
    // two triangles sharing edge (b,c) + a pendant local bridge (d,e):
    // (b,c) sits in 2 triangles, the other 4 triangle edges in 1,
    // (d,e) in none
    val und = Seq(("a","b"),("a","c"),("b","c"),("b","d"),("c","d"),
      ("d","e")).toDF("u", "v")
    val hist = GraphOps.edgeSupportHist(und)
      .as[(Long, Long)].collect().toMap
    assert(hist == Map(0L -> 1L, 1L -> 4L, 2L -> 1L), s"got $hist")
  }

  test("louvainOneLevel: good partition is a fixpoint, bad label moves with exact gain") {
    // two triangles bridged by a1-b1; m = 7, all hand-checkable
    val und = Seq(("a1","a2"),("a1","a3"),("a2","a3"),
      ("b1","b2"),("b1","b3"),("b2","b3"),("a1","b1")).toDF("u", "v")
    // correct communities: nobody moves (e.g. a1->B: 4·7·(1−2) −
    // 2·3·(7−7+3) = −46 < 0; inner nodes have no foreign candidates)
    val good = Seq("a1"->"A","a2"->"A","a3"->"A","b1"->"B","b2"->"B","b3"->"B")
      .toDF("key", "label")
    val fix = GraphOps.louvainOneLevel(good, und)
      .as[(String, String, String, Long)].collect()
    assert(fix.length == 6 && fix.forall(r => r._2 == r._3 && r._4 == 0L),
      s"good partition must be a fixpoint: ${fix.toSeq}")
    // plant a3 in B: A={a1,a2}, B={b*,a3}; a3's gain back to A is
    // 4·7·(2−0) − 2·2·(5−9+2) = 56 + 8 = 64 — exact integer pinned
    val bad = Seq("a1"->"A","a2"->"A","a3"->"B","b1"->"B","b2"->"B","b3"->"B")
      .toDF("key", "label")
    val out = GraphOps.louvainOneLevel(bad, und)
      .as[(String, String, String, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(out("a3") == (("a3", "B", "A", 64L)), s"got ${out("a3")}")
  }

  test("node2vecWalks: biased choice matches an independent md5 replication") {
    // third, pure-Scala implementation of the choice arithmetic — the
    // DuckDB twin is the cross-engine check; this pins the Spark plan
    // against a from-scratch replication of the CONTRACT
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // a -> {b, c}; from b (prev a): return a (w1), c closes a->c (w2),
    // d forward (w1); from c (prev a): return a (w1), d forward (w1)
    val edges = Seq("a"->"b","a"->"c","b"->"a","b"->"c","b"->"d",
      "c"->"a","c"->"d","d"->"a").toDF("src", "dst")
    val out = GraphOps.node2vecWalks(edges, Seq("a").toDF("key"), 2)
      .as[(String, Int, String)].collect().sortBy(_._2)
    assert(out.map(_._2).toSeq == Seq(0, 1, 2), s"got ${out.toSeq}")
    // step 1: uniform over sorted out(a) = [b, c]
    val n1 = if (h60("a|1") % 2 == 0) "b" else "c"
    assert(out(1)._3 == n1, s"step1 got ${out(1)._3}, expected $n1")
    // step 2: cumulative integer slots over sorted candidates
    val n2 = if (n1 == "b") {
      val r = h60("a|b|2") % 4 // a:[0,1) w1, c:[1,3) w2, d:[3,4) w1
      if (r < 1) "a" else if (r < 3) "c" else "d"
    } else {
      val r = h60("a|c|2") % 2 // a:[0,1) w1, d:[1,2) w1
      if (r < 1) "a" else "d"
    }
    assert(out(2)._3 == n2, s"step2 got ${out(2)._3}, expected $n2")
    // partition invariance: identical paths from a repartitioned edge set
    val again = GraphOps.node2vecWalks(edges.repartition(5),
      Seq("a").toDF("key"), 2).as[(String, Int, String)].collect().toSet
    assert(again == out.toSet)
  }

  test("louvainOneLevelWeighted: weighted gains exact, self-loops cancel") {
    // two weight-10 triangles bridged by a weight-1 edge; W = 61
    val wund = Seq(("a1","a2",10L),("a1","a3",10L),("a2","a3",10L),
      ("b1","b2",10L),("b1","b3",10L),("b2","b3",10L),("a1","b1",1L))
      .toDF("u", "v", "w")
    val good = Seq("a1"->"A","a2"->"A","a3"->"A","b1"->"B","b2"->"B","b3"->"B")
      .toDF("key", "label")
    val fix = GraphOps.louvainOneLevelWeighted(good, wund)
      .as[(String, String, String, Long)].collect()
    assert(fix.length == 6 && fix.forall(r => r._2 == r._3 && r._4 == 0L),
      s"weighted good partition must be a fixpoint: ${fix.toSeq}")
    // plant a3 in B: gain back to A = 4·61·(20−0) − 2·20·(41−81+20) = 5680
    val bad = Seq("a1"->"A","a2"->"A","a3"->"B","b1"->"B","b2"->"B","b3"->"B")
      .toDF("key", "label")
    val out = GraphOps.louvainOneLevelWeighted(bad, wund)
      .as[(String, String, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out("a3") == (("a3", "B", "A", 5680L)), s"got ${out("a3")}")
    // a self-loop (a2, w=7) raises W to 68 and a2's strength by 14 but
    // must not create a move: loops cancel out of every gain
    val looped = wund.union(Seq(("a2","a2",7L)).toDF("u", "v", "w"))
    val fix2 = GraphOps.louvainOneLevelWeighted(good, looped)
      .as[(String, String, String, Long)].collect()
    assert(fix2.length == 6 && fix2.forall(r => r._2 == r._3 && r._4 == 0L),
      s"looped good partition must stay a fixpoint: ${fix2.toSeq}")
  }

  test("temporalReachability: time ordering gates paths, equal times chain") {
    // static path a->b->c exists, but the b->c contact (t=5) left BEFORE
    // arrival at b (t=10) — temporal reachability must NOT take it
    val te = Seq(("a","b",10L), ("b","c",5L), ("b","d",15L), ("b","e",10L),
      ("e","f",9L)).toDF("src", "dst", "t")
    val out = GraphOps.temporalReachability(te, Seq("a").toDF("key"), 4)
      .as[(String, Long)].collect().toMap
    assert(out == Map("a" -> -1L, "b" -> 10L, "d" -> 15L, "e" -> 10L),
      s"got $out")  // c and f unreachable (stale contacts), equal-time chains
    // c IS reachable when seeded at b directly (arrival -1 <= 5)
    val fromB = GraphOps.temporalReachability(te, Seq("b").toDF("key"), 2)
      .as[(String, Long)].collect().toMap
    assert(fromB("c") == 5L && fromB("d") == 15L)
  }

  test("skipGramPairs: window positives + md5-replicated negative draws") {
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    // one 4-step walk a->b->c->d->e; vocab {a..e, z1, z2}
    val walks = Seq(("a", 0, "a"), ("a", 1, "b"), ("a", 2, "c"),
      ("a", 3, "d"), ("a", 4, "e")).toDF("start", "step", "node")
    val vocab = Seq("a", "b", "c", "d", "e", "z1", "z2").toDF("key")
    val out = GraphOps.skipGramPairs(walks, vocab)
      .as[(String, Int, Int, String, String, Int, Int)].collect()
    val pos = out.filter(_._6 == 1)
    val neg = out.filter(_._6 == 0)
    // positives: ordered pairs |i-j| in {1,2}: 4*2 + 3*2 = 14
    assert(pos.length == 14, s"got ${pos.length}")
    assert(pos.forall(p => math.abs(p._2 - p._3) <= 2 && p._2 != p._3))
    assert(neg.length == 28 && neg.forall(n => n._7 == 1 || n._7 == 2))
    // replicate one negative draw from scratch: pos pair (a,b) k=1
    val sorted = Seq("a", "b", "c", "d", "e", "z1", "z2").sorted
    val expect = sorted((h60("a|b|1|neg") % 7).toInt)
    val drawn = neg.find(n => n._4 == "a" && n._5 != null &&
      n._2 == 0 && n._3 == 1 && n._7 == 1).get._5
    assert(drawn == expect, s"got $drawn, expected $expect")
    // determinism under repartition
    val again = GraphOps.skipGramPairs(walks.repartition(7), vocab)
      .as[(String, Int, Int, String, String, Int, Int)].collect()
    assert(out.sortBy(r => (r._2, r._3, r._6, r._7)).toSeq ==
      again.sortBy(r => (r._2, r._3, r._6, r._7)).toSeq)
  }

  test("hyperAnf registers equal a from-scratch ball replication") {
    // third, pure-Scala implementation of the contract: exact balls via
    // BFS, then the same md5 bucket/rank split — the DuckDB twin is the
    // cross-engine check, this pins the Spark plan against first
    // principles on a path + triangle graph
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(15), 16)
    }
    val edges = Seq(("a","b"),("b","c"),("c","d"),("d","e"),
      ("x","y"),("y","z"),("x","z"))
    val und = edges.toDF("u", "v")
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val adjM = nodes.map(n => n -> edges.collect {
      case (u, v) if u == n => v
      case (u, v) if v == n => u
    }.toSet).toMap
    def ball(n: String, k: Int): Set[String] = {
      var b = Set(n)
      for (_ <- 1 to k) b = b ++ b.flatMap(adjM)
      b
    }
    val rounds = 2
    def expected(n: String): (Int, Long, Long) = {
      val regs = scala.collection.mutable.Map.empty[Int, Int]
      for (m <- ball(n, rounds)) {
        val h = h60(m); val j = (h % 16).toInt; val x = h / 16
        val r = if (x == 0) 40
          else math.min(java.lang.Long.numberOfTrailingZeros(x) + 1, 40)
        regs(j) = math.max(regs.getOrElse(j, 0), r)
      }
      val estNum = regs.values.map(r => 1L << (40 - r)).sum +
        (16L - regs.size) * (1L << 40)
      (regs.size, regs.values.map(_.toLong).sum, estNum)
    }
    val out = GraphOps.hyperAnf(und, rounds)
      .as[(String, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.size == nodes.size)
    nodes.foreach { n =>
      val (nnz, rs, en) = expected(n)
      assert(out(n) == ((n, nnz, rs, en)),
        s"$n: got ${out(n)}, expected ${(n, nnz, rs, en)}")
    }
  }

  test("fixedPointKatz: hand-checked star values, adaptive divisor") {
    // katzStar: dmax = 3 so the divisor is 4; spokes have no in-edges
    // and stay at β = 1e6 forever, so c fixes at
    // 1e6 + (3·1e6) div 4 = 1 750 000 from iteration 1 on
    val out = GraphOps.fixedPointKatz(katzStar, iters = 5)
      .as[(String, Long)].collect().toMap
    assert(out("c") == 1750000L, s"got ${out("c")}")
    assert(out("s1") == 1000000L && out("s2") == 1000000L && out("s3") == 1000000L)
    // two-hop attenuation: a -> b -> c chain (same graph object would
    // change dmax, so a fresh graph: dmax = 1, divisor 2)
    val chain = KinGraph(
      Seq("a", "b", "c").toDF("key"),
      Seq(("a","b"), ("b","c")).toDF("src", "dst")
        .withColumn("etype", lit(0)))
    val ch = GraphOps.fixedPointKatz(chain, iters = 5)
      .as[(String, Long)].collect().toMap
    // b = 1e6 + 1e6 div 2 = 1.5e6 (fixed); c = 1e6 + 1.5e6 div 2 = 1.75e6
    assert(ch("a") == 1000000L && ch("b") == 1500000L && ch("c") == 1750000L,
      s"got $ch")
  }

  test("communityConnectedParts: planted disconnected community repaired") {
    // community X = two triangles with NO edge between them (the Leiden
    // defect), community Y = one connected path, plus a Y member with no
    // intra edge (singleton part)
    val und = Seq(("a1","a2"),("a1","a3"),("a2","a3"),
      ("b1","b2"),("b1","b3"),("b2","b3"),
      ("c1","c2"),("c2","c3"),
      ("a1","c1"),("b1","c9")).toDF("u", "v")  // cross-community edges
    val labels = Seq("a1"->"X","a2"->"X","a3"->"X","b1"->"X","b2"->"X",
      "b3"->"X","c1"->"Y","c2"->"Y","c3"->"Y","c9"->"Y")
      .toDF("key", "label")
    val out = GraphOps.communityConnectedParts(labels, und)
      .as[(String, String, String, Long)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 10)
    // X shatters into its two triangles, labeled by their min keys
    assert(out("a1")._3 == "a1" && out("a2")._3 == "a1" && out("a3")._3 == "a1")
    assert(out("b1")._3 == "b1" && out("b2")._3 == "b1" && out("b3")._3 == "b1")
    assert(out("a1")._4 == 2L, s"X must report 2 parts: ${out("a1")}")
    // Y: the path is one part; c9 (intra-edgeless) is its own singleton
    assert(Seq("c1","c2","c3").forall(k => out(k)._3 == "c1"))
    assert(out("c9")._3 == "c9" && out("c9")._4 == 2L)
    // cross-community edges never glue parts together
    assert(out("c1")._4 == 2L)
  }

  test("louvainMultiLevel: a graph that NEEDS level 3, fixpoint at level 4") {
    // 10-node fixture found by exhaustive search over the exact integer
    // gain algebra (independent Python replication of the contract):
    // the per-level move trace is (2, 4, 4, 0) — level 3 STILL moves
    // 4 supernodes, so the two-level fixpoint differs from three-level,
    // and level 4 proves termination (labels4 == labels3 everywhere).
    val und = Seq(("a0","a1"),("a0","a2"),("a0","b0"),("a0","c0"),
      ("a0","c1"),("a0","d0"),("a1","a2"),("b0","b1"),("b0","d0"),
      ("b0","d1"),("c0","c1"),("c0","d0"),("c0","d1"),("d0","d1"),
      ("d0","d2")).toDF("u", "v")
    val labels0 = Seq("a0"->"C0","a1"->"C0","a2"->"C0","b0"->"C1",
      "b1"->"C1","c0"->"C2","c1"->"C2","d0"->"C3","d1"->"C3","d2"->"C3")
      .toDF("key", "label")
    val out = GraphOps.louvainMultiLevel(labels0, und, maxLevels = 4)
      .as[(String, String, String, String, String, Long, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(out.size == 10)
    val any = out("a0")
    assert((any._6, any._7, any._8, any._9) == ((2L, 4L, 4L, 0L)),
      s"move trace must be (2,4,4,0): got ${(any._6, any._7, any._8, any._9)}")
    // expected final communities (hierarchy resolved at level 3):
    // {a0,a1,a2,c0,d0,d2} -> C0, {b0,b1,c1,d1} -> C1
    val expected3 = Map("a0"->"C0","a1"->"C0","a2"->"C0","b0"->"C1",
      "b1"->"C1","c0"->"C0","c1"->"C1","d0"->"C0","d1"->"C1","d2"->"C0")
    assert(out.forall { case (k, r) => r._4 == expected3(k) },
      s"level-3 labels: ${out.view.mapValues(_._4).toMap}")
    val l3 = out.view.mapValues(_._4).toMap  // label3 column
    val l4 = out.view.mapValues(_._5).toMap  // label4 column
    assert(l3 == l4, "level 4 must repeat the level-3 fixpoint")
    // ...and strictly differs from the two-level labels somewhere
    val l2 = out.view.mapValues(_._3).toMap
    assert(l2 != l3, "the fixture must genuinely need level 3")
    // maxLevels=3 run agrees with the first three columns
    val three = GraphOps.louvainMultiLevel(labels0, und, maxLevels = 3)
      .as[(String, String, String, String, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(three.forall { case (k, r) => r._4 == l3(k) })
  }

  test("bfsReachCurve: monotone frontier growth; hub removal caps reach") {
    val und = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("x", "y")).toDF("u", "v")
    val seeds = Seq("a").toDF("key")
    val curve = GraphOps.bfsReachCurve(und, seeds, 4)
      .as[(Int, Long)].collect().toMap
    assert(curve == Map(1 -> 2L, 2 -> 3L, 3 -> 4L, 4 -> 5L),
      s"path reach must grow one hop per round: $curve")
    val cut = und.filter($"u" =!= "c" && $"v" =!= "c")
    val c2 = GraphOps.bfsReachCurve(cut, seeds, 4)
      .as[(Int, Long)].collect().toMap
    assert(c2 == Map(1 -> 2L, 2 -> 2L, 3 -> 2L, 4 -> 2L),
      s"removing the cut node must cap the curve at {a,b}: $c2")
  }

  test("wlRefine: path-graph classes refine then fix; isomorphy ⇒ equal labels") {
    // P5: a-b-c-d-e. Round 1 splits by degree {a,e} vs {b,c,d}; round 2
    // splits c from {b,d} (its neighbors are both middles); round 3 is
    // the fixpoint — P5's WL partition is {ends} {b,d} {c}
    val p5 = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("u", "v")
    val out = GraphOps.wlRefine(p5, rounds = 3)
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._3, r._4, r._5)).toMap
    def classes(f: ((Long, Long, Long)) => Long) =
      out.values.map(f).toSet.size
    assert(classes(_._1) == 2 && classes(_._2) == 3 && classes(_._3) == 3)
    assert(out("a") == out("e"), "end nodes structurally equivalent")
    assert(out("b") == out("d"), "b and d structurally equivalent")
    assert(out("b")._2 != out("c")._2, "round 2 separates c from b/d")
    // two disjoint triangles: every node identical at every round
    val twoTri = Seq(("t1", "t2"), ("t2", "t3"), ("t1", "t3"),
      ("s1", "s2"), ("s2", "s3"), ("s1", "s3")).toDF("u", "v")
    val tri = GraphOps.wlRefine(twoTri, rounds = 3)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(tri.map(r => (r._3, r._4, r._5)).toSet.size == 1,
      "isomorphic placement ⇒ one WL class")
  }

  test("triadCensus: reciprocity, canonical 3-cycles, transitive triads") {
    // cycle 1→2→3→1; transitive 4→5,5→6,4→6; mutual 7↔8;
    // self-loop 9→9 and a duplicate 1→2 must be dropped on entry
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (4L, 5L), (5L, 6L), (4L, 6L),
      (7L, 8L), (8L, 7L), (9L, 9L), (1L, 2L)).toDF("src", "dst")
    val r = GraphOps.triadCensus(e).collect().head
    assert(r.getLong(0) == 8L, s"n_nodes: $r")       // 9 never survives
    assert(r.getLong(1) == 8L, s"n_edges: $r")       // dedup + self-loop
    assert(r.getLong(2) == 2L, s"n_recip: $r")       // 7→8 and 8→7
    assert(r.getLong(3) == 1L, s"n_cyc3: $r")        // {1,2,3} once
    assert(r.getLong(4) == 1L, s"n_trans3: $r")      // (4,5,6) once
    assert(r.getLong(5) == 250L, s"recip_milli: $r") // 2000/8
    // a pure DAG scores zero on the direction-sensitive rows
    val dag = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val d = GraphOps.triadCensus(dag).collect().head
    assert(d.getLong(2) == 0L && d.getLong(3) == 0L && d.getLong(4) == 1L)
  }

  test("butterflyCensus: planted 4-cycle counts; hub part excluded from wedges") {
    // p1,p2 each link s1,s2 -> one butterfly, two part wedges (both
    // closed); hub part p9 links 300 fresh suppliers — over the degree
    // cap, so it contributes ZERO wedge rows (but still counts in
    // n_left/n_edges and in the suppliers' closed-form wedge count,
    // which is 0 here since each hub supplier has degree 1)
    val base = Seq((1L, 1001L), (1L, 1002L), (2L, 1001L), (2L, 1002L))
    val hub = (1L to 300L).map(i => (9L, 2000L + i))
    val e = (base ++ hub).toDF("src", "dst")
    val r = GraphOps.butterflyCensus(e).collect().head
    assert(r.getLong(0) == 3L && r.getLong(1) == 302L && r.getLong(2) == 304L,
      s"counts: $r")
    assert(r.getLong(3) == 2L, s"hub must contribute zero wedge rows: $r")
    assert(r.getLong(4) == 2L, s"supplier-side wedges (s1, s2 deg 2): $r")
    assert(r.getLong(5) == 1L && r.getLong(6) == 2L && r.getLong(7) == 1000L,
      s"one butterfly, both wedges closed: $r")
    // without the hub, the cap is not binding and nothing changes
    val r2 = GraphOps.butterflyCensus(base.toDF("src", "dst")).collect().head
    assert(r2.getLong(5) == 1L && r2.getLong(3) == 2L)
  }

  test("bitruss: pendant edges peel, the butterfly core survives with support") {
    // K_{2,2} on parts {1,2} × customers {1001,1002}: one butterfly,
    // every core edge in exactly 1; pendant edges (parts 5-8) have
    // support 0. With the threshold at the 0.75-quantile of the initial
    // supports (== 1 on this mix), the pendants peel in round 1 and the
    // core is a fixpoint — survivors are exactly the 4 core edges, each
    // still reporting support 1 after the final recount
    val core = Seq((1L, 1001L), (1L, 1002L), (2L, 1001L), (2L, 1002L))
    val pendants = (5L to 8L).map(p => (p, 3000L + p))
    val e = (core ++ pendants).toDF("src", "dst")
    val out = GraphOps.bitruss(e, rounds = 3, q = 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    graft.CacheScope.releaseAll()
    assert(out.keySet == core.toSet, s"survivors: ${out.keySet}")
    assert(out.values.forall(_ == 1L), s"core supports: $out")
  }
}
