package graft

import org.apache.spark.sql.functions._

/** Differential tests for the KinGraph facade against an in-memory Scala
  * digraph oracle — the same pattern as the reference's NetworkX tests
  * (/root/reference/tests/test_graph.py:24-63), compared as sets. */
class KinGraphSpec extends SparkSpec {
  import spark.implicits._

  /** Tiny in-memory oracle mirroring reference semantics: at most one edge
    * per (src, dst, etype); self-loops allowed. */
  case class Oracle(nodes: Set[String], edges: Set[(String, String, Int)]) {
    def addEdge(s: String, d: String, t: Int = 0): Oracle =
      Oracle(nodes + s + d, edges + ((s, d, t)))
    def removeNode(k: String): Oracle =
      Oracle(nodes - k, edges.filterNot(e => e._1 == k || e._2 == k))
    def neighbors(k: String): Set[String] = edges.collect { case (`k`, d, _) => d }
    def predecessors(k: String): Set[String] = edges.collect { case (s, `k`, _) => s }
  }

  def graphOf(o: Oracle): KinGraph =
    KinGraph(
      o.nodes.toSeq.toDF("key"),
      o.edges.toSeq.toDF("src", "dst", "etype"))

  // deterministic pseudo-random multigraph like tests/test_graph.py:19-31
  val rnd = new scala.util.Random(42)
  val n = 40
  val oracle: Oracle = (0 until n * 8).foldLeft(Oracle(Set.empty, Set.empty)) {
    case (o, _) => o.addEdge(s"node_${rnd.nextInt(n)}", s"node_${rnd.nextInt(n)}")
  }
  lazy val g: KinGraph = graphOf(oracle).preload()

  test("counts match oracle") {
    assert(g.nNodes == oracle.nodes.size)
    assert(g.nEdges == oracle.edges.size)
  }

  test("node and edge membership matches oracle") {
    assert(g.nodeKeys.as[String].collect().toSet == oracle.nodes)
    assert(g.edgePairs.as[(String, String)].collect().toSet ==
      oracle.edges.map(e => (e._1, e._2)))
  }

  test("neighbors and predecessors match oracle for every node") {
    val nbrs = g.edges.groupBy("src").agg(collect_set($"dst").as("ns"))
      .as[(String, Seq[String])].collect().toMap
    val preds = g.edges.groupBy("dst").agg(collect_set($"src").as("ps"))
      .as[(String, Seq[String])].collect().toMap
    oracle.nodes.foreach { k =>
      assert(nbrs.getOrElse(k, Nil).toSet == oracle.neighbors(k), s"nbrs($k)")
      assert(preds.getOrElse(k, Nil).toSet == oracle.predecessors(k), s"preds($k)")
    }
  }

  test("neighborsFrom/predecessorsFrom: one row per existing key (empty " +
    "list for zero degree), NodeNotFound for missing keys") {
    // differential vs the oracle over EVERY node — zero-out-degree sinks
    // must appear with an empty list (reference graph.py:928-940 yields an
    // empty iterator, never skips the key)
    val allKeys = oracle.nodes.toSeq
    val nf = g.neighborsFrom(allKeys)
      .as[(String, Seq[String])].collect().toMap
    val pf = g.predecessorsFrom(allKeys)
      .as[(String, Seq[String])].collect().toMap
    assert(nf.keySet == oracle.nodes, "every queried key appears")
    assert(pf.keySet == oracle.nodes)
    oracle.nodes.foreach { k =>
      assert(nf(k) == oracle.neighbors(k).toSeq.sorted, s"nbrsFrom($k)")
      assert(pf(k) == oracle.predecessors(k).toSeq.sorted, s"predsFrom($k)")
    }
    // a missing key raises eagerly, like neighbors() (graph.py:865)
    assertThrows[NodeNotFound](g.neighborsFrom(Seq(allKeys.head, "missing_key")))
    assertThrows[NodeNotFound](g.predecessorsFrom(Seq("missing_key")))
    // explicit sink/source fixture (the dense random graph has none):
    // b is a pure sink, a/c pure sources — each must appear with []; the
    // parallel etype-1 edge a->b must not repeat b in either list
    val g2 = graphOf(Oracle(Set("a", "b", "c"),
      Set(("a", "b", 0), ("a", "b", 1), ("c", "b", 0))))
    val nf2 = g2.neighborsFrom(Seq("a", "b", "c"))
      .as[(String, Seq[String])].collect().toMap
    assert(nf2 == Map("a" -> Seq("b"), "b" -> Seq.empty, "c" -> Seq("b")))
    val pf2 = g2.predecessorsFrom(Seq("a", "b", "c"))
      .as[(String, Seq[String])].collect().toMap
    assert(pf2 == Map("a" -> Seq.empty, "b" -> Seq("a", "c"), "c" -> Seq.empty))
    // no queried keys: an empty frame, not an error
    assert(g2.neighborsFrom(Seq.empty).collect().isEmpty)
    assert(g2.predecessorsFrom(Seq.empty).collect().isEmpty)
  }

  test("neighborsFromSeq/predecessorsFromSeq: positional reference parity — " +
    "one result per input OCCURRENCE, duplicates included, order-aligned") {
    // the reference's loop yields one iterator per input element
    // (graph.py:928-957); the keyed frame collapses duplicates, so the
    // positional facade must replay them
    val g2 = graphOf(Oracle(Set("a", "b", "c"),
      Set(("a", "b", 0), ("c", "b", 0))))
    val in = Seq("a", "b", "a", "c", "a")
    val nf = g2.neighborsFromSeq(in)
    assert(nf.size == in.size, "one result per input occurrence")
    assert(nf.map(_._1) == in, "order-aligned with the input")
    assert(nf == Seq("a" -> Seq("b"), "b" -> Seq.empty, "a" -> Seq("b"),
      "c" -> Seq("b"), "a" -> Seq("b")))
    val pf = g2.predecessorsFromSeq(Seq("b", "b"))
    assert(pf == Seq("b" -> Seq("a", "c"), "b" -> Seq("a", "c")))
    assertThrows[NodeNotFound](g2.neighborsFromSeq(Seq("a", "missing_key")))
  }

  test("point lookups and existence") {
    val k = oracle.nodes.head
    assert(g.node(k).getAs[String]("key") == k)
    assert(g.hasNode(k))
    assert(!g.hasNode("missing_key"))
    val (s, d, t) = oracle.edges.head
    assert(g.hasEdge(s, d, t))
    assert(g.edge(s, d, t).getAs[String]("src") == s)
    assertThrows[NodeNotFound](g.node("missing_key"))
    assertThrows[EdgeNotFound](g.edge("missing_key", "also_missing"))
    assertThrows[NodeNotFound](g.neighbors("missing_key"))
    assertThrows[KeyTooLong](g.node("a" * 20, maxKeyLen = 15))
  }

  test("point-lookup LRU: repeated node()/edge() launches no Spark job; " +
    "emptyCache restores cold behavior (reference cache_len contract)") {
    // a parquet-backed graph: on the in-memory fixtures Catalyst folds
    // point lookups into a LocalRelation (zero jobs even cold), so the
    // job-count pin needs a real scan behind the facade. Built PRIVATELY
    // (not Tables.tradeGraph): emptyCache() unpersists the graph's
    // frames, and doing that to the session-shared registered "trade"
    // cache would break the registry invariant for every later test
    val tg = graft.KinGraph.fromEdges(
      graft.sources.Tables.tradeEdges(spark, sf))
    val k = "S1"
    val eRow = tg.edges.limit(1).collect().head
    val (s0, d0, t0) = (eRow.getAs[String]("src"), eRow.getAs[String]("dst"),
      eRow.getAs[Int]("etype"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val r1 = tg.node(k)
      val e1 = tg.edge(s0, d0, t0)
      // drain the async listener bus until the count is STABLE — ">= 2"
      // is a floor, not the total (AQE can run several jobs per lookup),
      // and an early snapshot would leak late cold events into the
      // warm-phase equality assert
      val t = System.currentTimeMillis()
      var cold = -1
      var last = jobs.get()
      while (cold < 0 && System.currentTimeMillis() - t < 10000) {
        Thread.sleep(300)
        val now = jobs.get()
        if (now == last && now >= 2) cold = now else last = now
      }
      assert(cold >= 2, "cold lookups must run Spark jobs")
      assert(tg.cachedRows == 2)
      // warm repeats are served from the LRU — zero new jobs
      assert(tg.node(k) == r1)
      assert(tg.edge(s0, d0, t0) == e1)
      tg.nodeData(k) // rides the same cache via node()
      Thread.sleep(300) // allow any unexpected job event to surface
      assert(jobs.get() == cold, "cached lookups must not launch Spark jobs")
      // emptyCache drops the LRU: the next lookup is cold again
      tg.emptyCache()
      assert(tg.cachedRows == 0)
      assert(tg.node(k) == r1)
      val t2 = System.currentTimeMillis()
      while (jobs.get() == cold && System.currentTimeMillis() - t2 < 5000)
        Thread.sleep(20)
      assert(jobs.get() > cold, "post-clear lookup must re-probe storage")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("cold point reads on a parquet-opened graph run one Spark job each, " +
    "neighborsFrom at most 3, and a found hasNode serves node from the LRU") {
    // in-memory fixtures fold into a LocalRelation, so pin the plans on a
    // real parquet scan; each read gets a freshly opened graph (empty LRU)
    val dir = java.nio.file.Files.createTempDirectory("graft_kin_jobs").toString + "/g"
    io.GraphIO.save(g, dir)
    def cold(read: KinGraph => Any): Int = {
      val h = io.GraphIO.open(spark, dir, "r")
      jobsOf { read(h); () }
    }
    // and each key probe reads one bucket: one file, so one task
    def coldTasks(read: KinGraph => Any): Int = {
      val h = io.GraphIO.open(spark, dir, "r")
      tasksOf { read(h); () }
    }
    val k = oracle.nodes.toSeq.sorted.head
    val (s, d, t) = oracle.edges.head
    val absent = oracle.nodes.find(x => !oracle.edges.contains((s, x, t))).get
    assert(cold(_.node(k)) == 1, "node")
    assert(cold(_.hasNode(k)) == 1, "hasNode")
    assert(cold(_.hasNode("missing_key")) == 1, "hasNode(missing)")
    assert(cold(_.hasEdge(s, d, t)) == 1, "hasEdge")
    assert(cold(_.hasEdge(s, absent, t)) == 1, "hasEdge(absent)")
    assert(cold(_.outDegree(k)) == 1, "outDegree")
    assert(cold(_.inDegree(k)) == 1, "inDegree")
    val many = oracle.nodes.toSeq.take(16)
    assert(cold(_.neighborsFrom(many).collect()) == 1, "neighborsFrom")
    assert(coldTasks(_.node(k)) == 1, "node tasks")
    assert(coldTasks(_.hasNode(k)) == 1, "hasNode tasks")
    assert(coldTasks(_.hasNode("missing_key")) == 1, "hasNode(missing) tasks")
    assert(coldTasks(_.hasEdge(s, d, t)) == 1, "hasEdge tasks")
    assert(coldTasks(_.outDegree(k)) == 1, "outDegree tasks")
    assert(coldTasks(_.neighborsFrom(many).collect()) == 1, "neighborsFrom tasks")

    // a second read into the loaded bucket: another key, a missing key,
    // neighbors, outDegree and an absent pair all run no job
    val h = io.GraphIO.open(spark, dir, "r")
    val bucketOf = h.layout.get.bucketOf _
    assert(h.hasNode(s))
    val mate = oracle.nodes.find(x => x != s && bucketOf(x) == bucketOf(s)).get
    val missing = Iterator.from(0).map(i => s"missing_$i")
      .find(x => bucketOf(x) == bucketOf(s)).get
    assert(jobsOf(h.node(s)) == 0, "node after a found hasNode")
    assert(jobsOf(h.node(mate)) == 0, "another key")
    assert(jobsOf(assert(!h.hasNode(missing))) == 0, "missing key")
    assert(jobsOf(assertThrows[NodeNotFound](h.neighbors(missing))) == 0,
      "neighbors(missing)")
    assert(jobsOf(assert(h.neighbors(s).as[String].collect().toSet ==
      oracle.neighbors(s))) == 0, "neighbors")
    assert(jobsOf(assert(h.outDegree(s) == oracle.edges.count(_._1 == s))) == 0,
      "outDegree")
    assert(jobsOf(assert(!h.hasEdge(s, absent, t))) == 0, "hasEdge(absent)")
    // emptyCache drops the bucket: the next read is cold again
    assert(h.cachedRows > 0)
    h.emptyCache()
    assert(h.cachedRows == 0)
    assert(jobsOf(h.node(mate)) == 1, "node after emptyCache")
  }

  /** A small saved graph, opened from `dir`: 12 nodes (v10 a sink, v11
    * without edges) and the 30 edges it returns too. */
  private def smallStore(dir: String): (KinGraph, Seq[(String, String, Int)]) = {
    val es = (0 until 30).map(i => (s"v${i % 10}", s"v${(i * 7 + 3) % 11}", i / 20))
    io.GraphIO.save(KinGraph((0 until 12).map(i => s"v$i").toDF("key"),
      es.toDF("src", "dst", "etype")), dir)
    (io.GraphIO.open(spark, dir, "r"), es)
  }

  test("the bucket LRU holds at most cacheLen rows, evicts whole buckets, " +
    "and never keeps a bucket bigger than cacheLen") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kin_lru").toString + "/g"
    val (h, es) = smallStore(dir)
    val l = h.layout.get
    val keys = (0 until 12).map(i => s"v$i")
    // rows per bucket: its node rows plus the edges out of them
    val size = keys.groupBy(l.bucketOf).map { case (b, ks) =>
      b -> (ks.size + es.count(e => ks.contains(e._1))) }
    val Seq((b1, s1), (b2, s2)) = size.toSeq.sortBy(-_._2).take(2)
    val Seq(k1, k2) = Seq(b1, b2).map(b => keys.find(l.bucketOf(_) == b).get)
    // room for either bucket, not both: loading the second evicts the first
    val lru = h.withCacheLen(s1 + s2 - 1)
    assert(jobsOf(lru.node(k1)) == 1 && lru.cachedRows == s1)
    assert(jobsOf(lru.node(k2)) == 1 && lru.cachedRows == s2)
    assert(jobsOf(lru.hasNode(k2)) == 0)
    assert(jobsOf(lru.hasNode(k1)) == 1 && lru.cachedRows == s1)
    // a bucket one row over the bound is read once (at most cacheLen + 1
    // rows reach the driver), never kept, then served by the keyed probes
    assert(l.read(Seq(b1), s1)(b1).map { case (n, e) => n.length + e.length } ==
      Some(s1))
    assert(l.read(Seq(b1), s1 - 1)(b1).isEmpty)
    val small = h.withCacheLen(s1 - 1)
    assert(jobsOf(small.node(k1)) == 2, "failed load, then the keyed probe")
    assert(small.cachedRows == 1, "the found row, kept as a row entry")
    assert(jobsOf(small.node(k1)) == 0)
    val missing = Iterator.from(0).map(i => s"x$i").find(l.bucketOf(_) == b1).get
    assert(jobsOf(assert(!small.hasNode(missing))) == 1, "keyed probe, no load")
    assert(jobsOf(small.outDegree(k1)) == 1, "keyed degree pass")
  }

  test("derived graphs and a reopened store answer from their own frames") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kin_life").toString + "/g"
    val (h, _) = smallStore(dir)
    val before = h.neighbors("v1").as[String].collect().toSet
    assert(h.hasNode("v2") && h.cachedRows > 0)
    // derived graphs carry no layout and a fresh cache
    val added = h.addEdges(Seq(("v1", "fresh", 0)).toDF("src", "dst", "etype"))
    assert(added.neighbors("v1").as[String].collect().toSet == before + "fresh")
    assert(added.hasNode("fresh") && !h.hasNode("fresh"))
    val removed = h.removeNode("v2")
    assert(!removed.hasNode("v2") && h.hasNode("v2"))
    assert(!removed.neighbors("v1").as[String].collect().contains("v2"))
    // an upsert is read by a fresh open: the new edge and its new endpoint
    io.GraphStore.upsertEdges(spark, dir,
      Seq(("v1", "fresh", 0)).toDF("src", "dst", "etype"), 8)
    val reopened = io.GraphStore.open(spark, dir)
    assert(reopened.hasEdge("v1", "fresh") && reopened.hasNode("fresh"))
    assert(reopened.neighbors("v1").as[String].collect().toSet == before + "fresh")
    assert(reopened.outDegree("fresh") == 0L)
  }

  test("a cached bucket and the keyed fallback give the same rows, order " +
    "and schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_kin_same").toString + "/g"
    // "\uFF21" sorts before the supplementary-plane "\uD83D\uDE00" in UTF-8
    // byte order and after it in UTF-16 order; "sink" has no out-edge; a
    // to b is a pair of parallel edges of two etypes
    val (fw, smile) = ("\uFF21", "\uD83D\uDE00")
    val nodes = Seq(("a", "alpha", 1), ("b", "beta", 2), (fw, "wide", 3),
      (smile, "smile", 4), ("sink", "", 5)).toDF("key", "name", "rank")
    val edges = Seq(("a", "b", 0, 0.5), ("a", "b", 1, 1.5), ("a", smile, 0, 2.0),
      ("a", fw, 0, 3.0), ("a", "sink", 0, 4.0), (smile, fw, 0, 5.0),
      (smile, "a", 2, 6.0), (fw, "sink", 0, 7.0), ("b", smile, 0, 8.0))
      .toDF("src", "dst", "etype", "w")
    io.GraphIO.save(KinGraph(nodes, edges), dir)
    val cached = io.GraphIO.open(spark, dir, "r")
    val keyed = cached.withCacheLen(0)
    val keys = Seq("a", "b", fw, smile, "sink")
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      (df.schema, df.collect().toSeq.sortBy(_.getString(0)))
    for (x <- Seq(cached, keyed)) {
      assert(x.neighborsFrom(Seq("a", "a", smile, "sink")).collect()
        .map(r => r.getString(0) -> r.getSeq[String](1)).toMap ==
        Map("a" -> Seq("b", "sink", fw, smile), smile -> Seq("a", fw), "sink" -> Nil))
    }
    for (k <- keys) {
      assert(cached.node(k) == keyed.node(k), k)
      assert(cached.node(k).schema == keyed.node(k).schema, k)
      assert(cached.nodeData(k) == keyed.nodeData(k), k)
      assert(rowsOf(cached.neighbors(k)) == rowsOf(keyed.neighbors(k)), k)
      assert(cached.outDegree(k) == keyed.outDegree(k), k)
    }
    for (e <- Seq(("a", "b", 0), ("a", "b", 1), (smile, "a", 2), (fw, "sink", 0))) {
      assert(cached.edge(e._1, e._2, e._3) == keyed.edge(e._1, e._2, e._3), e)
      assert(cached.edge(e._1, e._2, e._3).schema ==
        keyed.edge(e._1, e._2, e._3).schema, e)
    }
    assert(!cached.hasEdge("a", "b", 2) && !keyed.hasEdge("a", "b", 2))
    assert(!cached.hasEdge("sink", "a") && !keyed.hasEdge("sink", "a"))
    val from = Seq("a", "a", smile, "sink", fw)
    assert(rowsOf(cached.neighborsFrom(from)) == rowsOf(keyed.neighborsFrom(from)))
    assert(cached.neighborsFromSeq(from) == keyed.neighborsFromSeq(from))
    for (x <- Seq(cached, keyed)) {
      assertThrows[NodeNotFound](x.node("zz"))
      assertThrows[NodeNotFound](x.neighbors("zz"))
      assertThrows[NodeNotFound](x.outDegree("zz"))
      assertThrows[NodeNotFound](x.neighborsFrom(Seq("a", "zz")))
    }
    assert(keyed.cachedRows == 0)
  }

  test("outDegree/inDegree match the oracle for every key; 0L for an " +
    "existing key with no edges on that side; NodeNotFound for a missing key") {
    oracle.nodes.foreach { k =>
      assert(g.outDegree(k) == oracle.edges.count(_._1 == k), s"outDegree($k)")
      assert(g.inDegree(k) == oracle.edges.count(_._2 == k), s"inDegree($k)")
    }
    // a is a pure source, b a pure sink; the parallel edge counts twice
    val g2 = graphOf(Oracle(Set("a", "b"), Set(("a", "b", 0), ("a", "b", 1))))
    assert(g2.outDegree("a") == 2L && g2.inDegree("a") == 0L)
    assert(g2.outDegree("b") == 0L && g2.inDegree("b") == 2L)
    assertThrows[NodeNotFound](g2.outDegree("missing_key"))
    assertThrows[NodeNotFound](g2.inDegree("missing_key"))
  }

  test("requireKeyLen enforces the KeyTooLong contract on batches") {
    val batch = Seq("ok_key", "x" * 20).toDF("key")
    assertThrows[KeyTooLong](g.requireKeyLen(batch, Seq("key"), 15))
    g.requireKeyLen(Seq("fine").toDF("key"), Seq("key"), 15) // no throw
    val bad = g.invalidKeys(batch, Seq("key"), 15).as[String].collect()
    assert(bad.toSeq == Seq("x" * 20))
  }

  test("GraphIO.open graphs enforce the reference max_key_len=15 by default " +
    "(graph.py:23-24, 1366); direct construction stays permissive") {
    val opened = io.GraphIO.open(spark, "/tmp/graft_keylen_spec", "n")
    assertThrows[KeyTooLong](opened.addNodes(Seq("a" * 16).toDF("key")))
    assertThrows[KeyTooLong](opened.addEdges(
      Seq(("b" * 16, "x", 0)).toDF("src", "dst", "etype")))
    val ok = opened.addNodes(Seq("a" * 15).toDF("key"))
    assert(ok.nNodes == 1)
    // derived graphs carry the contract, and point lookups honor it
    assert(ok.maxKeyLen == KinConfig.DefaultMaxKeyLen)
    assertThrows[KeyTooLong](ok.node("a" * 16))
    // direct construction stays permissive: analytics keys are unbounded
    val direct = KinGraph(Seq("z" * 40).toDF("key"),
      Seq.empty[(String, String, Int)].toDF("src", "dst", "etype"))
    assert(direct.addNodes(Seq("y" * 40).toDF("key")).nNodes == 2)
    // explicit opt-out restores the permissive behavior on open
    val loose = io.GraphIO.open(spark, "/tmp/graft_keylen_spec2", "n",
      maxKeyLen = Int.MaxValue)
    assert(loose.addNodes(Seq("w" * 16).toDF("key")).nNodes == 1)
  }

  test("requireAttrLen enforces max_str_len on string ATTRS (ref graph.py:227-228)") {
    val batch = Seq(("k1", "short"), ("k2", "y" * 20)).toDF("key", "name")
    assertThrows[StringTooLong](g.requireAttrLen(batch, Seq("key"), 15))
    // key length is exempt here (that's requireKeyLen's contract)
    g.requireAttrLen(Seq(("k" * 20, "ok")).toDF("key", "name"), Seq("key"), 15)
    // non-string attrs never trip the guard
    g.requireAttrLen(Seq(("k1", 123456789)).toDF("key", "n"), Seq("key"), 5)
  }

  test("upsert honors explicit __seq batch order on shuffled input") {
    val base = KinGraph(Seq(("n1", "orig")).toDF("key", "name"),
      Seq.empty[(String, String, Int)].toDF("src", "dst", "etype"))
    // __seq pins last-write-wins even though the winner appears first in
    // the local Seq and the batch is repartitioned (shuffled) before upsert
    val batch = Seq(("n1", "winner", 9L), ("n1", "loser", 1L))
      .toDF("key", "name", KinGraph.BatchOrderCol)
      .repartition(4)
    val out = base.addNodes(batch)
    assert(out.node("n1").getAs[String]("name") == "winner")
    assert(out.nodes.columns.toSeq == Seq("key", "name")) // __seq dropped
  }

  test("addEdges auto-creates endpoints and dedups on identity") {
    val add = Seq(("zz_new1", "zz_new2", 0), ("zz_new1", "zz_new2", 0),
      ("zz_new1", "zz_new2", 1)).toDF("src", "dst", "etype")
    val g2 = g.addEdges(add)
    assert(g2.nNodes == oracle.nodes.size + 2)
    // one edge for etype 0 (deduped), one for etype 1 (multi-edge by type)
    assert(g2.nEdges == oracle.edges.size + 2)
    assert(g2.hasEdge("zz_new1", "zz_new2", 0))
    assert(g2.hasEdge("zz_new1", "zz_new2", 1))
  }

  test("upsert replaces attributes wholly (reference attr-replace semantic)") {
    val nodes = Seq(("a", "old_name", 1.0), ("b", "keep", 2.0))
      .toDF("key", "name", "score")
    val edges = Seq(("a", "b", 0, 5.0)).toDF("src", "dst", "etype", "weight")
    val g0 = KinGraph(nodes, edges)
    // upsert node a with NO score -> score must become null (whole replace)
    val up = Seq(("a", "new_name")).toDF("key", "name")
    val g1 = g0.addNodes(up)
    val row = g1.node("a")
    assert(row.getAs[String]("name") == "new_name")
    assert(row.isNullAt(row.fieldIndex("score")))
    // untouched node keeps attrs
    assert(g1.node("b").getAs[Double]("score") == 2.0)
    // edge upsert replaces weight
    val g2 = g1.addEdges(Seq(("a", "b", 0, 9.5)).toDF("src", "dst", "etype", "weight"))
    assert(g2.edge("a", "b").getAs[Double]("weight") == 9.5)
    assert(g2.nEdges == 1)
  }

  test("removeNode cascades incident edges like the reference") {
    val k = oracle.edges.head._1
    val o2 = oracle.removeNode(k)
    val g2 = g.removeNode(k)
    assert(g2.nNodes == o2.nodes.size)
    assert(g2.nEdges == o2.edges.size)
    assert(g2.edgePairs.as[(String, String)].collect().toSet ==
      o2.edges.map(e => (e._1, e._2)))
    assertThrows[NodeNotFound](g.removeNode("missing_key"))
  }

  test("removeEdge deletes exactly one identity") {
    val (s, d, t) = oracle.edges.head
    val g2 = g.removeEdge(s, d, t)
    assert(g2.nEdges == oracle.edges.size - 1)
    assert(!g2.hasEdge(s, d, t))
    assertThrows[EdgeNotFound](g.removeEdge("nope", "nada"))
  }

  test("setNeighbors replaces out-adjacency declaratively") {
    val k = oracle.nodes.head
    val g2 = g.setNeighbors(k, Seq("node_0", "node_1"))
    val ns = g2.edges.filter($"src" === k).select("dst").as[String].collect().toSet
    assert(ns == Set("node_0", "node_1"))
    // other adjacency untouched
    val other = oracle.nodes.find(_ != k).get
    assert(g2.edges.filter($"src" === other).count() ==
      oracle.neighbors(other).size)
  }

  test("setPredecessors replaces in-adjacency; creates node if absent") {
    val g2 = g.setPredecessors("zz_fresh", Seq("node_0"))
    assert(g2.hasNode("zz_fresh"))
    assert(g2.predecessors("zz_fresh").as[String].collect().toSet == Set("node_0"))
  }

  test("batch pagination covers all rows exactly once") {
    var cursor = ""
    val all = Seq.newBuilder[String]
    var n = 0
    var done = false
    while (!done && n < 100) {
      val page = g.batchGetNodes(10, cursor).select("key").as[String].collect().toSeq
      if (page.isEmpty) done = true
      else { all ++= page; cursor = page.max; n += 1 }
    }
    val res = all.result()
    assert(res.size == oracle.nodes.size)
    assert(res.toSet == oracle.nodes)
  }

  test("adjacencyCoo is a valid COO of the graph") {
    val coo = g.adjacencyCoo.collect()
    assert(coo.length == oracle.edges.map(e => (e._1, e._2)).size)
    val ids = g.denseIds.as[(String, Long)].collect().toMap
    val fromCoo = coo.map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = oracle.edges.map(e => (ids(e._1), ids(e._2)))
    assert(fromCoo == expected)
  }

  test("subgraph keeps only edges with both endpoints in the key set") {
    val keys = oracle.nodes.take(10)
    val sg = g.subgraph(keys.toSeq.toDF("key"))
    assert(sg.nodeKeys.as[String].collect().toSet == keys)
    val expected = oracle.edges.filter(e => keys(e._1) && keys(e._2))
    assert(sg.edgePairs.as[(String, String)].collect().toSet ==
      expected.map(e => (e._1, e._2)))
  }

  test("common neighbors/predecessors match set intersection") {
    val ks = oracle.nodes.toSeq.sorted
    val (u, v) = (ks.head, ks(1))
    assert(g.commonNeighbors(u, v).as[String].collect().toSet ==
      (oracle.neighbors(u) intersect oracle.neighbors(v)))
    assert(g.commonPredecessors(u, v).as[String].collect().toSet ==
      (oracle.predecessors(u) intersect oracle.predecessors(v)))
  }

  test("degrees match oracle") {
    val outs = g.outDegrees.as[(String, Long)].collect().toMap
    oracle.nodes.foreach { k =>
      assert(outs.getOrElse(k, 0L) == oracle.neighbors(k).size, s"deg($k)")
    }
    val k = oracle.edges.head._1
    assert(g.outDegree(k) == oracle.neighbors(k).size)
  }
}
