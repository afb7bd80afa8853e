package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.SparkPlan
import graft.io.GraphIO
import graft.sources.Tables
import java.nio.file.Files

/** Plan-quality assertions: the properties that keep these operators fast
  * at 100 TB must be visible in the physical plan, not assumed — predicate
  * pushdown to parquet, column pruning, broadcast joins for dims,
  * partial aggregation, whole-stage codegen. */
class PlanSpec extends SparkSpec {
  import spark.implicits._

  def planString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Execute first so AQE finalizes the plan (codegen spans only appear in
    * the final adaptive plan). */
  def finalPlanString(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // executes THIS QueryExecution so AQE finalizes it
    df.queryExecution.executedPlan.toString
  }

  lazy val parquetGraph: KinGraph = {
    val dir = Files.createTempDirectory("graft_plan").toString
    GraphIO.save(Tables.tradeGraph(spark, sf), dir)
    GraphIO.open(spark, dir, "r")
  }

  test("point lookup pushes the key predicate into the parquet scan") {
    val plan = planString(parquetGraph.nodeLookup("S1"))
    assert(plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("EqualTo(key,S1)") || plan.contains("EqualTo(key, S1)"),
      s"key predicate not pushed:\n${plan.take(800)}")
  }

  test("edge scans prune to the selected columns only") {
    val plan = planString(parquetGraph.edgePairs)
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("src") && readSchema.contains("dst"))
    assert(!readSchema.contains("etype"), s"etype not pruned: $readSchema")
  }

  test("Lloyd step broadcasts stats + seed codes; distance agg is partial; no product") {
    import graft.operators.Similarity
    val c = Tables.embeddings(spark, sf).select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("vec"))
    val plan = finalPlanString(
      Similarity.int8LloydStep(c, Similarity.int8LloydSeeds(c, 4)))
    CacheScope.releaseAll()
    assert(!plan.contains("CartesianProduct"),
      "Lloyd step must never form a corpus product")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastHashJoin"),
      "per-dim stats and the k×dims seed codes must broadcast")
    assert(plan.contains("partial_count") || plan.contains("partial_sum") ||
      plan.contains("HashAggregate"),
      "distance/update aggregations must map-side combine")
  }

  test("degree aggregation is partial+final (map-side combine)") {
    val plan = planString(parquetGraph.outDegrees)
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"no partial aggregation:\n${plan.take(800)}")
  }

  test("dimension joins broadcast; fact join stays shuffled") {
    val q3 = SparkEntry.queries("q3_top")(spark, sf)
    val plan = finalPlanString(q3)
    assert(plan.contains("BroadcastHashJoin"), "customer dim should broadcast")
    val q1 = SparkEntry.queries("q1_agg")(spark, sf)
    assert(finalPlanString(q1).contains("*("), "q1 must run in codegen stages")
  }

  test("lineitem projection reads only projected columns") {
    val df = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
    val readSchema = planString(df).linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity"))
    assert(!readSchema.contains("l_extendedprice"), s"not pruned: $readSchema")
  }

  test("top-k-per-key uses WindowGroupLimit pushdown (no full sort/filter)") {
    val plan = finalPlanString(SparkEntry.queries("q_window_topk")(spark, sf))
    assert(plan.contains("WindowGroupLimit"),
      s"rank-limit pushdown missing:\n${plan.take(900)}")
  }

  test("bucketed tables prune to one bucket on key lookups") {
    // a saved graph's tables are partitioned by the bucket of the node key
    // and of the edge src; a key probe's scan selects that one directory
    val helper =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def partitionsRead(df: org.apache.spark.sql.DataFrame): Seq[Long] = {
      df.collect()
      helper.collect(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numPartitions").value
      }
    }
    val g = parquetGraph
    val e = g.edges.select("src", "dst", "etype").as[(String, String, Int)].head()
    assert(partitionsRead(g.nodes) == Seq(8L), "a full scan reads every bucket")
    assert(partitionsRead(g.nodeLookup(e._1)) == Seq(1L), "nodeLookup")
    assert(partitionsRead(g.nodeLookup("missing_key")) == Seq(1L), "missing key")
    assert(partitionsRead(g.edgeLookup(e._1, e._2, e._3)) == Seq(1L), "edgeLookup")
    // neighbors is answered from the cached bucket; with a bound below the
    // bucket's size it takes the keyed plan
    assert(partitionsRead(g.neighbors(e._1)) == Nil, "cached neighbors")
    assert(partitionsRead(g.withCacheLen(0).neighbors(e._1)) == Seq(1L), "neighbors")
    // a derived graph's frames are no longer the stored scans
    assert(partitionsRead(g.removeEdge(e._1, e._2, e._3).nodeLookup(e._1)) ==
      Seq(8L), "derived graph")
  }

  test("sketch probes broadcast the sketch side (never shuffle the stream)") {
    import graft.operators.Sketches
    val items = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("token"))
    val sketch = Sketches.cmsBuild(items, "token")
    val est = Sketches.cmsEstimate(sketch, items, "token")
    est.collect()
    assert(finalPlanString(est).contains("BroadcastHashJoin"),
      "CMS estimate must broadcast the (<= depth x width)-row sketch")
    val bits = Sketches.bloomBits(items, "token")
    val may = Sketches.bloomMayContain(bits, items, "token")
    may.collect()
    assert(finalPlanString(may).contains("BroadcastHashJoin"),
      "bloom probe must broadcast the (<= m)-row bit set")
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val d = Tables.documents(spark, sf)
    val rep = graft.operators.Dedup.contaminationReport(
      d.filter(col("source") =!= "src19"), d.filter(col("source") === "src19"),
      "doc_id", "text")
    rep.collect()
    assert(finalPlanString(rep).contains("BroadcastHashJoin"),
      "benchmark shingles must broadcast — the corpus side never shuffles to meet them")
  }

  test("adjacencyCoo materializes the dense-id sort once (checkpoint scans)") {
    val plan = planString(parquetGraph.adjacencyCoo)
    // both id joins must read the checkpointed RDD, not replay the
    // orderBy+zipWithIndex lineage: ExistingRDD scans appear, and the
    // global range-partitioned sort that builds dense ids does NOT
    // (any Sort left is a join's local sort, which is fine)
    assert(plan.contains("Scan ExistingRDD"), plan.take(800))
    assert(!plan.contains("rangepartitioning"),
      s"dense-id global sort re-entered the plan:\n${plan.take(800)}")
  }

  test("operator-local caches are dropped by CacheScope.releaseAll") {
    val df = CacheScope.cached(parquetGraph.edges.select("src"))
    df.count()
    assert(df.storageLevel.useMemory, "cache not in effect")
    CacheScope.releaseAll()
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "releaseAll left the operator cache persisted")
  }

  test("every session cache build registers under its name and drops cold") {
    import org.apache.spark.graphx.Graph
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.storage.StorageLevel
    val builds = SparkEntry.cacheBuilds
    // a lookup that must hit: the build argument fails if it ever runs
    def entry(name: String, s: org.apache.spark.sql.SparkSession = spark): AnyRef =
      CacheScope.sessionOf[AnyRef](name, s, sf)(fail(s"$name is not registered"))((_, _) => ())
    def levels(v: AnyRef): Seq[StorageLevel] = v match {
      case df: org.apache.spark.sql.Dataset[_] => Seq(df.storageLevel)
      case g: Graph[_, _] => Seq(g.vertices.getStorageLevel, g.edges.getStorageLevel)
      case other => fail(s"unexpected session entry $other")
    }
    def build(name: String, s: org.apache.spark.sql.SparkSession = spark): Unit =
      try builds.toMap.apply(name)(s, sf).count() finally CacheScope.releaseAll()
    builds.foreach { case (name, _) => SparkEntry.dropCacheEntry(name, spark, sf) }
    builds.foreach { case (name, _) =>
      build(name)
      val first = entry(name)
      build(name)
      assert(entry(name) eq first, s"$name: a second build replaced the entry")
      assert(levels(first).forall(_ != StorageLevel.NONE), s"$name: not persisted")
    }
    val undRows = entry("gx_und").asInstanceOf[DataFrame].count()
    builds.foreach { case (name, _) =>
      val held = entry(name)
      assert(SparkEntry.dropCacheEntry(name, spark, sf), s"$name: drop missed the entry")
      assert(levels(held).forall(_ == StorageLevel.NONE), s"$name: still persisted")
      assert(!SparkEntry.dropCacheEntry(name, spark, sf), s"$name: dropped twice")
    }
    // trade and gx_union are gone: gx_und rebuilds its nested inputs cold
    build("gx_und")
    assert(entry("gx_und").asInstanceOf[DataFrame].count() == undRows)
    Seq("trade", "gx_union").foreach(entry(_)) // re-registered by the nesting
    // another session of the same context never sees this session's
    // entry: it builds and holds its own
    val other = spark.newSession()
    assert(!SparkEntry.dropCacheEntry("trade", other, sf))
    build("trade", other)
    assert(entry("trade", other) ne entry("trade"))
    assert(entry("trade", other).asInstanceOf[DataFrame].sparkSession eq other)
    Seq("trade", "gx_union", "gx_und").foreach { name =>
      SparkEntry.dropCacheEntry(name, other, sf)
      SparkEntry.dropCacheEntry(name, spark, sf)
    }
  }

  test("token chunking is map-only (no exchange) and codegen'd") {
    val chunks = graft.operators.Chunking.tokenChunks(
      Tables.documents(spark, sf), "doc_id", "text", 32, 24)
    val plan = finalPlanString(chunks)
    assert(!plan.contains("Exchange"),
      s"chunking must not shuffle — it is row-local:\n${plan.take(800)}")
    assert(plan.contains("graft_bigrams") || plan.contains("Generate"),
      plan.take(400))
    // the native bigram expression stays inside a codegen span wherever used
    val bg = Tables.documents(spark, sf)
      .select(explode(graft.functions.TextFunctions.bigrams($"text")).as("bg"))
    val bgPlan = finalPlanString(bg)
    assert(bgPlan.contains("graft_bigrams"), bgPlan.take(600))
  }

  test("mixture balancing broadcasts the group-count table (no data shuffle)") {
    val out = graft.operators.Sampling.balanceGroups(
      Tables.documents(spark, sf).select($"doc_id", $"lang"),
      $"doc_id", $"lang")
    val plan = finalPlanString(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"group counts must broadcast:\n${plan.take(800)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")
      || plan.contains("BroadcastExchange"),
      s"the 1-row min join must be broadcast too:\n${plan.take(800)}")
  }

  test("mixture upsampling broadcasts counts and replicates map-side") {
    val out = graft.operators.Sampling.upsampleGroups(
      Tables.documents(spark, sf).select($"doc_id", $"lang"),
      $"doc_id", $"lang")
    val plan = finalPlanString(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"group counts must broadcast:\n${plan.take(800)}")
    assert(plan.contains("Generate"),
      s"replication must be a map-side explode:\n${plan.take(800)}")
    // the only exchanges allowed are the broadcasts and the column-pruned
    // count pass on lang — the data rows themselves never hash-repartition
    assert(!plan.contains("Exchange hashpartitioning(doc_id"),
      s"data rows must not shuffle:\n${plan.take(1200)}")
  }

  test("bigram surprisal reuses the tf/cntBi shuffles instead of recomputing") {
    val out = graft.functions.TextFunctions.bigramSurprisalStats(
      Tables.documents(spark, sf), "doc_id", "text")
    val plan = finalPlanString(out)
    assert(plan.contains("ReusedExchange") || plan.contains("TableCacheQueryStage")
      || plan.contains("ReusedQueryStage"),
      s"repeated tf/cntBi subplans must share their exchanges:\n${plan.take(1200)}")
  }

  test("loops broadcast their state (shuffle with broadcasts off); edges read from cache") {
    import graft.ops.GraphOps
    val g = parquetGraph
    val we = g.edges.select($"src", $"dst").withColumn("w",
      pmod(graft.functions.TextFunctions.hash60(
        concat($"src", lit("|"), $"dst")), lit(100L)) + 1L)
    val nodes = g.nodes.select($"key")
    val loops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "personalizedPageRank" -> (() => GraphOps.personalizedPageRank(g, "S1", 3)),
      "fixedPointPageRank" -> (() => GraphOps.fixedPointPageRank(g, 3)),
      "fixedPointKatz" -> (() => GraphOps.fixedPointKatz(g, 3)),
      "weightedFixedPointPageRank" -> (() =>
        GraphOps.weightedFixedPointPageRank(we, nodes, 3)),
      "labelPropagationSync" -> (() => GraphOps.labelPropagationSync(g, 3)),
      "weightedSsspBounded" -> (() => GraphOps.weightedSsspBounded(we, nodes, "S1", 3)))
    loops.foreach { case (name, run) =>
      val plan = finalPlanString(run())
      assert(plan.contains("BroadcastHashJoin"),
        s"$name: the node-sized state must broadcast into the edge join:\n${plan.take(800)}")
      assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
        s"$name: edges must come from the per-direction cache:\n${plan.take(800)}")
      // caches planned with broadcasts on must not feed the off run, where
      // the switch is the shuffle regime: no explicit broadcast left
      CacheScope.releaseAll()
      val off = withBroadcastJoinsOff(finalPlanString(run()))
      assert(!off.contains("BroadcastExchange"),
        s"$name: with broadcast joins off the loop must shuffle:\n${off.take(800)}")
      CacheScope.releaseAll()
    }
  }

  test("adamic-adar cuts top-k with TakeOrdered, never a global sort") {
    val out = graft.ops.GraphOps.adamicAdar(parquetGraph, 50, 0.95)
    val plan = finalPlanString(out)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must be TakeOrdered:\n${plan.take(800)}")
    assert(!plan.contains("rangepartitioning"),
      s"no global sort exchange for a LIMIT query:\n${plan.take(800)}")
    CacheScope.releaseAll()
  }

  test("substring contamination broadcasts the benchmark window hashes") {
    val d = Tables.documents(spark, sf)
    val out = graft.operators.Dedup.substringContamination(
      d.filter($"source" =!= "src19"), d.filter($"source" === "src19"),
      "doc_id", "text")
    val plan = finalPlanString(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"benchmark hash set must broadcast:\n${plan.take(800)}")
    assert(plan.contains("Generate"),
      s"window explode must be a map-side Generate:\n${plan.take(800)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"equi-join on hashes only, never a product:\n${plan.take(800)}")
  }

  test("default beam-graph build is banded: no corpus×corpus product") {
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val plan = finalPlanString(graft.operators.Similarity.lshKnnEdges(corpus))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the default NSW graph build must band, never product:\n${plan.take(800)}")
    assert(plan.contains("SortMergeJoin"),
      s"the self-band-join must be sort-merge (neither side broadcast):\n${plan.take(800)}")
  }

  test("skyline runs the grouped sweep: no quadratic dominance join") {
    val plan = finalPlanString(
      graft.queries.AnalyticsQueries.queries("q_skyline")(spark, sf))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"skyline must sweep the grouped price frame, never the n² " +
        s"dominance product the oracle uses:\n${plan.take(800)}")
  }

  test("landmark closeness reuses the cached undirected edges per round") {
    val out = graft.ops.GraphOps.landmarkCloseness(parquetGraph,
      nLandmarks = 2, rounds = 3)
    val plan = finalPlanString(out)
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"undirected edges must come from the cache:\n${plan.take(800)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"the frontier must broadcast into the edge join:\n${plan.take(800)}")
    CacheScope.releaseAll()
  }

  test("betweenness expansion broadcasts the frontier only under the node limit") {
    val edges = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val frontier = Seq((0, "a", 0L, 1L)).toDF("i", "node", "d", "sigma")
    // isolate the explicit hint from the size-based auto broadcast (the
    // test frames are tiny; at scale the frontier's stats are unknown)
    withBroadcastJoinsOff {
      val big = planString(
        graft.ops.GraphOps.expandFrontier(edges, frontier, "i", small = false, 1))
      assert(!big.contains("BroadcastExchange"),
        s"over the node limit the frontier join must shuffle:\n${big.take(900)}")
      val sm = planString(
        graft.ops.GraphOps.expandFrontier(edges, frontier, "i", small = true, 1))
      assert(sm.contains("BroadcastExchange"),
        s"under the node limit the frontier must broadcast:\n${sm.take(900)}")
    }
  }

  test("span dedup stays equi-join only (no product, no position self-join)") {
    // the coverage pass must be a bounded window frame per doc, never a
    // positions×positions self-join, and the span-df back-join an
    // equi-join on the 60-bit key
    val d = Tables.documents(spark, sf)
    val out = operators.Dedup.spanDedup(d, "doc_id", "text")
    val plan = finalPlanString(out)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"span dedup must be equi-joins only:\n${plan.take(900)}")
  }

  test("phash near-dup dedup joins on band pieces only (no corpus product)") {
    // the candidate join must bucket on (piece, value) — a corpus×corpus
    // Hamming join is the all-pairs scale-killer the banding exists to
    // avoid
    for (q <- Seq("m_phash_dedup", "m_phash_incr")) {
      val plan = finalPlanString(
        graft.queries.PipelineQueries.queries(q)(spark, sf))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$q must join on band pieces only:\n${plan.take(900)}")
      graft.CacheScope.releaseAll()
    }
  }

  test("butterfly census and bitruss stay keyed: no product, partial aggs") {
    // the wedge enumeration must be the src-keyed equi self-join over
    // the capped edge set — never a node-domain product; the pair and
    // support counts must map-side combine
    for (q <- Seq("gx_butterfly", "gx_bitruss")) {
      val plan = finalPlanString(
        graft.queries.GxQueries.queries(q)(spark, sf))
      assert(!plan.contains("CartesianProduct"),
        s"$q must never build a node-domain product:\n${plan.take(900)}")
      assert(plan.contains("partial_count") || plan.contains("partial count") ||
        plan.contains("partial_sum") || plan.contains("partial sum"),
        s"$q aggregations must be partial+final:\n${plan.take(900)}")
      graft.CacheScope.releaseAll()
    }
  }

  test("boilerplate strip broadcasts the drop set; never a product") {
    // the drop set is boilerplate-line-sized by definition — the anti
    // join must broadcast it; the df aggregation must map-side combine
    val d = Tables.documents(spark, sf)
    val out = operators.Dedup.boilerplateStrip(d, "doc_id", "source", "text")
    val plan = finalPlanString(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"drop-set anti join must broadcast:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"no product anywhere in the strip:\n${plan.take(900)}")
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"df aggregation must be partial+final:\n${plan.take(900)}")
  }

  test("gopher panel: per-gram counts partial-aggregate, no join products") {
    val d = Tables.documents(spark, sf)
    val out = graft.functions.TextFunctions
      .gopherRepetitionStats(d, "doc_id", "text")
    val plan = finalPlanString(out)
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"(doc, gram) counts must map-side combine:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"panel reassembly must be doc_id equi-joins:\n${plan.take(900)}")
    // the argmax is a struct-min AGGREGATE, not a ranking window
    assert(!plan.contains("Window"),
      s"no ranking window in the top-2gram argmax:\n${plan.take(900)}")
  }

  test("edge-support histogram joins stay keyed (no product)") {
    val und = Seq(("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"))
      .toDF("u", "v")
    val plan = finalPlanString(ops.GraphOps.edgeSupportHist(und))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"wedge/support joins must be equi-joins:\n${plan.take(900)}")
  }

  test("cross-corpus LSH join never broadcasts either side") {
    // both halves are corpus-sized at scale: the band join (and the vector
    // re-attach joins) must stay shuffled even though the TEST corpus is
    // tiny enough that size-based planning would broadcast it — the merge
    // hints are the operator's scale contract, and they must survive AQE
    // replanning (finalPlanString executes the plan)
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val out = operators.Similarity.crossLshJoin(
      corpus.filter($"id" % 2 === 0), corpus.filter($"id" % 2 === 1), 3)
    val plan = finalPlanString(out)
    assert(!plan.contains("BroadcastExchange"),
      s"no side of the cross-corpus join may broadcast:\n${plan.take(900)}")
    assert(plan.contains("SortMergeJoin"),
      s"the band join must be sort-merge:\n${plan.take(900)}")
  }

  test("cross-corpus MinHash join never broadcasts either side") {
    val d = Tables.documents(spark, sf)
    val out = operators.Dedup.crossMinhashJoin(
      d.filter($"doc_id" % 2 === 0), d.filter($"doc_id" % 2 === 1),
      "doc_id", "text")
    val plan = finalPlanString(out)
    assert(!plan.contains("BroadcastExchange"),
      s"no side of the cross-corpus band join may broadcast:\n${plan.take(900)}")
    assert(plan.contains("SortMergeJoin"),
      s"the band join must be sort-merge:\n${plan.take(900)}")
  }

  test("PQ ADC search broadcasts codebooks and query tables, never a product") {
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val out = operators.Similarity.pqTopK(corpus, corpus.filter($"id" < 5), 10)
    val plan = finalPlanString(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"codebooks and query tables must broadcast into the codes scan:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct"),
      s"ADC is equi-joins only:\n${plan.take(900)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"ADC is equi-joins only:\n${plan.take(900)}")
  }

  test("embedding decontamination broadcasts the bench side, scans corpus once") {
    val all = Tables.embeddings(spark, sf)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val out = operators.Similarity.embContamination(
      all.filter($"id" >= 10), all.filter($"id" < 10), 0.45)
    val plan = finalPlanString(out)
    // the corpus-vs-bench compare is a broadcast product (bench tiny by
    // construction); the corpus side must NOT sit under any Exchange
    // before the compare — only the final per-id max aggregation shuffles
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"bench side must broadcast:\n${plan.take(900)}")
    val beforeAgg = plan.substring(plan.indexOf("Join"))
    assert(!beforeAgg.contains("CartesianProduct"),
      s"non-broadcast product would shuffle the corpus:\n${plan.take(900)}")
  }

  test("DSIR scoring broadcasts the bucket-weight table into the tf frame") {
    val out = operators.Sampling.dsirWeights(
      Tables.documents(spark, sf), "doc_id", "text", $"lang" === "en")
    val plan = finalPlanString(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"the 128-row weight table must broadcast:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"),
      s"no data-sized join anywhere in DSIR:\n${plan.take(900)}")
  }

  test("PQ rerank stage 2 broadcasts queries, joins corpus vectors by key") {
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val out = operators.Similarity.pqRerankTopK(
      corpus, corpus.filter($"id" < 5), 5, shortlist = 20)
    val plan = finalPlanString(out)
    assert(plan.contains("BroadcastHashJoin"),
      s"query vectors must broadcast into the shortlist join:\n${plan.take(900)}")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"rerank is equi-joins only:\n${plan.take(900)}")
  }

  test("z-order buckets: broadcast scalars only, no window, no wide sort") {
    val ev = Tables.events(spark, sf).select(
      pmod($"user_id", lit(1L << 21)).as("u"),
      expr("unix_micros(ts) div 3600000000").as("hr"))
    val df = operators.Layout.zOrderBuckets(ev, $"u", $"hr", 32)
    val plan = finalPlanString(df)
    // the min/zmax scalars ride as broadcast 1-row frames; the bucket
    // slice must NOT plan a single-partition window (the ntile shape) —
    // value-range bucketing keeps the layout computable without a global
    // sort of the data (the final 32-row orderBy is the only sort)
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"scalar frames not broadcast:\n${plan.take(600)}")
    assert(!plan.contains("Window"), s"unexpected window:\n${plan.take(600)}")
  }

  test("BQ search: query codes broadcast, popcount agg partial, no product") {
    import graft.operators.Similarity
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val plan = finalPlanString(
      Similarity.bqTopK(corpus, corpus.filter($"id" < 5), 10))
    assert(plan.contains("BroadcastHashJoin"), "query codes must broadcast")
    assert(!plan.contains("CartesianProduct"), "no all-pairs product")
    assert(plan.contains("partial_sum") || plan.contains("partial sum"),
      "hamming aggregation must map-side combine")
  }

  test("MIPS broadcasts queries against the partition-local corpus scan") {
    import graft.operators.Similarity
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val plan = finalPlanString(
      Similarity.mipsTopK(corpus, corpus.filter($"id" < 5), 10))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      "the declared-exact scan must broadcast the query side")
    assert(!plan.contains("SortMergeJoin"), "corpus must not shuffle for the scan")
  }

  test("textRank: vocab joins broadcast; adjacency window is doc-partitioned") {
    import graft.operators.Collocations
    val docs = Tables.documents(spark, sf).limit(200)
    val plan = finalPlanString(
      Collocations.textRank(docs, "doc_id", "text", vocabN = 50, rounds = 2, k = 10))
    assert(plan.contains("BroadcastHashJoin"), "vocab/state joins must broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("pruning report: broadcast scalar frames only, no window, no wide sort") {
    import graft.operators.Layout
    val ev = Tables.events(spark, sf).select(
      pmod($"user_id", lit(1L << 21)).as("u"),
      expr("unix_micros(ts) div 3600000000").as("hr"))
    val plan = finalPlanString(Layout.pruningReport(ev, $"u", $"hr", 16))
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      "global min/max and zmax must arrive as broadcast scalars")
    assert(!plan.contains("Window"), "no single-partition window anywhere")
  }

  test("fuzzy matching joins variants by key, verifies AFTER the candidate cut") {
    import graft.operators.Dedup
    val plan = finalPlanString(
      Dedup.editOneNeighborCounts(Tables.customer(spark, sf), $"c_name", 20))
    assert(!plan.contains("CartesianProduct"),
      "deletion-neighborhood join must never cross names")
    // levenshtein must sit above the distinct pair cut, not inside a join
    // of raw name rows: the filter appears once, after HashAggregate
    assert(plan.contains("levenshtein"), "exact verify present")
  }

  test("Q7 broadcasts all three dims and shuffles only the fact-fact join") {
    val plan = finalPlanString(SparkEntry.queries("q7_trade")(spark, sf))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 4, s"supplier+customer+2×nation should broadcast, saw $nBroadcast")
    val nShuffleJoin = "SortMergeJoin".r.findAllIn(plan).length +
      "ShuffledHashJoin".r.findAllIn(plan).length
    assert(nShuffleJoin <= 1, s"only lineitem⋈orders may shuffle, saw $nShuffleJoin")
  }

  test("native vector expressions appear in codegen'd projections") {
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val scored = corpus.select(operators.Similarity.norm($"vec").as("n"))
    val plan = finalPlanString(scored)
    assert(plan.contains("graft_l2norm"), s"native expr missing:\n${plan.take(600)}")
    // the projection containing the native expr must be inside a codegen
    // stage (an interpreted lambda child would break the span)
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_l2norm") && l.trim.startsWith("*")),
      s"l2norm not codegen'd:\n${plan.take(800)}")
  }

  test("JL projection is map-only; weighted sampling is one pushed filter") {
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
    val proj = graft.operators.Similarity.jlProject(corpus, 64, 16)
    val pp = finalPlanString(proj)
    assert(!pp.contains("Exchange"),
      s"JL projection must not shuffle — planes are plan literals:\n${pp.take(800)}")
    val ws = graft.operators.Sampling.weightedHashSample(
      Tables.documents(spark, sf).select($"doc_id",
        graft.functions.TextFunctions.tokenCount($"text").cast("long").as("w")),
      $"doc_id", $"w", 500L)
    val wp = finalPlanString(ws)
    assert(!wp.contains("Exchange"),
      s"weighted sampling is a narrow filter:\n${wp.take(800)}")
    assert(wp.contains("Filter"), wp.take(400))
  }

  test("NFC normalization runs inside a codegen span") {
    val df = Tables.documents(spark, sf)
      .select(graft.functions.NfcNormalize.nfcNormalize($"text").as("n"))
    val plan = finalPlanString(df)
    assert(plan.contains("graft_nfc"), plan.take(600))
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_nfc") && l.trim.startsWith("*")),
      s"graft_nfc not codegen'd:\n${plan.take(800)}")
  }

  test("micro scoring broadcasts the query side and never sort-merges the corpus") {
    // scoredMicro is the shared scoring shape of exactTopKMicro, the beam
    // search rounds and the JL distortion report (the beam loop's own
    // final plan is checkpoint-truncated, so the shape is pinned here)
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id".as("id"), $"embedding".cast("array<double>").as("vec"))
      .filter($"id" % 5 === 0)
    val queries = corpus.filter($"id" < 50)
    val plan = finalPlanString(
      graft.operators.Similarity.scoredMicro(corpus, queries))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastExchange"),
      s"queries must broadcast into the corpus scan:\n${plan.take(800)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"the corpus must never shuffle for scoring:\n${plan.take(800)}")
  }

  test("hard-negative mining broadcasts queries+labels and cuts k before the final shuffle") {
    val plan = finalPlanString(
      graft.queries.PipelineQueries.queries("e_hard_negatives")(spark, sf))
    // the query side (with labels) rides a broadcast into the one corpus
    // scan; no corpus-sized join shuffle anywhere
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"label attach must not shuffle the scored frame:\n${plan.take(800)}")
    // rank<=10 pushes into WindowGroupLimit so only k rows per (query,
    // partition) survive to the exchange
    assert(plan.contains("WindowGroupLimit"), plan.take(800))
  }

  test("corpus rank tables: no unpartitioned window over unbounded input") {
    // the round-12 verdict's scale-killer: a corpus/node-sized rank built
    // with row_number().over(Window.orderBy(...)) is a single-partition
    // sort of the whole frame. The four former offenders now rank via
    // Ranks.rowNumber (range-bucket + broadcast-offset two-pass) or, for
    // zipf, a TakeOrdered limit BEFORE the window; the only legal
    // unpartitioned windows are (a) the offset-frame cumulative sums,
    // bounded by the partition count and recognizable by their __pid
    // order key, and (b) windows whose input subtree is bounded by a
    // global limit.
    val helper =
      new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    // descend through InMemoryTableScan too: the former offenders built
    // their rank tables INSIDE CacheScope.cached, so the window hides in
    // the InMemoryRelation's cached plan, invisible to a surface walk
    def unpartWindows(p: SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExecBase] = {
      val here = helper.collect(p) {
        case w: org.apache.spark.sql.execution.window.WindowExecBase
            if w.partitionSpec.isEmpty => w
      }
      val cached = helper.collect(p) {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          s.relation.cachedPlan
      }
      here ++ cached.flatMap(unpartWindows)
    }
    for (name <- Seq("gx_walk_pairs", "d_contrastive", "d_spearman", "d_zipf")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect() // finalize AQE so stages are traversable
      val unpart = unpartWindows(df.queryExecution.executedPlan)
      unpart.foreach { w =>
        val pidBounded =
          w.orderSpec.exists(_.child.toString.contains("__pid"))
        val limitBounded = helper.collect(w.child) {
          case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
          case g: org.apache.spark.sql.execution.GlobalLimitExec => g
        }.nonEmpty
        assert(pidBounded || limitBounded,
          s"$name: unpartitioned window over unbounded input:\n$w")
      }
      graft.CacheScope.releaseAll()
    }
  }

  test("event transition matrix shuffles the corpus exactly once (user window)") {
    val whole = finalPlanString(
      graft.queries.AnalyticsQueries.queries("s_paths")(spark, sf))
    // AdaptiveSparkPlan.toString prints final AND initial plan — count in
    // the final section only
    val plan = whole.split("== Initial Plan ==")(0)
    // exchanges: user_id window, the TYPE^2 group pair (partial+final
    // collapse to one), the from_type window and the final sort all
    // operate AFTER the single corpus-sized user_id hash exchange; the
    // corpus itself is scanned once
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"events must be scanned once:\n${plan.take(800)}")
    val hashUserExchanges = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(hashUserExchanges == 1,
      s"exactly one user_id exchange expected:\n${plan.take(1200)}")
  }
}
