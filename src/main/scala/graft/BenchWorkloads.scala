package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.io.GraphIO

/** Reference-shaped benchmark workloads (BASELINE.md): the reference's
  * examples/ define its only quantitative workloads; these are the batched
  * Spark equivalents, sized identically.
  *
  *  - workload A (examples/edge_removal.py:9-20): 5M random edges over 10k
  *    nodes, then bulk delete — one upsert plan + one anti-join plan, no
  *    per-edge loop.
  *  - hub fan-out (examples/one_node_many_neighbors.py:6-16): 200k edges
  *    out of a single node, then the full neighbor scan.
  *  - degrees: full-graph degree table on the workload-A graph.
  *
  * Each returns a row count so Bench's timing loop forces execution. */
object BenchWorkloads {
  /** Scale multiplier for the synthetic workload sizes (default 1 = the
    * reference's example sizes). The sf1 scale-bench runs with
    * SPARK_GRAFT_WORKLOAD_SCALE=10: node AND edge counts scale together,
    * so average degree stays at the reference's shape and the ratio vs
    * the scale-1 run reads as data scaling, not densification. */
  private val scale =
    sys.env.getOrElse("SPARK_GRAFT_WORKLOAD_SCALE", "1").toInt
  private val N = 10000L * scale
  private val M = 5000000L * scale

  private def randomEdges(spark: SparkSession, m: Long, n: Long = N) =
    spark.range(m).select(
      concat(lit("n"), pmod(xxhash64(col("id"), lit(1)), lit(n))).as("src"),
      concat(lit("n"), pmod(xxhash64(col("id"), lit(2)), lit(n))).as("dst"),
      lit(0).as("etype"))

  /** workload A ingest: 5M add_edge as ONE batched upsert. */
  def bulkEdgeUpsert(spark: SparkSession): Long =
    GraphIO.empty(spark).addEdges(randomEdges(spark, M)).nEdges

  /** workload A teardown: delete half the edges in one anti-join.
    * `victims` derives from `g.edges` and anti-joins against the same
    * `g.edges`, so the upsert subplan is referenced twice — and the
    * pipelined double-reference is measurably CHEAPER than eagerly
    * checkpointing 5M rows first (the round-5 checkpoint regressed this
    * workload ~20-55%; reverted after an A/B at 32 cpus: generating and
    * deduping synthetic rows twice beats materializing them once and
    * scanning twice). The node-removal workload keeps its checkpoint: it
    * references nodes AND edges twice each (4 re-reads of a smaller
    * graph), which does amortize one materialization. */
  def bulkEdgeRemoval(spark: SparkSession): Long = {
    val g = GraphIO.empty(spark).addEdges(randomEdges(spark, M))
    val victims = g.edges.filter(pmod(xxhash64(col("src"), col("dst")), lit(2)) === 0)
    g.removeEdges(victims).nEdges
  }

  /** workload B (examples/node_removal.py:9-21): 2M edges over 2k nodes,
    * then remove every node but two — one cascade anti-join, not 1,998
    * per-node BST surgeries. */
  def bulkNodeRemoval(spark: SparkSession): Long = {
    // checkpoint before the cascade: removeNodes references nodes twice and
    // edges twice (victim filter + anti-joins) — materialize the upsert once
    val g = GraphIO.empty(spark)
      .addEdges(randomEdges(spark, 2000000L * scale, 2000L * scale)).checkpointed()
    val victims = g.nodes.filter(!col("key").isin("n0", "n1"))
    g.removeNodes(victims).nNodes
  }

  /** Scratch path for the persisted-store workloads, keyed by scale so
    * sf0.1/sf1/sf10 bench tiers never share state. */
  private def storePath = s"${System.getProperty("java.io.tmpdir")}/graft_wstore_s$scale"

  private def rmPath(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Initial build of the workload-A edge state into the 256-bucket
    * MUTABLE layout ([[graft.io.GraphStore]]): batch dedup + one
    * hash-partitioned write, strictly linear — the one-time cost the
    * incremental entry below amortizes. Runs before
    * w_bulk_edge_upsert_bucketed by bench name order. */
  def bulkEdgeStoreBuild(spark: SparkSession): Long = {
    rmPath(spark, storePath)
    val edges = randomEdges(spark, M)
    graft.io.GraphStore.writeEdges(spark, storePath, edges, 256)
    graft.io.GraphStore.writeNodes(spark, storePath,
      edges.select(col("src").as("key"))
        .union(edges.select(col("dst").as("key"))).distinct(), 256)
    graft.io.GraphStore.readEdges(spark, storePath).count()
  }

  /** Bucket-pruned incremental upsert (r17 verdict #1): 4 hub-localized
    * delta batches (8 src hubs each, 10k×scale rows) applied through
    * GraphStore.upsertEdges against the persisted state — each batch
    * reads and rewrites ≤ 8 of 256 edge buckets, so the cost tracks the
    * delta and its touched buckets, NOT the accumulated state (the
    * full-state window-dedup in w_bulk_edge_upsert was the one measured
    * 2×-over-linear core entry at 100×). Idempotent under the retimer:
    * re-applying a delta replaces the same triples at the same cost. */
  def bulkEdgeUpsertBucketed(spark: SparkSession): Long = {
    // isolated BENCH_ONLY runs, or a store left by a build without
    // bucket-count files (written with, and so implying, the schema file)
    val fs = new org.apache.hadoop.fs.Path(
      s"$storePath/edges/${graft.io.GraphStore.BucketsFile}")
    val hfs = fs.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!hfs.exists(fs)) bulkEdgeStoreBuild(spark)
    var b = 0
    while (b < 4) {
      val delta = spark.range(10000L * scale).select(
        concat(lit("n"), pmod(col("id"), lit(8)) + lit(b * 8)).as("src"),
        concat(lit("n"), pmod(xxhash64(col("id"), lit(b)), lit(N))).as("dst"),
        lit(0).as("etype"))
      graft.io.GraphStore.upsertEdges(spark, storePath, delta, 256)
      b += 1
    }
    graft.io.GraphStore.readEdges(spark, storePath).count()
  }

  /** hub fan-out: 200k out-edges on one node + full neighbor scan. */
  def hubNeighborScan(spark: SparkSession): Long = {
    val edges = spark.range(200000L * scale).select(
      lit("hub").as("src"),
      concat(lit("t"), col("id")).as("dst"),
      lit(0).as("etype"))
    val g = KinGraph.fromEdges(edges)
    g.neighbors("hub").count()
  }

  /** full degree table over the workload-A graph. */
  def degreesFull(spark: SparkSession): Long = {
    val g = KinGraph.fromEdges(randomEdges(spark, M))
    g.outDegrees.count() + g.inDegrees.count()
  }

  /** Streaming drain: the full watermarked tumbling aggregation consumed
    * end-to-end through the micro-batch engine over the SF's events fixture
    * (micro-batch scheduling + state store + memory sink — the streaming
    * counterpart of s_events_window's batch plan). */
  def streamTumblingDrain(spark: SparkSession): Long = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = graft.streaming.EventStreams.runToMemory(
      graft.streaming.EventStreams.tumblingCounts(
        graft.streaming.EventStreams.readEvents(spark, dir)),
      s"w_stream_${System.nanoTime()}")
    out.count()
  }

  val workloads: Map[String, SparkSession => Long] = Map(
    "w_bulk_edge_store_build" -> bulkEdgeStoreBuild,
    "w_bulk_edge_upsert" -> bulkEdgeUpsert,
    "w_bulk_edge_upsert_bucketed" -> bulkEdgeUpsertBucketed,
    "w_bulk_edge_removal" -> bulkEdgeRemoval,
    "w_bulk_node_removal" -> bulkNodeRemoval,
    "w_hub_neighbor_scan" -> hubNeighborScan,
    "w_degrees_full" -> degreesFull,
    "w_stream_tumbling" -> streamTumblingDrain)
}
