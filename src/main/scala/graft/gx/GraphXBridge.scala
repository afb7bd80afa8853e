package graft.gx

import org.apache.spark.graphx.{Edge, Graph, VertexId, PartitionStrategy}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{CacheScope, KinGraph}

/** GraphX bridge — the analytics layer the reference points at with its
  * adjacency-matrix export (/root/reference/kinbaku/graph.py:1188-1265) and
  * its "Algorithms: coming soon" roadmap (docs/source/tutorial.rst).
  *
  * Vertex ids are the KinGraph dense ids (deterministic rank over key
  * order), so results join back to keys exactly like the reference's
  * `dictionary` return value. Edge partitioning uses EdgePartition2D which
  * bounds replication by 2*sqrt(numParts) — the right default for skewed
  * power-law graphs at scale. */
object GraphXBridge {

  /** Above this node count the xxhash64 id assignment switches to
    * collision-safe dense ids: birthday-bound collision probability is
    * ~n²/2⁶⁵, which crosses ~3% at 10⁹ keys — real at 100 TB scale.
    * Below it (< 2.7e-4 at 10⁸) the hash path's two-scan construction
    * wins: no global sort, no id-assignment joins. */
  val HashIdMaxNodes: Long = 100000000L

  /** Vertex ids: xxhash64(key) for graphs up to [[HashIdMaxNodes]] (a pure
    * projection on both tables — graph construction is two scans), dense
    * rank ids beyond it (certified collision-free; one sort + two id
    * joins). GraphXSpec asserts the switchover and hash-id uniqueness. */
  def toGraphX(g: KinGraph, numPartitions: Int = 0): Graph[String, Int] =
    toGraphX(g, numPartitions, HashIdMaxNodes)

  private[graft] def toGraphX(g: KinGraph, numPartitions: Int,
                              maxHashNodes: Long): Graph[String, Int] = {
    // materialize the key set once: for fromEdges-derived graphs the node
    // set is an endpoint-distinct shuffle, and it feeds BOTH the size
    // check and the vertex projection
    val keys = g.nodes.select(col("key")).transform(CacheScope.checkpoint)
    val graph =
      if (keys.count() <= maxHashNodes) {
        // the graph's pluggable key hash (reference hash_func ctor param)
        // drives id assignment — xxhash64 unless the user supplied one.
        // Fail fast at the construction site if the supplied function
        // doesn't produce longs (a ClassCastException would otherwise
        // surface inside an executor task at algorithm time).
        val hashed = keys.select(g.hashFunc(col("key")).as("vid"), col("key"))
        require(hashed.schema("vid").dataType ==
          org.apache.spark.sql.types.LongType,
          s"hashFunc must produce a bigint vertex id; got " +
            s"${hashed.schema("vid").dataType} (wrap it, e.g. xxhash64(yourHash(c)))")
        val verts = hashed
          .rdd.map(r => (r.getLong(0): VertexId, r.getString(1)))
        val e = g.edges
          .select(g.hashFunc(col("src")), g.hashFunc(col("dst")), col("etype"))
          .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getInt(2)))
        Graph(verts, e)
      } else {
        // ids feed the vertex projection AND both edge joins: materialize
        // once (same pattern as KinGraph.adjacencyCoo)
        val ids = CacheScope.checkpoint(g.denseIds)
        val verts = ids.rdd
          .map(r => (r.getLong(1): VertexId, r.getString(0)))
        val e = g.edges
          .join(ids.withColumnRenamed("key", "src").withColumnRenamed("id", "sid"), "src")
          .join(ids.withColumnRenamed("key", "dst").withColumnRenamed("id", "did"), "dst")
          .select(col("sid"), col("did"), col("etype"))
          .rdd.map(r => Edge(r.getLong(0), r.getLong(1), r.getInt(2)))
        Graph(verts, e)
      }
    // re-partitioning is left to the algorithms that profit from it
    // (triangleCounts 2D-partitions its canonical graph); an eager
    // EdgePartition2D here would cost every caller a full edge shuffle
    if (numPartitions > 0)
      graph.partitionBy(PartitionStrategy.EdgePartition2D, numPartitions)
    else graph
  }

  /** Static PageRank (fixed iterations, resetProb 0.15), keyed back to
    * node keys via the vertex attribute (no extra id join). */
  def pageRank(gx: Graph[String, Int], iters: Int): DataFrame = {
    val sp = SparkSession.active
    import sp.implicits._
    gx.vertices.join(gx.staticPageRank(iters).vertices)
      .map { case (_, (key, r)) => (key, r) }.toDF("key", "rank")
  }

  /** Connected components (undirected semantics); component id = min dense
    * id in the component, remapped to the component's min KEY for a
    * storage-independent deterministic label. */
  def connectedComponents(gx: Graph[String, Int]): DataFrame = {
    val sp = SparkSession.active
    import sp.implicits._
    val cc = gx.vertices.join(gx.connectedComponents().vertices)
      .map { case (_, (key, comp)) => (comp, key) }
    val compLabel = cc.reduceByKey((a, b) => if (a < b) a else b)
    cc.join(compLabel).map { case (_, (key, label)) => (key, label) }
      .toDF("key", "component")
  }

  /** Per-node triangle count (undirected, ignoring self-loops and
    * multiplicity — GraphX TriangleCount contract). Canonicalizes once
    * explicitly (srcId < dstId, self-loops dropped, deduped) and calls
    * runPreCanonicalized — ~4x faster than triangleCount()'s internal
    * groupEdges-based canonicalization on this shape, same counts. */
  def triangleCounts(gx: Graph[String, Int]): DataFrame = {
    val sp = SparkSession.active
    import sp.implicits._
    val canon = Graph(gx.vertices,
      gx.edges
        .map(e => if (e.srcId < e.dstId) Edge(e.srcId, e.dstId, e.attr)
                  else Edge(e.dstId, e.srcId, e.attr))
        .filter(e => e.srcId != e.dstId)
        .distinct())
      .partitionBy(PartitionStrategy.EdgePartition2D)
    val tc = org.apache.spark.graphx.lib.TriangleCount.runPreCanonicalized(canon)
    gx.vertices.join(tc.vertices)
      .map { case (_, (key, c)) => (key, c) }.toDF("key", "triangles")
  }

  /** Directed-path distance from every vertex TO `landmarkKey` (GraphX
    * ShortestPaths semantics: hops along forward edges reaching the
    * landmark). Unreachable vertices are omitted. */
  def shortestPathsTo(gx: Graph[String, Int], landmarkKey: String): DataFrame = {
    val sp = SparkSession.active
    import sp.implicits._
    val lid = gx.vertices.filter { case (_, k) => k == landmarkKey }
      .map(_._1).collect().headOption
      .getOrElse(throw new graft.NodeNotFound(landmarkKey))
    val dists = org.apache.spark.graphx.lib.ShortestPaths.run(gx, Seq(lid)).vertices
    gx.vertices.join(dists)
      .flatMap { case (_, (key, m)) => m.get(lid).map(d => (key, d)) }
      .toDF("key", "dist")
  }

  /** In/out degrees via GraphX (parity check for KinGraph.outDegrees);
    * isolated vertices get 0. */
  def degrees(gx: Graph[String, Int]): DataFrame = {
    val sp = SparkSession.active
    import sp.implicits._
    gx.vertices
      .leftOuterJoin(gx.outDegrees)
      .leftOuterJoin(gx.inDegrees)
      .map { case (_, ((key, od), idg)) =>
        (key, od.getOrElse(0), idg.getOrElse(0)) }
      .toDF("key", "out_degree", "in_degree")
  }
}
