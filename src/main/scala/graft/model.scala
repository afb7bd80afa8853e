package graft

/** Data model + error contract for the Spark-native property-graph engine.
  *
  * Mirrors the reference's semantics (kinbaku: directed graph, any string as
  * node key, self-loops allowed, at most one edge per (src, dst, etype)
  * triple — /root/reference/kinbaku/graph.py:1-3) re-expressed as immutable
  * Spark Datasets instead of a single mutable slot file.
  *
  * Exception hierarchy parity: /root/reference/kinbaku/exception.py:14-31.
  */
class KinbakuException(msg: String) extends RuntimeException(msg)
class KinbakuError(msg: String) extends KinbakuException(msg)
class NodeNotFound(key: String) extends KinbakuException(s"node not found: $key")
class EdgeNotFound(src: String, dst: String, etype: Int)
    extends KinbakuException(s"edge not found: ($src, $dst, type=$etype)")
class KeyTooLong(key: String, max: Int)
    extends KinbakuException(s"key too long (${key.length} > $max): $key")
class StringTooLong(field: String, value: String, max: Int)
    extends KinbakuException(
      s"string attr '$field' too long (${value.length} > $max): $value")

/** A node row. `key` is the identity (reference: graph.py:999-1036);
  * `index` is the monotonically-assigned surrogate id used by the dense
  * adjacency representation (reference: graph.py:1372-1373). Attribute
  * columns ride alongside in the DataFrame; typed users can carry a case
  * class. */
case class NodeRec(key: String, index: Long)

/** An edge row. Identity = (src, dst, etype) (reference: graph.py:836-838);
  * endpoints are denormalized as key strings so neighbor scans never need
  * the N point lookups of the reference's read path (graph.py:868). */
case class EdgeRec(src: String, dst: String, etype: Int)

/** Typed facade over user attribute classes — the Spark analog of the
  * reference's custom `kn.structure.Node`/`Edge` dataclasses
  * (structure.py:14-113, README.md:62-90): the user's case class IS the
  * schema (via `Encoders.product`), with `key` / `src`+`dst`(+`etype`)
  * fields carrying identity. */
class TypedKinGraph[N, E](val nodes: org.apache.spark.sql.Dataset[N],
                          val edges: org.apache.spark.sql.Dataset[E]) {
  /** Untyped view running the full relational operator surface. */
  def graph: KinGraph = KinGraph(nodes.toDF(), edges.toDF())

  def node(key: String)(implicit ev: org.apache.spark.sql.Encoder[N]): N =
    nodes.filter(nodes.col("key") === key).limit(1).collect()
      .headOption.getOrElse(throw new NodeNotFound(key))

  def edge(src: String, dst: String, etype: Int = 0)
          (implicit ev: org.apache.spark.sql.Encoder[E]): E = {
    val base = edges.filter(edges.col("src") === src && edges.col("dst") === dst)
    val filtered = if (edges.columns.contains("etype"))
      base.filter(edges.col("etype") === etype) else base
    filtered.limit(1).collect().headOption
      .getOrElse(throw new EdgeNotFound(src, dst, etype))
  }
}

object TypedKinGraph {
  def apply[N, E](nodes: org.apache.spark.sql.Dataset[N],
                  edges: org.apache.spark.sql.Dataset[E]): TypedKinGraph[N, E] = {
    require(nodes.columns.contains("key"), "node class needs a 'key' field")
    require(edges.columns.contains("src") && edges.columns.contains("dst"),
      "edge class needs 'src' and 'dst' fields")
    new TypedKinGraph(nodes, edges)
  }
}

object KinConfig {
  /** Reference defaults (graph.py:23-24). We do NOT truncate — Spark strings
    * are unbounded — but the facade can enforce the contract when asked. */
  val DefaultMaxKeyLen = 15
  val DefaultMaxStrLen = 15
  /** Bound of a KinGraph's point-read LRU, in rows — the analog of the
    * reference's `cache_len` (graph.py:29), which bounds its LRU maps in
    * entries. A stored graph's LRU keeps whole buckets of at most this many
    * node and edge rows together. */
  val DefaultCacheLen = 1000000
}
