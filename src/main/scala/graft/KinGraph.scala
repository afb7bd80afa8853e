package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Spark-native re-expression of the reference's `Graph` facade
  * (/root/reference/kinbaku/graph.py:18) — a directed property graph where
  * any string is a node key, self-loops are allowed, and at most one edge
  * exists per (src, dst, etype) triple.
  *
  * Representation: a pair of immutable DataFrames
  *   nodes(key: String, ...attrs)
  *   edges(src: String, dst: String, etype: Int, ...attrs)
  * All operators are batched relational plans (joins / aggregations /
  * anti-joins) so they distribute: there is no per-row driver loop anywhere.
  * Mutations return a NEW KinGraph (immutable snapshots — the reference's
  * tombstone/BST-surgery machinery, graph.py:615-766, disappears entirely).
  *
  * Scale notes (100 TB design):
  *  - neighbor/degree queries are single shuffle-free filters or one
  *    map-side-combinable aggregation;
  *  - point lookups push `key = k` down to the Parquet scan; on a graph
  *    opened from a store they read the key's whole bucket once, and
  *    later reads into it are answered on the driver with no job;
  *  - upserts are one window-dedup shuffle keyed by identity, never
  *    per-record control flow;
  *  - hub skew in adjacency aggregation is left to AQE (enabled in the
  *    session) + the caller can salt via repartition if needed.
  */
class KinGraph(val nodes: DataFrame, val edges: DataFrame,
               val hashFunc: Column => Column = KinGraph.DefaultHashFunc,
               val cacheLen: Int = KinConfig.DefaultCacheLen,
               val maxKeyLen: Int = Int.MaxValue,
               private[graft] val layout: Option[io.GraphStore.Layout] = None)
    extends Serializable {
  import KinGraph._
  private def spark: SparkSession = nodes.sparkSession

  /** Derived graph carrying the same pluggable key hash (reference's
    * user-supplied hash_func ctor parameter, graph.py:41-43, 82-90),
    * point-lookup cache bound (reference cache_len, graph.py:29) and key
    * length contract (reference max_key_len, graph.py:23-24); not the
    * store layout, since derived frames are not the stored scans. */
  private def derive(n: DataFrame, e: DataFrame): KinGraph =
    new KinGraph(n, e, hashFunc, cacheLen, maxKeyLen)

  private def strDF(name: String, vals: Seq[String]): DataFrame = {
    val sp = spark
    import sp.implicits._
    vals.toDF(name)
  }

  // ---------------------------------------------------------------- counts
  /** reference: graph.py:133-140 */
  def nNodes: Long = nodes.count()
  /** reference: graph.py:142-149 (sentinel edges excluded there; we simply
    * have no sentinels) */
  def nEdges: Long = edges.count()

  // ----------------------------------------------------------------- scans
  /** All node keys (reference: graph.py:151-161 — unordered contract). */
  def nodeKeys: DataFrame = nodes.select(col("key"))
  /** All (src, dst) pairs (reference: graph.py:163-171). */
  def edgePairs: DataFrame = edges.select(col("src"), col("dst"))

  // ---------------------------------------------------------- point lookups
  /** Driver-side LRU of point-read results, bounded by `cacheLen` rows —
    * the Spark analog of the reference's LRU caches (graph.py:100-106,
    * cache_len default 1e6), cleared by [[emptyCache]] exactly like the
    * reference's empty_cache (graph.py:383-388). On a graph opened from a
    * store an entry is a whole store bucket: its node rows and the edges
    * out of them, loaded by one single-task Spark job on the first read
    * into it. Every later read into the bucket runs no job, a missing key
    * included (the bucket holds all its keys, so an absent one is a
    * definite miss). Eviction drops whole buckets; a bucket of more than
    * `cacheLen` rows is never kept, and reads into it take the keyed plans.
    * Those, and every read on a derived graph (which has no buckets), keep
    * found rows as single entries; a miss there is re-probed. Sound
    * because a KinGraph is an immutable snapshot and every mutation
    * derives a NEW graph with a fresh cache. */
  @transient private lazy val cache = new ReadCache(cacheLen)

  /** Rows the LRU holds (reference exposes cache_len sizing; the spec uses
    * this to pin hit/clear behavior). */
  private[graft] def cachedRows: Long = cache.rows

  /** This graph with another LRU bound, for tests of the bound. */
  private[graft] def withCacheLen(n: Int): KinGraph =
    new KinGraph(nodes, edges, hashFunc, n, maxKeyLen, layout)

  /** The cached store buckets holding `keys`' node rows and out-edges,
    * loading every cold one in one Spark job; empty on a graph without a
    * layout, and without the keys whose bucket is too big to keep. */
  private def bucketsOf(keys: Seq[String]): Map[String, Bucket] =
    layout.fold(Map.empty[String, Bucket]) { l =>
      val at = keys.distinct.map(k => k -> l.bucketOf(k))
      val ids = at.map(_._2).distinct
      val warm = ids.flatMap(b => cache.bucket(b).map(b -> _)).toMap
      val cold = ids.filterNot(b => warm.contains(b) || cache.isTooBig(b))
      val loaded = if (cold.isEmpty) Map.empty[Int, Bucket] else
        l.read(cold, cacheLen).flatMap {
          case (b, Some((ns, es))) =>
            val bk = new Bucket(ns, es, nodes.schema, edges.schema)
            cache.putBucket(b, bk, ns.length + es.length)
            Some(b -> bk)
          case (b, None) => cache.markTooBig(b); None
        }
      val all = warm ++ loaded
      at.flatMap { case (k, b) => all.get(b).map(k -> _) }.toMap
    }

  /** Node rows matching `pred`, which holds only for keys in `keys`: on a
    * stored graph, read from their buckets alone. */
  private def nodesAt(keys: Seq[String], pred: Column): DataFrame =
    layout.fold(nodes.filter(pred))(_.nodesAt(keys, pred))

  /** Edge rows matching `pred`, which holds only for `side` in `keys`: on
    * a stored graph, read from their buckets alone if the store prunes
    * that side. */
  private def edgesAt(side: String, keys: Seq[String], pred: Column): DataFrame =
    layout.flatMap(_.edgesAt(side, keys, pred)).getOrElse(edges.filter(pred))

  /** Point-lookup plan for a node key — the predicate pushes down to the
    * parquet scan (Catalyst `PushedFilters`), the Spark analog of the
    * reference's hash-BST descent (graph.py:435-470). */
  def nodeLookup(key: String): DataFrame = nodesAt(Seq(key), col("key") === key)

  /** Point-lookup plan for an edge identity triple. */
  def edgeLookup(src: String, dst: String, etype: Int = 0): DataFrame =
    edgesAt("src", Seq(src),
      col("src") === src && col("dst") === dst && col("etype") === etype)

  /** The row behind a single-row LRU entry: the cached one, else one plain
    * `collect` of `lookup` — a single-stage job over the pushed-down scan
    * (a `limit(1)` plan runs a second job when the row is not in the first
    * partition). A found row fills the cache; a miss is not cached. */
  private def probe(ck: RowKey, lookup: => DataFrame): Option[Row] =
    cache.row(ck).orElse {
      val row = lookup.collect().headOption
      row.foreach(cache.putRow(ck, _))
      row
    }

  private def probeNode(key: String): Option[Row] =
    bucketsOf(Seq(key)).get(key)
      .fold(probe(('n', key, "", 0), nodeLookup(key)))(_.nodes.get(key))

  private def probeEdge(src: String, dst: String, etype: Int): Option[Row] =
    bucketsOf(Seq(src)).get(src)
      .fold(probe(('e', src, dst, etype), edgeLookup(src, dst, etype)))(
        _.edge(src, dst, etype))

  /** Point lookup by key; NodeNotFound on miss (reference: graph.py:999-1036
    * — cache probe first, graph.py:1018-1023, then the storage descent). */
  def node(key: String, maxKeyLen: Int = -1): Row = {
    // -1 = use the graph's own contract (GraphIO.open-ed graphs default to
    // the reference's max_key_len=15; directly-constructed graphs are
    // permissive). An explicit non-negative argument overrides per-call.
    val lim = if (maxKeyLen >= 0) maxKeyLen else this.maxKeyLen
    if (key.length > lim) throw new KeyTooLong(key, lim)
    probeNode(key).getOrElse(throw new NodeNotFound(key))
  }

  /** Point lookup of an edge triple (reference: graph.py:1038-1067). */
  def edge(src: String, dst: String, etype: Int = 0): Row =
    probeEdge(src, dst, etype).getOrElse(throw new EdgeNotFound(src, dst, etype))

  /** reference: graph.py:1069-1082. The same probe as [[node]]: a cached
    * bucket or row answers without a job (the reference's cache tier,
    * graph.py:1018-1023), and a probe fills the cache, so a later `node`
    * or `neighbors` call on the key runs no probe. */
  def hasNode(key: String): Boolean = probeNode(key).isDefined
  /** reference: graph.py:1084-1099 (the same probe as [[edge]]). */
  def hasEdge(src: String, dst: String, etype: Int = 0): Boolean =
    probeEdge(src, dst, etype).isDefined

  // ------------------------------------------------------------- adjacency
  /** Out-neighbors of `key` as a 1-column DataFrame (`key`). Raises
    * NodeNotFound eagerly like the reference (graph.py:865) even though the
    * result is lazy. Distinct because multi-type edges repeat the target. */
  def neighbors(key: String): DataFrame =
    bucketsOf(Seq(key)).get(key) match {
      case Some(b) =>
        if (!b.nodes.contains(key)) throw new NodeNotFound(key)
        local(b.neighbors(key).map(Row(_)),
          StructType(Seq(edges.schema("dst").copy(name = "key"))))
      case None =>
        if (!hasNode(key)) throw new NodeNotFound(key)
        edgesAt("src", Seq(key), col("src") === key)
          .select(col("dst").as("key")).distinct()
    }

  /** A frame of `rows` built on the driver, which runs no Spark job. */
  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** In-neighbors (reference: graph.py:871-884). */
  def predecessors(key: String): DataFrame = {
    if (!hasNode(key)) throw new NodeNotFound(key)
    edges.filter(col("dst") === key).select(col("src").as("key")).distinct()
  }

  /** Eager existence check for a batch of queried keys — the reference's
    * per-key NodeNotFound raise (graph.py:865, hit inside neighbors_from's
    * loop). One single-stage scan: the `key IN (...)` predicate pushes
    * down to the scan of the keys' buckets. The collected set is bounded
    * by the query-key list, never the node table. */
  private def requireAllExist(keys: Seq[String]): Unit = {
    val found = nodesAt(keys, col("key").isin(keys.distinct: _*)).select(col("key"))
      .collect().map(_.getString(0)).toSet
    keys.find(!found.contains(_)).foreach(k => throw new NodeNotFound(k))
  }

  /** One row per distinct queried key with the sorted list of its `to`
    * ends over edges whose `from` end is the key. The queried keys join the
    * edge rows with a null `to`, which `collect_set` skips, so a key with
    * no such edge still gets an empty list: one filter and one aggregation,
    * no join. */
  private def adjacencyFrom(keys: Seq[String], from: String, to: String,
                            name: String): DataFrame = {
    requireAllExist(keys)
    val ks = keys.distinct
    edgesAt(from, ks, col(from).isin(ks: _*))
      .select(col(from).as("key"), col(to).as("v"))
      .union(strDF("key", ks).select(col("key"), lit(null).cast("string").as("v")))
      .groupBy(col("key"))
      .agg(sort_array(collect_set(col("v"))).as(name))
  }

  /** Batch out-adjacency: one row per queried key with its sorted neighbor
    * list (reference: graph.py:928-940 loops node-at-a-time; here it is one
    * pushed-down filter + one aggregation — the set-oriented form the
    * reference's `n_jobs` parameter gestures at but never implements,
    * graph.py:954).
    * Exact reference contract: every EXISTING queried key appears, a key
    * with no out-edges with an EMPTY list (graph.py:928-940 yields an empty
    * iterator for it); a missing key raises NodeNotFound (graph.py:865).
    * Deliberate relational divergence: DUPLICATE queried keys collapse to
    * one row (the reference's loop yields one iterator per occurrence) —
    * a keyed frame, not a positional zip. */
  def neighborsFrom(keys: Seq[String]): DataFrame = {
    val ks = keys.distinct
    val bs = bucketsOf(ks)
    if (ks.exists(k => !bs.contains(k))) adjacencyFrom(keys, "src", "dst", "neighbors")
    else {
      ks.find(k => !bs(k).nodes.contains(k)).foreach(k => throw new NodeNotFound(k))
      local(ks.sorted(Utf8Order).map(k => Row(k, bs(k).neighbors(k))),
        StructType(Seq(StructField("key", StringType),
          StructField("neighbors", ArrayType(StringType, containsNull = false),
            nullable = false))))
    }
  }

  /** POSITIONAL parity variant of [[neighborsFrom]] (reference
    * graph.py:928-940 yields one iterator PER INPUT OCCURRENCE,
    * order-aligned — duplicated query keys included): one result per
    * element of `keys`, aligned by position. The keyed frame stays the
    * engine path; this facade collects it once (bounded by the query-key
    * list, never the graph) and replays the reference's positional zip on
    * the driver. Missing keys raise NodeNotFound, as in the loop. */
  def neighborsFromSeq(keys: Seq[String]): Seq[(String, Seq[String])] = {
    val byKey = neighborsFrom(keys).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    keys.map(k => k -> byKey(k))
  }

  /** Positional variant of [[predecessorsFrom]] — see [[neighborsFromSeq]]
    * (reference graph.py:942-957). */
  def predecessorsFromSeq(keys: Seq[String]): Seq[(String, Seq[String])] = {
    val byKey = predecessorsFrom(keys).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    keys.map(k => k -> byKey(k))
  }

  /** reference: graph.py:942-957 — same contract as [[neighborsFrom]]. */
  def predecessorsFrom(keys: Seq[String]): DataFrame =
    adjacencyFrom(keys, "dst", "src", "predecessors")

  /** reference: graph.py:959-970 — set(nbrs(u)) ∩ set(nbrs(v)). */
  def commonNeighbors(u: String, v: String): DataFrame =
    neighbors(u).intersect(neighbors(v))

  /** reference: graph.py:972-983 */
  def commonPredecessors(u: String, v: String): DataFrame =
    predecessors(u).intersect(predecessors(v))

  // ---------------------------------------------------------------- degrees
  /** Full out-degree table (key, out_degree) — the distributed form of
    * reference graph.py:985-990. Map-side combinable single shuffle. */
  def outDegrees: DataFrame =
    edges.groupBy(col("src").as("key")).agg(count(lit(1)).as("out_degree"))
  def inDegrees: DataFrame =
    edges.groupBy(col("dst").as("key")).agg(count(lit(1)).as("in_degree"))

  def outDegree(key: String): Long =
    bucketsOf(Seq(key)).get(key) match {
      case Some(b) =>
        if (!b.nodes.contains(key)) throw new NodeNotFound(key)
        b.out.get(key).fold(0L)(_.length.toLong)
      case None => degreeOf(key, "src")
    }
  def inDegree(key: String): Long = degreeOf(key, "dst")

  /** Edges whose `side` end is `key`; NodeNotFound when the node is
    * missing (reference graph.py:865). The node row and the edge rows are
    * tagged and tallied in one no-shuffle pass, so existence and degree
    * cost one single-stage job, and a missing node (node tally 0) stays
    * distinct from a node with no edges (edge tally 0). */
  private def degreeOf(key: String, side: String): Long = {
    val stored = layout.flatMap(_.edgesAt(side, Seq(key), col(side) === key))
    val tagged = nodeLookup(key).select(lit(true).as("isNode"))
      .union(stored.getOrElse(edges.filter(col(side) === key))
        .select(lit(false).as("isNode")))
    // a pruned read means both scans read one bucket: one task
    val parts = if (stored.isDefined) tagged.rdd.coalesce(1) else tagged.rdd
    val tallies = parts.mapPartitions { rows =>
      var (ns, es) = (0L, 0L)
      rows.foreach(r => if (r.getBoolean(0)) ns += 1 else es += 1)
      Iterator.single((ns, es))
    }.collect()
    if (tallies.map(_._1).sum == 0) throw new NodeNotFound(key)
    tallies.map(_._2).sum
  }

  // --------------------------------------------------------- key contract
  /** Keys exceeding `maxLen` (the reference's KeyTooLong contract,
    * graph.py:227-228, 1366-1367) in a prospective mutation batch. */
  def invalidKeys(batch: DataFrame, keyCols: Seq[String], maxLen: Int): DataFrame = {
    val checks = keyCols.map(c => batch.filter(length(col(c)) > maxLen)
      .select(col(c).as("key")))
    checks.reduce(_ union _).distinct()
  }

  /** Eager KeyTooLong enforcement for a mutation batch (opt-in, since it
    * costs one scan of the batch — the reference pays the equivalent
    * per-record assert on every insert). */
  def requireKeyLen(batch: DataFrame, keyCols: Seq[String],
                    maxLen: Int = KinConfig.DefaultMaxKeyLen): Unit = {
    val bad = invalidKeys(batch, keyCols, maxLen).limit(1).collect()
    bad.headOption.foreach(r => throw new KeyTooLong(r.getString(0), maxLen))
  }

  /** Eager max_str_len enforcement for STRING ATTRIBUTE columns of a
    * mutation batch — the reference asserts every string attr fits the
    * declared width on insert (graph.py:227-228), not just the key. One
    * scan with an OR-of-lengths predicate, like [[requireKeyLen]]. */
  def requireAttrLen(batch: DataFrame, keyCols: Seq[String],
                     maxLen: Int = KinConfig.DefaultMaxStrLen): Unit = {
    val strAttrs = batch.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType &&
        !keyCols.contains(f.name) => f.name
    }
    if (strAttrs.nonEmpty) {
      val tooLong = strAttrs.map(c => length(col(c)) > maxLen).reduce(_ || _)
      batch.filter(tooLong).limit(1).collect().headOption.foreach { r =>
        val offending = strAttrs.find { c =>
          Option(r.getAs[String](c)).exists(_.length > maxLen)
        }.get
        throw new StringTooLong(offending, r.getAs[String](offending), maxLen)
      }
    }
  }

  // ------------------------------------------------------------- mutations
  /** Upsert nodes; an existing key's attribute columns are wholly replaced
    * by the incoming row — the reference's "replace whole record" semantic
    * (graph.py:1353-1431, tutorial "attention" note). Last write within the
    * incoming batch wins, resolved by one window-dedup shuffle. */
  def addNodes(newNodes: DataFrame): KinGraph = {
    val aligned = alignColumns(newNodes,
      nodes.schema.fieldNames ++ seqColOf(newNodes), keyCols = Seq("key"))
    // graphs carrying the reference key contract (GraphIO.open default 15,
    // graph.py:1366) validate the incoming batch eagerly — one map-side
    // scan of the BATCH only, the batched analog of the per-insert assert
    if (maxKeyLen != Int.MaxValue) requireKeyLen(aligned, Seq("key"), maxKeyLen)
    val merged = upsert(nodes, aligned, Seq("key"))
    derive(merged, edges)
  }

  /** Upsert edges keyed (src, dst, etype); auto-creates missing endpoint
    * nodes exactly like reference graph.py:1446-1453 — but as one distinct
    * + anti-join union, not per-edge lookups. */
  def addEdges(newEdges: DataFrame): KinGraph = {
    val withType = withEtype(newEdges)
    val aligned = alignColumns(withType,
      edges.schema.fieldNames ++ seqColOf(withType),
      keyCols = Seq("src", "dst", "etype"))
    if (maxKeyLen != Int.MaxValue)
      requireKeyLen(aligned, Seq("src", "dst"), maxKeyLen)
    val mergedEdges = upsert(edges, aligned, Seq("src", "dst", "etype"))
    // endpoint auto-create: keys appearing in new edges but not in nodes
    val endpointKeys = aligned.select(col("src").as("key"))
      .union(aligned.select(col("dst").as("key"))).distinct()
    val missing = endpointKeys.join(nodes, Seq("key"), "left_anti")
    val newNodeRows = nodes.schema.fieldNames.foldLeft(missing) { (df, c) =>
      if (c == "key") df else df.withColumn(c, lit(null).cast(nodes.schema(c).dataType))
    }.select(nodes.schema.fieldNames.map(col): _*)
    derive(nodes.union(newNodeRows), mergedEdges)
  }

  /** Delete one edge (reference: graph.py:1526-1536). The 80-line BST
    * surgery becomes a single filter. Throws EdgeNotFound like the ref. */
  def removeEdge(src: String, dst: String, etype: Int = 0): KinGraph = {
    if (!hasEdge(src, dst, etype)) throw new EdgeNotFound(src, dst, etype)
    derive(nodes,
      edges.filter(!(col("src") === src && col("dst") === dst && col("etype") === etype)))
  }

  /** Batched edge delete: anti-join on the identity triple. */
  def removeEdges(toDelete: DataFrame): KinGraph = {
    val del = withEtype(toDelete)
    derive(nodes, edges.join(del.select("src", "dst", "etype"),
      Seq("src", "dst", "etype"), "left_anti"))
  }

  /** Delete a node and ALL incident edges (reference: graph.py:1543-1563). */
  def removeNode(key: String): KinGraph = {
    if (!hasNode(key)) throw new NodeNotFound(key)
    derive(
      nodes.filter(col("key") =!= key),
      edges.filter(col("src") =!= key && col("dst") =!= key))
  }

  /** Batched node delete with edge cascade. */
  def removeNodes(keys: DataFrame): KinGraph = {
    val ks = keys.select(col(keys.columns.head).as("key"))
    derive(
      nodes.join(ks, Seq("key"), "left_anti"),
      edges.join(ks, edges("src") === ks("key"), "left_anti")
        .join(ks, edges("dst") === ks("key"), "left_anti"))
  }

  /** Declarative out-adjacency replace (reference: graph.py:886-905): the
    * node's out-edge set becomes exactly `newDsts`. Reference diffs old vs
    * new and issues per-edge ops; relationally it is filter-out + union.
    * Deliberate divergence: this replaces out-edges of EVERY etype — the
    * reference diffs neighbors across all types but can only remove
    * etype-0 edges (remove_edge defaults type=0, graph.py:900-905), which
    * throws EdgeNotFound on typed adjacency; the total-replace semantic is
    * the coherent generalization. */
  def setNeighbors(key: String, newDsts: Seq[String]): KinGraph = {
    val keep = edges.filter(col("src") =!= key)
    val added = strDF("dst", newDsts)
      .withColumn("src", lit(key)).withColumn("etype", lit(0))
    val aligned = alignColumns(added, edges.schema.fieldNames,
      keyCols = Seq("src", "dst", "etype"))
    val g2 = derive(nodes, keep)
    g2.addEdges(aligned).ensureNode(key)
  }

  /** reference: graph.py:907-926 */
  def setPredecessors(key: String, newSrcs: Seq[String]): KinGraph = {
    val keep = edges.filter(col("dst") =!= key)
    val added = strDF("src", newSrcs)
      .withColumn("dst", lit(key)).withColumn("etype", lit(0))
    val aligned = alignColumns(added, edges.schema.fieldNames,
      keyCols = Seq("src", "dst", "etype"))
    val g2 = derive(nodes, keep)
    g2.addEdges(aligned).ensureNode(key)
  }

  private def ensureNode(key: String): KinGraph = {
    if (hasNode(key)) this
    else addNodes(alignColumns(strDF("key", Seq(key)), nodes.schema.fieldNames, Seq("key")))
  }

  // ------------------------------------------------------------ pagination
  /** Cursor-paginated node scan (reference: graph.py:1101-1141). The
    * reference's cursor is a raw slot position; ours is a keyset cursor
    * ("all keys after K"), the same contract (resumable, non-overlapping
    * pages) with a scalable plan: filter + distributed top-k
    * (TakeOrderedAndProject), never a single-partition global sort. Pass
    * the last key of a page as the next cursor; "" starts from the top. */
  def batchGetNodes(batchSize: Int, afterKey: String = ""): DataFrame =
    nodes.filter(col("key") > afterKey).orderBy(col("key")).limit(batchSize)

  /** reference: graph.py:1143-1186; cursor = last (src, dst, etype) seen,
    * compared lexicographically via struct ordering. */
  def batchGetEdges(batchSize: Int,
                    after: Option[(String, String, Int)] = None): DataFrame = {
    val base = after match {
      case Some((s, d, t)) =>
        edges.filter(struct(col("src"), col("dst"), col("etype")) >
          struct(lit(s), lit(d), lit(t)))
      case None => edges
    }
    base.orderBy(col("src"), col("dst"), col("etype")).limit(batchSize)
  }

  // ------------------------------------------------------- linear algebra
  /** Dense surrogate ids for every node key. Reference assigns ids in
    * first-seen edge order (graph.py:1188-1229) which is storage-dependent
    * and explicitly meaningless; we use rank over key order so results are
    * deterministic and reproducible across runs. Implemented as a range-
    * partitioned sort + zipWithIndex — scalable (no single-partition
    * window) and deterministic because the sort is total. */
  def denseIds: DataFrame = {
    val sp = spark
    import sp.implicits._
    nodes.select(col("key")).orderBy(col("key"))
      .rdd.map(_.getString(0)).zipWithIndex()
      .toDF("key", "id")
  }

  /** Sparse COO adjacency (row_id, col_id, value=1) with the deterministic
    * dense-id mapping — the distributed analog of the reference's SciPy CSR
    * (graph.py:1188-1229; `weight` is declared NOT IMPLEMENTED there). */
  def adjacencyCoo: DataFrame = {
    // ids feeds BOTH the row and col joins: materialize it once (eager
    // localCheckpoint), or Spark recomputes the global sort + zipWithIndex
    // per branch and the RDD boundary blocks AQE on both sides. The
    // checkpointed relation has an exact size, so AQE broadcasts it when
    // nodes fit. Dedup of multi-etype parallel edges happens AFTER the id
    // joins, on compact (long, long) pairs — one narrow shuffle instead of
    // a full-width string shuffle before the joins.
    val ids = denseIds.localCheckpoint(true)
    edges.select("src", "dst")
      .join(ids.withColumnRenamed("key", "src").withColumnRenamed("id", "row_id"), "src")
      .join(ids.withColumnRenamed("key", "dst").withColumnRenamed("id", "col_id"), "dst")
      .select(col("row_id"), col("col_id")).distinct()
      .withColumn("value", lit(1))
  }

  /** Induced-subgraph COO over `keys` (reference: graph.py:1231-1265;
    * missing endpoints silently dropped, graph.py:1254-1256). Dense ids are
    * assigned within the key subset, by key order. */
  def subgraphCoo(keys: Seq[String]): DataFrame = {
    val sorted = keys.distinct.sorted.zipWithIndex.map { case (k, i) => (k, i.toLong) }
    val sp = spark
    import sp.implicits._
    val ids = sorted.toDF("key", "id")
    edges.select("src", "dst").distinct()
      .join(broadcast(ids).withColumnRenamed("key", "src").withColumnRenamed("id", "row_id"), "src")
      .join(broadcast(ids).withColumnRenamed("key", "dst").withColumnRenamed("id", "col_id"), "dst")
      .select(col("row_id"), col("col_id"), lit(1).as("value"))
  }

  /** Induced subgraph as a KinGraph (both endpoints must be in `keys`). */
  def subgraph(keys: DataFrame): KinGraph = {
    val ks = keys.select(col(keys.columns.head).as("key"))
    derive(
      nodes.join(ks, Seq("key"), "left_semi"),
      edges
        .join(ks, edges("src") === ks("key"), "left_semi")
        .join(ks, edges("dst") === ks("key"), "left_semi"))
  }

  // ------------------------------------------------------- facade sugar
  /** reference `__getitem__` (graph.py:1271-1286): G(k) / G(s,t) / G(s,t,ty). */
  def apply(key: String): Row = node(key)
  def apply(src: String, dst: String): Row = edge(src, dst)
  def apply(src: String, dst: String, etype: Int): Row = edge(src, dst, etype)

  /** reference `__contains__` (graph.py:1288-1306). */
  def contains(key: String): Boolean = hasNode(key)
  def contains(src: String, dst: String): Boolean = hasEdge(src, dst)
  def contains(src: String, dst: String, etype: Int): Boolean = hasEdge(src, dst, etype)

  /** reference `__setitem__` (graph.py:1565-1577): upsert a single node or
    * edge with attrs — call-at-a-time sugar over the batched upserts (the
    * batched form is the one to use in anger; see SURVEY §4 risks). */
  def updated(key: String, attrs: Map[String, Any]): KinGraph =
    addNodes(singleRowDF(Seq("key" -> key) ++ attrs.toSeq))
  def updated(src: String, dst: String, etype: Int, attrs: Map[String, Any]): KinGraph =
    addEdges(singleRowDF(Seq("src" -> src, "dst" -> dst, "etype" -> etype) ++ attrs.toSeq))

  private def singleRowDF(kvs: Seq[(String, Any)]): DataFrame = {
    val sp = spark
    import org.apache.spark.sql.types._
    val fields = kvs.map { case (n, v) => StructField(n, v match {
      case _: String => StringType
      case _: Int => IntegerType
      case _: Long => LongType
      case _: Double => DoubleType
      case _: Boolean => BooleanType
      case other => throw new KinbakuException(s"unsupported attr type: $other")
    })}
    val row = Row.fromSeq(kvs.map(_._2))
    sp.createDataFrame(java.util.List.of(row), StructType(fields))
  }

  /** reference `data()` (structure.py:49-62): user-attribute-only
    * projection — internal/identity fields suppressed, and EMPTY-STRING
    * attrs dropped too (structure.py:59-60 skips `len(val) == 0`, the
    * reference's storage encoding for "unset string"). */
  private def dropUnset(v: Any): Boolean = v match {
    case null => false
    case s: String if s.isEmpty => false
    case _ => true
  }
  def nodeData(key: String): Map[String, Any] = {
    val row = node(key)
    row.schema.fieldNames.filterNot(_ == "key")
      .map(f => f -> row.getAs[Any](f)).filter(kv => dropUnset(kv._2)).toMap
  }
  def edgeData(src: String, dst: String, etype: Int = 0): Map[String, Any] = {
    val row = edge(src, dst, etype)
    row.schema.fieldNames.filterNot(Set("src", "dst", "etype"))
      .map(f => f -> row.getAs[Any](f)).filter(kv => dropUnset(kv._2)).toMap
  }

  // ------------------------------------------------------------ maintenance
  /** reference `find_tombstones` (graph.py:390-407) has no storage analog
    * here (immutability = no tombstones); the parity operation is a
    * compaction rewrite: coalesce small files, returning (files, rows)
    * stats like the reference's reclaimed-slot accounting. */
  def compact(targetPartitions: Int = 4): (KinGraph, Long, Long) = {
    // operator-local persists routed through CacheScope so a harness
    // releaseAll() after the consuming query drops them (the plans stay
    // valid — they just recompute if the compacted graph is reused later)
    val n = CacheScope.cached(nodes.repartition(targetPartitions))
    val e = CacheScope.cached(edges.repartition(targetPartitions))
    (derive(n, e), n.count(), e.count())
  }

  /** reference `close()` (graph.py:852-854): release resources. */
  def close(): Unit = emptyCache()

  /** Truncate plan lineage. Call-at-a-time mutation chains (the reference's
    * native style, SURVEY §4 "per-call point lookups are pathological")
    * grow the logical plan per op; checkpointing every N ops keeps analysis
    * cost O(1) per op. Batched mutation (addEdges with a whole DataFrame)
    * is still the intended fast path and needs no checkpoints. */
  def checkpointed(): KinGraph =
    derive(nodes.localCheckpoint(true), edges.localCheckpoint(true))

  // --------------------------------------------------------------- caching
  /** reference `preload` ctor flag (graph.py:59-60): warm the cache. */
  def preload(): KinGraph = {
    nodes.persist(StorageLevel.MEMORY_AND_DISK); nodes.count()
    edges.persist(StorageLevel.MEMORY_AND_DISK); edges.count()
    this
  }
  /** reference `empty_cache` (graph.py:383-388): drops BOTH cache tiers —
    * the driver-side point-lookup LRU (the reference's 4 LRUCache maps)
    * and any persisted node/edge frames (the preload tier). */
  def emptyCache(): KinGraph = {
    cache.clear()
    nodes.unpersist(); edges.unpersist(); this
  }
}

object KinGraph {
  /** A single-row LRU entry's key: kind ('n' node, 'e' edge) and identity. */
  private type RowKey = (Char, String, String, Int)

  /** UTF-8 byte order, which `sort_array` and `ORDER BY` use on strings
    * (UTF-16 order differs from it on supplementary-plane characters). */
  private val Utf8Order: Ordering[String] =
    (a, b) => UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** One store bucket's rows, indexed: node rows by key, edge rows by src. */
  private final class Bucket(nodeRows: Array[Row], edgeRows: Array[Row],
                             nodeSchema: StructType, edgeSchema: StructType) {
    private val Seq(dstAt, etypeAt) = Seq("dst", "etype").map(edgeSchema.fieldIndex)
    val nodes: Map[String, Row] = {
      val keyAt = nodeSchema.fieldIndex("key")
      nodeRows.iterator.map(r => r.getString(keyAt) -> r).toMap
    }
    val out: Map[String, Array[Row]] =
      edgeRows.groupBy(_.getString(edgeSchema.fieldIndex("src")))
    def edge(src: String, dst: String, etype: Int): Option[Row] =
      out.get(src).flatMap(_.find(r => r.getString(dstAt) == dst && r.get(etypeAt) == etype))
    /** Distinct out-neighbors in `sort_array` order. */
    def neighbors(key: String): Seq[String] =
      out.get(key).fold(Seq.empty[String])(_.map(_.getString(dstAt)).distinct.toSeq)
        .sorted(Utf8Order)
  }

  /** A KinGraph's point-read LRU: store buckets keyed by bucket id and
    * single rows keyed by [[RowKey]], weighed in rows and evicted eldest
    * first, plus the ids of buckets too big to keep. */
  private final class ReadCache(bound: Int) {
    private val entries =
      new java.util.LinkedHashMap[Any, (AnyRef, Int)](64, 0.75f, true)
    private val tooBig = scala.collection.mutable.Set.empty[Int]
    private var held = 0L

    def rows: Long = synchronized(held)
    def bucket(b: Int): Option[Bucket] =
      synchronized(Option(entries.get(b))).map(_._1.asInstanceOf[Bucket])
    def row(k: RowKey): Option[Row] =
      synchronized(Option(entries.get(k))).map(_._1.asInstanceOf[Row])
    def isTooBig(b: Int): Boolean = synchronized(tooBig.contains(b))
    def markTooBig(b: Int): Unit = synchronized { tooBig += b; () }
    def putBucket(b: Int, v: Bucket, weight: Int): Unit = put(b, v, weight)
    def putRow(k: RowKey, v: Row): Unit = put(k, v, 1)

    private def put(k: Any, v: AnyRef, weight: Int): Unit = synchronized {
      if (weight <= bound) {
        Option(entries.put(k, (v, weight))).foreach(old => held -= old._2)
        held += weight
        val eldest = entries.values.iterator
        while (held > bound) { held -= eldest.next()._2; eldest.remove() }
      }
    }

    def clear(): Unit = synchronized { entries.clear(); tooBig.clear(); held = 0 }
  }

  /** Default key hash (the reference's built-in dictionary hash analog). */
  val DefaultHashFunc: Column => Column = c => xxhash64(c)

  /** Build from raw DataFrames, normalizing required columns. */
  def apply(nodes: DataFrame, edges: DataFrame,
            hashFunc: Column => Column = DefaultHashFunc,
            maxKeyLen: Int = Int.MaxValue): KinGraph = {
    require(nodes.columns.contains("key"), "nodes needs a 'key' column")
    require(edges.columns.contains("src") && edges.columns.contains("dst"),
      "edges needs 'src' and 'dst' columns")
    new KinGraph(nodes, withEtype(edges), hashFunc, maxKeyLen = maxKeyLen)
  }

  /** Build a graph from an edge list alone; nodes are derived from distinct
    * endpoints (the common case for the derived testdata graphs). */
  def fromEdges(edges: DataFrame,
                hashFunc: Column => Column = DefaultHashFunc): KinGraph = {
    val e = withEtype(edges)
    val nodes = e.select(col("src").as("key"))
      .union(e.select(col("dst").as("key"))).distinct()
    new KinGraph(nodes, e, hashFunc)
  }

  /** `edges` with an `etype` column: an edge list without one is type 0. */
  private[graft] def withEtype(edges: DataFrame): DataFrame =
    if (edges.columns.contains("etype")) edges else edges.withColumn("etype", lit(0))

  /** Pass-through of the optional explicit batch-order column. */
  private[graft] def seqColOf(df: DataFrame): Seq[String] =
    df.columns.filter(_ == BatchOrderCol).toSeq

  /** Name of the optional caller-supplied sequence column that pins
    * within-batch "last write wins" order (higher = later). Add it BEFORE
    * any shuffle to replay the reference's sequential replace semantic
    * exactly on arbitrary inputs. */
  val BatchOrderCol = "__seq"

  /** Last-write-wins upsert: rows in `incoming` replace rows in `base` with
    * the same identity; within `incoming`, later rows win. One shuffle on
    * the identity key.
    *
    * Within-batch order: if `incoming` carries [[BatchOrderCol]], that
    * explicit sequence defines "later" (the faithful analog of the
    * reference's sequential add_node/add_edge replay, graph.py:1353-1431);
    * ties on equal __seq break deterministically by a full-row hash.
    * Otherwise `monotonically_increasing_id` is used, which reflects row
    * order only for order-preserving sources (local collections, file
    * scans); after a join/shuffle the id is partition-major, so the winner
    * depends on the batch's partitioning — supply [[BatchOrderCol]] before
    * any shuffle when exact replay order matters. */
  private[graft] def upsert(base: DataFrame, incoming: DataFrame,
                            keys: Seq[String]): DataFrame = {
    val kept = base.join(incoming.select(keys.map(col): _*).distinct(),
      keys, "left_anti")
    kept.union(lastWriteWins(incoming, keys)
      .select(base.schema.fieldNames.map(col): _*))
  }

  /** [[upsert]]'s within-batch dedup, shared with the store's writes:
    * one row per identity by the order law above, without [[BatchOrderCol]]. */
  private[graft] def lastWriteWins(df: DataFrame, keys: Seq[String]): DataFrame = {
    val attrCols = df.columns.filterNot(_ == BatchOrderCol).map(col)
    val tagged =
      if (df.columns.contains(BatchOrderCol))
        df.withColumn("__ord", col(BatchOrderCol).cast("long"))
      else df.withColumn("__ord", monotonically_increasing_id())
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ord").desc, xxhash64(attrCols: _*).asc)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__ord", "__rn", BatchOrderCol)
  }

  /** Project `df` onto `target` column list, padding absent attribute
    * columns with nulls (keyCols must exist). */
  private[graft] def alignColumns(df: DataFrame, target: Seq[String],
                                  keyCols: Seq[String]): DataFrame = {
    keyCols.foreach(k => require(df.columns.contains(k), s"missing key col $k"))
    val padded = target.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null))
    }
    padded.select(target.map(col): _*)
  }
}
