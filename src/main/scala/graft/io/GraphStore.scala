package graft.io

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression,
  GenericRowWithSchema, Literal, Pmod, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import graft.{KinGraph, KinbakuError}

/** The persisted graph layout, which [[GraphIO.save]]/[[GraphIO.open]]
  * write and read: hash-bucket PARTITIONED tables that also support
  * incremental mutation at scale.
  *
  * Layout: `path/edges/bucket=NN/…` and `path/nodes/bucket=NN/…` with
  * `bucket = pmod(xxhash64(src|key), nBuckets)`, plus each table's data
  * schema (without `bucket`) in `_schema.json` and its bucket count in
  * `_buckets`. Both are fixed when the table is written, like kinbaku's
  * header: reads hand the schema to `spark.read.schema`, so no parquet
  * schema-inference job runs, and writes check their bucket count. A
  * graph opened from a store carries its [[Layout]], so a key probe reads
  * one bucket (kinbaku's one index descent), and the graph's point-read
  * LRU keeps whole buckets. The bucket hash is a layout constant, not the
  * pluggable `KinGraph.hashFunc`.
  *
  * An incremental upsert (reference `add_edge` semantics — (src,dst,etype)
  * replace + endpoint auto-create, graph.py:1446-1453) rewrites ONLY the
  * buckets its delta hashes into, via dynamic partition overwrite (the
  * d_export_dynamic lakehouse discipline applied to graph state): cost is
  * O(delta + touched-bucket state), never O(full graph). This is the
  * scale-safe alternative to [[graft.KinGraph.addEdges]]' full-state
  * window-dedup for persisted graphs — at 100 TB an upsert whose delta
  * hits 8 of 4096 buckets reads and writes ~0.2% of the edge state. The
  * merge reads the touched buckets and rewrites them in the same job:
  * the dynamic-overwrite commit stages the new files and swaps each
  * partition directory in only at job commit, after every task has read
  * its input, so no pre-write materialization is needed.
  *
  * Bucket count guidance: pick `buckets` so a bucket ≈ one HDFS block at
  * the target scale (it is a layout constant — changing it is a rewrite,
  * exactly like choosing a table's bucketing). */
object GraphStore {
  /** Partition column name. Must not start with '_' — Spark's file index
    * hides underscore-prefixed paths, which would make `bucket=NN` dirs
    * invisible to partition discovery. */
  val BucketCol = "bucket"

  /** Per-table schema and bucket-count files. MUST start with '_' (or
    * '.') so Spark's file index does not take them for data. */
  val SchemaFile = "_schema.json"
  val BucketsFile = "_buckets"

  private[io] def edgesPath(path: String) = s"$path/edges"
  private[io] def nodesPath(path: String) = s"$path/nodes"

  /** The bucket law: `pmod(xxhash64(key), buckets)` as an int. Writes
    * apply it to a column; reads evaluate it on the driver. */
  private def bucketExpr(key: Expression, buckets: Int): Expression =
    Cast(Pmod(new XxHash64(Seq(key)), Literal(buckets.toLong)), IntegerType)

  private def bucketOf(c: Column, buckets: Int): Column =
    ColumnBridge.column(bucketExpr(ColumnBridge.expression(c), buckets))

  private def withBucket(df: DataFrame, keyCol: String, buckets: Int) =
    df.withColumn(BucketCol, bucketOf(col(keyCol), buckets))

  /** A store's two tables as scanned, with their `bucket` column. A
    * bucket holds the node rows of its keys and the edges out of them
    * (edges are bucketed by `src`). Key reads filter on the keys' buckets,
    * computed on the driver, so the scan prunes to them. */
  final class Layout private[GraphStore] (
      private[GraphStore] val nodesScan: DataFrame,
      private[GraphStore] val edgesScan: DataFrame,
      buckets: Int) extends Serializable {
    /** The bucket holding `key`'s node row and the edges out of `key`. */
    private[graft] def bucketOf(key: String): Int =
      bucketExpr(Literal(key), buckets).eval().asInstanceOf[Int]

    private[graft] def nodesAt(keys: Seq[String], pred: Column): DataFrame =
      inBuckets(nodesScan, keys.map(bucketOf), pred)
    /** Edges matching `pred`, which holds only for `side` in `keys`, read
      * from their buckets alone; None for a side the edges are not
      * bucketed by (only `src` is). */
    private[graft] def edgesAt(side: String, keys: Seq[String],
                               pred: Column): Option[DataFrame] =
      if (side == "src") Some(inBuckets(edgesScan, keys.map(bucketOf), pred))
      else None
    private def inBuckets(scan: DataFrame, bs: Seq[Int], pred: Column) =
      scan.filter(col(BucketCol).isin(bs.distinct: _*) && pred).drop(BucketCol)

    /** Buckets `bs` read whole in one single-stage, single-task Spark job:
      * for each, its node rows and its edge rows, or None when it holds
      * more than `limit` rows, of which at most `limit + 1` reach the
      * driver. */
    private[graft] def read(bs: Seq[Int], limit: Int)
        : Map[Int, Option[(Array[Row], Array[Row])]] = {
      val n = bs.size
      // each row leads with its bucket and carries a node/edge tag
      def tagged(scan: DataFrame, isNode: Boolean) =
        scan.filter(col(BucketCol).isin(bs: _*))
          .select(col(BucketCol) +: dataColumns(scan).map(col): _*)
          .rdd.map(r => (isNode, r))
      val got = tagged(nodesScan, isNode = true)
        .union(tagged(edgesScan, isNode = false)).coalesce(1)
        .mapPartitions(capped(n, limit)).collect().groupBy(_._2.getInt(0))
      def rows(scan: DataFrame, all: Array[(Boolean, Row)], isNode: Boolean) = {
        val schema = scan.drop(BucketCol).schema
        all.collect { case (`isNode`, r) =>
          new GenericRowWithSchema(r.toSeq.tail.toArray, schema): Row }
      }
      bs.map { b =>
        val all = got.getOrElse(b, Array.empty[(Boolean, Row)])
        b -> Option.when(all.length <= limit)(
          (rows(nodesScan, all, isNode = true), rows(edgesScan, all, isNode = false)))
      }.toMap
    }
  }

  private def dataColumns(scan: DataFrame): Seq[String] =
    scan.columns.toSeq.filterNot(_ == BucketCol)

  /** The rows of one partition, at most `limit + 1` per bucket (each row's
    * field 0), read until each of the `n` buckets has passed `limit`. */
  private def capped(n: Int, limit: Int)(rows: Iterator[(Boolean, Row)])
      : Iterator[(Boolean, Row)] = {
    val seen = mutable.Map.empty[Int, Long]
    var full = 0
    rows.takeWhile(_ => full < n).filter { case (_, r) =>
      val c = seen.getOrElse(r.getInt(0), 0L) + 1
      seen(r.getInt(0)) = c
      if (c == limit + 1L) full += 1
      c <= limit + 1L
    }
  }

  /** Replace the whole table at `path` with `df` bucketed on `keyCol`,
    * then record its schema and bucket count. One file per bucket, from
    * one write task per bucket: a fixed partition count, where AQE would
    * fold a small table into one task. The overwrite is static whatever
    * the session's mode, so no bucket of an earlier table survives. */
  private def writeTable(df: DataFrame, keyCol: String, path: String,
                         buckets: Int): Unit = {
    withBucket(df, keyCol, buckets).repartition(buckets, col(BucketCol))
      .write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "static")
      .partitionBy(BucketCol).parquet(path)
    // after the write: the overwrite clears the whole table directory
    for ((name, text) <- Seq(SchemaFile -> df.schema.json,
                             BucketsFile -> buckets.toString)) {
      val (fs, file) = tableFile(df.sparkSession, path, name)
      val w = fs.create(file, true)
      try w.write(text.getBytes(UTF_8)) finally w.close()
    }
  }

  /** [[GraphIO.save]]'s write: no dedup (a KinGraph is unique on its
    * identities) and no count check (both tables are replaced). */
  private[io] def save(g: KinGraph, path: String, buckets: Int): Unit = {
    writeTable(g.nodes, "key", nodesPath(path), buckets)
    writeTable(g.edges, "src", edgesPath(path), buckets)
  }

  private def tableFile(spark: SparkSession, tablePath: String,
                        name: String): (FileSystem, Path) = {
    val p = new Path(tablePath, name)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def readFile(spark: SparkSession, tablePath: String,
                       name: String): Option[String] = {
    val (fs, file) = tableFile(spark, tablePath, name)
    if (!fs.exists(file)) None
    else {
      val r = fs.open(file)
      try Some(new String(r.readAllBytes(), UTF_8)) finally r.close()
    }
  }

  /** A table file's text; a table without it (written by a build that
    * predates the file) is an error, not a fallback. */
  private def required(spark: SparkSession, tablePath: String,
                       name: String): String =
    readFile(spark, tablePath, name).getOrElse(throw new FileNotFoundException(
      s"${new Path(tablePath, name)}: GraphStore table has no $name; " +
        "rewrite it with GraphIO.save or GraphStore.writeEdges/writeNodes"))

  /** Throw unless every count the store at `path` records is `buckets`:
    * a row written under another count misses its stored copy's bucket. */
  private def requireBuckets(spark: SparkSession, path: String,
                             buckets: Int): Unit =
    for (t <- Seq(nodesPath(path), edgesPath(path));
         stored <- readFile(spark, t, BucketsFile).map(_.trim.toInt)
         if stored != buckets)
      throw new KinbakuError(s"$t is stored with $stored buckets, " +
        s"not $buckets: a write would misplace its rows")

  /** A table as written — data columns in their stored schema plus the
    * `bucket` partition column — without reading any parquet footer.
    * `bucket` is in the read schema so that an empty table, which has no
    * `bucket=NN` directory to discover, still has the column (all null). */
  private def scan(spark: SparkSession, tablePath: String): DataFrame =
    spark.read.schema(DataType.fromJson(required(spark, tablePath, SchemaFile))
      .asInstanceOf[StructType].add(BucketCol, IntegerType)).parquet(tablePath)

  /** Both tables of the store at `path`, whose recorded bucket counts
    * must agree. Reads no parquet data. */
  private def layout(spark: SparkSession, path: String): Layout = {
    val Seq(n, e) = Seq(nodesPath(path), edgesPath(path))
    val (ns, es) = (scan(spark, n), scan(spark, e))
    val Seq(nb, eb) = Seq(n, e).map(required(spark, _, BucketsFile).trim.toInt)
    if (nb != eb)
      throw new KinbakuError(s"$path: nodes are stored with $nb buckets " +
        s"but edges with $eb; rewrite the store")
    new Layout(ns, es, nb)
  }

  /** The store at `path` as a KinGraph whose key probes read one bucket;
    * `open` and `GraphIO.open` differ only in the key contract. */
  private[io] def load(spark: SparkSession, path: String,
                       hashFunc: Column => Column, maxKeyLen: Int): KinGraph = {
    val l = layout(spark, path)
    new KinGraph(l.nodesScan.drop(BucketCol), l.edgesScan.drop(BucketCol),
      hashFunc, maxKeyLen = maxKeyLen, layout = Some(l))
  }

  /** Initial edge-state write: batch dedup (last write wins) + one
    * hash-partitioned write — strictly linear, no full-state window. */
  def writeEdges(spark: SparkSession, path: String, edges: DataFrame,
                 buckets: Int): Unit = {
    requireBuckets(spark, path, buckets)
    writeTable(KinGraph.lastWriteWins(KinGraph.withEtype(edges),
      Seq("src", "dst", "etype")), "src", edgesPath(path), buckets)
  }

  /** Initial node-state write (key-deduped, replace semantics). */
  def writeNodes(spark: SparkSession, path: String, nodes: DataFrame,
                 buckets: Int): Unit = {
    requireBuckets(spark, path, buckets)
    writeTable(KinGraph.lastWriteWins(nodes, Seq("key")), "key",
      nodesPath(path), buckets)
  }

  def readEdges(spark: SparkSession, path: String): DataFrame =
    scan(spark, edgesPath(path)).drop(BucketCol)

  def readNodes(spark: SparkSession, path: String): DataFrame =
    scan(spark, nodesPath(path)).drop(BucketCol)

  def open(spark: SparkSession, path: String): KinGraph =
    load(spark, path, KinGraph.DefaultHashFunc, Int.MaxValue)

  /** The distinct values of each int column of `df`, one set per column,
    * in a single no-shuffle pass (one Spark job). Bounded by `buckets`,
    * never by data size, so the driver collect is O(partitions × buckets). */
  private def bucketSets(df: DataFrame, cols: Column*): Seq[Seq[Int]] = {
    val n = cols.size
    val perPartition = df.select(cols: _*).rdd.mapPartitions { rows =>
      val sets = Array.fill(n)(mutable.BitSet.empty)
      rows.foreach(r => (0 until n).foreach(i => sets(i) += r.getInt(i)))
      Iterator.single(sets.map(_.toArray))
    }.collect()
    (0 until n).map(i => perPartition.flatMap(_(i)).distinct.toSeq)
  }

  /** Dynamically overwrite only the partitions `df` carries. The write
    * reads from the path it replaces: the per-write dynamic mode stages its
    * output and swaps each partition in at job commit, so that is safe
    * and the session's own overwrite mode is left alone. */
  private def overwriteTouched(df: DataFrame, path: String): Unit =
    df.repartition(col(BucketCol)).write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BucketCol).parquet(path)

  /** Bucket-pruned incremental edge upsert: reference add_edge semantics
    * ((src,dst,etype) identity replace, last write within the batch wins,
    * missing endpoint nodes auto-created) touching ONLY the buckets the
    * delta hashes into. The stored schemas replace footer inference, one
    * pass over the deduped delta collects the touched edge and node
    * buckets, and an empty delta returns before any table is read or
    * written. Reads are partition-pruned by `bucket IN (touched)`; writes
    * go through dynamic partition overwrite, so every untouched bucket's
    * files are left byte-identical on disk (GraphStoreSpec pins this via
    * file modification times). */
  def upsertEdges(spark: SparkSession, path: String, delta: DataFrame,
                  buckets: Int): Unit = {
    val stored = layout(spark, path)
    requireBuckets(spark, path, buckets)
    val cols = dataColumns(stored.edgesScan)
    // align to the persisted schema BEFORE the dedup window — the window's
    // tie-break hashes the aligned column set, matching KinGraph.addEdges'
    // alignColumns-then-upsert order exactly
    val withType = KinGraph.withEtype(delta)
    val padded = KinGraph.alignColumns(withType,
      cols ++ KinGraph.seqColOf(withType), Seq("src", "dst", "etype"))
    val dd = withBucket(KinGraph.lastWriteWins(padded, Seq("src", "dst", "etype")),
      "src", buckets)
      .localCheckpoint(true) // read 4×: bucket sets, anti-join, union, endpoints
    // a node's bucket is its key's hash, so the src bucket doubles as the
    // src endpoint's node bucket
    val Seq(touched, dstBuckets) =
      bucketSets(dd, col(BucketCol), bucketOf(col("dst"), buckets))
    if (touched.isEmpty) return
    val existing = stored.edgesScan.filter(col(BucketCol).isin(touched: _*))
    // lastWriteWins left dd unique on the triple: no distinct needed
    val kept = existing.join(dd.select("src", "dst", "etype"),
      Seq("src", "dst", "etype"), "left_anti")
    overwriteTouched(kept.unionByName(dd), edgesPath(path))

    // endpoint auto-create, same pruning law on the nodes table: check
    // existence only in the buckets the delta's endpoint keys hash into;
    // skip the node write entirely when nothing is missing
    val touchedN = (touched ++ dstBuckets).distinct
    val epk = withBucket(dd.select(col("src").as("key"))
      .union(dd.select(col("dst").as("key"))).distinct(), "key", buckets)
    val existingN = stored.nodesScan
      .filter(col(BucketCol).isin(touchedN: _*))
    val missing = epk.join(existingN.select("key"), Seq("key"), "left_anti")
      .localCheckpoint(true) // read twice: bucket set + union
    // only buckets that actually gained a node need rewriting
    val Seq(hot) = bucketSets(missing, col(BucketCol))
    if (hot.nonEmpty) {
      overwriteTouched(existingN.filter(col(BucketCol).isin(hot: _*))
        .unionByName(KinGraph.alignColumns(missing, existingN.columns, Seq("key"))),
        nodesPath(path))
    }
  }
}
