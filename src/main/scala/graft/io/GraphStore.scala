package graft.io

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import graft.KinGraph

/** Hash-bucket-PARTITIONED persisted graph layout for incremental mutation
  * at scale — the complement of [[GraphIO.saveBucketed]] (which optimizes
  * point READS via catalog bucketing but, like any saveAsTable layout, can
  * only be replaced wholesale).
  *
  * Layout: `path/edges/bucket=NN/…` and `path/nodes/bucket=NN/…` with
  * `bucket = pmod(xxhash64(src|key), nBuckets)`, plus each table's data
  * schema (without `bucket`) as JSON in `path/{edges,nodes}/_schema.json`.
  * The schema is fixed when the table is written, like kinbaku's header
  * schema; every read hands it to `spark.read.schema`, so opening a store
  * or upserting into it runs no parquet schema-inference job. Spark's file
  * index skips `_`-prefixed paths, so the file is invisible to the scan.
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

  /** Per-table schema file. MUST start with '_' (or '.') so Spark's file
    * index does not take it for data. */
  val SchemaFile = "_schema.json"

  private def edgesPath(path: String) = s"$path/edges"
  private def nodesPath(path: String) = s"$path/nodes"

  private def bucketOf(c: Column, buckets: Int): Column =
    pmod(xxhash64(c), lit(buckets.toLong)).cast("int")

  /** Last-write-wins dedup on `keys` — the same window law as
    * [[KinGraph.upsert]] (explicit __seq wins, else source row order via
    * monotonically_increasing_id, ties by full-row hash) so the store's
    * replace semantics match the in-memory graph's exactly. */
  private def lastWriteWins(df: DataFrame, keys: Seq[String]): DataFrame = {
    val attrCols = df.columns.filterNot(_ == KinGraph.BatchOrderCol).map(col)
    val tagged =
      if (df.columns.contains(KinGraph.BatchOrderCol))
        df.withColumn("__ord", col(KinGraph.BatchOrderCol).cast("long"))
      else df.withColumn("__ord", monotonically_increasing_id())
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ord").desc, xxhash64(attrCols: _*).asc)
    tagged.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__ord", "__rn", KinGraph.BatchOrderCol)
  }

  private def writeBucketed(df: DataFrame, keyCol: String, path: String,
                            buckets: Int): Unit = {
    df.withColumn(BucketCol, bucketOf(col(keyCol), buckets))
      .repartition(col(BucketCol)) // one file per touched bucket, not B×tasks
      .write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(path)
    // after the write: the overwrite clears the whole table directory
    val (fs, file) = schemaFile(df.sparkSession, path)
    val w = fs.create(file, true)
    try w.write(df.schema.json.getBytes(UTF_8)) finally w.close()
  }

  private def schemaFile(spark: SparkSession,
                         tablePath: String): (FileSystem, Path) = {
    val p = new Path(tablePath, SchemaFile)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** A table as written — data columns in their stored schema plus the
    * discovered `bucket` partition column — without reading any parquet
    * footer. A table with no schema file (written by a build that
    * predates it) is an error, not a fallback to inference. */
  private def scan(spark: SparkSession, tablePath: String): DataFrame = {
    val (fs, file) = schemaFile(spark, tablePath)
    if (!fs.exists(file))
      throw new FileNotFoundException(s"$file: GraphStore table has no " +
        "stored schema; rewrite it with GraphStore.write/writeEdges/writeNodes")
    val r = fs.open(file)
    val json = try new String(r.readAllBytes(), UTF_8) finally r.close()
    spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType])
      .parquet(tablePath)
  }

  /** Initial edge-state write: batch dedup (last write wins) + one
    * hash-partitioned write — strictly linear, no full-state window. */
  def writeEdges(spark: SparkSession, path: String, edges: DataFrame,
                 buckets: Int): Unit = {
    val withType =
      if (edges.columns.contains("etype")) edges
      else edges.withColumn("etype", lit(0))
    writeBucketed(lastWriteWins(withType, Seq("src", "dst", "etype")),
      "src", edgesPath(path), buckets)
  }

  /** Initial node-state write (key-deduped, replace semantics). */
  def writeNodes(spark: SparkSession, path: String, nodes: DataFrame,
                 buckets: Int): Unit =
    writeBucketed(lastWriteWins(nodes, Seq("key")), "key",
      nodesPath(path), buckets)

  /** Persist a full graph snapshot into the mutable layout. */
  def write(g: KinGraph, path: String, buckets: Int = 64): Unit = {
    writeNodes(g.nodes.sparkSession, path, g.nodes, buckets)
    writeEdges(g.edges.sparkSession, path, g.edges, buckets)
  }

  def readEdges(spark: SparkSession, path: String): DataFrame =
    scan(spark, edgesPath(path)).drop(BucketCol)

  def readNodes(spark: SparkSession, path: String): DataFrame =
    scan(spark, nodesPath(path)).drop(BucketCol)

  def open(spark: SparkSession, path: String): KinGraph =
    KinGraph(readNodes(spark, path), readEdges(spark, path))

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
    val withType =
      if (delta.columns.contains("etype")) delta
      else delta.withColumn("etype", lit(0))
    val persisted = scan(spark, edgesPath(path))
    val cols = persisted.columns.filterNot(_ == BucketCol)
    // align to the persisted schema BEFORE the dedup window — the window's
    // tie-break hashes the aligned column set, matching KinGraph.addEdges'
    // alignColumns-then-upsert order exactly
    val seqCol =
      if (withType.columns.contains(KinGraph.BatchOrderCol))
        Seq(KinGraph.BatchOrderCol) else Nil
    val padded = cols.foldLeft(withType) { (d, c) =>
      if (d.columns.contains(c)) d else d.withColumn(c, lit(null))
    }.select((cols ++ seqCol).map(col): _*)
    val dd = lastWriteWins(padded, Seq("src", "dst", "etype"))
      .withColumn(BucketCol, bucketOf(col("src"), buckets))
      .localCheckpoint(true) // read 4×: bucket sets, anti-join, union, endpoints
    // a node's bucket is its key's hash, so the src bucket doubles as the
    // src endpoint's node bucket
    val Seq(touched, dstBuckets) =
      bucketSets(dd, col(BucketCol), bucketOf(col("dst"), buckets))
    if (touched.isEmpty) return
    val existing = persisted.filter(col(BucketCol).isin(touched: _*))
    // lastWriteWins left dd unique on the triple: no distinct needed
    val kept = existing.join(dd.select("src", "dst", "etype"),
      Seq("src", "dst", "etype"), "left_anti")
    overwriteTouched(kept.unionByName(dd), edgesPath(path))

    // endpoint auto-create, same pruning law on the nodes table: check
    // existence only in the buckets the delta's endpoint keys hash into;
    // skip the node write entirely when nothing is missing
    val touchedN = (touched ++ dstBuckets).distinct
    val epk = dd.select(col("src").as("key"))
      .union(dd.select(col("dst").as("key"))).distinct()
      .withColumn(BucketCol, bucketOf(col("key"), buckets))
    val existingN = scan(spark, nodesPath(path))
      .filter(col(BucketCol).isin(touchedN: _*))
    val missing = epk.join(existingN.select("key"), Seq("key"), "left_anti")
      .localCheckpoint(true) // read twice: bucket set + union
    // only buckets that actually gained a node need rewriting
    val Seq(hot) = bucketSets(missing, col(BucketCol))
    if (hot.nonEmpty) {
      val ncols = existingN.columns
      val padded = ncols.foldLeft(missing) { (d, c) =>
        if (d.columns.contains(c)) d else d.withColumn(c, lit(null))
      }.select(ncols.map(col): _*)
      overwriteTouched(
        existingN.filter(col(BucketCol).isin(hot: _*)).unionByName(padded),
        nodesPath(path))
    }
  }
}
