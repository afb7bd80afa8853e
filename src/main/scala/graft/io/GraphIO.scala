package graft.io

import org.apache.spark.sql.{SaveMode, SparkSession}
import graft.{KinConfig, KinGraph, KinbakuError}
import GraphStore.{edgesPath, nodesPath}

/** Persistence for KinGraph in the [[GraphStore]] layout — the Spark analog
  * of the reference's single-file storage with open flags r/w/n
  * (/root/reference/kinbaku/graph.py:67-70, 282-306):
  *   "r" = open existing read-only (error if absent),
  *   "w" = open existing or create empty,
  *   "n" = always start empty (overwrite).
  *
  * Nodes are partitioned by the bucket of their key and edges by the
  * bucket of their `src`, so point lookups on an opened graph prune to
  * one bucket's files. */
object GraphIO {
  /** Bucket count of a saved graph: up to 32 partition directories are
    * listed on the driver, so `open` runs no Spark job. */
  private val SaveBuckets = 8

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(nodesPath(path))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** `hashFunc` is the reference's user-supplied `hash_func` ctor
    * parameter (graph.py:41-43, 82-90) in generalized form: the pluggable
    * key hash the opened graph uses wherever keys are hashed (e.g. GraphX
    * vertex-id assignment). `maxKeyLen` is the reference's `max_key_len`
    * (graph.py:23-24, default 15) — ON BY DEFAULT here like the reference's
    * per-insert assert (graph.py:1366), enforced batch-wise by
    * addNodes/addEdges; pass Int.MaxValue to disable. Graphs built directly
    * from DataFrames (KinGraph.apply / fromEdges / GraphIO.empty) stay
    * permissive — analytics inputs carry arbitrary keys. */
  def open(spark: SparkSession, path: String, flag: String = "w",
           hashFunc: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
             KinGraph.DefaultHashFunc,
           maxKeyLen: Int = KinConfig.DefaultMaxKeyLen): KinGraph =
    flag match {
      case "r" | "w" if exists(spark, path) =>
        GraphStore.load(spark, path, hashFunc, maxKeyLen)
      case "r" =>
        throw new KinbakuError(s"graph not found at $path (flag=r)")
      case "w" | "n" => empty(spark, hashFunc, maxKeyLen)
      case other => throw new KinbakuError(s"unknown flag: $other")
    }

  def empty(spark: SparkSession,
            hashFunc: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
              KinGraph.DefaultHashFunc,
            maxKeyLen: Int = Int.MaxValue): KinGraph = {
    import org.apache.spark.sql.types._
    val nodeSchema = StructType(Seq(StructField("key", StringType)))
    val edgeSchema = StructType(Seq(
      StructField("src", StringType), StructField("dst", StringType),
      StructField("etype", IntegerType)))
    KinGraph(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], nodeSchema),
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], edgeSchema),
      hashFunc,
      maxKeyLen = maxKeyLen)
  }

  /** Persist a graph snapshot as a [[GraphStore]] of 8 buckets, one file
    * per bucket, replacing whatever the directory held.
    *
    * NOTE on key length and round-trips: `maxKeyLen` is NOT persisted (the
    * reference's max_key_len is a ctor parameter, not a header field —
    * graph.py:23-24), and `open` applies the reference default of 15.
    * A graph built permissively (KinGraph.apply / fromEdges with analytics
    * keys longer than 15) saves fine but a later `open` will throw
    * KeyTooLong on node()/addNodes/addEdges — reopen such graphs with
    * `maxKeyLen = Int.MaxValue`. */
  def save(g: KinGraph, path: String): Unit =
    GraphStore.save(g, path, SaveBuckets)

  /** Format-parameterized export/import (CSV/JSON interchange alongside the
    * canonical store layout). CSV writes headers; both formats read back
    * with schema inference pinned by the caller-visible column contract. */
  def export(g: KinGraph, path: String, format: String): Unit = {
    val n = g.nodes.write.mode(SaveMode.Overwrite).format(format)
    val e = g.edges.write.mode(SaveMode.Overwrite).format(format)
    format match {
      case "csv" =>
        n.option("header", "true").save(nodesPath(path))
        e.option("header", "true").save(edgesPath(path))
      case _ =>
        n.save(nodesPath(path)); e.save(edgesPath(path))
    }
  }

  def importFrom(spark: SparkSession, path: String, format: String): KinGraph = {
    val r = spark.read.format(format)
    val withOpts = format match {
      case "csv" => r.option("header", "true").option("inferSchema", "true")
      case _ => r
    }
    KinGraph(withOpts.load(nodesPath(path)), withOpts.load(edgesPath(path)))
  }
}
