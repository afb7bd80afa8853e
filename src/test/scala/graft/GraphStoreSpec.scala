package graft

import java.io.{File, FileNotFoundException}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.io.GraphStore

/** The bucket-pruned persisted upsert: merge-content parity with
  * KinGraph.addEdges, and the on-disk pruning contract — buckets the delta
  * does not hash into keep their files byte-identical (same paths, sizes
  * and modification times), which no SQL oracle can observe. Also pins
  * the stored-schema read path and the upsert's Spark job count. */
class GraphStoreSpec extends SparkSpec {
  import spark.implicits._

  private val OverwriteMode = "spark.sql.sources.partitionOverwriteMode"

  private def freshDir(tag: String): String =
    Files.createTempDirectory(s"graft_store_$tag").toString + "/g"

  /** (relative path, length, mtime) of every data file under a dir. */
  private def fileState(root: String): Map[String, (Long, Long)] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f)
    val base = new File(root)
    walk(base)
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath.stripPrefix(base.getAbsolutePath) ->
        (f.length(), f.lastModified()))
      .toMap
  }

  /** A weighted 4-edge store at 8 buckets, and a delta that replaces
    * (a,b,0), inserts (e,f,0) with BOTH endpoints auto-created, and
    * carries within-batch duplicate (a,c,0) rows where the LAST must win.
    * Returns (dir, base edges, nodes, delta). */
  private def mergeFixture(tag: String)
      : (String, DataFrame, DataFrame, DataFrame) = {
    val dir = freshDir(tag)
    val base = Seq(
      ("a", "b", 0, 10L), ("a", "c", 0, 11L),
      ("b", "c", 0, 12L), ("c", "d", 1, 13L)).toDF("src", "dst", "etype", "w")
    val nodes = Seq("a", "b", "c", "d").toDF("key")
    GraphStore.writeEdges(spark, dir, base, 8)
    GraphStore.writeNodes(spark, dir, nodes, 8)
    val delta = Seq(
      ("a", "b", 0, 99L), ("e", "f", 0, 50L),
      ("a", "c", 0, 7L), ("a", "c", 0, 8L)).toDF("src", "dst", "etype", "w")
      .withColumn(KinGraph.BatchOrderCol, monotonically_increasing_id())
    (dir, base, nodes, delta)
  }

  /** Upsert the merge fixture and compare with KinGraph.addEdges; the
    * session's partition overwrite mode must read the same afterwards. */
  private def checkMergeParity(tag: String): Unit = {
    val (dir, base, nodes, delta) = mergeFixture(tag)
    val modeBefore = spark.conf.getOption(OverwriteMode)
    GraphStore.upsertEdges(spark, dir, delta, 8)
    assert(spark.conf.getOption(OverwriteMode) == modeBefore)
    val got = GraphStore.open(spark, dir)

    val want = KinGraph(nodes, base).addEdges(delta)
    assert(got.edges.select("src", "dst", "etype", "w").collect().toSet ==
      want.edges.select("src", "dst", "etype", "w").collect().toSet)
    assert(got.nodes.select("key").as[String].collect().toSet ==
      want.nodes.select("key").as[String].collect().toSet)
    // the replaced row carries the delta's value, last-write-wins inside
    // the batch
    val w = got.edges.filter(col("src") === "a" && col("dst") === "c")
      .select("w").as[Long].head()
    assert(w == 8L)
  }

  private def bucketDirOf(rel: String): String =
    rel.split('/').find(_.startsWith("bucket=")).getOrElse(sys.error(rel))

  test("upsertEdges merge content matches KinGraph.addEdges exactly") {
    checkMergeParity("parity")
  }

  test("merge parity holds under a STATIC session overwrite mode, " +
    "and the upsert leaves that mode as it was") {
    spark.conf.set(OverwriteMode, "STATIC")
    try checkMergeParity("static")
    finally spark.conf.unset(OverwriteMode)
  }

  test("a save or initial write replaces every bucket under a DYNAMIC " +
    "session overwrite mode") {
    val dir = freshDir("dynsave")
    def edges(n: Int) = (0 until n).map(i => (s"s$i", s"t$i", 0)).toDF("src", "dst", "etype")
    def graph(n: Int) = KinGraph.fromEdges(edges(n))
    spark.conf.set(OverwriteMode, "DYNAMIC")
    try {
      graft.io.GraphIO.save(graph(40), dir)
      graft.io.GraphIO.save(graph(2), dir) // hits at most 2 of the 8 buckets
      val g = graft.io.GraphIO.open(spark, dir, "r")
      assert(g.nEdges == 2 && g.nNodes == 4)
      GraphStore.writeEdges(spark, dir, edges(40), 8)
      GraphStore.writeEdges(spark, dir, edges(2), 8)
      assert(GraphStore.readEdges(spark, dir).count() == 2)
    } finally spark.conf.unset(OverwriteMode)
  }

  test("untouched buckets keep byte-identical files after an upsert") {
    val dir = freshDir("prune")
    val base = spark.range(2000).select(
      concat(lit("n"), col("id") % 100).as("src"),
      concat(lit("m"), col("id")).as("dst"),
      lit(0).as("etype"))
    GraphStore.writeEdges(spark, dir, base, 8)
    GraphStore.writeNodes(spark, dir,
      base.select(col("src").as("key"))
        .union(base.select(col("dst").as("key"))).distinct(), 8)
    val before = fileState(dir + "/edges")
    val beforeNodes = fileState(dir + "/nodes")

    // single-src delta → exactly one edge bucket may change; dsts all
    // exist → the node table must not be rewritten at all
    val delta = Seq(("n1", "m5", 0), ("n1", "m6", 0))
      .toDF("src", "dst", "etype")
    GraphStore.upsertEdges(spark, dir, delta, 8)

    val after = fileState(dir + "/edges")
    val srcBucket = spark.range(1).select(
      pmod(xxhash64(lit("n1")), lit(8L)).cast("int")).as[Int].head()
    val changed = (before.keySet ++ after.keySet).filter(k =>
      before.get(k) != after.get(k)).map(bucketDirOf)
    assert(changed == Set(s"bucket=$srcBucket"),
      s"expected only bucket=$srcBucket to change, got $changed")
    assert(fileState(dir + "/nodes") == beforeNodes,
      "node buckets rewritten although no endpoint was missing")

    // and the merge really landed: the two new edges are present
    assert(GraphStore.readEdges(spark, dir)
      .filter(col("src") === "n1" && col("dst").isin("m5", "m6"))
      .count() == 2)
  }

  test("auto-create rewrites only node buckets that gained a key") {
    val dir = freshDir("nodes")
    val base = Seq(("a", "b", 0)).toDF("src", "dst", "etype")
    GraphStore.writeEdges(spark, dir, base, 8)
    GraphStore.writeNodes(spark, dir, Seq("a", "b").toDF("key"), 8)
    val before = fileState(dir + "/nodes")
    val delta = Seq(("a", "zz9", 0)).toDF("src", "dst", "etype")
    GraphStore.upsertEdges(spark, dir, delta, 8)
    val after = fileState(dir + "/nodes")
    val newBucket = spark.range(1).select(
      pmod(xxhash64(lit("zz9")), lit(8L)).cast("int")).as[Int].head()
    val changed = (before.keySet ++ after.keySet).filter(k =>
      before.get(k) != after.get(k)).map(bucketDirOf)
    assert(changed == Set(s"bucket=$newBucket"),
      s"expected only bucket=$newBucket to change, got $changed")
    assert(GraphStore.readNodes(spark, dir).as[String].collect().toSet ==
      Set("a", "b", "zz9"))
  }

  test("open runs no Spark job; an upsert runs at most 12") {
    val (dir, _, _, delta) = mergeFixture("jobs")
    // the fixture touches two edge buckets and creates two nodes, so both
    // table rewrites run
    assert(jobsOf(GraphStore.upsertEdges(spark, dir, delta, 8)) <= 12)
    assert(jobsOf(GraphStore.open(spark, dir)) == 0)
  }

  test("stored schema equals the schema parquet inference gives") {
    val dir = freshDir("schema")
    GraphStore.writeEdges(spark, dir,
      Seq(("a", "b", 0, 1.5, Seq(1, 2))).toDF("src", "dst", "etype", "w", "tags"),
      4)
    GraphStore.writeNodes(spark, dir,
      Seq(("a", 3L), ("b", 4L)).toDF("key", "rank"), 4)
    def fields(df: DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq
    val g = GraphStore.open(spark, dir)
    for ((table, stored) <- Seq("edges" -> g.edges, "nodes" -> g.nodes)) {
      val inferred = spark.read.parquet(s"$dir/$table").drop(GraphStore.BucketCol)
      assert(fields(stored) == fields(inferred), table)
    }
  }

  test("an empty delta leaves both tables' files untouched") {
    val (dir, _, _, delta) = mergeFixture("empty")
    val edges = fileState(dir + "/edges")
    val nodes = fileState(dir + "/nodes")
    GraphStore.upsertEdges(spark, dir, delta.limit(0), 8)
    assert(fileState(dir + "/edges") == edges)
    assert(fileState(dir + "/nodes") == nodes)
  }

  test("a write with another bucket count than the store's throws") {
    val dir = freshDir("buckets")
    val base = (0 until 20).map(i => (s"n$i", s"m$i", 0, i.toLong))
      .toDF("src", "dst", "etype", "w")
    GraphStore.writeEdges(spark, dir, base, 8)
    GraphStore.writeNodes(spark, dir, base.select(col("src").as("key"))
      .union(base.select(col("dst").as("key"))), 8)
    // an existing edge whose src hashes to another bucket under 16
    val bucketsOf = base.select(col("src"), col("dst"),
      pmod(xxhash64(col("src")), lit(8L)).as("b8"),
      pmod(xxhash64(col("src")), lit(16L)).as("b16"))
    val moved = bucketsOf.filter(col("b8") =!= col("b16")).select("src", "dst")
      .as[(String, String)].head()
    val edges = fileState(dir + "/edges")
    val e = intercept[KinbakuError](GraphStore.upsertEdges(spark, dir,
      Seq((moved._1, moved._2, 0, 1L)).toDF("src", "dst", "etype", "w"), 16))
    assert(e.getMessage.contains("with 8 buckets, not 16"), e.getMessage)
    assert(fileState(dir + "/edges") == edges)
    assert(GraphStore.readEdges(spark, dir)
      .filter(col("src") === moved._1 && col("dst") === moved._2).count() == 1)
    assertThrows[KinbakuError](GraphStore.writeNodes(spark, dir,
      Seq("n0").toDF("key"), 16))
    assertThrows[KinbakuError](GraphStore.writeEdges(spark, dir, base, 4))
    GraphStore.writeEdges(spark, dir, base, 8) // the stored count is fine
  }

  test("open takes the bucket count from the store and checks the tables " +
    "agree; a table without the record fails, naming the file") {
    val (dir, _, _, _) = mergeFixture("record")
    val nodesRecord = new File(s"$dir/nodes/${GraphStore.BucketsFile}")
    Files.writeString(nodesRecord.toPath, "16")
    new File(s"$dir/nodes/.${GraphStore.BucketsFile}.crc").delete()
    val e = intercept[KinbakuError](GraphStore.open(spark, dir))
    assert(e.getMessage.contains("nodes are stored with 16 buckets but " +
      "edges with 8"), e.getMessage)
    assert(nodesRecord.delete())
    val missing = intercept[FileNotFoundException](GraphStore.open(spark, dir))
    assert(missing.getMessage.contains(s"nodes/${GraphStore.BucketsFile}"),
      missing.getMessage)
  }

  test("a table without a schema file fails loudly, naming the file") {
    val (dir, _, _, delta) = mergeFixture("noschema")
    val file = new File(s"$dir/edges/${GraphStore.SchemaFile}")
    assert(file.delete())
    for (call <- Seq[() => Any](() => GraphStore.open(spark, dir),
        () => GraphStore.upsertEdges(spark, dir, delta, 8))) {
      val e = intercept[FileNotFoundException](call())
      assert(e.getMessage.contains(s"edges/${GraphStore.SchemaFile}"),
        e.getMessage)
    }
  }
}
