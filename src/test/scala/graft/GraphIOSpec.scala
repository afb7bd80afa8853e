package graft

import graft.io.GraphIO
import java.nio.file.Files

/** Open/save roundtrip with the reference's r/w/n flag contract
  * (/root/reference/kinbaku/graph.py:67-70, 282-306). */
class GraphIOSpec extends SparkSpec {
  import spark.implicits._

  test("save + open('r') roundtrips nodes and edges") {
    val dir = Files.createTempDirectory("graft_io").toString
    val g = KinGraph(
      Seq("a", "b", "c").toDF("key"),
      Seq(("a", "b", 0), ("b", "c", 1)).toDF("src", "dst", "etype"))
    GraphIO.save(g, dir)
    val g2 = GraphIO.open(spark, dir, "r")
    assert(g2.nNodes == 3 && g2.nEdges == 2)
    assert(g2.hasEdge("b", "c", 1))
  }

  test("a plain-parquet graph dir fails to open, naming the missing file") {
    val dir = Files.createTempDirectory("graft_io_plain").toString
    Seq("a").toDF("key").write.parquet(s"$dir/nodes")
    Seq(("a", "a", 0)).toDF("src", "dst", "etype").write.parquet(s"$dir/edges")
    for (flag <- Seq("r", "w")) {
      val e = intercept[java.io.FileNotFoundException](GraphIO.open(spark, dir, flag))
      assert(e.getMessage.contains(s"nodes/${graft.io.GraphStore.SchemaFile}"),
        e.getMessage)
    }
  }

  test("an edgeless and an empty saved graph answer key probes after open") {
    val dir = Files.createTempDirectory("graft_io_edgeless").toString
    GraphIO.save(KinGraph(Seq("a", "b").toDF("key"),
      Seq.empty[(String, String, Int)].toDF("src", "dst", "etype")), dir)
    val g = GraphIO.open(spark, dir, "r")
    assert(g.hasNode("a") && !g.hasNode("z"))
    assert(!g.hasEdge("a", "b"))
    assert(g.outDegree("a") == 0L && g.inDegree("a") == 0L)
    assert(g.neighbors("a").count() == 0)
    assert(g.neighborsFromSeq(Seq("a", "b")) == Seq("a" -> Nil, "b" -> Nil))
    assertThrows[NodeNotFound](g.outDegree("z"))

    GraphIO.save(GraphIO.empty(spark), dir)
    val e = GraphIO.open(spark, dir, "r")
    assert(e.nNodes == 0 && e.nEdges == 0)
    assert(!e.hasNode("a") && !e.hasEdge("a", "b"))
    assertThrows[NodeNotFound](e.node("a"))
    assertThrows[NodeNotFound](e.neighbors("a"))
    assertThrows[NodeNotFound](e.outDegree("a"))
    assertThrows[NodeNotFound](e.neighborsFrom(Seq("a")))
  }

  test("open('r') on missing path throws; open('w') creates empty") {
    assertThrows[KinbakuError](GraphIO.open(spark, "/tmp/graft_missing_xyz", "r"))
    val g = GraphIO.open(spark, "/tmp/graft_missing_xyz", "w")
    assert(g.nNodes == 0 && g.nEdges == 0)
  }

  test("open('n') ignores existing data (fresh overwrite semantics)") {
    val dir = Files.createTempDirectory("graft_io_n").toString
    GraphIO.save(KinGraph(Seq("x").toDF("key"),
      Seq.empty[(String, String, Int)].toDF("src", "dst", "etype")), dir)
    val g = GraphIO.open(spark, dir, "n")
    assert(g.nNodes == 0)
  }

  test("open carries the user hashFunc on every flag, including n/w-create") {
    import org.apache.spark.sql.functions.{lit, xxhash64}
    val custom: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => xxhash64(lit("io_salt"), c)
    val fresh = GraphIO.open(spark, "/tmp/graft_missing_xyz2", "n", custom)
    assert(fresh.hashFunc eq custom) // create path must not reset to default
    val dir = Files.createTempDirectory("graft_io_h").toString
    GraphIO.save(fresh.addNodes(Seq("a").toDF("key")), dir)
    assert(GraphIO.open(spark, dir, "r", custom).hashFunc eq custom)
  }

  test("csv and json export/import round-trip") {
    val g = KinGraph(
      Seq("a", "b").toDF("key"),
      Seq(("a", "b", 0)).toDF("src", "dst", "etype"))
    for (fmt <- Seq("csv", "json")) {
      val dir = Files.createTempDirectory(s"graft_io_$fmt").toString
      GraphIO.export(g, dir, fmt)
      val g2 = GraphIO.importFrom(spark, dir, fmt)
      assert(g2.nNodes == 2 && g2.nEdges == 1, fmt)
      assert(g2.hasEdge("a", "b"), fmt)
    }
  }

  test("jsonl shard export round-trips, bounds shard sizes, orders globally") {
    import graft.sources.{Export, Tables}
    val docs = Tables.documents(spark, sf)
    val out = java.nio.file.Files.createTempDirectory("jsonl").toString
    val shards = Export.jsonlShards(docs, "doc_id", out, maxRowsPerShard = 100)
    assert(shards == math.ceil(docs.count() / 100.0).toInt)
    val back = Export.readJsonl(spark, out)
    assert(back.count() == docs.count())
    // every doc survives the round trip with its text intact
    val a = docs.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val b = back.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(a == b)
    // range sharding: files exist and none exceeds the bound by more than
    // the sampling slack (2x is generous; exact equality isn't the contract)
    val files = new java.io.File(out).listFiles
      .filter(f => f.getName.startsWith("part-")).toSeq
    assert(files.size == shards)
    val counts = files.map(f =>
      spark.read.json(f.getPath).count())
    assert(counts.sum == docs.count() && counts.forall(_ <= 200))
  }

  test("orc shard export round-trips byte-exact, bounds shard sizes, orders globally") {
    import graft.sources.{Export, Tables}
    val docs = Tables.documents(spark, sf)
    val out = java.nio.file.Files.createTempDirectory("orcsh").toString
    val shards = Export.orcShards(docs, "doc_id", out, maxRowsPerShard = 100)
    assert(shards == math.ceil(docs.count() / 100.0).toInt)
    val back = Export.readOrc(spark, out)
    val a = docs.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    val b = back.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(a == b)
    // range sharding: shard 0 holds the globally smallest ids — the
    // deterministic-epoch-iteration layout contract, same as JSONL
    val files = new java.io.File(out).listFiles
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName).toSeq
    assert(files.size == shards)
    val perFile = files.map(f => {
      val ids = spark.read.orc(f.getPath).select($"doc_id").as[Long].collect()
      (ids.length.toLong, ids.min, ids.max)
    })
    assert(perFile.map(_._1).sum == docs.count() && perFile.forall(_._1 <= 200))
    perFile.sliding(2).foreach {
      case Seq((_, _, hi), (_, lo, _)) => assert(hi < lo, "global order across shards")
      case _ => ()
    }
  }

  test("partitioned parquet export prunes by directory and round-trips") {
    import graft.sources.{Export, Tables}
    val docs = Tables.documents(spark, sf).select($"doc_id", $"lang", $"text")
    val out = java.nio.file.Files.createTempDirectory("pparquet").toString
    Export.partitionedParquet(docs, "lang", "doc_id", out, maxRowsPerShard = 100)
    // hive layout: one directory per lang value
    val dirs = new java.io.File(out).listFiles
      .filter(_.isDirectory).map(_.getName).toSet
    val langs = docs.select("lang").distinct().as[String].collect().toSet
    assert(dirs == langs.map(l => s"lang=$l"))
    // round trip: every doc survives with its partition value restored
    val back = Export.readPartitionedParquet(spark, out)
    assert(back.count() == docs.count())
    val a = docs.select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val b = back.select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    assert(a == b)
    // a partition-value filter reads only that directory (partition pruning
    // visible in the scan's partition filters, not a post-scan filter)
    val pruned = back.filter($"lang" === "en")
    assert(pruned.count() == docs.filter($"lang" === "en").count())
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("lang"),
      s"lang filter must prune partitions:\n${scan.take(600)}")
  }

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
