package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Row, SparkSession}
import graft.{KinGraph, NodeNotFound}
import graft.io.{GraphIO, GraphStore}
import graft.sources.Tables

/** What one run needs: the session, the seed, the time to measure, the
  * tracer and a scratch directory that is deleted when the run ends. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Tracer, val work: java.io.File, val pins: Pins) {
  def path(name: String): String = new java.io.File(work, name).getPath

  /** Runs `op` repeatedly, closed loop, until `seconds` have elapsed and
    * at least two operations have run, so a median never rests on one.
    * Takes a calibration sample between operations about once a second,
    * and five after the loop. */
  def timedLoop(out: Outcome)(op: Int => Unit): Unit = {
    out.timedCpuMs = 0.0
    val end = System.nanoTime() + seconds * 1000000000L
    var calibrated = System.nanoTime()
    var i = 0
    while (i < 2 || System.nanoTime() < end) {
      tracer.nextOp()
      op(i)
      i += 1
      if (System.nanoTime() - calibrated > 1000000000L) {
        out.calibrate(1)
        calibrated = System.nanoTime()
      }
    }
    out.calibrate(5)
  }
}

/** Counts and samples one run reports. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val firstFailures = mutable.ArrayBuffer.empty[String]
  /** Latency of each timed operation, in ms. */
  val ops = new Samples
  /** Duration of each repetition of the set-up, in s. */
  val setups = mutable.ArrayBuffer.empty[Double]
  var warmupS = 0.0
  var gcMs = 0L
  /** Per-call latencies of the timed loop by kind of call, in ms, for
    * workloads whose operation is made of several calls. */
  val kinds = mutable.LinkedHashMap.empty[String, Samples]
  /** CPU time of the Java threads during the timed calls, in ms. */
  var timedCpuMs = 0.0
  /** Calibration samples: wall and thread CPU time, in ms. */
  val calibWall = new Samples
  val calibCpu = new Samples
  /** Workload facts measured outside spans, such as store sizes. */
  val facts = mutable.LinkedHashMap.empty[String, Double]

  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (firstFailures.size < 10) firstFailures += what
    }
  }

  def calibrate(n: Int): Unit = (0 until n).foreach { _ =>
    val cpu0 = Stats.threadCpuMs
    calibWall.add(Calibration.sample())
    calibCpu.add(Stats.threadCpuMs - cpu0)
  }

  /** Factors that scale wall and CPU times of this run to the reference
    * machine speed: `Calibration.RefMs` over the median sample. */
  def wallScale: Double = Calibration.RefMs / calibWall.p50
  def cpuScale: Double = Calibration.RefMs / calibCpu.p50

  /** Runs one set-up repetition and records its duration, after three
    * calibration samples. */
  def setUp[T](body: => T): T = {
    calibrate(3)
    val t0 = System.nanoTime()
    try body finally setups += (System.nanoTime() - t0) / 1e9
  }

  /** Times one call of the timed loop: returns its result and its wall
    * time in ms, and adds the CPU time the Java threads took meanwhile to
    * `timedCpuMs`. The caller checks the result afterwards, outside the
    * bracket. */
  def timed[T](body: => T): (T, Double) = {
    val cpu0 = Stats.javaThreadCpuMs
    val t0 = System.nanoTime()
    val r = body
    val ms = (System.nanoTime() - t0) / 1e6
    timedCpuMs += Stats.javaThreadCpuMsSince(cpu0)
    (r, ms)
  }

  def kind(name: String): Samples = kinds.getOrElseUpdate(name, new Samples)
}

trait Workload {
  def name: String
  def run(c: Ctx, out: Outcome): Unit
  /** Median latency of one operation, before scaling, in ms. */
  def opP50(out: Outcome): Double = out.ops.p50
}

object Workload {
  /** Runs a call that may fail: a thrown error is the result. */
  def attempt[T](body: => T): Either[Throwable, T] =
    try Right(body) catch { case e: Exception => Left(e) }

  /** Set-up repetitions; `setup_s` is the median of all but the first,
    * which also pays for class loading and the JIT's first compiles. */
  val SetUps = 3
}

/** In-memory model of a directed graph, built from the benchmark's own
  * inputs; every read is checked against it. */
final class GraphModel {
  val adj = mutable.HashMap.empty[String, mutable.Set[String]]
  def addNode(k: String): Unit = adj.getOrElseUpdate(k, mutable.HashSet.empty)
  def addEdge(s: String, d: String): Unit = {
    addNode(s); addNode(d); adj(s) += d
  }
  def has(s: String, d: String): Boolean = adj.get(s).exists(_.contains(d))
  def out(k: String): Seq[String] = adj(k).toSeq.sorted
  def copy: GraphModel = {
    val c = new GraphModel
    adj.foreach { case (k, ds) => c.adj(k) = ds.clone() }
    c
  }
}

/** Kinbaku's OLTP surface on a saved-and-reopened trade graph: a seeded
  * mix of point reads with Zipf(0.99) keys, one client, closed loop. */
object PointReads extends Workload {
  val name = "point_reads"
  val Sf = 0.02
  /** Untimed calls before the timed loop: call latency keeps falling for
    * about the first hundred calls while the JIT compiles the read path;
    * the steepest part, about halving it, is over after some twenty-five,
    * so thirty calls keep it out of the timed loop. */
  val WarmupCalls = 30

  sealed trait Read { def kind: String }
  final case class NodeR(k: String) extends Read { def kind = "node" }
  final case class HasEdgeR(s: String, d: String) extends Read { def kind = "has_edge" }
  final case class NeighborsR(k: String) extends Read { def kind = "neighbors" }
  final case class OutDegreeR(k: String) extends Read { def kind = "out_degree" }
  final case class NeighborsFromR(ks: Seq[String]) extends Read { def kind = "neighbors_from" }
  final case class MissingR(k: String) extends Read { def kind = "missing_key" }

  /** Seeded op stream. Every block of 20 ops holds exactly 5 node, 5
    * hasEdge (alternately present and absent pairs), 4 neighbors, 3
    * outDegree, 2 neighborsFrom(16 keys) and 1 missing-key neighbors, in a
    * seeded order, so the mix is the same in every run and only keys and
    * order vary. */
  final class Mix(m: GraphModel, seed: Long, salt: Long) {
    private val r = Fixtures.rng(seed, salt)
    private val nodes = Fixtures.shuffled(m.adj.keys.toArray.sorted, r)
    private val srcs = Fixtures.shuffled(nodes.filter(k => m.adj(k).nonEmpty).sorted, r)
    private val keyZ = new Fixtures.Zipf(nodes.length, 0.99, r)
    private val srcZ = new Fixtures.Zipf(srcs.length, 0.99, r)
    private def key() = nodes(keyZ.next())
    private def src() = srcs(srcZ.next())
    private val Block = Seq.fill(5)(0) ++ Seq.fill(5)(1) ++ Seq.fill(4)(2) ++
      Seq.fill(3)(3) ++ Seq.fill(2)(4) ++ Seq(5)
    private var pending = List.empty[Int]
    private var present = false

    def next(): Read = {
      if (pending.isEmpty) pending = Fixtures.shuffled(Block.toArray, r).toList
      val kind = pending.head
      pending = pending.tail
      kind match {
        case 0 => NodeR(key())
        case 1 =>
          val s = src()
          present = !present
          if (present) HasEdgeR(s, m.out(s)(r.nextInt(m.adj(s).size)))
          else {
            var d = nodes(r.nextInt(nodes.length))
            while (m.has(s, d)) d = nodes(r.nextInt(nodes.length))
            HasEdgeR(s, d)
          }
        case 2 => NeighborsR(key())
        case 3 => OutDegreeR(key())
        case 4 => NeighborsFromR(Seq.fill(16)(key()))
        case _ => MissingR(s"X${r.nextInt(1000000)}")
      }
    }
  }

  def exec(g: KinGraph, q: Read): Any = q match {
    case NodeR(k) => g.node(k).getAs[String]("key")
    case HasEdgeR(s, d) => g.hasEdge(s, d)
    case NeighborsR(k) => g.neighbors(k).collect().map(_.getString(0))
    case OutDegreeR(k) => g.outDegree(k)
    case NeighborsFromR(ks) => g.neighborsFrom(ks).collect()
    case MissingR(k) => g.neighbors(k)
  }

  def correct(m: GraphModel, q: Read, got: Either[Throwable, Any]): Boolean = (q, got) match {
    case (MissingR(_), Left(_: NodeNotFound)) => true
    case (_, Left(_)) => false
    case (NodeR(k), Right(v)) => m.adj.contains(k) && v == k
    case (HasEdgeR(s, d), Right(v)) => v == m.has(s, d)
    case (NeighborsR(k), Right(v: Array[String @unchecked])) => v.toSeq.sorted == m.out(k)
    case (OutDegreeR(k), Right(v)) => v == m.adj(k).size.toLong
    case (NeighborsFromR(ks), Right(rows: Array[Row @unchecked])) =>
      rows.map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap ==
        ks.distinct.map(k => k -> m.out(k)).toMap
    case _ => false
  }

  def run(c: Ctx, out: Outcome): Unit = {
    val tp = new Fixtures.Tpch(Sf, c.seed)
    val data = c.path("tpch")
    c.tracer.span("fixture", "tpch")(tp.write(c.spark, data, Set("lineitem", "orders")))
    val m = new GraphModel
    tp.tradePairs.foreach { case (s, k) => m.addEdge(s"S$s", s"C$k") }
    out.facts("graph.edges") = m.adj.values.map(_.size).sum.toDouble
    out.facts("graph.nodes") = m.adj.size.toDouble

    val graphs = (1 to Workload.SetUps).map { i =>
      out.setUp {
        val g = c.tracer.span("Tables", "tradeEdges")(
          KinGraph.fromEdges(Tables.tradeEdges(c.spark, data)))
        val dir = c.path(s"graph$i")
        c.tracer.span("GraphIO", "save")(GraphIO.save(g, dir))
        c.tracer.span("GraphIO", "open")(GraphIO.open(c.spark, dir, "r"))
      }
    }
    // JIT warm-up on the first snapshots, so the timed snapshot starts
    // with an empty lookup cache
    val w0 = System.nanoTime()
    val warm = new Mix(m, c.seed, 101)
    (0 until WarmupCalls).foreach { i =>
      val q = warm.next()
      val got = Workload.attempt(exec(graphs(i % (graphs.size - 1)), q))
      out.check(correct(m, q, got), s"warm-up ${q.kind} $q")
    }
    out.warmupS = (System.nanoTime() - w0) / 1e9

    val g = graphs.last
    val mix = new Mix(m, c.seed, 102)
    c.timedLoop(out) { _ =>
      val q = mix.next()
      val (got, ms) = out.timed(
        c.tracer.span("KinGraph", q.kind)(Workload.attempt(exec(g, q))))
      out.ops.add(ms)
      out.check(correct(m, q, got), s"${q.kind} $q: ${got.left.toOption.getOrElse("wrong answer")}")
    }
  }
}

/** Persisted-store reads and writes: each round upserts a delta from 8
  * hub keys, then reads a fresh snapshot (so the lookup cache never
  * hits): neighbors of a written hub, hasEdge of a written edge, and
  * neighbors of a node the round did not touch. */
object StoreMixed extends Workload {
  val name = "store_mixed"
  val Nodes = 5000
  val Edges = 50000
  val Buckets = 32
  val Hubs = 8
  val Delta = 1000
  /** Round latency still falls by about a tenth a round over the first
    * rounds, while the JIT compiles the upsert path. */
  val WarmupRounds = 2

  def storeFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(dir))
  }

  def run(c: Ctx, out: Outcome): Unit = {
    val r = Fixtures.rng(c.seed, 21)
    val keys = Array.tabulate(Nodes)(i => s"n$i")
    val m = new GraphModel
    keys.foreach(m.addNode)
    while (m.adj.values.map(_.size).sum < Edges)
      (0 until 10000).foreach(_ => m.addEdge(keys(r.nextInt(Nodes)), keys(r.nextInt(Nodes))))
    val edgeList = m.adj.toSeq.flatMap { case (s, ds) => ds.map(s -> _) }.sorted

    val stores = (1 to Workload.SetUps).map { i =>
      val dir = c.path(s"store$i")
      out.setUp(c.tracer.span("GraphStore", "write") {
        GraphStore.writeNodes(c.spark, dir, Fixtures.nodeFrame(c.spark, keys), Buckets)
        GraphStore.writeEdges(c.spark, dir, Fixtures.edgeFrame(c.spark, edgeList), Buckets)
      })
      dir
    }
    var fresh = 0
    def newKey(): String = { fresh += 1; s"m$fresh" }
    // untimed rounds on the first store, so the timed rounds are warm
    val w0 = System.nanoTime()
    val warm = m.copy
    (1 to WarmupRounds).foreach { i =>
      round(c, out, r, keys, warm, stores.head, s"warm-up $i", newKey _)
    }
    out.warmupS = (System.nanoTime() - w0) / 1e9

    val writes = new Samples
    c.timedLoop(out) { i =>
      val (roundMs, writeMs) = round(c, out, r, keys, m, stores.last, s"round $i", newKey _)
      out.ops.add(roundMs)
      writes.add(writeMs)
    }
    out.facts("write_p50_ms") = writes.p50
    val files = storeFiles(stores.last)
    out.facts("store.files_total") = files.size.toDouble
    out.facts("store.bytes_per_edge") =
      files.map(_.length).sum / m.adj.values.map(_.size).sum.toDouble
  }

  /** One round on the store at `dir`, whose edges `m` models: upsert a
    * delta from 8 hub keys, then read it back on a fresh snapshot. The
    * answers are checked after the clock stops. Returns the round's and
    * the upsert's latency in ms. */
  private def round(c: Ctx, out: Outcome, r: java.util.SplittableRandom,
                    keys: Array[String], m: GraphModel, dir: String, tag: String,
                    newKey: () => String): (Double, Double) = {
    // exactly Delta / Hubs edges per hub, and one destination in fifty new
    val hubs = Fixtures.shuffled(keys, r).take(Hubs).toSeq
    val delta = (0 until Delta).map { j =>
      hubs(j % Hubs) -> (if (j % 50 == 0) newKey() else keys(r.nextInt(Nodes)))
    }
    val hub = hubs(r.nextInt(hubs.size))
    val written = delta(r.nextInt(delta.size))
    var quiet = keys(r.nextInt(Nodes))
    while (hubs.contains(quiet)) quiet = keys(r.nextInt(Nodes))
    val deltaDf = Fixtures.edgeFrame(c.spark, delta)
    val before =
      if (c.tracer.enabled) storeFiles(dir).map(_.getPath).toSet else Set.empty[String]

    // the span's attributes are evaluated when it closes, after the upsert
    val (wrote, writeMs) = out.timed(Workload.attempt(c.tracer.span("GraphStore",
      "upsertEdges", filesAdded(before, dir) + ("delta_records" -> Delta.toDouble))(
      GraphStore.upsertEdges(c.spark, dir, deltaDf, Buckets))))
    val ((hubN, has, quietN), readMs) = out.timed {
      val g = c.tracer.span("GraphStore", "open")(GraphStore.open(c.spark, dir))
      (Workload.attempt(c.tracer.span("KinGraph", "neighbors")(
        g.neighbors(hub).collect().map(_.getString(0)))),
        Workload.attempt(c.tracer.span("KinGraph", "has_edge")(
          g.hasEdge(written._1, written._2))),
        Workload.attempt(c.tracer.span("KinGraph", "neighbors")(
          g.neighbors(quiet).collect().map(_.getString(0)))))
    }

    delta.foreach { case (s, d) => m.addEdge(s, d) }
    out.check(wrote.isRight, s"$tag upsert: ${wrote.left.toOption.orNull}")
    out.check(hubN.map(_.toSeq.sorted) == Right(m.out(hub)), s"$tag neighbors($hub)")
    out.check(has == Right(true), s"$tag hasEdge$written")
    out.check(quietN.map(_.toSeq.sorted) == Right(m.out(quiet)), s"$tag neighbors($quiet)")
    (writeMs + readMs, writeMs)
  }

  /** Files that were not in the store before an upsert: their count, bytes
    * and bucket directories. */
  private def filesAdded(before: Set[String], dir: String): Map[String, Double] =
    if (before.isEmpty) Map.empty
    else {
      val added = storeFiles(dir).filterNot(f => before.contains(f.getPath))
      Map("files_written" -> added.size.toDouble,
        "bytes_written" -> added.map(_.length).sum.toDouble,
        "buckets_rewritten" -> added.map(_.getParentFile.getPath).distinct.size.toDouble)
    }
}
