package perfbench

import org.apache.spark.sql.SparkSession

/** The metrics one run reports. End-to-end metrics come from untraced
  * runs; per-layer metrics from the spans of a traced run. Every name is
  * printed on every workload: a layer a workload never calls reads 0. */
object Layers {
  final case class Metric(name: String, unit: String, better: String)

  val EndToEnd: Seq[Metric] = Seq(
    Metric("setup_s", "s", "lower"),
    Metric("op_p50_ms", "ms", "lower"),
    Metric("op_cpu_ms", "ms", "lower"))

  val KinOps = Seq("node", "has_edge", "neighbors", "out_degree", "neighbors_from", "missing_key")
  val Caches: Seq[String] = Analytics.workload.cacheNames
  val Queries: Seq[String] = Analytics.workload.queryNames
  /** Layers the timed loops call; GraphIO and Tables run in set-up only and
    * are covered by their set-up metrics. */
  val SelfLayers = Seq("KinGraph", "GraphStore", "queries")

  val PerLayer: Seq[Metric] =
    KinOps.flatMap(op => Seq(
      Metric(s"KinGraph.$op.p50_ms", "ms", "lower"),
      Metric(s"KinGraph.$op.jobs_per_call", "count", "lower"),
      Metric(s"KinGraph.$op.plan_ms_per_call", "ms", "lower"))) ++
    Seq(Metric("KinGraph.lookup_cache.hit_ratio", "ratio", "higher"),
      Metric("GraphIO.save_s", "s", "lower"),
      Metric("GraphIO.open_ms", "ms", "lower")) ++
    Seq("p50_ms" -> "ms", "jobs_per_call" -> "count", "shuffle_bytes_per_call" -> "bytes",
      "bytes_written_per_call" -> "bytes", "files_written_per_call" -> "count",
      "buckets_rewritten_per_call" -> "count").map { case (m, u) =>
      Metric(s"GraphStore.upsertEdges.$m", u, "lower")
    } ++
    Seq(Metric("GraphStore.write_amp", "ratio", "lower"),
      Metric("GraphStore.open_ms", "ms", "lower"),
      Metric("GraphStore.files_total", "count", "lower"),
      Metric("GraphStore.build_s", "s", "lower"),
      Metric("GraphStore.bytes_per_edge", "bytes", "lower")) ++
    Caches.flatMap(n => Seq(
      Metric(s"Tables.cache.$n.s", "s", "lower"),
      Metric(s"Tables.cache.$n.mem_bytes", "bytes", "lower"),
      Metric(s"Tables.cache.$n.shuffle_bytes", "bytes", "lower"))) ++
    Queries.flatMap(q => Seq(
      Metric(s"query.$q.s", "s", "lower"),
      Metric(s"query.$q.jobs", "count", "lower"),
      Metric(s"query.$q.stages", "count", "lower"),
      Metric(s"query.$q.shuffle_bytes", "bytes", "lower"),
      Metric(s"query.$q.spill_bytes", "bytes", "lower"),
      Metric(s"query.$q.plan_ms", "ms", "lower"),
      Metric(s"query.$q.exchanges", "count", "lower"))) ++
    Seq(Metric("jvm.gc_ms", "ms", "lower"),
      Metric("jvm.peak_rss_mb", "MB", "lower"),
      Metric("jvm.warmup_s", "s", "lower"),
      Metric("jvm.calib_ms", "ms", "lower"),
      Metric("trace.op_p50_ms", "ms", "lower")) ++
    SelfLayers.map(l => Metric(s"$l.self_ms_per_op", "ms", "lower"))

  /** The end-to-end metrics as measured, before scaling. */
  def raw(w: Workload, out: Outcome): Map[String, Double] = Map(
    "setup_s" -> Stats.median(out.setups.toSeq.drop(1)),
    "op_p50_ms" -> w.opP50(out),
    "op_cpu_ms" -> (if (out.ops.isEmpty) 0.0 else out.timedCpuMs / out.ops.n))

  /** The end-to-end metrics scaled to the reference machine speed: wall
    * times by the run's wall-time calibration, CPU time by its CPU-time
    * calibration. */
  def endToEnd(w: Workload, out: Outcome): Map[String, Double] = {
    val r = raw(w, out)
    Map("setup_s" -> r("setup_s") * out.wallScale,
      "op_p50_ms" -> r("op_p50_ms") * out.wallScale,
      "op_cpu_ms" -> r("op_cpu_ms") * out.cpuScale)
  }

  def perLayer(w: Workload, tr: Tracer, out: Outcome): Map[String, Double] = {
    val spans = tr.spans
    val timed = spans.filter(_.op > 0)
    def of(layer: String, name: String, in: Seq[Span] = timed) =
      in.filter(s => s.layer == layer && s.name == name)
    def med(ss: Seq[Span]) = Stats.median(ss.map(_.ms))
    def mean(ss: Seq[Span])(f: Span => Double) = if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    KinOps.foreach { op =>
      val ss = of("KinGraph", op)
      m(s"KinGraph.$op.p50_ms") = med(ss)
      m(s"KinGraph.$op.jobs_per_call") = mean(ss)(_.counters.jobs.toDouble)
      m(s"KinGraph.$op.plan_ms_per_call") = mean(ss)(_.counters.planMs)
    }
    val lookups = of("KinGraph", "node") ++ of("KinGraph", "has_edge")
    m("KinGraph.lookup_cache.hit_ratio") = mean(lookups)(s => if (s.counters.jobs == 0) 1.0 else 0.0)
    m("GraphIO.save_s") = med(of("GraphIO", "save", spans)) / 1000
    m("GraphIO.open_ms") = med(of("GraphIO", "open", spans))
    val ups = of("GraphStore", "upsertEdges")
    def attr(k: String)(s: Span) = s.attrs.getOrElse(k, 0.0)
    m("GraphStore.upsertEdges.p50_ms") = med(ups)
    m("GraphStore.upsertEdges.jobs_per_call") = mean(ups)(_.counters.jobs.toDouble)
    m("GraphStore.upsertEdges.shuffle_bytes_per_call") = mean(ups)(_.counters.shuffleWriteBytes.toDouble)
    m("GraphStore.upsertEdges.bytes_written_per_call") = mean(ups)(attr("bytes_written"))
    m("GraphStore.upsertEdges.files_written_per_call") = mean(ups)(attr("files_written"))
    m("GraphStore.upsertEdges.buckets_rewritten_per_call") = mean(ups)(attr("buckets_rewritten"))
    val deltaRecords = ups.map(attr("delta_records")).sum
    m("GraphStore.write_amp") =
      if (deltaRecords == 0) 0.0 else ups.map(_.counters.recordsWritten).sum / deltaRecords
    m("GraphStore.open_ms") = med(of("GraphStore", "open"))
    m("GraphStore.files_total") = out.facts.getOrElse("store.files_total", 0.0)
    m("GraphStore.build_s") = med(of("GraphStore", "write", spans)) / 1000
    m("GraphStore.bytes_per_edge") = out.facts.getOrElse("store.bytes_per_edge", 0.0)
    Caches.foreach { n =>
      val ss = of("Tables", s"cache.$n", spans)
      m(s"Tables.cache.$n.s") = med(ss) / 1000
      m(s"Tables.cache.$n.mem_bytes") = Stats.median(ss.map(attr("mem_bytes")))
      m(s"Tables.cache.$n.shuffle_bytes") = mean(ss)(_.counters.shuffleWriteBytes.toDouble)
    }
    Queries.foreach { q =>
      val ss = of("queries", q)
      m(s"query.$q.s") = med(ss) / 1000
      m(s"query.$q.jobs") = mean(ss)(_.counters.jobs.toDouble)
      m(s"query.$q.stages") = mean(ss)(_.counters.stages.toDouble)
      m(s"query.$q.shuffle_bytes") = mean(ss)(_.counters.shuffleWriteBytes.toDouble)
      m(s"query.$q.spill_bytes") = mean(ss)(_.counters.spillBytes.toDouble)
      m(s"query.$q.plan_ms") = mean(ss)(_.counters.planMs)
      m(s"query.$q.exchanges") = mean(ss)(_.counters.exchanges.toDouble)
    }
    m("jvm.gc_ms") = out.gcMs.toDouble
    m("jvm.peak_rss_mb") = Stats.peakRssMb
    m("jvm.warmup_s") = out.warmupS
    m("jvm.calib_ms") = out.calibWall.p50
    m("trace.op_p50_ms") = Layers.endToEnd(w, out)("op_p50_ms")
    val self = tr.selfMs
    SelfLayers.foreach { l =>
      m(s"$l.self_ms_per_op") =
        if (out.ops.isEmpty) 0.0 else timed.filter(_.layer == l).map(s => self(s.id)).sum / out.ops.n
    }
    m.toMap
  }
}

/** Runs one workload and writes its result file.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <scratch dir> --out <result dir> --pins <pins.json>
  * perfbench.Main --pin <dir>
  * }}}
  */
object Main {
  val Workloads: Seq[Workload] = Seq(PointReads, StoreMixed, Analytics.workload)

  def session(work: java.io.File): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Logs.quietBoundedWindowWarn()
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.contains("pin")) {
      val root = new java.io.File(a("pin"))
      val spark = session(root)
      try Analytics.pin(spark, root.getPath) finally spark.stop()
      return
    }
    val workload = Workloads.find(_.name == a("workload")).getOrElse(
      sys.error(s"unknown workload ${a("workload")}; known: ${Workloads.map(_.name).mkString(", ")}"))
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val work = new java.io.File(a("work"))
    val outDir = new java.io.File(a("out"))
    val loadStart = Stats.loadavg
    val t0 = System.nanoTime()
    val spark = session(work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, trace)
    val out = new Outcome
    val ctx = new Ctx(spark, seed, a("seconds").toInt, tracer, work, Pins.load(a("pins")))
    val gc0 = Stats.gcMs
    try workload.run(ctx, out)
    finally {
      out.gcMs = Stats.gcMs - gc0
      tracer.close()
    }
    val tag = s"${workload.name}-s$seed-t${if (trace) 1 else 0}"
    if (trace) tracer.writeJsonl(new java.io.File(outDir, s"trace-$tag.jsonl"))
    val metrics =
      if (trace) {
        val v = Layers.perLayer(workload, tracer, out)
        Layers.PerLayer.map(m => (m, v(m.name)))
      } else {
        val v = Layers.endToEnd(workload, out)
        Layers.EndToEnd.map(m => (m, v(m.name)))
      }
    spark.stop()
    val tail = out.ops.tail
    val raw = Layers.raw(workload, out)
    val result = Json.obj(Seq(
      "correct" -> (out.failed == 0 && out.attempted > 0).toString,
      "attempted" -> Json.num(out.attempted.toDouble),
      "failed" -> Json.num(out.failed.toDouble),
      "metrics" -> Json.obj(metrics.map { case (m, v) =>
        m.name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(m.unit)))
      }),
      "workload" -> Json.str(workload.name),
      "seed" -> Json.num(seed.toDouble),
      "trace" -> trace.toString,
      "seconds" -> Json.num(ctx.seconds.toDouble),
      "samples" -> Json.obj(Seq("ops" -> Json.num(out.ops.n.toDouble),
        "setups" -> Json.num(out.setups.size.toDouble))),
      "unscaled" -> Json.obj(Layers.EndToEnd.map(m => m.name -> Json.num(raw(m.name)))),
      "calibration" -> Json.obj(Seq(
        "samples" -> Json.num(out.calibWall.n.toDouble),
        "wall_p50_ms" -> Json.num(out.calibWall.p50),
        "cpu_p50_ms" -> Json.num(out.calibCpu.p50),
        "wall_ms" -> Json.arr(out.calibWall.values.map(Json.num)))),
      "op_mean_ms" -> Json.num(out.ops.mean),
      "ops_ms" -> Json.arr(out.ops.values.map(Json.num)),
      "kinds_p50_ms" -> Json.obj(out.kinds.toSeq.map { case (k, v) => k -> Json.num(v.p50) }),
      "op_tail" -> tail.fold("null")(t => Json.obj(Seq(
        "percentile" -> Json.str(t._1), "ms" -> Json.num(t._2)))),
      "setups_s" -> Json.arr(out.setups.toSeq.map(Json.num)),
      "session_start_s" -> Json.num(sessionS),
      "peak_rss_mb" -> Json.num(Stats.peakRssMb),
      "warmup_s" -> Json.num(out.warmupS),
      "facts" -> Json.obj(out.facts.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "first_failures" -> Json.arr(out.firstFailures.toSeq.map(Json.str)),
      "loadavg_start" -> Json.str(loadStart),
      "loadavg_end" -> Json.str(Stats.loadavg)))
    java.nio.file.Files.writeString(new java.io.File(outDir, s"result-$tag.json").toPath,
      result + "\n")
  }
}
