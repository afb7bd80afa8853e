package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
object Bench {
  /** Forces full evaluation of every expression in the plan. A bare
    * `.count()` lets Catalyst prune projections (a fingerprint query would
    * time only the parquet scan); the noop sink evaluates all columns. */
  private def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    // normalized (trailing slash dropped): the "sf" field written into the
    // detail artifact must match the next run's tier-3 string compare
    val sfDir = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")).getPath
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Logs.quietBoundedWindowWarn()
    // failures are recorded as JSON null, never as a plausible-looking duration.
    // Name-sorted execution: per-query timings stay comparable across rounds
    // (map iteration order reshuffles whenever the key set changes, silently
    // moving shared-cache build costs between first-toucher queries)
    // optional comma-separated name filter for local profiling runs; the
    // driver never sets it (first-toucher cache accounting shifts when the
    // query set shrinks, so filtered timings are for relative work only)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Untimed engine warmup, reported separately as "warmup": the first
    // timed query otherwise absorbs one-off session costs (codegen
    // compiler, parquet reader, noop sink, AQE init — ~4s), which billed
    // the alphabetically-first query every round and hid its real cost.
    // Runs no SparkEntry query and builds no shared derived cache.
    val w0 = System.nanoTime()
    try {
      import org.apache.spark.sql.functions.col
      materialize(spark.read.parquet(s"$sfDir/region.parquet")
        .groupBy(col("r_regionkey")).count())
      materialize(spark.range(100000).select((col("id") % 7).as("k"))
        .groupBy("k").count())
    } catch { case e: Throwable =>
      System.err.println(s"BENCH WARN warmup: ${e.getMessage}")
    }
    val warmupSec = (System.nanoTime() - w0) / 1e9
    // Per-block environment probes (round-14 verdict): one global
    // env_factor hid a p90 of 1.41 — a fixed-work probe timed at each
    // block boundary (cache builds, then each name-prefix block of the
    // sorted query loop: d/e/g/gx/m/q/s/w) gives artifact readers a
    // per-block normalizer, so GraphX-cache-block noise is separable
    // from, say, streaming-block noise. The probe is fixture-independent
    // (generated data, one shuffle) and untimed relative to the queries.
    val envBlocks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def probeBlock(block: String): Unit = if (only.isEmpty) {
      val t0 = System.nanoTime()
      try materialize(spark.range(200000)
        .select((col("id") % 9).as("k"), (col("id") % 101).as("v"))
        .groupBy("k").agg(count(lit(1)).as("n"), sum(col("v")).as("s")))
      catch { case _: Throwable => }
      envBlocks(block) = (System.nanoTime() - t0) / 1e9
    }
    // trailing digits fold into one block: q1_agg/q18_bigorders are all "q"
    def blockOf(name: String): String =
      name.takeWhile(_ != '_').replaceAll("[0-9]+$", "")
    probeBlock("cache")
    // Session-shared cache builds, timed as their own `cache:<name>`
    // entries BEFORE the query loop (dependency order, not sorted). The
    // per-query numbers below then measure query plans, not whichever
    // shared build a query's alphabetical position first-touched — the
    // attribution drift that polluted d_auc/gx_assort/d_dedup_incr/d_tfidf
    // across rounds 7-9. Skipped under SPARK_GRAFT_BENCH_ONLY unless
    // explicitly named (isolated profiling deliberately measures a query
    // WITH its cache build). A build returns its entry already
    // materialized (CacheScope.session), so it is timed as called.
    val cacheResults: Seq[(String, Option[Double])] =
      SparkEntry.cacheBuilds
        .filter { case (name, _) => only.forall(_.contains(s"cache:$name")) }
        .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val timing =
          try { fn(spark, sfDir); Some((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            System.err.println(s"BENCH FAIL cache:$name: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
          }
          finally CacheScope.releaseAll()
        s"cache:$name" -> timing
      }
    var curBlock = "cache"
    val queryResults: Seq[(String, Option[Double])] =
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        // name-sorted loop => prefix blocks are contiguous; probe once at
        // each block boundary
        val blk = blockOf(name)
        if (blk != curBlock) { curBlock = blk; probeBlock(blk) }
        val t0 = System.nanoTime()
        val timing =
          try { materialize(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
          }
          finally CacheScope.releaseAll() // drop operator-local caches per query
        name -> timing
      }
    // reference-shaped workloads (BASELINE.md table): fixed size, not
    // SF-scaled. Probe key must not collide with blockOf of any future
    // w_*-named query (which maps to "w")
    probeBlock("workloads")
    val workloadResults: Seq[(String, Option[Double])] =
      BenchWorkloads.workloads.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .map { case (name, fn) =>
        val t0 = System.nanoTime()
        val timing =
          try { fn(spark); Some((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            System.err.println(s"BENCH FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
            None
          }
        name -> timing
      }
    val results = cacheResults ++ queryResults ++ workloadResults
    // Outlier re-time pass: any entry whose first-pass time exceeds 3× its
    // committed local reference cost (tools/bench_ref_costs.json, seeded
    // from BENCH_LOCAL_r10) AND by >1s absolute is run a second time —
    // cache:<name> entries after dropping the cache so the rebuild has
    // first-pass semantics (dependencies stay cached, as in pass one).
    // Both samples are reported; if the second collapses to reference-
    // sized, the first was machine noise (GC/contention during that
    // window), proven rather than assumed. Skipped under BENCH_ONLY
    // (profiling runs re-run things deliberately) and when the reference
    // file is absent. `total` stays the pass-one sum — comparable across
    // rounds; retimes are reported separately.
    // the one flat name->number JSON parser both cost readers share
    def parseNumMap(txt: String): Map[String, Double] =
      """"([^"]+)"\s*:\s*([0-9.eE+-]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    val refCosts: Map[String, Double] =
      try {
        val refPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_REF", "tools/bench_ref_costs.json")
        parseNumMap(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(refPath)), "UTF-8"))
      } catch { case _: Throwable => Map.empty }
    val cacheFns = SparkEntry.cacheBuilds.toMap
    val queryFns = SparkEntry.queries
    val workloadFns = BenchWorkloads.workloads
    val tier1: Seq[(String, Double)] =
      if (only.nonEmpty || refCosts.isEmpty) Seq.empty
      else results.collect {
        case (name, Some(t))
          if refCosts.get(name).exists(ref => t > 3.0 * ref && t - ref > 1.0) =>
          (name, t)
      }
    // second tier closes the 2× blind band (round-12 verdict; floor
    // lowered round 14 — the old >3s absolute floor left 1-3s entries
    // like a 2.6× d_dup_sources unfalsifiable): anything >2× its
    // reference AND >1s first-pass gets one proving rerun too — capped
    // at 6 extras, worst ratio first, so a noisy round can't double the
    // bench
    val tier1Names = tier1.map(_._1).toSet
    val tier2: Seq[(String, Double)] =
      if (only.nonEmpty || refCosts.isEmpty) Seq.empty
      else results.collect {
        case (name, Some(t))
          if !tier1Names.contains(name) &&
            refCosts.get(name).exists(ref => t > 2.0 * ref && t > 1.0) =>
          (name, t)
      }.sortBy { case (n, t) => -(t / refCosts(n)) }.take(6)
    // third tier (round-13 verdict): a PREV-ARTIFACT delta trigger, so
    // gx_msf-style cross-round swings self-resolve in-artifact — any
    // entry >2s first-pass AND >30% over its value in the last full
    // detail file gets one proving rerun even when its ref-cost ratio
    // ducks tiers 1-2. Reads the same BENCH_DETAIL_last.json this run
    // rewrites at the end (read happens first), so the driver's run
    // compares against the committed local run of the same code.
    val prevCosts: Map[String, Double] =
      try {
        val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV",
          "BENCH_DETAIL_last.json")
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(prevPath)), "UTF-8")
        // only compare runs of the SAME scale and core count: a prev
        // detail from another sfDir or cpu count would mis-trigger (or
        // silently disable) the whole tier; a detail without "cpus"
        // predates the field and counts as a mismatch
        val sfOk = txt.contains("\"sf\":\"" + sfDir + "\"")
        val cpusOk = txt.contains("\"cpus\":" + cpus + ",")
        val i = txt.indexOf("\"queries\":{")
        if (!sfOk || !cpusOk || i < 0) Map.empty
        else {
          // the queries map is flat by construction (qsJson below writes
          // it); the first '}' after the opener closes it
          val j = txt.indexOf("}", i)
          parseNumMap(txt.substring(i + 11, j))
        }
      } catch { case _: Throwable => Map.empty }
    // a silently-disabled tier 3 (format drift, sf mismatch) must be
    // visible in the bench log, not inferred from absent retimes
    // only when tier 3 was actually expected to run: BENCH_ONLY profiling
    // runs disable it by design and the notice would mislead there
    if (only.isEmpty && prevCosts.isEmpty &&
        java.nio.file.Files.exists(java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", "BENCH_DETAIL_last.json"))))
      System.err.println("BENCH NOTE tier-3 retime disabled: prev detail " +
        "file exists but yielded no costs (sf or cpus mismatch, or format drift)")
    val t12Names = tier1Names ++ tier2.map(_._1)
    val tier3: Seq[(String, Double)] =
      if (only.nonEmpty || prevCosts.isEmpty) Seq.empty
      else results.collect {
        case (name, Some(t))
          if !t12Names.contains(name) && t > 2.0 &&
            prevCosts.get(name).exists(pv => pv > 0.0 && t > 1.3 * pv) =>
          (name, t)
      }.sortBy { case (n, t) => -(t / prevCosts(n)) }.take(6)
    val outliers: Seq[(String, Double)] = tier1 ++ tier2 ++ tier3
    // the cap is a runaway guard, not a silent policy: dropped outliers
    // are named so a cap-sized round is visible in the log
    if (outliers.size > 40)
      System.err.println(s"BENCH WARN retime: ${outliers.size - 40} outliers " +
        s"dropped by the 40-entry cap: ${outliers.drop(40).map(_._1).mkString(",")}")
    // Cache-residency snapshot (round-14 verdict): a retime that comes
    // back SLOWER than pass one is consistent with an evicted shared
    // cache silently rebuilding inside the rerun — make that observable
    // in the artifact instead of inferable. Partially-cached RDDs are the
    // eviction signature (numCachedPartitions < numPartitions).
    def rddResidencyJson(): String = {
      val info = spark.sparkContext.getRDDStorageInfo
      val partial = info.filter(r => r.numCachedPartitions < r.numPartitions)
      // RDD names can carry plan fragments (quotes, backslashes, newlines)
      // that would corrupt the JSON artifact — strip, don't just re-quote
      val names = partial.take(12).map(r =>
        "\"" + Option(r.name).getOrElse(s"rdd_${r.id}")
          .replaceAll("[\\\\\"\\p{Cntrl}]", "_").take(60) + "\"").mkString(",")
      s"""{"n":${info.length},"n_partial":${partial.length},""" +
        s""""mem_mb":${"%.1f".format(info.map(_.memSize).sum / 1e6)},""" +
        s""""disk_mb":${"%.1f".format(info.map(_.diskSize).sum / 1e6)},""" +
        s""""partial":[$names]}"""
    }
    val rddCachePre = rddResidencyJson()
    // Adjudicating retime (round-14 verdict): when the proving rerun is
    // SLOWER than pass one (gx_bipartite 8.37 -> 23.68 r14 — cold JIT or
    // an evicted shared cache rebuilt inside the rerun), the artifact
    // held two numbers and no verdict. Now a third sample runs: any
    // shared cache the slow rerun lazily rebuilt is warm again by
    // construction, so the third sample measures the plan. All samples
    // are published; readers take the min as the plan cost.
    val retimed: Seq[(String, Seq[Double])] =
      outliers.take(40).flatMap { case (name, t1) =>
        val rerun: Option[() => Unit] =
          if (name.startsWith("cache:")) {
            val short = name.stripPrefix("cache:")
            // nested dependency caches (e.g. gx_union under gx_graphx)
            // stay warm, exactly as in the timed pass-one build — but a
            // pass-one that ALSO first-touched a dependency can still
            // retime faster for that reason; flagged so the artifact
            // reader knows the second sample excludes nested first-touch
            System.err.println(s"BENCH NOTE retime $name: cache retime " +
              "excludes nested dependency first-touch cost")
            cacheFns.get(short).map { fn => () =>
              { SparkEntry.dropCacheEntry(short, spark, sfDir)
                fn(spark, sfDir); () }
            }
          } else queryFns.get(name).map(fn => () => materialize(fn(spark, sfDir)))
            .orElse(workloadFns.get(name).map(fn => () => fn(spark)))
        def sample(run: () => Unit): Option[Double] = {
          val t0 = System.nanoTime()
          try { run(); Some((System.nanoTime() - t0) / 1e9) }
          catch { case e: Throwable =>
            System.err.println(s"BENCH WARN retime $name: ${e.getMessage}"); None }
          finally CacheScope.releaseAll()
        }
        rerun.flatMap { run =>
          sample(run).map { t2 =>
            val third =
              if (t2 > t1) {
                System.err.println(s"BENCH NOTE retime $name: rerun slower " +
                  s"than pass one (${"%.2f".format(t1)} -> ${"%.2f".format(t2)}), " +
                  s"adjudicating third sample; rdd_cache=${rddResidencyJson()}")
                sample(run).toSeq
              } else Seq.empty
            (name, t1 +: t2 +: third)
          }
        }
      }
    def retimedJsonOf(rs: Seq[(String, Seq[Double])]): String =
      rs.map { case (n, ts) =>
        "\"" + n + "\":[" + ts.map("%.3f".format(_)).mkString(",") + "]"
      }.mkString("{", ",", "}")
    val retimedJson = retimedJsonOf(retimed)
    // HEADLINE carries at most 4 retime pairs (worst first-pass ratio
    // first) + the count — an unbounded map has overflowed the driver's
    // 2000-char log tail before; full fidelity stays in the detail file
    val retimedHeadJson = retimedJsonOf(
      retimed.sortBy { case (n, ts) =>
        -(ts.head / refCosts.getOrElse(n, ts.head)) }.take(4))
    // Environment-inflation report: per-entry first-pass ratio vs the
    // committed local plan cost for EVERY entry with a reference (not
    // just outliers), plus the cross-entry median/p90 — the whole-run
    // driver-vs-local env factor becomes an in-artifact number instead
    // of a hand-derived one, so weak-mark adjudication can read it off
    val ratios: Seq[(String, Double)] = results.collect {
      case (name, Some(t)) if refCosts.get(name).exists(_ > 0.0) =>
        name -> t / refCosts(name)
    }
    def pct(sorted: Seq[Double], p: Double): Double =
      if (sorted.isEmpty) 0.0
      else sorted(math.min(sorted.size - 1,
        math.round(p * (sorted.size - 1)).toInt))
    val sortedRatios = ratios.map(_._2).sorted
    val envFactor = pct(sortedRatios, 0.5)
    val envP90 = pct(sortedRatios, 0.9)
    val ratiosJson = ratios.map { case (n, r) =>
      "\"" + n + "\":" + "%.3f".format(r) }.mkString("{", ",", "}")
    val envBlockJson = envBlocks.map { case (b, t) =>
      "\"" + b + "\":" + "%.3f".format(t) }.mkString("{", ",", "}")
    // Self-labeling (round-16 verdict): a run whose median per-entry ratio
    // vs the committed local plan costs exceeds 1.2 is environment-polluted
    // (driver BENCH_r16 shipped env_factor 1.41 unlabeled) — say so in the
    // artifact instead of leaving readers to derive it. Only meaningful at
    // the scale the reference costs were recorded at (sf0.1): at any other
    // SF the ratio reads data scaling, not pollution. No-reference runs
    // (fresh checkout, BENCH_ONLY) can't self-assess either; both stay
    // unlabeled.
    val quotableJson =
      if (ratios.size >= 20 && new java.io.File(sfDir).getName == "sf0.1")
        s""""quotable":${envFactor <= 1.2},"""
      else ""
    val envJson = s"""$quotableJson"env_factor":${"%.3f".format(envFactor)},"env_p90":${"%.3f".format(envP90)},"n_ref":${ratios.size},"env_block":$envBlockJson"""
    def qsJson(rs: Seq[(String, Option[Double])], digits: Int): String =
      rs.map { case (k, v) =>
        "\"" + k + "\":" + v.fold("null")(d => s"%.${digits}f".format(d))
      }.mkString("{", ",", "}")
    val failed = results.collect { case (k, None) => "\"" + k + "\"" }
    val total = results.flatMap(_._2).sum
    // FULL per-query map (all queries, microsecond precision) -> file only.
    // The driver captures a 2000-char log tail; the full line is ~3.5 KB and
    // has overflowed it every round (BENCH_r01..r05 all have parsed:null).
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","warmup":${"%.3f".format(warmupSec)},"queries":${qsJson(results, 6)},"retimed":$retimedJson,"ratio_vs_ref":$ratiosJson,$envJson,"rdd_cache_pre":$rddCachePre,"rdd_cache_post":${rddResidencyJson()},"failed":[${failed.mkString(",")}],"sf":"$sfDir","cpus":$cpus,"n_queries":${results.size}}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/tmp/bench_out.json")
    // the detail also lands in the repo cwd so the driver's round-end
    // commit captures the full per-query map (the stdout tail holds only
    // the headline; cross-round per-query forensics need this file).
    // Only when cwd IS the repo (build.sbt marker) AND this is a full
    // unfiltered run AND the run is at the driver's bench scale (sf0.1) —
    // a SPARK_GRAFT_BENCH_ONLY profiling run would otherwise overwrite
    // the artifact with a partial 2-query map, and an sf0.001 smoke run
    // would replace the sf0.1 detail and silently disable the tier-3
    // prev-artifact retime for the next real run (bit round 15)
    val benchScale = new java.io.File(sfDir).getName == "sf0.1"
    val repoDetail =
      if (only.isEmpty && benchScale &&
          java.nio.file.Files.exists(java.nio.file.Paths.get("build.sbt")))
        Seq("BENCH_DETAIL_last.json") else Seq.empty
    if (only.isEmpty && !benchScale)
      System.err.println("BENCH NOTE repo detail not written: run is not at " +
        s"the driver's bench scale (sfDir=$sfDir)")
    for (p <- (outPath +: repoDetail).distinct)
      try java.nio.file.Files.write(java.nio.file.Paths.get(p),
        (fullLine + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"BENCH WARN could not write $p: ${e.getMessage}")
      }
    // HEADLINE line -> stdout, LAST, sized to survive the driver's
    // 2000-char log-tail window. Rounds 1-18 overflowed it every round
    // (BENCH_r01..r18 all carry parsed:null): the blanket cache:* include
    // (~25 entries, ~650 chars) plus 12 retime pairs plus env_block pushed
    // the line to ~2050 chars, so the head ({"metric":...) fell outside
    // the tail and the driver never parsed a single bench line. Now: the
    // 34 named representative queries only (cache builds summed into one
    // "cache_total" field), at most 4 headline retime pairs, env_block in
    // the detail file only — ≈1300 chars, leaving ~600 for the sbt
    // success line and stop-time WARN noise. Full fidelity lives in the
    // detail file above and the committed BENCH_LOCAL_*.json artifacts.
    val headline = Set(
      "q1_agg", "q3_top", "q5_region",
      "g_counts", "g_graph_stats",
      "gx_adamic", "gx_pagerank_fp", "gx_cc", "gx_triangles", "gx_kcore",
      "gx_labelprop", "gx_hits", "gx_closeness", "gx_betweenness", "gx_msf",
      "d_dedup_exact", "d_minhash_lsh", "d_dedup_pipeline", "d_dedup_incr",
      "d_pipeline_e2e", "d_textrank", "d_tfidf", "d_auc", "d_decontaminate",
      "e_ann_topk", "e_ann_lsh", "e_ann_beam", "e_near_dup", "m_features",
      "s_range_join", "s_stream_tumbling", "s_stream_join",
      "w_bulk_edge_upsert", "w_bulk_edge_removal")
    val headlineResults = results.filter { case (k, _) => headline.contains(k) }
    val cacheTotal = results.collect {
      case (k, Some(t)) if k.startsWith("cache:") => t }.sum
    val envHeadJson = s"""$quotableJson"env_factor":${"%.3f".format(envFactor)},"env_p90":${"%.3f".format(envP90)},"n_ref":${ratios.size}"""
    val line =
      s"""{"metric":"total","value":${"%.3f".format(total)},"unit":"sec","warmup":${"%.3f".format(warmupSec)},"cache_total":${"%.3f".format(cacheTotal)},"queries":${qsJson(headlineResults, 3)},"retimed":$retimedHeadJson,"retimed_n":${retimed.size},$envHeadJson,"failed":[${failed.mkString(",")}],"sf":"$sfDir","n_queries":${results.size},"detail":"$outPath"}"""
    // stop BEFORE printing: shutdown WARNs (DAGScheduler job-group cancels
    // etc.) otherwise land in the log tail AFTER the line and can push its
    // head out of the driver's 2000-char window (this bit round 17)
    try spark.stop() catch { case _: Throwable => () }
    println(line)
    Console.out.flush()
  }
}
