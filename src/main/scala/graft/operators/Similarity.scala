package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.VectorExpressions.{dotNative, normNative}

/** Similarity search over an embedding column (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — exact, one broadcast of the query
  * set, no shuffle of the corpus (the corpus scan stays partition-local;
  * only k rows per query per partition survive into the final top-k).
  *
  * Scale path: random-hyperplane LSH bucketing — each vector lands in a
  * small number of buckets, candidate generation is a bucket join, and the
  * exact cosine reranks only candidates. Hyperplanes are deterministic
  * (seeded md5 bits) so results are reproducible across runs/engines.
  *
  * All vector math is `functions.zip_with`/`aggregate` composition over
  * doubles — codegen'd, no UDFs. */
object Similarity {

  /** Σ a_i b_i with left-to-right accumulation (same order as DuckDB's
    * list functions, so rounded results agree across engines). Backed by a
    * codegen'd Catalyst expression (VectorExpressions.DotProduct) — the
    * equivalent `aggregate(zip_with(...))` composition runs interpreted
    * lambdas per element and is ~10x slower on the pair hot path. */
  def dot(a: Column, b: Column): Column = dotNative(a, b)

  def norm(a: Column): Column = normNative(a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k cosine neighbors for each query vector. `queries` and
    * `corpus` both carry (id, vec: array<double>); self-matches excluded.
    * Queries are broadcast (the small side by construction); norms are
    * precomputed once per row on each side. */
  /** Spread an under-partitioned corpus before a per-row-quadratic stage:
    * a small corpus arrives as one file = one partition and the whole
    * O(n·q) compare would run in a single task. The cheap probe is
    * `df.inputFiles` (a file listing on the analyzed plan — no RDD
    * conversion, no physical planning, unlike `df.rdd.getNumPartitions`):
    * a file-backed corpus with fewer files than cores gets the
    * round-robin exchange. Many files does NOT imply many partitions
    * (a coalesced or post-aggregation plan still lists its source files),
    * so the skip path confirms against the physical partition count —
    * planning cost is trivial next to the quadratic stage it protects.
    * Non-file sources (tiny literal test frames) pass through untouched —
    * an unconditional repartition would COLLAPSE a 1000-split corpus to
    * the local core count. */
  private def spread(df: DataFrame): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    val nFiles = try df.inputFiles.length catch {
      case e: Exception =>
        System.err.println(s"[graft] spread: inputFiles probe failed (${e.getMessage}); " +
          "treating corpus as non-file-backed")
        0
    }
    if (nFiles > 0 && nFiles < par) df.repartition(par)
    else if (nFiles >= par) {
      val nParts = try df.rdd.getNumPartitions catch { case _: Exception => par }
      if (nParts < par) df.repartition(par) else df
    } else df
  }

  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      norm(col("vec")).as("qn")))
    val scored = spread(corpus.select(col("id").as("vec_id"), col("vec"),
        norm(col("vec")).as("cn")))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(dot(col("qvec"), col("vec")) / (col("qn") * col("cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
  }

  // ------------------------------------------------- LSH (scale path)
  /** Multi-table random-hyperplane LSH: L independent tables of B sign
    * bits. A near pair (cosine c) agrees on one bit with prob 1 - acos(c)/pi;
    * per-table collision = p^B, and the union over L tables (plus 1-bit
    * multi-probe on the query side) pushes recall to ~1 for c >= 0.7 while
    * touching a tiny corpus fraction per query. */
  val LshTables = 12
  val LshBitsPerTable = 6

  /** Deterministic pseudo-random hyperplanes for a given embedding
    * dimensionality: component j of plane (t, b) derives from md5 —
    * reproducible everywhere with no RNG state. Memoized per dim (the
    * planes are tiny: tables × bits × dim doubles). */
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Int, IndexedSeq[IndexedSeq[IndexedSeq[Double]]]]()
  def hyperplanes(dim: Int): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    planeCache.computeIfAbsent(dim, _ =>
      (0 until LshTables).map { t =>
        (0 until LshBitsPerTable).map { b =>
          (0 until dim).map { j =>
            val hex = java.security.MessageDigest.getInstance("MD5")
              .digest(s"plane_${t}_${b}_$j".getBytes("UTF-8"))
            val v = java.nio.ByteBuffer.wrap(hex).getInt & 0x7fffffff
            (v.toDouble / Int.MaxValue.toDouble) - 0.5
          }
        }
      })

  /** Embedding dimensionality, read from the first non-null row (array
    * columns carry no length in the schema). One tiny LIMIT-1 job, not a
    * scan. An empty (or all-null) input infers dim 1 — every downstream
    * plan then evaluates to the correct empty result instead of throwing
    * on a query set a filter happened to empty out. */
  def inferDim(vecs: DataFrame): Int = {
    val row = vecs.select(size(col("vec")).as("d"))
      .filter(col("d").isNotNull).limit(1).collect()
    if (row.isEmpty) 1 else row(0).getInt(0)
  }

  /** Sign-bit signature of `vec` in table `t`. */
  def lshSignature(vec: Column, t: Int, dim: Int): Column = {
    val bits = (0 until LshBitsPerTable).map { b =>
      val plane = array(hyperplanes(dim)(t)(b).map(lit): _*)
      when(dot(vec, plane) >= 0, lit(1L << b)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }

  /** One row per (table, bucket) for each vector. */
  def lshBucketed(vecs: DataFrame, dim: Int): DataFrame = {
    val buckets = (0 until LshTables).map { t =>
      struct(lit(t).as("table"), lshSignature(col("vec"), t, dim).as("bucket"))
    }
    vecs.select(col("id"), col("vec"), explode(array(buckets: _*)).as("tb"))
      .select(col("id"), col("vec"), col("tb.table"), col("tb.bucket"))
  }

  /** Approximate top-k: candidates share any table bucket with the query
    * (multi-probe: the exact bucket plus every 1-bit flip), reranked by
    * exact floor-micro cosine — one IEEE division and one floor off the
    * exact dot/norm tree, so (cos_micro DESC, vec_id) is a total order
    * both engines agree on and the whole retrieval replays in SQL. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val dim = inferDim(queries)
    val corpusB = lshBucketed(corpus.select(col("id"), col("vec")), dim)
      .withColumnRenamed("id", "vec_id").withColumnRenamed("vec", "cvec")
    val qB = lshBucketed(queries.select(col("id"), col("vec")), dim)
      .withColumnRenamed("id", "query_id").withColumnRenamed("vec", "qvec")
    // multi-probe: flip = -1 keeps the bucket, else XOR bit `flip`
    val probes = qB.select(col("query_id"), col("qvec"), col("table"),
        explode(array((-1 until LshBitsPerTable).map(i => lit(i)): _*)).as("flip"),
        col("bucket").as("qbucket"))
      .withColumn("bucket", when(col("flip") === -1, col("qbucket"))
        .otherwise(expr("qbucket ^ CAST(pow(2, flip) AS BIGINT)")))
      .select("query_id", "qvec", "table", "bucket")
    // dedup on ids BEFORE re-attaching vectors: distinct over two longs,
    // not over 64-double arrays
    val candIds = corpusB.select(col("table"), col("bucket"), col("vec_id"))
      .join(broadcast(probes.select("table", "bucket", "query_id")), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val qv = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      norm(col("vec")).as("qn"))
    val cv = corpus.select(col("id").as("vec_id"), col("vec").as("cvec"),
      norm(col("vec")).as("cn"))
    val cand = candIds.join(broadcast(qv), "query_id").join(cv, "vec_id")
      .withColumn("cos_micro",
        cosMicroCol(col("qvec"), col("qn"), col("cvec"), col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_micro", "rank")
  }

  /** Hard-negative mining on the LSH shortlist — the scale path of the
    * exact cross-label miner (e_hard_negatives): candidates come from the
    * shared-bucket multi-probe join exactly as in [[lshTopK]], the
    * cross-label filter rides the candidate join BEFORE any distance math
    * (same-label pairs never pay the dot product), and the floor-micro
    * rerank keeps the `k` nearest cross-label vectors per query. Inputs
    * carry (id, vec, label); labels travel with the vector re-attach, not
    * a post-scoring join. Fully SQL-replayable (planes, signatures,
    * probes, label filter, rerank), so retrieval quality is hash-checked
    * rather than spec-asserted. */
  def lshHardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val dim = inferDim(queries)
    val corpusB = lshBucketed(corpus.select(col("id"), col("vec")), dim)
      .select(col("table"), col("bucket"), col("id").as("vec_id"))
    val qB = lshBucketed(queries.select(col("id"), col("vec")), dim)
      .withColumnRenamed("id", "query_id")
    val probes = qB.select(col("query_id"), col("table"),
        explode(array((-1 until LshBitsPerTable).map(i => lit(i)): _*)).as("flip"),
        col("bucket").as("qbucket"))
      .withColumn("bucket", when(col("flip") === -1, col("qbucket"))
        .otherwise(expr("qbucket ^ CAST(pow(2, flip) AS BIGINT)")))
      .select("query_id", "table", "bucket")
    val candIds = corpusB
      .join(broadcast(probes), Seq("table", "bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id").distinct()
    val qv = queries.select(col("id").as("query_id"), col("vec").as("qvec"),
      norm(col("vec")).as("qn"), col("label").as("q_label"))
    val cv = corpus.select(col("id").as("vec_id"), col("vec").as("cvec"),
      norm(col("vec")).as("cn"), col("label").as("neg_label"))
    val cand = candIds.join(broadcast(qv), "query_id").join(cv, "vec_id")
      .filter(col("neg_label") =!= col("q_label"))
      .withColumn("cos_micro",
        cosMicroCol(col("qvec"), col("qn"), col("cvec"), col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "neg_label", "cos_micro", "rank")
  }

  /** Cross-corpus banded similarity join — BOTH sides corpus-sized,
    * NEITHER broadcast (the new-crawl × existing-corpus shape; every
    * other retrieval op here broadcasts its small query side). Both
    * sides are banded with the SAME md5-derived hyperplane family, so
    * a shared (table, bucket) key is the candidate predicate; the band
    * join is hinted sort-merge — `broadcast()` of a 100 TB side is the
    * one plan this operator exists to avoid, and the hint pins that
    * choice against size-estimate drift (PlanSpec asserts no
    * BroadcastExchange reaches the band join). Candidates dedup on the
    * id pair BEFORE vectors re-attach (distinct over two longs, not
    * 64-double arrays), then floor-micro rerank keeps top-`k` rights
    * per left. A hot bucket is the known hazard of banded joins at
    * scale — AQE skew-join splits it (same contract as d_minhash_lsh).
    * Fully SQL-replayable: signatures, band join, rerank (e_cross_lsh). */
  def crossLshJoin(left: DataFrame, right: DataFrame, k: Int): DataFrame = {
    val dim = inferDim(left)
    val lb = lshBucketed(left.select(col("id"), col("vec")), dim)
      .select(col("table"), col("bucket"), col("id").as("left_id"))
    val rb = lshBucketed(right.select(col("id"), col("vec")), dim)
      .select(col("table"), col("bucket"), col("id").as("right_id"))
    val pairIds = lb.hint("merge").join(rb, Seq("table", "bucket"))
      .select("left_id", "right_id").distinct()
    val lv = left.select(col("id").as("left_id"), col("vec").as("lvec"),
      norm(col("vec")).as("ln"))
    val rv = right.select(col("id").as("right_id"), col("vec").as("rvec"),
      norm(col("vec")).as("rn"))
    val scored = pairIds.hint("merge").join(lv, "left_id")
      .hint("merge").join(rv, "right_id")
      .withColumn("cos_micro",
        cosMicroCol(col("lvec"), col("ln"), col("rvec"), col("rn")))
    val w = Window.partitionBy(col("left_id"))
      .orderBy(col("cos_micro").desc, col("right_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("left_id", "right_id", "cos_micro", "rank")
  }

  // ------------------------------------------------- IVF (scale path 2)
  /** IVF (inverted-file) ANN: a KMeans coarse quantizer assigns every
    * vector to its nearest of `nlist` centroids; a query searches only the
    * `nprobe` nearest cells. The classic alternative to LSH when the
    * corpus clusters well. KMeans runs with a fixed seed → deterministic
    * index. At scale the index build is one MLlib job and the search is a
    * broadcast-join on cell id — corpus never re-shuffles per query. */
  /** A built IVF index: the corpus with its cell assignment (persisted —
    * the whole point of an index is to outlive one query batch) and the
    * centroid table. Build once with [[ivfBuild]], search many times with
    * [[ivfSearch]]; at scale the equivalent is a bucketed/partitioned
    * table keyed by cell id that query batches broadcast-join against. */
  final case class IvfIndex(assigned: DataFrame,
                            centroids: Seq[(Int, Array[Double])],
                            nlist: Int) {
    def release(): Unit = assigned.unpersist(false)
  }

  /** Fit the KMeans coarse quantizer and assign every corpus vector to its
    * cell. `cacheKey` memoizes the built index session-wide (a
    * `CacheScope.sessionOf` entry) so repeated query batches reuse it
    * instead of re-clustering the corpus per call. */
  def ivfBuild(corpus: DataFrame, nlist: Int = 16,
               cacheKey: Option[String] = None): IvfIndex = {
    // un-memoized indexes are operator-local: route the persist through
    // CacheScope so the harness's per-query releaseAll frees it (a raw
    // persist here leaked one corpus copy per call)
    def build(scoped: Boolean): IvfIndex = {
      import org.apache.spark.ml.clustering.KMeans
      import org.apache.spark.ml.functions.array_to_vector
      val featured = corpus.select(col("id"), col("vec"),
        array_to_vector(col("vec")).as("features"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val model = new KMeans().setK(nlist).setSeed(42L).setMaxIter(10)
        .fit(featured)
      val assignedPlan = model.transform(featured)
        .select(col("id").as("vec_id"), col("vec").as("cvec"),
          col("prediction").as("cell"))
      val assigned =
        if (scoped) graft.CacheScope.cached(assignedPlan)
        else assignedPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      assigned.count() // materialize, then drop the fit-time feature cache
      featured.unpersist(false)
      val centroids = model.clusterCenters.zipWithIndex
        .map { case (c, i) => (i, c.toArray) }.toSeq
      IvfIndex(assigned, centroids, nlist)
    }
    cacheKey match {
      case Some(key) => graft.CacheScope.sessionOf(s"ivf|$nlist", corpus.sparkSession, key)(
        build(scoped = false))((index, blocking) => index.assigned.unpersist(blocking))
      case None => build(scoped = true)
    }
  }

  /** Search a prebuilt index: each query probes its `nprobe` nearest cells
    * (centroid ranking is a broadcast of the tiny centroid table), exact
    * cosine reranks only the probed cells' vectors. */
  def ivfSearch(index: IvfIndex, queries: DataFrame, k: Int,
                nprobe: Int = 4): DataFrame = {
    val sp = queries.sparkSession
    import sp.implicits._
    val centroidDf = broadcast(index.centroids.toDF("cell", "centroid"))
    val qCells = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
      .crossJoin(centroidDf)
      .withColumn("cdist", dot(col("qvec"), col("centroid")) /
        (norm(col("qvec")) * norm(col("centroid"))))
    val wq = Window.partitionBy(col("query_id")).orderBy(col("cdist").desc, col("cell"))
    val probes = qCells.withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cell"))
    val cand = index.assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qvec"), col("cvec")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
  }

  /** Build-then-search convenience (kept for API parity); pass `cacheKey`
    * to reuse the index across calls. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4,
              cacheKey: Option[String] = None): DataFrame =
    ivfSearch(ivfBuild(corpus, nlist, cacheKey), queries, k, nprobe)

  // --------------------------------------- deterministic (trainless) IVF
  /** Sampled-centroid IVF: the classic TRAINLESS coarse quantizer — cells
    * are the vectors of the `nlist` corpus ids with the smallest salted
    * hash (a deterministic uniform sample), no KMeans. Used in practice
    * when quantizer training is skipped or deferred; cell balance is worse
    * than KMeans' but the whole index (sample, assignment, probes, rerank)
    * is replayable in SQL — which makes this variant's RECALL hash-
    * checkable end-to-end (e_ann_ivf_recall), unlike the KMeans index
    * whose recall is spec-pinned. Returns (cell, centroid). */
  def ivfSampledCells(corpus: DataFrame, nlist: Int = 16): DataFrame = {
    val hc = graft.functions.TextFunctions
      .hash60(concat(col("id").cast("string"), lit("ivfc")))
    val sample = corpus.select(col("id"), col("vec"), hc.as("hc"))
      .orderBy(col("hc"), col("id")).limit(nlist)
    // rank within the nlist-row sample = cell id (tiny: window is fine)
    val w = Window.orderBy(col("hc"), col("id"))
    sample.withColumn("cell", (row_number().over(w) - 1).cast("int"))
      .select(col("cell"), col("vec").as("centroid"))
  }

  /** Nearest-sampled-centroid assignment: rounded-cosine argmax with
    * min-cell tie-break. The scored rows drop the vectors BEFORE the
    * aggregation (map-side-combinable max(struct)), so the shuffle carries
    * (id, sim, cell) triples, not nlist copies of every vector. */
  def ivfSampledAssign(corpus: DataFrame, cells: DataFrame): DataFrame = {
    val scored = corpus.crossJoin(broadcast(cells))
      .select(col("id"),
        round(cosine(col("vec"), col("centroid")), 4).as("sim"), col("cell"))
    val best = scored.groupBy("id")
      .agg(max(struct(col("sim"), (-col("cell")).as("nc"))).as("m"))
      .select(col("id").as("vec_id"), (-col("m.nc")).cast("int").as("cell"))
    best.join(corpus.select(col("id").as("vec_id"), col("vec").as("cvec")), "vec_id")
  }

  /** Query-DRIFT monitor for a serving ANN index — the
    * out-of-distribution alarm a vector-search deployment runs next to
    * its recall gates: per query group (`grp`, e.g. live traffic vs the
    * training distribution) the histogram of each query's NEAREST-CENTROID
    * rounded cosine, bucketed at 0.1. OOD queries sit far from every
    * centroid, so their mass shifts to low buckets BEFORE recall visibly
    * degrades (nprobe cells stop covering the true neighbors). Emits
    * (grp, bucket, n_queries, sum_best_tenthmilli) — the sum is of
    * round(best·10⁴) integers, order-free, so group means replay exactly
    * downstream.
    *
    * Scale shape: centroids broadcast (nlist rows by construction); one
    * map-side-combinable (grp, id) max + one bucket-sized aggregation —
    * the query table is scanned once, nothing corpus×corpus. */
  def oodDriftHist(queries: DataFrame, cells: DataFrame): DataFrame = {
    val scored = queries.crossJoin(broadcast(cells))
      .select(col("grp"), col("id"),
        round(cosine(col("vec"), col("centroid")), 4).as("sim"))
    scored.groupBy("grp", "id").agg(max(col("sim")).as("best"))
      .select(col("grp"),
        floor(col("best") * 10).cast("int").as("bucket"),
        round(col("best") * 10000).cast("long").as("btm"))
      .groupBy("grp", "bucket")
      .agg(count(lit(1)).as("n_queries"),
        sum(col("btm")).as("sum_best_tenthmilli"))
  }

  /** Search the sampled-centroid index: top-`nprobe` cells per query by
    * rounded centroid cosine (cell tie-break), exact rounded-cosine rerank
    * of the probed cells only — same shape as [[ivfSearch]], every step
    * SQL-replayable. */
  def ivfSampledTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     nlist: Int = 16, nprobe: Int = 4,
                     prebuiltCells: Option[DataFrame] = None,
                     prebuiltAssigned: Option[DataFrame] = None): DataFrame = {
    val cells = prebuiltCells.getOrElse(ivfSampledCells(corpus, nlist))
    val assigned = prebuiltAssigned.getOrElse(ivfSampledAssign(corpus, cells))
    val qScored = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
      .crossJoin(broadcast(cells))
      .withColumn("sim", round(cosine(col("qvec"), col("centroid")), 4))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cell"))
    val probes = qScored.withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("qvec"), col("cell"))
    val cand = assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", round(cosine(col("qvec"), col("cvec")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos", "rank")
  }

  // ------------------------------------------- product quantization
  /** Trainless product quantization (Jégou et al. 2011 shape, sampled
    * codebooks): split every vector into [[PqSubspaces]] subvectors,
    * quantize each against a per-subspace codebook of [[PqCodebookSize]]
    * entries, store M small codes per vector. Search is ADC (asymmetric
    * distance computation): the query computes one M×K inner-product
    * table, and each corpus vector scores as M integer table lookups —
    * the memory-bandwidth path of every production ANN index (the corpus
    * is M ints per vector, not dim doubles). Codebooks are the
    * hash-sampled corpus subvectors (same trainless move as
    * [[ivfSampledCells]]), and every score is floor(1e6·dot) BEFORE any
    * aggregation (integer compares, order-free sums) — the entire
    * encode + search pipeline replays exactly in SQL (e_pq_recall). */
  val PqSubspaces = 8
  val PqCodebookSize = 16

  /** Per-subspace slices of `df`'s vec: (idAs, m, sv). */
  private def subVectors(df: DataFrame, idAs: String, dim: Int,
                         m: Int): DataFrame = {
    val sub = dim / m
    val subs = (0 until m).map(mm => struct(lit(mm).as("m"),
      slice(col("vec"), mm * sub + 1, sub).as("sv")))
    df.select(col("id").as(idAs), explode(array(subs: _*)).as("s"))
      .select(col(idAs), col("s.m").as("m"), col("s.sv").as("sv"))
  }

  /** Trainless PQ codebooks: the K corpus vectors with the smallest
    * salted hash, sliced per subspace. (m, j, cb) — M·K rows, broadcast
    * everywhere it is used. */
  def pqCodebooks(corpus: DataFrame, dim: Int, m: Int = PqSubspaces,
                  k: Int = PqCodebookSize): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val hc = graft.functions.TextFunctions
      .hash60(concat(col("id").cast("string"), lit("pqc")))
    val sample = corpus.select(col("id"), col("vec"), hc.as("hc"))
      .orderBy(col("hc"), col("id")).limit(k)
    val w = Window.orderBy(col("hc"), col("id"))
    subVectors(sample.withColumn("j", (row_number().over(w) - 1).cast("int"))
        .select(col("j").as("id"), col("vec")), "j", dim, m)
      .select(col("m"), col("j"), col("sv").as("cb"))
  }

  /** PQ encoding: per (vector, subspace) the argmax-inner-product
    * codebook entry — floor-micro INTEGER compare with min-j tie-break,
    * so the argmax is engine-exact. (vec_id, m, code). */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, dim: Int,
               m: Int = PqSubspaces): DataFrame = {
    val scored = subVectors(corpus, "vec_id", dim, m)
      .join(broadcast(codebooks), Seq("m"))
      .select(col("vec_id"), col("m"), col("j"),
        floor(lit(1000000.0) * dot(col("sv"), col("cb"))).cast("long").as("micro"))
    scored.groupBy("vec_id", "m")
      .agg(max(struct(col("micro"), (-col("j")).as("nj"))).as("mx"))
      .select(col("vec_id"), col("m"), (-col("mx.nj")).cast("int").as("code"))
  }

  /** ADC top-k: per query one M×K floor-micro inner-product table
    * (broadcast), the corpus codes join it on (m, code), and the per-pair
    * score is the integer sum of the M lookups. The codes table is the
    * only corpus-sized input — this is full-scan PQ (compose with the IVF
    * cells to probe a corpus fraction; kept separate so each index is
    * hash-checked on its own). */
  def pqTopK(corpus: DataFrame, queries: DataFrame, kNN: Int,
             m: Int = PqSubspaces, k: Int = PqCodebookSize,
             prebuiltCodebooks: Option[DataFrame] = None,
             prebuiltCodes: Option[DataFrame] = None): DataFrame = {
    val dim = inferDim(corpus)
    val cbs = prebuiltCodebooks.getOrElse(pqCodebooks(corpus, dim, m, k))
    val codes = prebuiltCodes.getOrElse(pqEncode(corpus, cbs, dim, m))
    val qt = subVectors(queries, "query_id", dim, m)
      .join(broadcast(cbs), Seq("m"))
      .select(col("query_id"), col("m"), col("j").as("code"),
        floor(lit(1000000.0) * dot(col("sv"), col("cb"))).cast("long").as("t_micro"))
    val scored = codes.join(broadcast(qt), Seq("m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("t_micro")).as("score_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select("query_id", "vec_id", "score_micro", "rank")
  }

  /** IVF+PQ — the production ANN index shape (FAISS IVFPQ): the trainless
    * IVF cells bound WHICH vectors a query scores (nprobe cells), and the
    * PQ codes bound HOW MUCH is read per scored vector (M ints). Both
    * component indexes are the hash-checked trainless forms, so the
    * composition replays end-to-end in SQL (e_ivfpq_recall). */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, kNN: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = PqSubspaces, k: Int = PqCodebookSize,
                prebuiltCells: Option[DataFrame] = None,
                prebuiltAssigned: Option[DataFrame] = None,
                prebuiltCodebooks: Option[DataFrame] = None,
                prebuiltCodes: Option[DataFrame] = None): DataFrame = {
    val dim = inferDim(corpus)
    val cells = prebuiltCells.getOrElse(ivfSampledCells(corpus, nlist))
    val assigned = prebuiltAssigned.getOrElse(ivfSampledAssign(corpus, cells))
    val cbs = prebuiltCodebooks.getOrElse(pqCodebooks(corpus, dim, m, k))
    val codes = prebuiltCodes.getOrElse(pqEncode(corpus, cbs, dim, m))
    val qScored = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
      .crossJoin(broadcast(cells))
      .withColumn("sim", round(cosine(col("qvec"), col("centroid")), 4))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("cell"))
    val probes = qScored.withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= nprobe)
      .select(col("query_id"), col("cell"))
    val cand = assigned.select(col("vec_id"), col("cell"))
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val qt = subVectors(queries.select(col("id"), col("vec")), "query_id", dim, m)
      .join(broadcast(cbs), Seq("m"))
      .select(col("query_id"), col("m"), col("j").as("code"),
        floor(lit(1000000.0) * dot(col("sv"), col("cb"))).cast("long").as("t_micro"))
    val scored = cand.join(codes, Seq("vec_id"))
      .join(broadcast(qt), Seq("query_id", "m", "code"))
      .groupBy("query_id", "vec_id")
      .agg(sum(col("t_micro")).as("score_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_micro").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select("query_id", "vec_id", "score_micro", "rank")
  }

  /** STREAMING IVF+PQ serving — the online face of [[ivfPqTopK]]: query
    * vectors arrive as a stream and each micro-batch runs the full
    * probe → candidate fetch → ADC score → top-k pipeline with ONE
    * stateful operator (the final per-query aggregation, update mode).
    *
    * Streams cannot run the batch path's ranking windows, so the index
    * STRUCTURE rides the plan as literals built from two bounded driver
    * collects (nlist centroids + M·K codebook rows — the documented
    * landmark-frame pattern): probing is a per-row sorted slice over
    * the centroid literal, and the ADC lookup table (M·K floor-micro
    * dots) is computed once per query ROW and carried through the
    * candidate join — exactly FAISS's per-query LUT, expressed as an
    * array column. Candidates come from a stateless stream-static equi
    * join on cell; per-candidate scoring is one `aggregate` over the M
    * code lookups; every arithmetic step reuses the batch operators'
    * expression trees, so the result is bit-identical to [[ivfPqTopK]]
    * and replays in the same SQL.
    *
    * Scale shape: the corpus-sized inputs (assignment, pivoted codes)
    * join on their keys and never broadcast; per-query state is one
    * k-slot top list. */
  def streamingIvfPqTopK(queryStream: DataFrame, cells: DataFrame,
                         assigned: DataFrame, codebooks: DataFrame,
                         codes: DataFrame, kNN: Int, dim: Int,
                         nlist: Int = 16, nprobe: Int = 4,
                         m: Int = PqSubspaces,
                         k: Int = PqCodebookSize): DataFrame = {
    val sub = dim / m
    val centArr: Seq[Seq[Double]] = cells.orderBy("cell")
      .select("centroid").collect().map(_.getSeq[Double](0).toSeq).toSeq
    val cbFlat: Seq[Seq[Double]] = codebooks.orderBy("m", "j")
      .select("cb").collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(centArr.length == nlist && cbFlat.length == m * k,
      "index literals must cover the full index")
    val centLit = typedlit(centArr)
    val cbLit = typedlit(cbFlat)
    val q = queryStream
      .select(col("id").as("query_id"), col("vec").as("qvec"))
    // top-nprobe cells by (rounded cosine desc, cell asc): negate the
    // sim (exact IEEE) so one ascending struct sort gives the order
    val simStruct = transform(sequence(lit(0), lit(nlist - 1)),
      c => struct(
        (lit(0d) - round(cosine(col("qvec"),
          element_at(centLit, (c + 1).cast("int"))), 4)).as("ns"),
        c.cast("int").as("cell")))
    val lut = flatten(transform(sequence(lit(0), lit(m - 1)),
      mm => transform(sequence(lit(0), lit(k - 1)),
        j => floor(lit(1000000.0) * dot(
          slice(col("qvec"), mm * lit(sub) + 1, lit(sub)),
          element_at(cbLit, (mm * lit(k) + j + 1).cast("int"))))
          .cast("long"))))
    val probed = q
      .withColumn("lut", lut)
      .withColumn("pc", explode(slice(array_sort(simStruct), 1, nprobe)))
      .select(col("query_id"), col("lut"), col("pc.cell").as("cell"))
    // static sides: cell → members, and codes pivoted to one m-ordered
    // int array per vector (persisted so micro-batches reuse the pivot)
    val codesArr = graft.CacheScope.cached(codes.groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("code")))).as("mc"))
      .select(col("vec_id"), expr("transform(mc, x -> x.code)").as("codes")))
    val scoredRows = probed
      .join(assigned.select(col("cell"), col("vec_id")), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(codesArr, Seq("vec_id"))
      .withColumn("score_micro", expr(
        s"aggregate(sequence(0, ${m - 1}), CAST(0 AS BIGINT), (acc, mm) " +
          s"-> acc + element_at(lut, mm * $k + element_at(codes, mm + 1) + 1))"))
    scoredRows.groupBy("query_id").agg(
      count(lit(1)).as("n_cands"),
      slice(array_sort(collect_list(struct(
        (lit(0L) - col("score_micro")).as("ns"), col("vec_id")))),
        1, kNN).as("top"))
  }

  /** STREAMING IVF+PQ index APPEND — the index-MAINTENANCE face that
    * completes the ANN lifecycle next to [[streamingIvfPqTopK]] (serve)
    * and [[streamingLloydAssignCounts]] (train): vectors arriving as
    * micro-batches are assigned to the FIXED cells and PQ-encoded
    * against the FIXED codebooks, emitting the index row
    * (vec_id, cell, codes[M]) APPEND-ONLY with ZERO stateful operators.
    * Per-vector assignment and encode are row-local given the index
    * structure (nlist centroids + M·K codebook rows ride the plan as
    * literals from two bounded driver collects — the
    * [[streamingIvfPqTopK]] discipline), so appends never re-encode the
    * corpus and never rescan. Every arithmetic step replays the batch
    * builders expression-for-expression ([[ivfSampledAssign]]'s
    * round(cos, 4) argmax with min-cell tie-break; [[pqEncode]]'s
    * floor-micro argmax with min-j tie-break), so appended rows are
    * byte-identical to the batch build's — the e_pq_incr no-drift
    * identity, at ingest time. */
  def streamingIvfPqAppend(vecStream: DataFrame, cells: DataFrame,
                           codebooks: DataFrame, dim: Int,
                           nlist: Int = 16, m: Int = PqSubspaces,
                           k: Int = PqCodebookSize): DataFrame = {
    val sub = dim / m
    val centArr: Seq[Seq[Double]] = cells.orderBy("cell")
      .select("centroid").collect().map(_.getSeq[Double](0).toSeq).toSeq
    val cbFlat: Seq[Seq[Double]] = codebooks.orderBy("m", "j")
      .select("cb").collect().map(_.getSeq[Double](0).toSeq).toSeq
    require(centArr.length == nlist && cbFlat.length == m * k,
      "index literals must cover the full index")
    val centLit = typedlit(centArr)
    val cbLit = typedlit(cbFlat)
    // ascending (−sim, cell) sort ⇒ element 1 = max sim, min cell on tie
    // — exactly ivfSampledAssign's max(struct(sim, −cell))
    val simStruct = transform(sequence(lit(0), lit(nlist - 1)),
      c => struct(
        (lit(0d) - round(cosine(col("vec"),
          element_at(centLit, (c + 1).cast("int"))), 4)).as("ns"),
        c.cast("int").as("cell")))
    // ascending (−micro, j) sort ⇒ element 1 = max micro, min j on tie
    // — exactly pqEncode's max(struct(micro, −j))
    val codesCol = transform(sequence(lit(0), lit(m - 1)), mm =>
      element_at(array_sort(transform(sequence(lit(0), lit(k - 1)), j =>
        struct(
          (lit(0L) - floor(lit(1000000.0) * dot(
            slice(col("vec"), mm * lit(sub) + 1, lit(sub)),
            element_at(cbLit, (mm * lit(k) + j + 1).cast("int"))))
            .cast("long")).as("nmicro"),
          j.cast("int").as("j")))), 1).getField("j"))
    vecStream.select(col("id").as("vec_id"),
      element_at(array_sort(simStruct), 1).getField("cell").as("cell"),
      codesCol.as("codes"))
  }

  /** Two-stage retrieval — PQ-ADC shortlist, exact rerank (the FAISS
    * "refine" shape every production ANN deployment runs): the compressed
    * index proposes `shortlist` candidates per query touching only M ints
    * per corpus vector, then ONLY those candidates are rescored with the
    * full vectors and the top `kNN` survive. The rerank cosine floors to
    * integer micros built from the exact op tree (dot, two sqrt-norms,
    * one division — each correctly-rounded IEEE, mirrored op-for-op in
    * the oracle), so the whole two-stage pipeline replays in SQL
    * (e_rerank).
    *
    * Scale shape: stage 1 is [[pqTopK]] (codes-only scan); stage 2 reads
    * full vectors for shortlist·|queries| rows ONLY — the shortlist join
    * is corpus-keyed so the big vector table never broadcasts, and the
    * query vectors (tiny by construction) do. */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, kNN: Int,
                   shortlist: Int,
                   m: Int = PqSubspaces, k: Int = PqCodebookSize,
                   prebuiltCodebooks: Option[DataFrame] = None,
                   prebuiltCodes: Option[DataFrame] = None): DataFrame = {
    require(shortlist >= kNN, "shortlist >= kNN")
    val short = pqTopK(corpus, queries, shortlist, m, k,
        prebuiltCodebooks, prebuiltCodes)
      .select(col("query_id"), col("vec_id"))
    val rer = short
      .join(corpus.select(col("id").as("vec_id"), col("vec").as("cv")), "vec_id")
      .join(broadcast(queries.select(col("id").as("query_id"),
        col("vec").as("qv"))), "query_id")
      .select(col("query_id"), col("vec_id"),
        floor(lit(1000000.0) * (dot(col("qv"), col("cv")) /
          (norm(col("qv")) * norm(col("cv"))))).cast("long").as("cos_micro"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select("query_id", "vec_id", "cos_micro", "rank")
  }

  /** Embedding-space benchmark decontamination — the semantic upgrade of
    * the n-gram sweep (Dedup.contaminationReport): score every corpus
    * vector by its MAX cosine against the benchmark set and flag those at
    * or above `threshold`. Catches paraphrased contamination that shares
    * no shingle with the benchmark. Cosines floor to integer micros off
    * the exact op tree (the e_rerank discipline) and the threshold
    * compares in integer micros, so the sweep replays exactly in SQL.
    *
    * Scale shape: benchmark sets are small by construction — one
    * broadcast, one corpus scan, a map-side-combinable max; the corpus
    * never shuffles. (For mega-benchmarks, pre-bucket with the LSH index
    * and sweep per bucket.) */
  def embContamination(corpus: DataFrame, bench: DataFrame,
                       threshold: Double): DataFrame = {
    val b = broadcast(bench.select(col("id").as("bid"), col("vec").as("bv"),
      norm(col("vec")).as("bn")))
    corpus.select(col("id"), col("vec"), norm(col("vec")).as("cn"))
      .crossJoin(b)
      .select(col("id"),
        floor(lit(1000000.0) * (dot(col("vec"), col("bv")) /
          (col("cn") * col("bn")))).cast("long").as("cm"))
      .groupBy("id")
      .agg(max(col("cm")).as("max_cos_micro"))
      .withColumn("contaminated",
        col("max_cos_micro") >= lit((threshold * 1e6).toLong))
  }

  // ------------------------------------------- Matryoshka truncation
  /** Matryoshka-style truncated search (Kusupati et al. 2022): rank with
    * only the FIRST `dims` components of every vector — the
    * dimensionality-reduction shortcut MRL-trained embeddings support
    * natively (prefixes are themselves valid embeddings). Cosine is
    * scale-invariant, so no renormalization is needed for ranking. At
    * 100 TB this is the cheap first-pass ranker (dims/fullDim of the
    * flops and bytes); rerank survivors with the full vectors. Everything
    * is a `slice` + the exact ranker — fully SQL-replayable. */
  def matryoshkaTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     dims: Int): DataFrame = {
    require(dims >= 1, "dims >= 1")
    def cut(df: DataFrame) = df.withColumn("vec", slice(col("vec"), 1, dims))
    bruteForceTopK(cut(corpus), cut(queries), k)
  }

  // ------------------------------------------------------------ SemDeDup
  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    * the corpus with the IVF coarse quantizer, find near-duplicate pairs
    * ONLY within each cell (the cluster bounds the candidate set — no
    * all-pairs product), connect them into duplicate components, keep each
    * component's min-id representative. Returns the surviving corpus rows.
    *
    * Scale shape: the cell self-join is per-cell quadratic by design
    * (SemDeDup's trade: cells are small and semantically tight), the dup
    * graph is tiny relative to the corpus, GraphX CC iterations are
    * bounded by dup-component diameter, and survivor removal is one
    * left_anti join. The candidate pairs localCheckpoint once — the dup
    * graph's node derivation and GraphX conversion would otherwise re-run
    * the quadratic join (same reuse pattern as Dedup.nearDupSurvivors). */
  def semanticSurvivors(corpus: DataFrame, threshold: Double = 0.8,
                        nlist: Int = 16,
                        cacheKey: Option[String] = None): DataFrame = {
    requireIntegralId(corpus)
    val index = ivfBuild(corpus, nlist, cacheKey)
    survivorsFromAssignment(corpus, index.assigned, threshold)
  }

  /** SemDeDup on the TRAINLESS sampled-centroid quantizer
    * ([[ivfSampledCells]]/[[ivfSampledAssign]]) instead of KMeans: same
    * cluster-then-dedup shape and the same within-cell-only candidate
    * bound, but every step — hash-sampled cells, rounded-cosine argmax
    * assignment, within-cell pairs, connected components, min-id
    * survivors — is deterministic and SQL-replayable, so the whole
    * pipeline is hash-checkable end-to-end (e_semdedup), not just
    * spec-pinned like the KMeans variant. */
  def semanticSurvivorsSampled(corpus: DataFrame, threshold: Double = 0.8,
                               nlist: Int = 16,
                               prebuiltAssigned: Option[DataFrame] = None): DataFrame = {
    requireIntegralId(corpus)
    val assigned = prebuiltAssigned.getOrElse(
      ivfSampledAssign(corpus, ivfSampledCells(corpus, nlist)))
    survivorsFromAssignment(corpus, assigned, threshold)
  }

  /** ids round-trip through the dup graph's string keys and back via
    * cast(long) — same contract as Dedup.nearDupSurvivors. */
  private def requireIntegralId(corpus: DataFrame): Unit =
    corpus.schema("id").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"semanticSurvivors needs an integral id column; got $other")
    }

  /** Shared SemDeDup tail: within-cell near-dup pairs over an
    * (vec_id, cvec, cell) assignment, dup components, min-id survivors.
    * The candidate pairs localCheckpoint once — the dup graph's node
    * derivation and GraphX conversion would otherwise re-run the
    * per-cell-quadratic join (same reuse pattern as
    * Dedup.nearDupSurvivors). */
  private def survivorsFromAssignment(corpus: DataFrame, assigned: DataFrame,
                                      threshold: Double): DataFrame = {
    val a = assigned.select(col("cell"), col("vec_id").as("a"), col("cvec").as("va"))
    val b = assigned.select(col("cell"), col("vec_id").as("b"), col("cvec").as("vb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("a") < col("b"))
      .filter(round(cosine(col("va"), col("vb")), 4) >= threshold)
      .select(col("a").cast("string").as("src"), col("b").cast("string").as("dst"))
      .transform(graft.CacheScope.checkpoint)
    val dupGraph = graft.KinGraph.fromEdges(pairs.withColumn("etype", lit(0)))
    val comps = graft.gx.GraphXBridge.connectedComponents(
      graft.gx.GraphXBridge.toGraphX(dupGraph))
    val victims = comps
      .select(col("key").cast("long").as("__vid"), col("component"))
      .withColumn("__keep",
        min(col("__vid")).over(Window.partitionBy(col("component"))))
      .filter(col("__vid") =!= col("__keep"))
      .select(col("__vid"))
    corpus.join(victims, corpus("id") === victims("__vid"), "left_anti")
  }

  /** kNN-graph clustering — the cluster-based curation primitive (group
    * semantically-similar documents, then inspect/sample/prune per
    * cluster): each vector contributes edges to its k nearest neighbors,
    * edges are symmetrized, and connected components become clusters
    * labeled by their min id (with the component size attached — the
    * "how big is this semantic clump" diagnostic).
    *
    * The default edge builder is the EXACT brute-force top-k (replayable
    * in SQL — e_knn_cluster); at scale pass `prebuiltNeighbors` from the
    * ANN index ([[pqTopK]]/[[ivfPqTopK]] output: query_id, vec_id) so the
    * edge build reads codes, not raw vectors — the CC then runs on the
    * k·n-sized edge list either way, never on pairs. */
  def knnComponents(corpus: DataFrame, k: Int = 3,
                    prebuiltNeighbors: Option[DataFrame] = None): DataFrame = {
    requireIntegralId(corpus)
    val nn = prebuiltNeighbors.getOrElse(bruteForceTopK(corpus, corpus, k))
      .select(col("query_id").as("a"), col("vec_id").as("b"))
    val edges = nn
      .select(col("a").cast("string").as("src"), col("b").cast("string").as("dst"))
      .transform(graft.CacheScope.checkpoint)
    val g = graft.KinGraph.fromEdges(edges.withColumn("etype", lit(0)))
    val comps = graft.gx.GraphXBridge.connectedComponents(
      graft.gx.GraphXBridge.toGraphX(g))
    val wc = Window.partitionBy(col("component"))
    comps.select(col("key").cast("long").as("id"), col("component"))
      .withColumn("cluster", min(col("id")).over(wc))
      .withColumn("cluster_size", count(lit(1)).over(wc))
      .select("id", "cluster", "cluster_size")
  }

  /** Per-dimension int8 scalar quantization — the embedding-compression
    * pass an ANN index runs before storing vectors (4-8x smaller, rerank
    * on the float originals). Codes are EXACT integers:
    * `q = floor((v - min_d) * 255 / (max_d - min_d))` clamped to [0, 255],
    * with per-dimension min/max from the corpus (min/max are
    * order-independent, and the two-op affine map + floor is deterministic
    * across engines — no float-sum-order hazard anywhere), so the whole
    * quantization is hash-checkable.
    *
    * Relational shape: one posexplode + a broadcast join against the
    * (dims-row) stats table + one per-vector re-assembly — the explode is
    * the only wide stage and it is map-side-combinable into the stats agg.
    * Returns (id, n_dims, q_fp = md5 of the comma-joined codes). */
  /** The shared int8 code expression: floor-affine map to [0, 255] from
    * per-dimension corpus min/max (exact across engines — see
    * [[quantizeInt8]]). */
  private def qCode(v: Column, mn: Column, mx: Column): Column =
    when(mx === mn, lit(0))
      .otherwise(least(
        floor((v - mn) * lit(255.0) / (mx - mn)), lit(255L)).cast("int"))

  def quantizeInt8(corpus: DataFrame): DataFrame = {
    val el = corpus.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
    val stats = el.groupBy(col("i")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val q = el.join(broadcast(stats), "i")
      .withColumn("q", qCode(col("v"), col("mn"), col("mx")))
    q.groupBy(col("id")).agg(
      count(lit(1)).as("n_dims"),
      md5(concat_ws(",", transform(
        array_sort(collect_list(struct(col("i"), col("q")))),
        x => x.getField("q").cast("string")))).as("q_fp"))
  }

  /** DuckDB twin of [[quantizeInt8]] over the embeddings table. */
  def quantizeInt8Sql(table: String): String =
    s"""WITH el AS (
       |  SELECT vec_id AS id, s['i'] AS i, CAST(s['v'] AS DOUBLE) AS v FROM (
       |    SELECT vec_id, unnest(list_transform(
       |      generate_series(1, len(embedding)),
       |      i -> {'i': i - 1, 'v': embedding[i]})) AS s
       |    FROM $table)
       |), stats AS (
       |  SELECT i, min(v) AS mn, max(v) AS mx FROM el GROUP BY i
       |), q AS (
       |  SELECT id, i,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE CAST(least(floor((v - mn) * 255.0 / (mx - mn)), 255) AS INT)
       |    END AS q
       |  FROM el JOIN stats USING (i)
       |)
       |SELECT id, CAST(count(*) AS BIGINT) AS n_dims,
       |  md5(string_agg(CAST(q AS VARCHAR), ',' ORDER BY i)) AS q_fp
       |FROM q GROUP BY id ORDER BY id""".stripMargin

  /** Integer-exact per-group centroids of int8-quantized embeddings — the
    * cluster-profile step of semantic dedup / mixture analysis. The float
    * quantization is the [[quantizeInt8]] affine+floor map (cross-engine
    * exact); after it everything is integer: per (group, dim) the code SUM
    * and count, plus `mean_milli = 1000·sum div n` — no float mean, so no
    * sum-order hazard and the whole centroid table is hash-checkable.
    *
    * `corpus`: (id, grp, vec). Relational shape: one posexplode, a
    * broadcast join against the dims-row stats table, one (grp, dim)
    * aggregation — the group count is bounded (labels/clusters), so the
    * output is tiny however large the corpus. */
  def int8GroupCentroids(corpus: DataFrame): DataFrame = {
    val el = corpus.select(col("id"), col("grp"),
      posexplode(col("vec")).as(Seq("i", "v")))
    val stats = el.groupBy(col("i")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    el.join(broadcast(stats), "i")
      .select(col("grp"), col("i"), qCode(col("v"), col("mn"), col("mx")).as("q"))
      .groupBy(col("grp"), col("i"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
      .select(col("grp"), col("i").as("dim"), col("n"), col("sum_q"),
        expr("(1000 * sum_q) div n").as("mean_milli"))
  }

  /** DuckDB twin of [[int8GroupCentroids]] over the embeddings table with
    * `grpExpr` as the group column. */
  def int8GroupCentroidsSql(table: String, grpExpr: String): String =
    s"""WITH el AS (
       |  SELECT id, grp, s['i'] AS i, CAST(s['v'] AS DOUBLE) AS v FROM (
       |    SELECT vec_id AS id, $grpExpr AS grp, unnest(list_transform(
       |      generate_series(1, len(embedding)),
       |      i -> {'i': i - 1, 'v': embedding[i]})) AS s
       |    FROM $table)
       |), stats AS (
       |  SELECT i, min(v) AS mn, max(v) AS mx FROM el GROUP BY i
       |), q AS (
       |  SELECT grp, i,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE CAST(least(floor((v - mn) * 255.0 / (mx - mn)), 255) AS INT)
       |    END AS q
       |  FROM el JOIN stats USING (i)
       |)
       |SELECT grp, CAST(i AS INT) AS dim, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(q) AS BIGINT) AS sum_q,
       |  CAST((1000 * CAST(sum(q) AS BIGINT)) // count(*) AS BIGINT) AS mean_milli
       |FROM q GROUP BY grp, i""".stripMargin

  /** Deterministic hash-ranked seed frame for [[int8LloydStep]]: the k
    * ids whose salted key hash ranks lowest, cid = rank — the trainless
    * seed rule the sampled-centroid IVF gates already replay in SQL, so
    * a Lloyd step on top stays fully oracle-checkable (Spark ML KMeans
    * centroids are engine-private float state). The rank window runs on
    * the orderBy+limit k-row frame, never the corpus. */
  def int8LloydSeeds(corpus: DataFrame, k: Int): DataFrame = {
    val ranked = corpus.select(col("id"))
      .withColumn("h", graft.functions.TextFunctions.hash60(
        concat(col("id").cast("string"), lit("km"))))
      .orderBy(col("h"), col("id")).limit(k)
    val w = Window.orderBy(col("h"), col("id"))
    ranked.withColumn("cid", (row_number().over(w) - 1).cast("int"))
      .select(col("cid"), col("id"))
  }

  /** ONE integer-exact Lloyd iteration over the int8-quantized corpus —
    * the index-training step (IVF coarse-quantizer refinement) as a
    * relational plan: assignment = argmin of the EXACT integer squared-L2
    * over the affine int8 codes (ties to the smallest centroid id),
    * update = per-(centroid, dim) integer code sums with the milli-mean,
    * and the one-row-per-centroid readout carries membership count, total
    * inertia and the L1 shift (milli) between the seed codes and the
    * updated means — the numbers a training loop monitors for
    * convergence. All integers, so every row replays exactly in DuckDB
    * ([[int8LloydStepSql]]).
    *
    * Scale shape: one posexplode, one broadcast dims-row stats join, one
    * broadcast (k × dims) seed-code join, the (id, cid) distance
    * aggregation (n·k rows, map-side combinable), one per-id argmin, one
    * (cid, dim) update aggregation — no corpus×corpus work; exactly the
    * plan a 1000-executor Lloyd step runs.
    *
    * `seeds`: (cid, id) — [[int8LloydSeeds]] in production; specs pass
    * explicit ids for hand-checked fixtures. A centroid whose seed codes
    * duplicate a lower cid's can end up memberless; it is then absent
    * from the output in BOTH engines (the deterministic tie rule). */
  /** The shared internals of the Lloyd readouts: cached codes, seed
    * codes, the round-1 assignment and the per-(cid, dim) update stats. */
  private def lloydParts(corpus: DataFrame, seeds: DataFrame)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val el = corpus.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
    val stats = el.groupBy(col("i")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    // cached: feeds the seed-code projection, the distance join and the
    // update aggregation
    val q = graft.CacheScope.cached(el.join(broadcast(stats), "i")
      .select(col("id"), col("i"), qCode(col("v"), col("mn"), col("mx")).as("q")))
    val seedCodes = broadcast(
      q.join(seeds, "id").select(col("cid"), col("i"), col("q").as("cq")))
    val dists = q.join(seedCodes, "i")
      .groupBy(col("id"), col("cid"))
      .agg(sum((col("q") - col("cq")).cast("long") *
        (col("q") - col("cq"))).as("dist"))
    val asg = dists.groupBy(col("id"))
      .agg(min(struct(col("dist"), col("cid"))).as("m"))
      .select(col("id"), col("m.cid").as("cid"), col("m.dist").as("dist"))
    val upd = asg.join(q, "id")
      .groupBy(col("cid"), col("i"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
      .withColumn("mean_milli", expr("(1000 * sum_q) div n"))
    (q, seedCodes, asg, upd)
  }

  def int8LloydStep(corpus: DataFrame, seeds: DataFrame): DataFrame = {
    val (_, seedCodes, asg, upd) = lloydParts(corpus, seeds)
    val shift = upd.join(seedCodes, Seq("cid", "i"))
      .groupBy(col("cid"))
      .agg(sum(abs(col("mean_milli") - lit(1000L) * col("cq")))
        .as("shift_l1_milli"))
    asg.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_assigned"), sum(col("dist")).as("inertia"))
      .join(shift, "cid")
      .select(col("cid"), col("n_assigned"), col("inertia"),
        col("shift_l1_milli"))
  }

  /** Reassignment CHURN after the Lloyd update — the OTHER convergence
    * number a k-means loop watches: reassign every vector against the
    * UPDATED milli-centroids (distance in exact milli² integers:
    * Σ (1000·q − mean_milli)², ties to the smallest cid; a centroid
    * emptied by the tie rule simply fields no candidates) and report per
    * ROUND-1 cell how many members stayed vs left and the cell's
    * round-2 membership. Σ n_moved / Σ n_before is the churn rate the
    * loop's stop condition reads. All integers (milli² ≤ 255000² · dims
    * — exact i64), so the whole two-half-step pipeline replays in
    * DuckDB. Same scale shape as [[int8LloydStep]] plus one more
    * broadcast (k × dims) centroid join. */
  def int8LloydChurn(corpus: DataFrame, seeds: DataFrame): DataFrame = {
    val (q, _, asg, upd) = lloydParts(corpus, seeds)
    val ctr = broadcast(upd.select(col("cid"), col("i"), col("mean_milli")))
    val d2 = q.join(ctr, "i")
      .groupBy(col("id"), col("cid"))
      .agg(sum((lit(1000L) * col("q") - col("mean_milli")) *
        (lit(1000L) * col("q") - col("mean_milli"))).as("dist2"))
    val asg2 = d2.groupBy(col("id"))
      .agg(min(struct(col("dist2"), col("cid"))).as("m"))
      .select(col("id"), col("m.cid").as("cid2"))
    asg.join(asg2, "id")
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_before"),
        sum(when(col("cid") === col("cid2"), 1L).otherwise(0L)).as("n_stayed"))
      .join(asg2.groupBy(col("cid2").as("cid"))
        .agg(count(lit(1)).as("n_after")), Seq("cid"), "full_outer")
      .select(col("cid"),
        coalesce(col("n_before"), lit(0L)).as("n_before"),
        coalesce(col("n_stayed"), lit(0L)).as("n_stayed"),
        (coalesce(col("n_before"), lit(0L)) -
          coalesce(col("n_stayed"), lit(0L))).as("n_moved"),
        coalesce(col("n_after"), lit(0L)).as("n_after"))
  }

  /** STREAMING centroid assignment at ingest — the index-routing half of
    * the Lloyd step for vectors arriving as micro-batches: per-dim
    * quantization stats and the k×dims seed codes are bounded by
    * construction, so they collect into LITERALS (the s_stream_ann index
    * discipline); each streamed vector then quantizes and assigns
    * ROW-LOCALLY (transform + zip_with/aggregate folds over the literal
    * centroid table — the batch per-(id, cid) shuffle is two stateful
    * aggs a stream cannot run), and the per-cell membership count is the
    * ONE update-mode aggregation (k rows of state however large the
    * stream). The row-local quantizer repeats [[qCode]]'s exact
    * expression shape ((v − mn) · 255.0 / (mx − mn), floor, cap) on the
    * same collected doubles, and the distance fold repeats the batch
    * (q − cq)·(q − cq) integer tree, so drained counts are bit-equal to
    * the batch round-1 assignment (StreamingSpec pins it; the DuckDB
    * twin is [[int8LloydAssignCountsSql]]). */
  def streamingLloydAssignCounts(stream: DataFrame, corpus: DataFrame,
                                 seeds: DataFrame): DataFrame = {
    val el = corpus.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
    val statsDf = el.groupBy(col("i"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val stats = statsDf.orderBy("i").collect() // dims rows, bounded
    val mns = stats.map(_.getDouble(1))
    val mxs = stats.map(_.getDouble(2))
    // seed codes via the SAME relational qCode path as the batch step —
    // k×dims rows, bounded by construction
    val qdf = el.join(broadcast(statsDf), "i")
      .select(col("id"), col("i"), qCode(col("v"), col("mn"), col("mx")).as("q"))
    val seedCodes = qdf.join(seeds, "id")
      .select(col("cid"), col("i"), col("q")).collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map { case (cid, rows) =>
        cid -> rows.sortBy(_.getInt(1)).map(_.getInt(2)) }
    val mnLit = array(mns.map(lit(_)): _*)
    val mxLit = array(mxs.map(lit(_)): _*)
    val centroidLit = array(seedCodes.map { case (cid, codes) =>
      struct(lit(cid).as("c"), array(codes.map(lit(_)): _*).as("codes"))
    }: _*)
    val qArr = transform(col("vec"), (x, i) => {
      val mn = element_at(mnLit, i + 1)
      val mx = element_at(mxLit, i + 1)
      when(mx === mn, lit(0))
        .otherwise(least(floor((x - mn) * lit(255.0) / (mx - mn)), lit(255L))
          .cast("int"))
    })
    stream
      .select(col("id"), qArr.as("q"))
      .select(col("id"), array_min(transform(centroidLit, c =>
        struct(
          aggregate(zip_with(col("q"), c.getField("codes"),
            (a, b) => (a - b).cast("long") * (a - b)),
            lit(0L), (acc, x) => acc + x).as("d"),
          c.getField("c").as("c")))).as("m"))
      .groupBy(col("m.c").as("cid"))
      .agg(count(lit(1)).as("n"))
  }

  /** DuckDB twin of the streaming assignment counts: the Lloyd chain's
    * round-1 assignment, counted per cell. */
  def int8LloydAssignCountsSql(table: String, k: Int): String =
    s"""${lloydCtesSql(table, k)}
       |SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned FROM asg
       |GROUP BY cid ORDER BY cid""".stripMargin

  /** Shared DuckDB CTE chain of the Lloyd twins: codes, hash-ranked
    * seeds, round-1 assignment and the per-(cid, dim) update stats. */
  private def lloydCtesSql(table: String, k: Int): String = {
    val hSql = graft.functions.TextFunctions.hash60Sql(
      "CAST(id AS VARCHAR) || 'km'")
    s"""WITH el AS (
       |  SELECT id, s['i'] AS i, CAST(s['v'] AS DOUBLE) AS v FROM (
       |    SELECT vec_id AS id, unnest(list_transform(
       |      generate_series(1, len(embedding)),
       |      i -> {'i': i - 1, 'v': embedding[i]})) AS s
       |    FROM $table)
       |), stats AS (
       |  SELECT i, min(v) AS mn, max(v) AS mx FROM el GROUP BY i
       |), q AS MATERIALIZED (
       |  SELECT id, i,
       |    CASE WHEN mx = mn THEN 0
       |         ELSE CAST(least(floor((v - mn) * 255.0 / (mx - mn)), 255) AS INT)
       |    END AS q
       |  FROM el JOIN stats USING (i)
       |), sd AS (
       |  SELECT CAST(rn - 1 AS INT) AS cid, id FROM (
       |    SELECT id, row_number() OVER (ORDER BY h, id) AS rn
       |    FROM (SELECT vec_id AS id, $hSql AS h FROM $table))
       |  WHERE rn <= $k
       |), sc AS (
       |  SELECT sd.cid, q.i, q.q AS cq FROM sd JOIN q USING (id)
       |), d AS (
       |  SELECT q.id, sc.cid,
       |    CAST(sum(CAST(q.q - sc.cq AS BIGINT) * (q.q - sc.cq)) AS BIGINT)
       |      AS dist
       |  FROM q JOIN sc ON q.i = sc.i GROUP BY q.id, sc.cid
       |), asg AS (
       |  SELECT id, cid, dist FROM (
       |    SELECT id, cid, dist,
       |      row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
       |    FROM d) WHERE rn = 1
       |), um AS (
       |  SELECT a.cid, q.i, CAST(count(*) AS BIGINT) AS n,
       |    CAST(sum(q.q) AS BIGINT) AS sum_q,
       |    (1000 * CAST(sum(q.q) AS BIGINT)) // count(*) AS mean_milli
       |  FROM asg a JOIN q USING (id) GROUP BY a.cid, q.i
       |)""".stripMargin
  }

  /** DuckDB twin of [[int8LloydSeeds]] + [[int8LloydStep]] over the
    * embeddings table with k hash-ranked seeds. */
  def int8LloydStepSql(table: String, k: Int): String =
    s"""${lloydCtesSql(table, k)}, sh AS (
       |  SELECT um.cid,
       |    CAST(sum(abs(um.mean_milli - 1000 * sc.cq)) AS BIGINT)
       |      AS shift_l1_milli
       |  FROM um JOIN sc ON um.cid = sc.cid AND um.i = sc.i GROUP BY um.cid
       |), mem AS (
       |  SELECT cid, CAST(count(*) AS BIGINT) AS n_assigned,
       |    CAST(sum(dist) AS BIGINT) AS inertia
       |  FROM asg GROUP BY cid
       |)
       |SELECT mem.cid, mem.n_assigned, mem.inertia, sh.shift_l1_milli
       |FROM mem JOIN sh ON mem.cid = sh.cid
       |ORDER BY mem.cid""".stripMargin

  /** DuckDB twin of [[int8LloydChurn]]. */
  def int8LloydChurnSql(table: String, k: Int): String =
    s"""${lloydCtesSql(table, k)}, d2 AS (
       |  SELECT q.id, um.cid,
       |    CAST(sum((1000 * q.q - um.mean_milli) * (1000 * q.q - um.mean_milli))
       |      AS BIGINT) AS dist2
       |  FROM q JOIN um ON q.i = um.i GROUP BY q.id, um.cid
       |), asg2 AS (
       |  SELECT id, cid AS cid2 FROM (
       |    SELECT id, cid,
       |      row_number() OVER (PARTITION BY id ORDER BY dist2, cid) AS rn
       |    FROM d2) WHERE rn = 1
       |), bf AS (
       |  SELECT a.cid, CAST(count(*) AS BIGINT) AS n_before,
       |    CAST(sum(CASE WHEN a.cid = a2.cid2 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_stayed
       |  FROM asg a JOIN asg2 a2 USING (id) GROUP BY a.cid
       |), af AS (
       |  SELECT cid2 AS cid, CAST(count(*) AS BIGINT) AS n_after
       |  FROM asg2 GROUP BY cid2
       |)
       |SELECT coalesce(bf.cid, af.cid) AS cid,
       |  CAST(coalesce(bf.n_before, 0) AS BIGINT) AS n_before,
       |  CAST(coalesce(bf.n_stayed, 0) AS BIGINT) AS n_stayed,
       |  CAST(coalesce(bf.n_before, 0) - coalesce(bf.n_stayed, 0) AS BIGINT)
       |    AS n_moved,
       |  CAST(coalesce(af.n_after, 0) AS BIGINT) AS n_after
       |FROM bf FULL OUTER JOIN af ON bf.cid = af.cid
       |ORDER BY cid""".stripMargin

  /** Integer-exact within-cluster outlier score — the embedding-pruning
    * pass that drops mislabeled/degenerate vectors before training:
    * quantize to int8 codes (the [[quantizeInt8]] affine+floor map),
    * build per-group integer milli-centroids ([[int8GroupCentroids]]'
    * construction), and score every vector by the L1 distance between its
    * codes (in milli-units) and its own group's centroid — all integers,
    * so the score is order-free and the whole pass replays in SQL
    * (e_outlier pairs it with a data-adaptive p95 cut).
    *
    * `corpus`: (id, grp, vec). Scale shape: one posexplode, a broadcast
    * dims-row stats join, one (grp, dim) aggregation (group-count-bounded
    * output, broadcast back), one per-vector aggregation — no pairwise
    * work anywhere. */
  def int8OutlierScores(corpus: DataFrame): DataFrame = {
    val el = corpus.select(col("id"), col("grp"),
      posexplode(col("vec")).as(Seq("i", "v")))
    val stats = el.groupBy(col("i")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val q = el.join(broadcast(stats), "i")
      .select(col("id"), col("grp"), col("i"),
        qCode(col("v"), col("mn"), col("mx")).as("q"))
    val cent = q.groupBy(col("grp"), col("i"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sum_q"))
      .select(col("grp"), col("i"), expr("(1000 * sum_q) div n").as("mean_milli"))
    q.join(broadcast(cent), Seq("grp", "i"))
      .groupBy("id", "grp")
      .agg(sum(abs(lit(1000) * col("q") - col("mean_milli"))).as("l1_milli"))
  }

  /** Integer-exact top principal component of the int8-quantized corpus —
    * the spectral-structure probe run entirely in replayable arithmetic:
    * quantize to int8 codes, center by the per-dimension INTEGER mean
    * floor (z = q − sum div n), build the exact integer Gram matrix
    * `G = Zᵀ Z` (dims² cells, map-side combinable), then `rounds` of
    * power iteration from the all-ones vector. NOTE the semantics the
    * quantization buys: per-dimension min-max scaling standardizes every
    * dimension's range before the Gram, so this is the dominant direction
    * of the RANGE-NORMALIZED corpus (correlation-flavored PCA — which
    * dimensions move together), not raw-covariance PCA (which would need
    * the non-replayable float Gram). Each matvec is an order-free integer sum; each
    * renormalization is `floor(1e6 · (w/max|w|))` — one long→double cast,
    * one division, one multiply, one floor, all correctly-rounded IEEE on
    * identical inputs — so every iterate is engine-exact (e_pca).
    * Headroom: |G| ≤ 255²·n and |v| ≤ 1e6 keep the matvec below i64
    * overflow through corpora of ~10⁹ rows at 64 dims; beyond that, drop
    * the normalization scale to 1e3.
    *
    * Scale shape: one posexplode for the quantization stats, one id-keyed
    * regroup into per-row z-vectors, then PARTITION-LOCAL outer-product
    * accumulation — each task folds its rows into one dims² Long array
    * and emits only that (the classic distributed Gram: n·d² flops but
    * just partitions·d² rows shuffled; the naive z⋈z self-join shape
    * measured 8.3s vs ~2s at sf0.1). The iteration itself runs on
    * dims²-row frames (broadcast-sized by construction). */
  def pcaTopComponent(corpus: DataFrame, rounds: Int = 4): DataFrame = {
    require(rounds >= 1, "rounds >= 1")
    val sp = corpus.sparkSession
    import sp.implicits._
    val el = corpus.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
    val stats = el.groupBy(col("i")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    val q = el.join(broadcast(stats), "i")
      .select(col("id"), col("i"), qCode(col("v"), col("mn"), col("mx")).as("q"))
    val ctr = q.groupBy(col("i"))
      .agg(expr("sum(q) div count(1)").as("c"))
    // fold the per-dim stats into ONE broadcast row of arrays, then build
    // each row's z-vector with array expressions straight off the vec
    // column — no explode→regroup shuffle of n·d code rows (the exploded
    // frame above only feeds the two 64-row stat aggregations)
    val statArrs = stats.join(ctr, "i")
      .agg(sort_array(collect_list(struct(col("i"), col("mn"), col("mx"), col("c"))))
        .as("s"))
      .select(transform(col("s"), t => t.getField("mn")).as("mnA"),
        transform(col("s"), t => t.getField("mx")).as("mxA"),
        transform(col("s"), t => t.getField("c")).as("cA"))
    val zarr = corpus.crossJoin(broadcast(statArrs))
      .select(zip_with(col("vec"),
        zip_with(col("mnA"), zip_with(col("mxA"), col("cA"),
          (mx, c) => struct(mx.as("mx"), c.as("c"))),
          (mn, s) => struct(mn.as("mn"), s.getField("mx").as("mx"),
            s.getField("c").as("c"))),
        (v, s) => qCode(v, s.getField("mn"), s.getField("mx")).cast("long")
          - s.getField("c")).as("zv"))
      .as[Seq[Long]]
    val partials = zarr.mapPartitions { it =>
      var acc: Array[Long] = null
      var d = 0
      it.foreach { row =>
        val v = row.toArray
        if (acc == null) { d = v.length; acc = new Array[Long](d * d) }
        var i = 0
        while (i < d) {
          val zi = v(i); var j = 0
          while (j < d) { acc(i * d + j) += zi * v(j); j += 1 }
          i += 1
        }
      }
      if (acc == null) Iterator.empty
      else {
        val dd = d
        Iterator.tabulate(dd * dd)(idx => (idx / dd, idx % dd, acc(idx)))
      }
    }.toDF("i", "j", "p")
    val gram = partials.groupBy(col("i"), col("j"))
      .agg(sum(col("p")).as("g"))
      .transform(graft.CacheScope.checkpoint)
    var v = gram.select(col("j").as("dim")).distinct()
      .withColumn("v", lit(1000000L))
    for (_ <- 1 to rounds) {
      val w = gram.join(broadcast(v.withColumnRenamed("dim", "j")), "j")
        .groupBy(col("i"))
        .agg(sum(col("g") * col("v")).as("w"))
      val m = w.agg(max(abs(col("w"))).as("m"))
      v = w.crossJoin(broadcast(m))
        .select(col("i").as("dim"),
          floor(lit(1000000.0) *
            (col("w").cast("double") / col("m").cast("double"))).cast("long").as("v"))
    }
    v.select(col("dim"), col("v").as("v_micro"))
  }

  // --------------------------------------------- SQ8 (int8-code) search
  /** SQ8 search — the scalar-quantizer search mode: the stored corpus is
    * the per-dimension int8 codes of [[quantizeInt8]] (1 byte/dim, 8×
    * smaller than the floats) plus the dims-row stats table; search
    * DEQUANTIZES on the fly (v̂ = mn + q·(mx−mn)/255 — raw code dots
    * would be dominated by the affine offsets) and ranks by the
    * floor-micro cosine of the reconstructions. Every step is
    * engine-exact: the codes are integers, the dequantization is three
    * correctly-rounded IEEE ops on them, and the ranking is the usual
    * (cos_micro DESC, id) total order — so the whole search is
    * hash-exact, and quality is measured, not assumed (the driver query
    * pairs it with recall vs the float-exact ranker).
    * Scale shape: stats broadcast; one explode + keyed reassembly per
    * side; search reads codes only — the float corpus never loads. */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val el = corpus.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
    val stats = el.groupBy(col("i"))
      .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    def dequantOf(df: DataFrame): DataFrame =
      df.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
        .join(broadcast(stats), "i")
        .withColumn("q", qCode(col("v"), col("mn"), col("mx")))
        .withColumn("dq", col("mn") +
          (col("q").cast("double") * (col("mx") - col("mn"))) / lit(255.0))
        .groupBy("id")
        .agg(transform(array_sort(collect_list(struct(col("i"), col("dq")))),
          x => x.getField("dq")).as("vec"))
    exactTopKMicro(dequantOf(corpus), dequantOf(queries), k)
  }

  // ------------------------------------- random-projection (JL) search
  /** Deterministic Johnson-Lindenstrauss projection planes: `outDims`
    * dense rows over `dim` components, each from the same md5→int31→unit
    * map as the LSH hyperplanes (seed family 'jl') — reproducible in any
    * engine with md5, no RNG state. */
  def jlPlanes(dim: Int, outDims: Int): IndexedSeq[IndexedSeq[Double]] =
    (0 until outDims).map { d =>
      (0 until dim).map { j =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(s"jl_${d}_$j".getBytes("UTF-8"))
        val v = java.nio.ByteBuffer.wrap(hex).getInt & 0x7fffffff
        (v.toDouble / Int.MaxValue.toDouble) - 0.5
      }
    }

  /** Project (id, vec) to `outDims` dimensions: component d is ONE
    * left-to-right dot against plane d, so the projected vector — and
    * any floor-micro search over it — replays exactly in SQL. The third
    * dimensionality-reduction shape next to Matryoshka (prefix: needs
    * MRL-trained embeddings) and PCA (learned): JL needs no training and
    * works on any embedding, with lemma-bounded distance distortion.
    * Scale shape: the plane matrix is outDims×dim literals baked into
    * the plan — nothing to train, broadcast or join; projection is one
    * map-only pass. Project once, store the short vectors, search those
    * (outDims/dim of the bytes and flops per comparison). */
  def jlProject(df: DataFrame, dim: Int, outDims: Int): DataFrame = {
    val planes = jlPlanes(dim, outDims)
    df.select(col("id"),
      array((0 until outDims).map(d =>
        dot(col("vec"), array(planes(d).map(lit): _*))): _*).as("vec"))
  }

  // --------------------------------------------- graph-navigation ANN
  /** The floor-micro cosine shared by the graph-ANN family: one IEEE
    * division and one floor off the exact op tree (the e_rerank
    * discipline), so every score is an engine-exact BIGINT and
    * (cos_micro DESC, vec_id) is a total order both engines agree on. */
  private def cosMicroCol(qv: Column, qn: Column, cv: Column, cn: Column): Column =
    floor(lit(1000000.0) * (dot(qv, cv) / (qn * cn))).cast("long")

  /** Every (query, corpus) floor-micro cosine, self-matches excluded —
    * the scored frame [[exactTopKMicro]] cuts; exposed for
    * distortion-style comparisons between embedding spaces. */
  def scoredMicro(corpus: DataFrame, queries: DataFrame): DataFrame = {
    val q = broadcast(queries.select(col("id").as("query_id"),
      col("vec").as("qv"), norm(col("vec")).as("qn")))
    spread(corpus.select(col("id").as("vec_id"), col("vec"),
        norm(col("vec")).as("cn")))
      .crossJoin(q).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosMicroCol(col("qv"), col("qn"), col("vec"), col("cn")).as("cos_micro"))
  }

  /** BINARY (1-bit sign) quantization codes: dimension j's sign packs
    * into bit j of two 32-bit halves (`blo` dims 0-31, `bhi` 32-63) —
    * two BIGINTs per vector, 16 bytes instead of 512, the BQ/RaBitQ
    * family's storage point. Two halves, not one 64-bit word, so every
    * shift stays ≤ 31 and the packing replays portably (a 1<<63 BIGINT
    * shift is engine-defined). */
  def binarySignCodes(corpus: DataFrame, dim: Int): DataFrame = {
    require(dim >= 2 && dim <= 64, s"binary codes support 2..64 dims, got $dim")
    def half(lo: Int, hi: Int, shiftBase: Int): String =
      s"aggregate(sequence($lo, ${math.min(hi, dim - 1)}), CAST(0 AS BIGINT), " +
        s"(acc, j) -> acc | CASE WHEN element_at(vec, j + 1) >= 0D " +
        s"THEN shiftleft(CAST(1 AS BIGINT), j - $shiftBase) ELSE CAST(0 AS BIGINT) END)"
    corpus.select(col("id"), col("vec"),
      expr(half(0, 31, 0)).as("blo"),
      (if (dim > 32) expr(half(32, 63, 32)) else lit(0L)).as("bhi"))
  }

  /** Binary-quantized ANN: Hamming distance between sign codes is the
    * cheap first-pass score (two XOR+popcounts over 16 bytes — the
    * reason binary quantization scans fast), the best `shortlist` per
    * query rerank by exact floor-micro cosine, and the top-`k` emit with
    * BOTH scores plus per-query recall vs the tie-exact micro top-k.
    * Every ranking step is an integer total order ((hamming, id) then
    * (cos_micro DESC, id)), so the whole index — packing, scan, rerank,
    * recall — replays in SQL and hash-checks.
    *
    * Scale shape: the scan is corpus×queries like [[bruteForceTopK]]
    * (the declared exact baseline pattern — queries broadcast, corpus
    * never shuffles) but each comparison touches 16 bytes, not 64
    * doubles; past that, LSH banding composes upstream exactly as for
    * the full-precision scans. */
  def binaryTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                 shortlist: Int = 32): DataFrame = {
    val dim = inferDim(corpus)
    val c = binarySignCodes(corpus, dim)
      .select(col("id").as("vec_id"), col("vec"), norm(col("vec")).as("cn"),
        col("blo"), col("bhi"))
    val q = broadcast(binarySignCodes(queries, dim)
      .select(col("id").as("query_id"), col("vec").as("qv"),
        norm(col("vec")).as("qn"),
        col("blo").as("qlo"), col("bhi").as("qhi")))
    val ham = spread(c).crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("hamming",
        expr("bit_count(blo ^ qlo) + bit_count(bhi ^ qhi)").cast("int"))
    val wHam = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("vec_id"))
    val short = ham.withColumn("hrn", row_number().over(wHam))
      .filter(col("hrn") <= shortlist)
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
    val top = short
      .withColumn("cos_micro", cosMicroCol(col("qv"), col("qn"),
        col("vec"), col("cn")))
      .withColumn("rank", row_number().over(wCos))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "hamming", "cos_micro", "rank")
    val exact = exactTopKMicro(corpus, queries, k)
      .select(col("query_id"), col("vec_id"))
    val hits = top.select("query_id", "vec_id")
      .join(exact, Seq("query_id", "vec_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    top.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("vec_id"), col("hamming"),
        col("cos_micro"), col("rank"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
  }

  /** Maximum-inner-product search (MIPS) — the ranking retrieval with
    * learned embeddings actually uses (dot, NOT cosine: a trained
    * two-tower scorer encodes popularity/confidence in the norm, which
    * cosine normalizes away). Exact top-k under the (dot_micro DESC,
    * vec_id) total order; dot is the same left-to-right sum as [[dot]],
    * floored to micro units, so the whole ranking replays in SQL.
    * Self-matches excluded. Scale shape: identical to
    * [[bruteForceTopK]] — queries broadcast, corpus partition-local,
    * k rows per query per partition survive. The classic
    * norm-augmentation reduction (append √(M²−|x|²) to corpus vectors,
    * 0 to queries → MIPS becomes cosine search, so any cosine ANN index
    * serves MIPS) is spec-pinned as order-equivalent (PipelineSpec). */
  def mipsTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("id").as("query_id"),
      col("vec").as("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot_micro").desc, col("vec_id"))
    spread(corpus.select(col("id").as("vec_id"), col("vec")))
      .crossJoin(q).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        floor(lit(1000000.0) * dot(col("qv"), col("vec"))).cast("long")
          .as("dot_micro"))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "vec_id", "dot_micro", "rank")
  }

  /** Exact top-k by the floor-micro cosine total order — the tie-exact
    * recall baseline for [[beamSearchTopK]] ([[bruteForceTopK]]'s round-4
    * cosines can tie; micro units + id tiebreak cannot). */
  def exactTopKMicro(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
    scoredMicro(corpus, queries)
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
      .select("query_id", "vec_id", "cos_micro", "rank")
  }

  /** EXACT degree-bounded kNN edges by all-pairs floor-micro cosine —
    * the O(n²) spec/fixture baseline for [[beamSearchTopK]]'s graph; the
    * operator's default build is the banded [[lshKnnEdges]]. */
  def exactKnnEdges(corpus: DataFrame, graphK: Int = 8): DataFrame = {
    val cor = corpus.select(col("id").as("vec_id"), col("vec"),
      norm(col("vec")).as("cn"))
    val b = broadcast(cor.select(col("vec_id").as("dst"),
      col("vec").as("bv"), col("cn").as("bn")))
    val pairs = spread(cor)
      .select(col("vec_id").as("src"), col("vec").as("av"), col("cn").as("an"))
      .crossJoin(b).filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        cosMicroCol(col("av"), col("an"), col("bv"), col("bn")).as("cosm"))
    val w = Window.partitionBy(col("src")).orderBy(col("cosm").desc, col("dst"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") <= graphK)
      .select("src", "dst")
  }

  /** LSH-banded degree-bounded kNN edges — the scale-path default graph
    * build for [[beamSearchTopK]]: the corpus bands ONCE with the shared
    * md5 hyperplane family, candidate pairs come from shared
    * (table, bucket) keys via a sort-merge self-join (no product, no
    * broadcast of a corpus-sized side), dedup on the two-long id pair
    * BEFORE vectors re-attach, then a floor-micro rerank keeps the
    * graphK best per source. The resulting graph is approximate where
    * the exact kNN edge fell outside every shared band — beam recall
    * degrades gracefully (spec-pinned ≥0.7 on the adversarial random
    * fixture; clustered real corpora band far better). */
  def lshKnnEdges(corpus: DataFrame, graphK: Int = 8): DataFrame = {
    val banded = lshBucketed(corpus.select(col("id"), col("vec")),
      inferDim(corpus))
    val lb = banded.select(col("table"), col("bucket"), col("id").as("src"))
    val rb = banded.select(col("table"), col("bucket"), col("id").as("dst"))
    val pairIds = lb.hint("merge").join(rb, Seq("table", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    val sv = corpus.select(col("id").as("src"), col("vec").as("av"),
      norm(col("vec")).as("an"))
    val dv = corpus.select(col("id").as("dst"), col("vec").as("bv"),
      norm(col("vec")).as("bn"))
    val scored = pairIds.hint("merge").join(sv, "src")
      .hint("merge").join(dv, "dst")
      .select(col("src"), col("dst"),
        cosMicroCol(col("av"), col("an"), col("bv"), col("bn")).as("cosm"))
    val w = Window.partitionBy(col("src")).orderBy(col("cosm").desc, col("dst"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= graphK)
      .select("src", "dst")
  }

  /** Graph-navigation ANN: greedy beam search over a degree-bounded kNN
    * graph — the NSW/HNSW family's base layer, the fourth index family
    * next to LSH, IVF and PQ. The navigable graph IS the index: search
    * starts at a deterministic entry vector (minimum corpus id) and for
    * `rounds` iterations expands the current beam's graph neighbors,
    * scoring only NEW candidates by exact floor-micro cosine to the query
    * and keeping the `ef` best as the next beam. Every step is the
    * (cos_micro DESC, vec_id) total order, so graph, walk and result all
    * replay in SQL ([[Similarity.beamSearchRecallSql]]) and the recall
    * report is hash-checkable end to end.
    *
    * Scale shape: the DEFAULT graph build is the LSH-banded
    * [[lshKnnEdges]] — candidates from shared (table, bucket) hyperplane
    * bands, one sort-merge self-band-join, NO corpus×corpus product — so
    * the navigable graph itself builds at 100 TB. [[exactKnnEdges]]
    * keeps the O(n²) exact build as an explicit opt-in baseline for
    * specs and tiny fixtures, and `prebuiltEdges` accepts any ANN
    * index's edges (the knnComponents discipline) — the build amortizes
    * over every query ever run. The search itself never scans the
    * corpus: per round, the beam (|queries|·ef rows) joins the
    * degree-bounded edge table, only candidates NOT already scored fetch
    * their vectors by key, and the running state stays
    * ≤ |queries|·(1 + rounds·ef·graphK) rows — the whole loop is
    * broadcast-sized however large the corpus. */
  def beamSearchTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     graphK: Int = 8, ef: Int = 12, rounds: Int = 4,
                     prebuiltEdges: Option[DataFrame] = None,
                     seeds: Option[DataFrame] = None): DataFrame = {
    val cor = corpus.select(col("id").as("vec_id"), col("vec"),
      norm(col("vec")).as("cn"))
    // checkpointed, not merely cached: edges feed EVERY round, and the
    // per-round state below re-derives from itself — without truncation
    // the DAG deepens each round and Catalyst re-analysis (driver CPU)
    // dominates the tiny physical work (same discipline as the GraphOps
    // iterative algorithms)
    val edges = prebuiltEdges.getOrElse(lshKnnEdges(corpus, graphK))
      .transform(graft.CacheScope.checkpoint)
    val q = broadcast(queries.select(col("id").as("query_id"),
      col("vec").as("qv"), norm(col("vec")).as("qn")))
    // seeds override the flat entry: [[hnswTopK]]'s descent hands each
    // query its own near-entry; the default is the deterministic global
    // minimum corpus id for every query
    // entry as a 1-row aggregate crossJoin, NOT a collected literal: a
    // lit() vec_id would constant-fold the injected runtime bloom
    // filter's xxhash64 argument and hit the BloomFilterMightContain
    // constant-codegen bug (see [[beamLoop]]); the aggregate form also
    // saves the driver round-trip
    val seedDf = seeds.getOrElse {
      queries.select(col("id").as("query_id"))
        .crossJoin(broadcast(cor.agg(min(col("vec_id")).as("vec_id"))))
    }
    val cand = beamLoop(cor, edges, q, seedDf, ef, rounds)
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("cosm").desc, col("vec_id"))
    // the query vector itself may sit in the candidate set (it seeds
    // navigation when the entry IS a query); exclude it from the result
    cand.filter(col("vec_id") =!= col("query_id"))
      .withColumn("rank", row_number().over(wBeam))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cosm").as("cos_micro"),
        col("rank"))
  }

  /** The shared beam-expansion loop of [[beamSearchTopK]] and
    * [[hnswTopK]]'s per-layer descent: score the seed pairs, then
    * `rounds` times expand the ef-best beam through `edges`, scoring
    * only UNSEEN candidates (a keyed fetch of candidate vectors, never a
    * corpus scan). Returns the full scored candidate set — running state
    * stays ≤ |queries|·(1 + rounds·ef·degree) rows. */
  private def beamLoop(cor: DataFrame, edges: DataFrame, q: DataFrame,
                       seeds: DataFrame, ef: Int, rounds: Int): DataFrame = {
    // the candidate/beam side is |queries|·ef·degree-bounded BY
    // CONSTRUCTION (the whole point of beam search) — broadcast it
    // explicitly so the corpus/edge joins are keyed broadcast fetches at
    // any corpus size. The hint also keeps InjectRuntimeFilter from
    // wrapping the seed join in a runtime bloom filter: a literal-seeded
    // vec_id constant-folds the filter's xxhash64 argument, and Spark
    // 4.1's BloomFilterMightContain codegen fails to compile on a
    // constant (janino "java.lang.Long is not an rvalue"), dropping the
    // whole stage to interpreter mode.
    def score(cands: DataFrame): DataFrame =
      broadcast(cands).join(cor, "vec_id").join(q, "query_id")
        .select(col("query_id"), col("vec_id"),
          cosMicroCol(col("qv"), col("qn"), col("vec"), col("cn")).as("cosm"))
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("cosm").desc, col("vec_id"))
    var cand = score(seeds).transform(graft.CacheScope.checkpoint)
    for (_ <- 1 to rounds) {
      val beam = cand.withColumn("rn", row_number().over(wBeam))
        .filter(col("rn") <= ef).select("query_id", "vec_id")
      val expand = broadcast(beam).join(edges, beam("vec_id") === edges("src"))
        .select(col("query_id"), col("dst").as("vec_id")).distinct()
      val fresh = expand.join(cand, Seq("query_id", "vec_id"), "left_anti")
      cand = cand.unionByName(score(fresh)).transform(graft.CacheScope.checkpoint)
    }
    cand
  }

  /** Hash-sampled HNSW level membership: id is on layer `l` (1-based; 0
    * is the full corpus) iff hash60(id || '|hnsw') % levelMod^l == 0 —
    * the md5-derived family both engines (and offline Python) compute
    * exactly, reproducing the HNSW paper's exponentially-decaying level
    * distribution without RNG state. Nested by construction:
    * levelMod^(l+1) | h implies levelMod^l | h, so every upper-layer
    * node exists on all layers below and descent seeds are always valid
    * members of the next layer down. */
  def hnswMember(id: Column, level: Int, levelMod: Int = 8): Column =
    pmod(graft.functions.TextFunctions.hash60(
        concat(id.cast("string"), lit("|hnsw"))),
      lit(math.pow(levelMod.toDouble, level.toDouble).toLong)) === 0

  /** HNSW: 1–2 hash-sampled coarse layers over the NSW base layer. Each
    * upper layer is levelMod× smaller than the one below ([[hnswMember]]);
    * its navigable graph is degree-bounded kNN over the layer members
    * (default build [[lshKnnEdges]] — banded, no product — same as the
    * base). Search descends: the top layer starts at its deterministic
    * entry (minimum member id), each layer runs a SMALL beam
    * (upperEf × upperRounds) toward the query, and its per-query 1-best
    * seeds the layer below; the base layer then runs the full NSW beam at
    * `ef`. Every step is the (cos_micro DESC, vec_id) total order, so
    * membership, layer graphs, descent and base walk all replay in SQL
    * ([[hnswRecallSql]]). Empty layers (possible on tiny fixtures) are
    * skipped — descent falls through to the first non-empty layer's
    * entry.
    *
    * Scale shape: upper layers shrink geometrically (n/8, n/64), so the
    * whole hierarchy costs one extra banded build per layer; descent
    * state is |queries|·upperEf rows — broadcast-sized however large the
    * corpus — and the base search inherits [[beamSearchTopK]]'s bounds.
    * The hierarchy buys what flat NSW lacks at 100 TB: an entry already
    * near the query, so base rounds spend expansion on the true
    * neighborhood instead of traversing from the global entry. */
  def hnswTopK(corpus: DataFrame, queries: DataFrame, k: Int,
               graphK: Int = 8, ef: Int = 12, rounds: Int = 4,
               levelMod: Int = 8, maxLevel: Int = 2,
               upperK: Int = 4, upperEf: Int = 2, upperRounds: Int = 2,
               prebuiltBase: Option[DataFrame] = None,
               prebuiltUpper: Option[Int => DataFrame] = None): DataFrame = {
    val q = broadcast(queries.select(col("id").as("query_id"),
      col("vec").as("qv"), norm(col("vec")).as("qn")))
    val wBeam = Window.partitionBy(col("query_id"))
      .orderBy(col("cosm").desc, col("vec_id"))
    var seed: Option[DataFrame] = None
    for (l <- maxLevel to 1 by -1) {
      val mem = corpus.filter(hnswMember(col("id"), l, levelMod))
      // one tiny driver action per layer: the layer's deterministic entry
      // (and its emptiness probe in one job)
      val entryRow = mem.agg(min(col("id"))).head()
      if (!entryRow.isNullAt(0)) {
        val memCor = mem.select(col("id").as("vec_id"), col("vec"),
          norm(col("vec")).as("cn"))
        val edges = prebuiltUpper.map(_(l)).getOrElse(lshKnnEdges(mem, upperK))
          .transform(graft.CacheScope.checkpoint)
        val seedDf = seed.getOrElse(queries.select(col("id").as("query_id"))
          .crossJoin(broadcast(mem.agg(min(col("id")).as("vec_id")))))
        val cand = beamLoop(memCor, edges, q, seedDf, upperEf, upperRounds)
        seed = Some(cand.withColumn("rn", row_number().over(wBeam))
          .filter(col("rn") === 1).select("query_id", "vec_id")
          .transform(graft.CacheScope.checkpoint))
      }
    }
    // the base beam seeds from the descent result PLUS the flat global
    // entry (one extra scored row per query): the hierarchy adds start
    // information rather than replacing it, so on fixtures where the
    // flat entry happens to sit well the hierarchical walk does not
    // trade that luck away for its (usually better) descent seed
    val baseSeeds = seed.map { sd =>
      sd.unionByName(queries.select(col("id").as("query_id"))
        .crossJoin(broadcast(corpus.agg(min(col("id")).as("vec_id")))))
        .distinct()
    }
    beamSearchTopK(corpus, queries, k, graphK, ef, rounds,
      prebuiltEdges = prebuiltBase, seeds = baseSeeds)
  }

  /** DuckDB twin of the whole graph-beam recall report: kNN graph, entry,
    * every expansion round unrolled as CTEs, final top-k vs the exact
    * floor-micro top-k. `corpusFilter`/`queryFilter` are predicates on
    * the embeddings ids. */
  def beamSearchRecallSql(corpusFilter: String, queryFilter: String, k: Int,
                          graphK: Int = 8, ef: Int = 12,
                          rounds: Int = 4): String = {
    val cosm = (a: String, b: String) =>
      s"CAST(floor(1000000 * (list_dot_product($a.vec, $b.vec) / " +
        s"($a.nrm * $b.nrm))) AS BIGINT)"
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"bc${r - 1}"
      s"""bb$r AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
         |      ORDER BY cosm DESC, vec_id) AS rn FROM $prev)
         |  WHERE rn <= $ef
         |), bx$r AS (
         |  SELECT DISTINCT b.query_id, e.dst AS vec_id
         |  FROM bb$r b JOIN bed e ON e.src = b.vec_id
         |), bn$r AS (
         |  SELECT x.query_id, x.vec_id FROM bx$r x
         |  LEFT JOIN $prev p ON p.query_id = x.query_id AND p.vec_id = x.vec_id
         |  WHERE p.vec_id IS NULL
         |), bc$r AS (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  SELECT n.query_id, n.vec_id, ${cosm("qv", "cv")} AS cosm
         |  FROM bn$r n
         |  JOIN bnn cv ON cv.id = n.vec_id
         |  JOIN bnn qv ON qv.id = n.query_id
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH bemb AS (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings WHERE $corpusFilter
       |), bnn AS (
       |  SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM bemb
       |), bp AS (
       |  SELECT a.id AS src, b.id AS dst, ${cosm("a", "b")} AS cosm
       |  FROM bnn a JOIN bnn b ON a.id <> b.id
       |), bed AS (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cosm DESC, dst) AS rn FROM bp)
       |  WHERE rn <= $graphK
       |), bq AS (
       |  SELECT id AS query_id FROM bemb WHERE $queryFilter
       |), bc0 AS (
       |  SELECT q.query_id, e.eid AS vec_id, ${cosm("qv", "cv")} AS cosm
       |  FROM bq q
       |  CROSS JOIN (SELECT min(id) AS eid FROM bemb) e
       |  JOIN bnn cv ON cv.id = e.eid
       |  JOIN bnn qv ON qv.id = q.query_id
       |), $roundCtes, btop AS (
       |  SELECT query_id, vec_id, cosm FROM (
       |    SELECT query_id, vec_id, cosm, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosm DESC, vec_id) AS rn
       |    FROM bc$rounds WHERE vec_id <> query_id)
       |  WHERE rn <= $k
       |), bex AS (
       |  SELECT src AS query_id, dst AS vec_id FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cosm DESC, dst) AS rn
       |    FROM bp WHERE src IN (SELECT query_id FROM bq))
       |  WHERE rn <= $k
       |), bne AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM bex GROUP BY 1
       |), bnb AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_beam,
       |    max(cosm) AS best_micro
       |  FROM btop GROUP BY 1
       |), bnh AS (
       |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM btop t JOIN bex e ON e.query_id = t.query_id AND e.vec_id = t.vec_id
       |  GROUP BY 1
       |)
       |SELECT ne.query_id, ne.n_exact, nb.n_beam,
       |  CAST(coalesce(nh.n_hits, 0) AS BIGINT) AS n_hits, nb.best_micro
       |FROM bne ne
       |JOIN bnb nb ON nb.query_id = ne.query_id
       |LEFT JOIN bnh nh ON nh.query_id = ne.query_id
       |ORDER BY ne.query_id""".stripMargin
  }

  /** DuckDB twin of the whole [[hnswTopK]] recall report: hash-sampled
    * layer membership, per-layer kNN graphs, the greedy descent through
    * both coarse layers, the seeded base beam, and recall vs the exact
    * floor-micro top-k — every round an unrolled CTE. Fixed at two coarse
    * layers: occupancy is verified non-empty at every fixture SF by the
    * offline md5 replay (layer-2 min member id = 10 for the embeddings
    * id domain at sf0.001 through sf1), so the oracle needs no
    * empty-layer skip branch the Scala operator carries. */
  def hnswRecallSql(corpusFilter: String, queryFilter: String, k: Int,
                    graphK: Int = 8, ef: Int = 12, rounds: Int = 4,
                    levelMod: Int = 8, upperK: Int = 4, upperEf: Int = 2,
                    upperRounds: Int = 2): String = {
    val cosm = (a: String, b: String) =>
      s"CAST(floor(1000000 * (list_dot_product($a.vec, $b.vec) / " +
        s"($a.nrm * $b.nrm))) AS BIGINT)"
    val h60 = graft.functions.TextFunctions
      .hash60Sql("CAST(id AS VARCHAR) || '|hnsw'")
    // one beam-expansion chain: seed CTE -> rounds of (beam, expand,
    // fresh, accumulate), the exact CTE shape of beamSearchRecallSql
    def chain(pfx: String, seedCte: String, edges: String,
              chEf: Int, chRounds: Int): String =
      (1 to chRounds).map { r =>
        val prev = if (r == 1) seedCte else s"${pfx}c${r - 1}"
        s"""${pfx}b$r AS (
           |  SELECT query_id, vec_id FROM (
           |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
           |      ORDER BY cosm DESC, vec_id) AS rn FROM $prev)
           |  WHERE rn <= $chEf
           |), ${pfx}x$r AS (
           |  SELECT DISTINCT b.query_id, e.dst AS vec_id
           |  FROM ${pfx}b$r b JOIN $edges e ON e.src = b.vec_id
           |), ${pfx}f$r AS (
           |  SELECT x.query_id, x.vec_id FROM ${pfx}x$r x
           |  LEFT JOIN $prev p ON p.query_id = x.query_id AND p.vec_id = x.vec_id
           |  WHERE p.vec_id IS NULL
           |), ${pfx}c$r AS (
           |  SELECT * FROM $prev
           |  UNION ALL
           |  SELECT n.query_id, n.vec_id, ${cosm("qv", "cv")} AS cosm
           |  FROM ${pfx}f$r n
           |  JOIN bnn cv ON cv.id = n.vec_id
           |  JOIN bnn qv ON qv.id = n.query_id
           |)""".stripMargin
      }.mkString(", ")
    // per-layer kNN edges: all-pairs WITHIN the layer, degree-bounded
    def layerEdges(name: String, mem: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |      ORDER BY cosm DESC, dst) AS rn
         |    FROM (SELECT a.id AS src, b.id AS dst, ${cosm("a", "b")} AS cosm
         |          FROM bnn a JOIN bnn b ON a.id <> b.id
         |          WHERE a.id IN (SELECT id FROM $mem)
         |            AND b.id IN (SELECT id FROM $mem)) t)
         |  WHERE rn <= $upperK
         |)""".stripMargin
    // per-query 1-best of a descent chain seeds the next layer down
    def best1(name: String, from: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT query_id, vec_id, cosm FROM (
         |    SELECT query_id, vec_id, cosm, row_number() OVER (
         |      PARTITION BY query_id ORDER BY cosm DESC, vec_id) AS rn
         |    FROM $from)
         |  WHERE rn = 1
         |)""".stripMargin
    s"""WITH bemb AS (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings WHERE $corpusFilter
       |), bnn AS MATERIALIZED (
       |  SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM bemb
       |), bp AS MATERIALIZED (
       |  SELECT a.id AS src, b.id AS dst, ${cosm("a", "b")} AS cosm
       |  FROM bnn a JOIN bnn b ON a.id <> b.id
       |), bed AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cosm DESC, dst) AS rn FROM bp)
       |  WHERE rn <= $graphK
       |), bq AS (
       |  SELECT id AS query_id FROM bemb WHERE $queryFilter
       |), hm1 AS MATERIALIZED (
       |  SELECT id FROM bemb WHERE $h60 % $levelMod = 0
       |), hm2 AS MATERIALIZED (
       |  SELECT id FROM bemb WHERE $h60 % ${levelMod * levelMod} = 0
       |), ${layerEdges("he1", "hm1")}, ${layerEdges("he2", "hm2")}, h2c0 AS (
       |  SELECT q.query_id, e.eid AS vec_id, ${cosm("qv", "cv")} AS cosm
       |  FROM bq q
       |  CROSS JOIN (SELECT min(id) AS eid FROM hm2) e
       |  JOIN bnn cv ON cv.id = e.eid
       |  JOIN bnn qv ON qv.id = q.query_id
       |), ${chain("h2", "h2c0", "he2", upperEf, upperRounds)},
       |${best1("hs2", s"h2c$upperRounds")}, h1c0 AS (
       |  SELECT query_id, vec_id, cosm FROM hs2
       |), ${chain("h1", "h1c0", "he1", upperEf, upperRounds)},
       |${best1("hs1", s"h1c$upperRounds")}, hc0 AS (
       |  SELECT query_id, vec_id, cosm FROM hs1
       |  UNION
       |  SELECT q.query_id, e.eid AS vec_id, ${cosm("qv", "cv")} AS cosm
       |  FROM bq q
       |  CROSS JOIN (SELECT min(id) AS eid FROM bemb) e
       |  JOIN bnn cv ON cv.id = e.eid
       |  JOIN bnn qv ON qv.id = q.query_id
       |), ${chain("h", "hc0", "bed", ef, rounds)}, btop AS (
       |  SELECT query_id, vec_id, cosm FROM (
       |    SELECT query_id, vec_id, cosm, row_number() OVER (PARTITION BY query_id
       |      ORDER BY cosm DESC, vec_id) AS rn
       |    FROM hc$rounds WHERE vec_id <> query_id)
       |  WHERE rn <= $k
       |), bex AS (
       |  SELECT src AS query_id, dst AS vec_id FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |      ORDER BY cosm DESC, dst) AS rn
       |    FROM bp WHERE src IN (SELECT query_id FROM bq))
       |  WHERE rn <= $k
       |), bne AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM bex GROUP BY 1
       |), bnb AS (
       |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_beam,
       |    max(cosm) AS best_micro
       |  FROM btop GROUP BY 1
       |), bnh AS (
       |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM btop t JOIN bex e ON e.query_id = t.query_id AND e.vec_id = t.vec_id
       |  GROUP BY 1
       |)
       |SELECT ne.query_id, ne.n_exact, nb.n_beam,
       |  CAST(coalesce(nh.n_hits, 0) AS BIGINT) AS n_hits, nb.best_micro
       |FROM bne ne
       |JOIN bnb nb ON nb.query_id = ne.query_id
       |LEFT JOIN bnh nh ON nh.query_id = ne.query_id
       |ORDER BY ne.query_id""".stripMargin
  }

  // ------------------------------------------- binary (1-bit) quantization
  /** Binary quantization — the 1-bit end of the quantization family next
    * to SQ8 ([[quantizeInt8]]) and PQ: bit_i = 1 iff v_i strictly exceeds
    * the per-dimension midrange (mn_i+mx_i)/2, bits packed little-endian
    * into 32-bit words (dim/32 BIGINT rows per vector — 64× smaller than
    * the float corpus at 64 dims). The midrange threshold is min/max
    * arithmetic only (order-free + one exact IEEE add/divide), so the
    * codes are engine-exact and the whole index is hash-checkable —
    * unlike a mean threshold, whose float sum is order-dependent.
    *
    * Scale shape: one posexplode + a broadcast dims-row threshold join +
    * one per-(id, word) aggregation — map-side combinable, no pairwise
    * work. Returns (id, w, word). */
  def bqEncodeWith(df: DataFrame, thresholds: DataFrame): DataFrame =
    df.select(col("id"), posexplode(col("vec")).as(Seq("i", "v")))
      .join(broadcast(thresholds), "i")
      .select(col("id"), expr("CAST(i div 32 AS INT)").as("w"),
        when(col("v") > col("thr"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(i % 32 AS INT))"))
          .otherwise(lit(0L)).as("bit"))
      .groupBy(col("id"), col("w"))
      .agg(sum(col("bit")).as("word"))

  /** Per-dimension midrange thresholds of `corpus` — the trainless "model"
    * of the binary quantizer (a dims-row frame, broadcast-sized). */
  def bqThresholds(corpus: DataFrame): DataFrame =
    corpus.select(posexplode(col("vec")).as(Seq("i", "v")))
      .groupBy(col("i"))
      .agg(((min(col("v")) + max(col("v"))) / 2).as("thr"))

  /** Hamming-distance top-k over the binary codes: corpus and queries both
    * encode against the CORPUS thresholds, candidates rank by
    * XOR-popcount Hamming distance with (hamming ASC, vec_id) as the
    * total order — integers end to end, so the whole search replays in
    * SQL (e_bq_recall). Scale shape: the searched "corpus" is the packed
    * word table (dim/32 longs per vector); the query codes broadcast via
    * the word-index join, and the only corpus-sized stage is the
    * (query, vec) popcount aggregation — map-side combinable. At 100 TB
    * this is the first-stage filter in front of [[sqTopK]]/PQ rerank. */
  def bqTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val thr = bqThresholds(corpus)
    val c = bqEncodeWith(corpus, thr)
      .select(col("id").as("vec_id"), col("w"), col("word"))
    val q = broadcast(bqEncodeWith(queries, thr)
      .select(col("id").as("query_id"), col("w"), col("word").as("qword")))
    c.join(q, "w")
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(expr("bit_count(word ^ qword)")).cast("long").as("hamming"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("hamming").asc, col("vec_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "hamming", "rank")
  }

  /** Exact all-pairs near-dup (testdata-scale oracle-checkable form).
    * Norms are precomputed per vector — same arithmetic as [[cosine]]
    * (sqrt of the same ordered sum), 3x fewer flops per pair. */
  def cosineNearDupExact(corpus: DataFrame, threshold: Double): DataFrame = {
    val withNorm = corpus.select(col("id"), col("vec"), norm(col("vec")).as("nrm"))
    // spread the stream side before the O(n^2) broadcast nested-loop join
    // (see [[spread]]) — otherwise a one-file corpus compares every pair
    // in a single task
    val a = spread(withNorm)
      .select(col("id").as("a"), col("vec").as("va"), col("nrm").as("na"))
    val b = withNorm.select(col("id").as("b"), col("vec").as("vb"), col("nrm").as("nb"))
    a.join(broadcast(b), col("a") < col("b"))
      .withColumn("cos", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 4))
      .filter(col("cos") >= threshold)
      .select("a", "b", "cos")
  }
}
