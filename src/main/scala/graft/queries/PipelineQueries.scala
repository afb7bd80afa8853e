package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.CacheScope
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Chunking, Classify, Collocations, Dedup, Multimodal, Sampling, Similarity, Sketches}
import graft.sources.Tables

/** Training-data pipeline surface: text analysis, deduplication and
  * similarity search over the `documents` and `embeddings` fixtures.
  * DuckDB oracles are generated from the same constants/specs as the Spark
  * plans (TextFunctions/Dedup `*Sql` builders), so both engines compute the
  * definitionally-identical result. */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String) = Tables.documents(s, dir)
  private def embs(s: SparkSession, dir: String) = Tables.embeddings(s, dir)

  /** Per-(query, dataset) scratch dir for the export/CDC gates: the SAME
    * path on every invocation, wiped before reuse and removed at JVM
    * exit. Fresh createTempDirectory calls here accumulated one corpus
    * copy per invocation in /tmp (Bench touches each query twice via its
    * warmup-era flows; repeated Verify/Bench sessions never cleaned up) —
    * with a fixed recycled path each query holds at most one live copy. */
  private val scratchHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val scratchPid = ProcessHandle.current().pid()
  /** One-time sweep of sibling scratch dirs whose owning PID is gone: a
    * hard-killed JVM (OOM, driver stall kill) never runs its shutdown
    * hook, and PID-suffixed paths would otherwise leak corpus copies in
    * /tmp forever — the fixed-path era was self-healing on the next run;
    * this restores that property across process generations. */
  /** Recursive delete that never descends through a symlink (deletes the
    * link itself only) — shared by the sweep, the per-call reset and the
    * shutdown hook so the guard can't drift between copies. */
  private def rmScratch(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).foreach(_.foreach(rmScratch))
    f.delete(); ()
  }
  private lazy val sweepDeadScratch: Unit = {
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val pidRe = "graft_scratch_p([0-9]+)_.*".r
    // Files.list holds an OS directory handle until CLOSED — drain inside
    // try/finally or the fd leaks for the JVM lifetime (incl. on throw)
    var st: java.util.stream.Stream[java.nio.file.Path] = null
    try {
      st = java.nio.file.Files.list(tmp)
      val it = st.iterator()
      while (it.hasNext) {
        val p = it.next()
        p.getFileName.toString match {
          case pidRe(pid) if pid.toLong != scratchPid &&
              !ProcessHandle.of(pid.toLong).isPresent =>
            rmScratch(p.toFile)
          case _ =>
        }
      }
    } catch { case _: Throwable => } // best-effort; never blocks a query
    finally if (st != null) st.close()
  }
  private[queries] def scratchDir(name: String, dir: String): String = {
    sweepDeadScratch
    // PID in the path: concurrent JVMs (overlapping Verify + Bench) never
    // share — and so never wipe — each other's in-flight scratch state,
    // and the shutdown hook only ever removes this process's dirs.
    val p = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_scratch_p${scratchPid}_${name}_${Integer.toHexString(dir.hashCode)}")
    rmScratch(p.toFile)
    java.nio.file.Files.createDirectories(p)
    if (scratchHooked.add(p.toString))
      Runtime.getRuntime.addShutdownHook(new Thread(() => rmScratch(p.toFile)))
    p.toString
  }

  /** Embeddings with vectors widened to double (exact, order-preserving). */
  private def embDouble(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("vec"))

  /** [[embDouble]] plus the label column (the contrastive-mining input). */
  private def embLabeled(s: SparkSession, dir: String): DataFrame =
    embs(s, dir).select(col("vec_id").as("id"),
      col("embedding").cast("array<double>").as("vec"), col("label"))

  /** The exact cross-label hard-negative miner shared by e_hard_negatives
    * and the e_hard_neg_recall grade of its ANN-shortlist variant: per
    * query the top-10 nearest CROSS-LABEL vectors by floor-micro cosine.
    * Labels ride the SAME scan as the vectors (no post-scoring label
    * join), and the cross-label filter runs BEFORE any distance math —
    * same-label pairs never pay the dot product. Brute force is the
    * declared-exact baseline shape; the scale path is
    * [[Similarity.lshHardNegatives]] (e_hard_negatives_ann). */
  private def exactHardNegatives(s: SparkSession, dir: String): DataFrame = {
    val withLbl = embLabeled(s, dir)
    val q = broadcast(withLbl.filter(col("id") < 5)
      .select(col("id").as("query_id"), col("vec").as("qv"),
        Similarity.norm(col("vec")).as("qn"), col("label").as("q_label")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_micro").desc, col("vec_id"))
    withLbl.select(col("id").as("vec_id"), col("vec"),
        Similarity.norm(col("vec")).as("cn"), col("label").as("neg_label"))
      .crossJoin(q)
      .filter(col("vec_id") =!= col("query_id") &&
        col("neg_label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id"), col("neg_label"),
        floor(lit(1000000.0) * (Similarity.dot(col("qv"), col("vec")) /
          (col("qn") * col("cn")))).cast("long").as("cos_micro"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select("query_id", "vec_id", "neg_label", "cos_micro", "rank")
  }

  /** d_bpe and d_bpe_apply both need the 3-round merge loop (driver-side
    * argmax actions — not expressible as one lazy plan, so not a
    * `CacheScope.session` frame); memoize the (merges, final state) pair
    * per (session, dir) so the loop runs once. Nothing to unpersist: the
    * state is checkpointed (its blocks go with the dropped reference) and
    * the merge table is a local literal frame. */
  private def bpeShared(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, Seq[(String, String)]) =
    CacheScope.sessionOf("bpe", s, dir)(
      Collocations.mergeRoundsFull(docs(s, dir), "doc_id", "text", 3))((_, _) => ())

  /** Session-shared trainless ANN index parts: the IVF cells/assignment
    * and PQ codebooks/codes are each consumed by 2-3 queries
    * (e_ann_ivf_recall, e_semdedup, e_pq_recall, e_ivfpq_recall) — the
    * corpus-sized encode/assign work builds once per session, like the
    * minhash family above. */
  private def sharedIvfCells(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("ivf_cells", s, dir)(
      Similarity.ivfSampledCells(embDouble(s, dir)))
  private def sharedIvfAssign(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("ivf_assign", s, dir)(
      Similarity.ivfSampledAssign(embDouble(s, dir), sharedIvfCells(s, dir)))
  private def sharedPqCodebooks(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("pq_codebooks", s, dir) {
      val c = embDouble(s, dir)
      Similarity.pqCodebooks(c, Similarity.inferDim(c))
    }
  private def sharedPqCodes(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("pq_codes", s, dir) {
      val c = embDouble(s, dir)
      Similarity.pqEncode(c, sharedPqCodebooks(s, dir), Similarity.inferDim(c))
    }

  /** Session-scoped shared minhash intermediates: d_minhash_lsh,
    * d_minhash_est and d_dedup_pipeline all consume the same shingle
    * explode and LSH candidate table over the full documents corpus —
    * route both through `CacheScope.session` (like the gx union graph) so the
    * build runs once per session, not once per query. */
  /** Little-endian hex of the low `nBytes` of a long column (the shared
    * binary-payload building block of the m_* construction oracles). */
  private def leHexC(c: Column, nBytes: Int): Column =
    concat((0 until nBytes).map(i =>
      lpad(hex(pmod(shiftright(c, 8 * i), lit(256))), 2, "0")): _*)

  /** The planted 24-bit BMP payload (hex) shared by m_features and
    * m_resize: width fixed at 4, height = doc_id%8+1, bottom-up raster of
    * BGR triplets with blue = (doc_id + pixel_index) % 256 and constant
    * green/red = (doc_id·7)%256 / (doc_id·13)%256 — every decoded stat is
    * a closed-form function of doc_id the oracle computes directly. */
  private def plantedBmpHex(d: Column): Column = {
    val hgt = pmod(d, lit(8L)) + 1          // 1..8 rows, width fixed at 4
    val g0 = pmod(d * 7, lit(256L))          // constant green (channel order)
    val r0 = pmod(d * 13, lit(256L))         // constant red
    val pixels = array_join(                 // BGR triplets, blue = (d+p)%256
      transform(sequence(lit(0L), hgt * 4 - 1),
        p => concat(lpad(hex(pmod(d + p, lit(256L))), 2, "0"),
          lpad(hex(g0), 2, "0"), lpad(hex(r0), 2, "0"))), "")
    concat(
      lit("424D"), leHexC(lit(54L) + hgt * 12, 4),      // file size
      lit("00000000"), lit("36000000"),                 // reserved, offset 54
      lit("28000000"), lit("04000000"), leHexC(hgt, 4), // DIB, w=4, h
      lit("0100"), lit("1800"), lit("00000000"),        // planes, 24bpp, BI_RGB
      leHexC(hgt * 12, 4), lit("00000000"), lit("00000000"),
      lit("00000000"), lit("00000000"), pixels)
  }

  /** The TEXTURED BMP family for the perceptual near-dup gate: the same
    * container discipline as [[plantedBmpHex]] but big enough to hash —
    * w=16, h = doc_id%8+8 (a 4-px image upsampled to the 9×8 hash raster
    * leaves most sample pairs reading the SAME source pixel: 5 of 8 bits
    * per row structurally zero, pieces trivially colliding, banding
    * degenerating to all-pairs; at 16×8+ every 9×8 sample column reads a
    * distinct source column and all 64 bits carry signal). Blue(p) =
    * (31·d + 97·p) % 256, a full-range pseudo-texture; 31 is invertible
    * mod 256 so seeds 256 apart yield byte-IDENTICAL payloads — exact-
    * duplicate clusters at every SF. Row stride 48 bytes (already
    * 4-aligned, no BMP padding).
    *
    * `pert` plants the near-dup copies:
    *  - 1 (near): blue+16 at image pixel (14, 0) — sampled only by the
    *    hash's rightmost column in row y=0, so the copy is within
    *    Hamming ≤1 of its base: a TRUE near-dup the join must accept;
    *  - 2 (far): blue+64 at even columns of image rows ys ≥ 2 — image
    *    rows 0-1 (hash piece 0) are untouched, so the copy ALWAYS shares
    *    a band piece with its base (a guaranteed candidate) while the
    *    other 48 bits scatter far past the threshold: the candidate the
    *    Hamming verify step must reject. */
  private def plantedTexturedBmpHex(d: Column, pert: Int): Column =
    plantedTexturedBmpHexOf(d, lit(pert))

  /** [[plantedTexturedBmpHex]] with the perturbation kind chosen PER ROW
    * (the streaming delta builds near and far copies in one pass). */
  private def plantedTexturedBmpHexOf(d: Column, pert: Column): Column = {
    val hgt = pmod(d, lit(8L)) + 8          // 8..15 rows, width fixed at 16
    val g0 = pmod(d * 7, lit(256L))
    val r0 = pmod(d * 13, lit(256L))
    // raster row r = p >> 4 (w=16), col xs = p & 15; image ys = h-1-r
    val bump: Column => Column = p =>
      when(pert === 1 && p === (hgt - 1) * 16 + 14, lit(16L))
        .when(pert === 2 && p.bitwiseAND(lit(1L)) === 0 &&
          shiftright(p, 4) <= hgt - 3, lit(64L))
        .otherwise(lit(0L))
    val pixels = array_join(
      transform(sequence(lit(0L), hgt * 16 - 1),
        p => concat(
          lpad(hex(pmod(d * 31 + p * 97 + bump(p), lit(256L))), 2, "0"),
          lpad(hex(g0), 2, "0"), lpad(hex(r0), 2, "0"))), "")
    concat(
      lit("424D"), leHexC(lit(54L) + hgt * 48, 4),
      lit("00000000"), lit("36000000"),
      lit("28000000"), lit("10000000"), leHexC(hgt, 4),
      lit("0100"), lit("1800"), lit("00000000"),
      leHexC(hgt * 48, 4), lit("00000000"), lit("00000000"),
      lit("00000000"), lit("00000000"), pixels)
  }

  /** DuckDB replay of [[plantedTexturedBmpHex]]'s blue channel at image
    * coordinate (`xs`, `ys`) (top-down; raster index = (h−1−ys)·16+xs),
    * over row columns `seed`, `h`, `pert` (0 base / 1 near / 2 far). */
  private def texBlueSql(xs: String, ys: String): String =
    s"((seed * 31 + ((h - 1 - ($ys)) * 16 + ($xs)) * 97 + " +
      s"(CASE WHEN pert = 1 AND ($ys) = 0 AND ($xs) = 14 THEN 16 ELSE 0 END) + " +
      s"(CASE WHEN pert = 2 AND ($ys) >= 2 AND ($xs) % 2 = 0 THEN 64 ELSE 0 END)" +
      s") % 256)"

  /** The closed-form 9×8 dHash64 replay over (seed, h, pert) rows —
    * shared by the m_phash_dedup and m_phash_incr/s_stream_phash
    * oracles. Bit 63 is the long-min literal (DuckDB rejects 1<<63). */
  private lazy val texDh64Sql: String = {
    val ysS = "((q // 8) * h) // 8"
    s"""CAST(list_aggregate(list_transform(generate_series(0, 63),
       |      q -> CASE WHEN ${texBlueSql("(((q % 8) + 1) * 16) // 9", ysS)}
       |                   > ${texBlueSql("((q % 8) * 16) // 9", ysS)}
       |           THEN (CASE WHEN q = 63 THEN -9223372036854775807 - 1
       |                 ELSE (CAST(1 AS BIGINT) << CAST(q AS INT)) END)
       |           ELSE 0 END),
       |      'sum') AS BIGINT)""".stripMargin
  }

  /** Shared oracle of m_phash_incr and its streaming twin
    * s_stream_phash: delta copies hamming-joined against the index
    * all-pairs (banding is the Spark side's plan shape). */
  private lazy val phashIncrOracleSql: String =
    s"""WITH pidx AS (
       |  SELECT doc_id AS media_id, doc_id AS seed, doc_id % 8 + 8 AS h,
       |    0 AS pert
       |  FROM documents WHERE doc_id % 2 = 0
       |), pdel AS (
       |  SELECT doc_id + 1 AS media_id, doc_id AS seed, doc_id % 8 + 8 AS h,
       |    CASE WHEN doc_id % 40 = 0 THEN 2 ELSE 1 END AS pert
       |  FROM documents WHERE doc_id % 20 = 0
       |), dhx AS MATERIALIZED (
       |  SELECT media_id, $texDh64Sql AS dh64 FROM pidx
       |), dhd AS MATERIALIZED (
       |  SELECT media_id, $texDh64Sql AS dh64 FROM pdel
       |), pprs AS (
       |  SELECT d.media_id, x.media_id AS partner
       |  FROM dhd d JOIN dhx x ON bit_count(xor(d.dh64, x.dh64)) <= 3
       |)
       |SELECT d.media_id,
       |  CAST(CASE WHEN MIN(p.partner) IS NULL OR MIN(p.partner) > d.media_id
       |       THEN d.media_id ELSE MIN(p.partner) END AS BIGINT) AS keep_id,
       |  CAST(COUNT(p.partner) AS BIGINT) AS n_near
       |FROM dhd d LEFT JOIN pprs p ON p.media_id = d.media_id
       |GROUP BY d.media_id
       |ORDER BY d.media_id""".stripMargin

  /** The planted PCM-16 WAV payload (hex) shared by m_features and
    * m_resample: doc_id%16+2 signed LE16 samples with
    * sample[k] = signed((doc_id·31 + k·997) % 65536) — canonical 44-byte
    * layout, every decoded stat a closed-form function of doc_id. */
  private def plantedWavHex(d: Column): Column =
    plantedWavHexOf(d, (dd, k) => pmod(dd * 31 + k * 997, lit(65536L)))

  /** [[plantedWavHex]] with the int16 RAILS planted: docs with
    * doc_id%10 == 5 get sample[0] = 32767 and sample[1] = −32768
    * (LE16 0x8000), so m_gain's clipped-sample census is non-vacuous at
    * every SF; all other samples keep the shared arithmetic. */
  private def plantedGainWavHex(d: Column): Column =
    plantedWavHexOf(d, (dd, k) =>
      when(pmod(dd, lit(10L)) === 5 && k < 2,
          when(k === 0, lit(32767L)).otherwise(lit(32768L)))
        .otherwise(pmod(dd * 31 + k * 997, lit(65536L))))

  private def plantedWavHexOf(d: Column,
                              sample: (Column, Column) => Column): Column = {
    val n = pmod(d, lit(16L)) + 2
    val samples = array_join(
      transform(sequence(lit(0L), n - 1), k => leHexC(sample(d, k), 2)), "")
    concat(
      lit("52494646"), leHexC(lit(36L) + n * 2, 4), lit("57415645"),
      lit("666D7420"), lit("10000000"), lit("0100"), lit("0100"),
      leHexC(lit(8000L), 4), leHexC(lit(16000L), 4), lit("0200"), lit("1000"),
      lit("64617461"), leHexC(n * 2, 4), samples)
  }

  /** The multi-SEGMENT WAV clip family for the audio fingerprint dedup
    * gate (m_audio_dup): doc_id%3+2 segments of 8 samples (two 4-sample
    * analysis windows each), segment s seeded q = doc_id + s with
    * sample[j] = signed((q·31 + j·997) % 65536) — consecutive clips share
    * planted segments byte-identically (the m_video_phash sharing
    * discipline on the audio axis), and every windowed feature is a
    * closed-form function of (q, j) the oracle replays. */
  private def plantedClipWavHex(d: Column): Column = {
    val n = (pmod(d, lit(3L)) + 2) * 8
    val samples = array_join(
      transform(sequence(lit(0L), n - 1), k =>
        leHexC(pmod((d + floor(k / 8)) * 31 + pmod(k, lit(8L)) * 997,
          lit(65536L)), 2)), "")
    concat(
      lit("52494646"), leHexC(lit(36L) + n * 2, 4), lit("57415645"),
      lit("666D7420"), lit("10000000"), lit("0100"), lit("0100"),
      leHexC(lit(8000L), 4), leHexC(lit(16000L), 4), lit("0200"), lit("1000"),
      lit("64617461"), leHexC(n * 2, 4), samples)
  }

  /** The d_clean_e2e plant, shared with its streaming twin: the
    * d_boilerplate headers, the d_gopher_rep repetition tails
    * (doc_id%10 ∈ {0,1,2}) and a planted per-doc email line
    * (doc_id%10 == 4). */
  private def cleanPlant(df: DataFrame): DataFrame = {
    val q = floor(col("doc_id") / 20) % 10
    val m = pmod(col("doc_id"), lit(10))
    df.select(col("doc_id"), col("source"),
      concat(
        lit("(c) "), col("source"), lit(" all rights reserved\n"),
        col("text"),
        when(q < 6, lit("\nsubscribe to the newsletter")).otherwise(lit("")),
        when(q === 3, lit("\nrare promo line")).otherwise(lit("")),
        when(m === 0, lit("\nrepeat me line\nrepeat me line" +
          "\nrepeat me line\nrepeat me line")).otherwise(lit("")),
        when(m === 1, lit(" badger badger badger badger badger" +
          " badger badger")).otherwise(lit("")),
        when(m === 2, lit(" one two three one two three one two three"))
          .otherwise(lit("")),
        when(m === 4, concat(lit("\ncontact user"), col("doc_id"),
          lit("@example.com for details"))).otherwise(lit("")))
        .as("text"))
  }

  /** Session-shared phash band-piece INDEX over the base textured BMPs
    * (even doc_ids) — the persisted image-dedup index m_phash_incr
    * (batch delta) and s_stream_phash (ingest stream) both clean
    * against; eagerly checkpointed so the stream-static side never
    * re-runs the corpus decode per micro-batch (the s_stream_boilerplate
    * discipline). */
  private def sharedPhashIndex(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("phash_index", s, dir) {
      val d = col("doc_id")
      val base = docs(s, dir).filter(pmod(d, lit(2)) === 0)
        .select(d.as("media_id"),
          unhex(plantedTexturedBmpHex(d, pert = 0)).as("content"))
      Multimodal.phashBandPieces(Multimodal.dhash64(base).toDF())
        .localCheckpoint(true)
    }

  /** The planted DELTA media of the incremental phash gates: one copy
    * per doc_id%20==0 seed — near (≤1 bit, must match its base) for
    * %40!=0, far (piece-0-sharing reject candidate) for %40==0. */
  private def phashDeltaMedia(df: DataFrame): DataFrame = {
    val d = col("doc_id")
    df.filter(pmod(d, lit(20)) === 0)
      .select((d + 1).as("media_id"),
        unhex(plantedTexturedBmpHexOf(d,
          when(pmod(d, lit(40)) === 0, lit(2)).otherwise(lit(1))))
          .as("content"))
  }

  /** Session-shared unigram-LM trained vocabulary — d_unigram_lm and
    * d_unigram_apply both consume the 2-round EM result; the train loop
    * (with its bounded per-round score-map collects) runs once per
    * (session, dir). */
  private def sharedUnigramVocab(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("unigram_vocab", s, dir)(
      Collocations.unigramVocab(docs(s, dir), "doc_id", "text"))

  /** Session-shared Naive Bayes scoring — d_nb_classifier, d_nb_eval and
    * d_auc all read the one train+score pass; build the per-(doc, class)
    * log-posterior frame once and hang the argmax off it. */
  private def sharedNbScored(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("nb_scored_all", s, dir)(
      Classify.naiveBayesScored(docs(s, dir), "doc_id", "text", "lang"))
  private def sharedNb(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("nb_scored", s, dir)(
      Classify.naiveBayesFromScored(docs(s, dir), sharedNbScored(s, dir),
        "doc_id", "lang"))

  /** Session-shared kNN-graph clusters over the 10% embedding subsample —
    * e_knn_cluster emits them and d_cluster_topics labels them; the n²
    * edge build + GraphX CC run once per session. */
  private def sharedKnnClusters(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("knn_clusters", s, dir)(
      Similarity.knnComponents(
        embDouble(s, dir).filter(col("id") % 10 === 0), 3))

  private def sharedShingles(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("minhash_shingles", s, dir)(
      Dedup.shingleRows(docs(s, dir), "doc_id", "text"))
  private def sharedSpanRows(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("span_rows", s, dir)(
      Dedup.spanRowsOf(docs(s, dir), "doc_id", "text"))
  private def docBase(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"), col("text"))
  private def sharedMinhashCands(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("minhash_cands", s, dir)(
      Dedup.minhashCandidatesFrom(sharedShingles(s, dir)))

  /** The fixed 3-term retrieval rankings (top-50 by micro score) —
    * d_search / d_bm25 emit them directly and d_rrf fuses them; cached so
    * the three queries share one token-explode + rank pass per session. */
  private def tfidfTop50(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("tfidf_top50", s, dir)(tfidfTop50Build(s, dir))

  private def tfidfTop50Build(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "query", "vector")
    val tok = docs(s, dir).select(col("doc_id"),
      explode(tokens(col("text"))).as("token"))
      .filter(col("token").isin(terms: _*))
    val nFrame = docs(s, dir).agg(count(lit(1)).as("n"))
    val idf = tok.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nFrame))
      .select(col("token"),
        round(log(col("n") / col("df")) * 1e6).cast("long").as("idf_micro"))
    tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .join(broadcast(idf), "token")
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("idf_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(50)
  }

  private def bm25Top50(s: SparkSession, dir: String): DataFrame =
    CacheScope.session("bm25_top50", s, dir)(bm25Top50Build(s, dir))

  private def bm25Top50Build(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "query", "vector")
    val d = docs(s, dir)
    val dl = d.select(col("doc_id"), tokenCount(col("text")).as("dl"))
    val st = dl.agg(sum(col("dl")).cast("double").as("sum_dl"),
      count(lit(1)).cast("double").as("n"))
    val tok = d.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(col("token").isin(terms: _*))
    val idf = tok.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).cast("double").as("df"))
      .crossJoin(broadcast(st.select(col("n"))))
      .select(col("token"),
        // Lucene's +1 form: plain (n-df+.5)/(df+.5) goes NEGATIVE for
        // terms in over half the corpus and INVERTS the ranking (this
        // fixture's 3 query terms are that common — the original form
        // ranked the term-poorest docs top and made the tf-idf/bm25
        // top-50s disjoint); ln(1+x) keeps idf positive always
        round(log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * 1e6).cast("long").as("idf_micro"))
    tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .join(broadcast(idf), "token")
      .join(dl, "doc_id")
      .crossJoin(broadcast(st.select((col("sum_dl") / col("n")).as("avgdl"))))
      .withColumn("term_micro",
        floor(col("idf_micro") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .cast("long"))
      .groupBy("doc_id")
      .agg(sum(col("term_micro")).as("score_micro"))
      .orderBy(col("score_micro").desc, col("doc_id")).limit(50)
  }

  /** Session-shared derived caches in dependency order — Bench times each
    * as its own `cache:<name>` entry so per-query numbers stop absorbing
    * first-toucher build costs (see GxQueries.sharedCacheBuilds). */
  private[graft] val sharedCacheBuilds: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "minhash_shingles" -> ((s: SparkSession, d: String) => sharedShingles(s, d)),
    "span_rows" -> ((s: SparkSession, d: String) => sharedSpanRows(s, d)),
    "minhash_cands" -> ((s: SparkSession, d: String) => sharedMinhashCands(s, d)),
    "nb_scored_all" -> ((s: SparkSession, d: String) => sharedNbScored(s, d)),
    "nb_scored" -> ((s: SparkSession, d: String) => sharedNb(s, d)),
    "knn_clusters" -> ((s: SparkSession, d: String) => sharedKnnClusters(s, d)),
    "tfidf_top50" -> ((s: SparkSession, d: String) => tfidfTop50(s, d)),
    "bm25_top50" -> ((s: SparkSession, d: String) => bm25Top50(s, d)),
    "ivf_cells" -> ((s: SparkSession, d: String) => sharedIvfCells(s, d)),
    "ivf_assign" -> ((s: SparkSession, d: String) => sharedIvfAssign(s, d)),
    "pq_codebooks" -> ((s: SparkSession, d: String) => sharedPqCodebooks(s, d)),
    "pq_codes" -> ((s: SparkSession, d: String) => sharedPqCodes(s, d))
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- text analysis ---------------------------------------------------
    "d_token_count" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("len_chars"))
        .orderBy("doc_id")),

    "d_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    // Spearman rank correlation between two per-doc quality signals —
    // length (token count) vs corpus-LM mean surprisal — the
    // signal-agreement diagnostic a pipeline reads before treating one
    // filter as a proxy for another. (Rank agreement between the TF-IDF
    // and BM25 TOP-50s is unusable here: on 3 common query terms BM25's
    // (n−df+.5)/(df+.5) idf goes NEGATIVE, anti-correlating the two
    // scorers so hard their top-50 sets are DISJOINT on this corpus —
    // the empty intersection is itself a finding, and the full-corpus
    // signal pair is the non-vacuous form.) Ranks are exact integers
    // over each signal's (value desc, doc_id) total order, the
    // sufficient stats exact i64 sums, and the one float step is the
    // gx_assort Pearson tree — no libm in the correlation itself
    "d_spearman" -> ((s, dir) => {
      val sur = TextFunctions.surprisalStats(docs(s, dir), "doc_id", "text")
      val a = sur.select(col("doc_id"), col("n_tokens").as("sa"))
      val b = sur.select(col("doc_id"), col("mean_micro").as("sb"))
      // both global rank columns via the distributed range+offset
      // two-pass (Ranks) — Spearman needs corpus-wide ranks, but never
      // from a single-partition window; ties are impossible on the
      // (value desc, doc_id) total order so row_number == rank
      val st = graft.operators.Ranks.rowNumber(
          graft.operators.Ranks.rowNumber(a.join(b, "doc_id"),
            "ra", col("sa").desc, col("doc_id")),
          "rb", col("sb").desc, col("doc_id"))
        .agg(count(lit(1)).as("n"),
          sum(col("ra")).as("sx"), sum(col("rb")).as("sy"),
          sum(col("ra") * col("rb")).as("sxy"),
          sum(col("ra") * col("ra")).as("sxx"),
          sum(col("rb") * col("rb")).as("syy"))
      def d(c: String) = col(c).cast("double")
      st.select(col("n"),
        floor(lit(1000000.0) *
          (d("n") * d("sxy") - d("sx") * d("sy")) /
          sqrt((d("n") * d("sxx") - d("sx") * d("sx")) *
               (d("n") * d("syy") - d("sy") * d("sy"))))
          .cast("long").as("rho_micro"))}),

    // retrieval RANKING METRICS over the shared TF-IDF run — MRR and
    // nDCG@10 with graded relevance = the doc's exact 'vector' term
    // count (deliberately MISALIGNED with the summed 3-term tf-idf score
    // so the ranking is not trivially ideal — counting distinct query
    // terms graded every top-10 doc 3/3 and pinned nDCG at a vacuous
    // 1.0). Each per-rank discount term rounds to
    // integer micros BEFORE the order-free sums (the surprisal
    // discipline applied to log2); MRR and the final nDCG are integer
    // divisions — the whole eval is hash-green, which is what lets a
    // pipeline regression-test its retrieval stack, not eyeball it
    "d_ndcg" -> ((s, dir) => {
      val terms = Seq("spark", "query", "vector")
      val wR = Window.orderBy(col("score_micro").desc, col("doc_id"))
      val top10 = tfidfTop50(s, dir)
        .withColumn("rank", row_number().over(wR)).filter(col("rank") <= 10)
      val rel = docs(s, dir).select(col("doc_id"),
        size(filter(tokens(col("text")), t => t === terms.last))
          .cast("long").as("rel"))
      val graded = graft.CacheScope.cached(top10.join(rel, "doc_id")
        .select(col("rank"), col("rel"),
          round(lit(1e6) * col("rel") / log2(col("rank") + 1), 0)
            .cast("long").as("dterm")))
      // the ideal ordering re-discounts the SAME 10 grades sorted desc
      val wI = Window.orderBy(col("rel").desc, col("rank"))
      val ideal = graded.withColumn("irank", row_number().over(wI))
        .select(round(lit(1e6) * col("rel") / log2(col("irank") + 1), 0)
          .cast("long").as("iterm"))
      graded.agg(count(lit(1)).as("n_eval"), sum(col("dterm")).as("dcg_micro"))
        .crossJoin(broadcast(
          ideal.agg(sum(col("iterm")).as("idcg_micro"))))
        .crossJoin(broadcast(graded.filter(col("rel") > 0)
          .agg(min(col("rank")).as("frr"))))
        .select(col("n_eval"),
          expr("CAST(1000000 AS BIGINT) div CAST(frr AS BIGINT)")
            .as("mrr_micro"),
          col("dcg_micro"), col("idcg_micro"),
          expr("(1000 * dcg_micro) div idcg_micro").as("ndcg_milli"))}),

    // the export sinks DRIVER-GATED end to end: write the corpus through
    // THREE production layouts (range-ordered gzip JSONL shards, the
    // Hive-partitioned parquet tree, and range-ordered ORC shards), read
    // each back, and emit the per-source profile of the round-trips side
    // by side — the oracle is the direct profile, so a hash match proves
    // read(write(x)) == x row-for-row through each sink
    // SCHEMA EVOLUTION read (the lakehouse append-era contract): era-1
    // files carry a narrow schema, era-2 files gained a column;
    // mergeSchema=true + partition discovery must unify them with NULLs
    // for the pre-evolution rows — the per-parity profile proves exactly
    // which era carries the new column. Floor-to-cents BEFORE summing
    // (double prices; order-free i64 sums)
    "q_schema_evolution" -> ((s, dir) => {
      val tmp = scratchDir("schevo", dir)
      val o = Tables.orders(s, dir)
      o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$tmp/t/era=1")
      o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$tmp/t/era=2")
      s.read.option("mergeSchema", "true").parquet(s"$tmp/t")
        .groupBy(pmod(col("o_orderkey"), lit(2)).as("parity"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("o_orderstatus").isNotNull, 1L).otherwise(0L))
            .as("n_with_status"),
          sum(floor(col("o_totalprice") * 100).cast("long"))
            .as("price_cents"))
        .orderBy("parity")}),

    "d_export_roundtrip" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val tmp = scratchDir("export_rt", dir)
      graft.sources.Export.jsonlShards(d, "doc_id", s"$tmp/jsonl", 100)
      graft.sources.Export.partitionedParquet(d, "source", "doc_id",
        s"$tmp/parq", 100)
      graft.sources.Export.orcShards(d, "doc_id", s"$tmp/orc", 100)
      def profile(df: DataFrame, nCol: String, tokCol: String) =
        df.groupBy("source").agg(count(lit(1)).as(nCol),
          sum(tokenCount(col("text"))).as(tokCol))
      val viaJsonl = profile(
        graft.sources.Export.readJsonl(s, s"$tmp/jsonl"), "n_jsonl", "tok_jsonl")
      val viaParq = profile(
        graft.sources.Export.readPartitionedParquet(s, s"$tmp/parq"),
        "n_parq", "tok_parq")
      val viaOrc = profile(
        graft.sources.Export.readOrc(s, s"$tmp/orc"), "n_orc", "tok_orc")
      viaJsonl.join(viaParq, "source").join(viaOrc, "source")
        .orderBy("source")}),

    // CSV round-trip through the RFC-4180 sink: write → schema-supplied
    // read → per-source profile with an ORDER-FREE exact content
    // checksum (Σ hash32(doc_id:text)) — equality with the direct-from-
    // parquet oracle proves the quote/escape/null conventions round-trip
    // every byte, not just the row counts
    "d_export_csv" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val tmp = scratchDir("export_csv", dir)
      graft.sources.Export.csvShards(d, "doc_id", s"$tmp/csv", 100)
      val back = graft.sources.Export.readCsv(s, s"$tmp/csv",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("source",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
      back.groupBy("source").agg(
        count(lit(1)).as("n_csv"),
        sum(tokenCount(col("text"))).as("tok_csv"),
        sum(TextFunctions.hash32(
          concat(col("doc_id").cast("string"), lit(":"), col("text"))))
          .as("content_sum"))
        .orderBy("source")}),

    // dynamic partition overwrite — the lakehouse partial-rewrite
    // semantics: a second write with partitionOverwriteMode=dynamic
    // replaces ONLY the partitions it touches (src0/src1 re-exported
    // keeping every other doc of EACH source — the cut is on
    // (doc_id div 20) parity because source = doc_id % 20 correlates
    // plain id parity with the partition itself) and must leave every
    // other partition's bytes alone. The audit row's order-free content
    // checksum over the final table proves both halves — the touched
    // partitions changed exactly as specified, the untouched ones not
    // at all (static mode would have DELETED them)
    "d_export_dynamic" -> ((s, dir) => {
      val tmp = scratchDir("dyn", dir) + "/t"
      val d = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      d.write.partitionBy("source").parquet(tmp)
      d.filter(col("source").isin("src0", "src1") &&
          pmod(expr("doc_id div 20"), lit(2)) === 0)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("source").parquet(tmp)
      s.read.parquet(tmp).agg(
        count(lit(1)).as("n_result"),
        sum(when(col("source").isin("src0", "src1"), 1L).otherwise(0L))
          .as("n_in_rewritten"),
        sum(TextFunctions.hash32(concat(col("doc_id").cast("string"),
          lit(":"), col("source")))).as("checksum"))}),

    // the one-row corpus report card — the dataset summary a data team
    // publishes with a release: volume (docs/tokens/vocab), exact-dup
    // rate, length profile (milli-mean + engine-exact median), source
    // diversity as integer micro-nat entropy (each ln micro-rounded
    // before the order-free sum, the surprisal discipline), and the
    // ASCII fraction (chars == bytes ⟺ pure ASCII — the NFC fast-path
    // denominator). Every cell integer- or IEEE-exact, so the whole
    // card hash-matches
    "d_corpus_card" -> ((s, dir) => {
      val base = graft.CacheScope.cached(
        docs(s, dir).select(col("doc_id"), col("source"), col("text"),
          tokenCount(col("text")).as("n_tok"),
          fingerprint(col("text")).as("fp"),
          (length(col("text")) === octet_length(col("text"))).as("is_ascii")))
      def lmicro(c: Column): Column = round(log(c) * 1e6, 0).cast("long")
      val srcEnt = base.groupBy("source").agg(count(lit(1)).as("ns"))
        .crossJoin(broadcast(base.agg(count(lit(1)).as("nd"))))
        .agg(sum(col("ns") * (lmicro(col("nd")) - lmicro(col("ns"))))
          .as("ent_num"), first(col("nd")).as("nd2"))
        .select(expr("ent_num div nd2").as("src_entropy_micro"))
      base.agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          countDistinct(col("fp")).as("n_distinct_fp"),
          sum(when(col("is_ascii"), 1L).otherwise(0L)).as("n_ascii"),
          expr("percentile(n_tok, CAST(5 AS DOUBLE) / 10)").as("median_tokens"))
        .crossJoin(broadcast(
          base.select(explode(tokens(col("text"))).as("t"))
            .agg(countDistinct(col("t")).as("vocab"))))
        .crossJoin(broadcast(srcEnt))
        .select(col("n_docs"), col("n_tokens"), col("vocab"),
          expr("(1000 * (n_docs - n_distinct_fp)) div n_docs")
            .as("dup_rate_milli"),
          expr("(1000 * n_tokens) div n_docs").as("mean_tokens_milli"),
          col("median_tokens"),
          expr("(1000 * n_ascii) div n_docs").as("ascii_milli"),
          col("src_entropy_micro"))}),

    // distribution-matched resampling — downsample a candidate pool so
    // its token-length histogram matches a reference set's (the ablation
    // prep step: compare corpora at equal length profiles). The reference
    // is PLANTED length-biased (every 3rd doc at or above the corpus
    // median token count, the engine-exact percentile cut) so the
    // per-bucket keep rates are genuinely non-uniform. rate_milli =
    // min(1000, (1000·n_ref) div n_cand) per power-of-2 bucket; keep is
    // the usual salted-hash predicate — deterministic, append-stable,
    // integer end to end
    "d_distmatch" -> ((s, dir) => {
      val base = graft.CacheScope.cached(
        docs(s, dir).select(col("doc_id"), tokenCount(col("text")).as("n"))
          .withColumn("bucket", when(col("n") === 0, lit(-1))
            .otherwise(floor(log2(col("n"))).cast("int"))))
      val cut = base.agg(expr("percentile(n, 0.5)").as("cut"))
      val withCut = base.crossJoin(broadcast(cut))
      val isRef = col("doc_id") % 3 === 0 && col("n") >= col("cut")
      val ref = withCut.filter(isRef)
      val cand = withCut.filter(!isRef)
      val rates = ref.groupBy("bucket").agg(count(lit(1)).as("n_ref"))
        .join(cand.groupBy("bucket").agg(count(lit(1)).as("n_cand")),
          Seq("bucket"), "full_outer")
        .select(col("bucket"),
          coalesce(col("n_ref"), lit(0L)).as("n_ref"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"))
        .withColumn("rate_milli",
          when(col("n_cand") === 0, lit(0L))
            .otherwise(least(lit(1000L),
              expr("(1000 * n_ref) div n_cand"))))
      val kept = cand.join(broadcast(rates), "bucket")
        .filter(pmod(graft.functions.TextFunctions.hash60(
          concat(col("doc_id").cast("string"), lit("dm"))), lit(1000L)) <
          col("rate_milli"))
        .groupBy("bucket").agg(count(lit(1)).as("n_kept"))
      rates.join(kept, Seq("bucket"), "left")
        .select(col("bucket"), col("n_ref"), col("n_cand"), col("rate_milli"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("bucket")}),

    // snapshot reconciliation — the CDC-style audit an incremental ingest
    // runs between two corpus versions: planted old (drops every 7th doc)
    // vs new (drops every 5th, edits every 11th), full-outer fingerprint
    // compare → all four of added/removed/changed/same non-vacuous.
    // Per-status counts plus exact id bounds pin the diff without
    // emitting the whole join
    "d_snapshot_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val old = d.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id"), fingerprint(col("text")).as("fp_old"))
      val nw = d.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id"),
          fingerprint(when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text"))).as("fp_new"))
      old.join(nw, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          when(col("fp_old").isNull, "added")
            .when(col("fp_new").isNull, "removed")
            .when(col("fp_old") =!= col("fp_new"), "changed")
            .otherwise("same").as("status"))
        .groupBy("status")
        .agg(count(lit(1)).as("n"),
          min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
        .orderBy("status")}),

    // small-file compaction planning — the lakehouse-maintenance pass
    // (OPTIMIZE/rewrite): treat each (source, doc_id%16) shard as a file
    // with its byte mass, sort by size descending, and assign bins by
    // running-total division (sorted next-fit: bin = cumsum-before div
    // target) — deterministic, ONE window pass, and the whole plan
    // replays in SQL. The target is DATA-ADAPTIVE (total div 8 + 1, the
    // gx_kcore discipline — a constant would collapse to one bin at small
    // SF and explode at large). Output per bin: file count, byte total,
    // largest file — what an engine checks before rewriting a layout
    "d_compaction" -> ((s, dir) => {
      val files = docs(s, dir)
        .groupBy(col("source"), (col("doc_id") % 16).as("shard"))
        .agg(sum(length(col("text"))).cast("long").as("bytes"))
      val w = Window.orderBy(col("bytes").desc, col("source"), col("shard"))
      val tot = files.agg((sum(col("bytes")).cast("long")).as("total"))
      files
        .withColumn("cum_before",
          coalesce(sum(col("bytes")).over(
            w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("bin", expr("cum_before div (total div 8 + 1)"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bytes_total"),
          max(col("bytes")).as("max_file"))
        .orderBy("bin")}),

    // FILL-IN-THE-MIDDLE transform (the FIM pretraining objective):
    // deterministic hash-derived split points cut each doc into
    // prefix/middle/suffix, re-serialized in PSM order — the transform
    // that teaches infilling, applied corpus-wide as pure codegen'd
    // integer-hash + substring arithmetic (no UDF, no shuffle). p1 ≤ p2
    // land in [1, n-1] so all three segments are well-formed (middle
    // may be empty when the two hashes collide — legal FIM). fim_fp
    // fingerprints the transformed string; roundtrip pins
    // prefix||middle||suffix == text in BOTH engines
    "d_fim" -> ((s, dir) => {
      import graft.functions.TextFunctions.hash60
      val n = length(col("text")).cast("long")
      val h1 = pmod(hash60(concat(col("doc_id").cast("string"),
        lit(":fim1"))), n - 1) + 1
      val h2 = pmod(hash60(concat(col("doc_id").cast("string"),
        lit(":fim2"))), n - 1) + 1
      val pre = col("text").substr(lit(1L), col("p1"))
      val mid = col("text").substr(col("p1") + 1, col("p2") - col("p1"))
      val suf = col("text").substr(col("p2") + 1, col("n") - col("p2"))
      docs(s, dir).select(col("doc_id"), col("text"))
        .filter(length(col("text")) >= 20)
        .withColumn("n", n)
        .withColumn("p1", least(h1, h2))
        .withColumn("p2", greatest(h1, h2))
        .select(col("doc_id"), col("n").cast("int").as("n_chars"),
          col("p1").cast("int").as("p1"), col("p2").cast("int").as("p2"),
          hash60(concat(lit("<PRE>"), pre, lit("<SUF>"), suf,
            lit("<MID>"), mid)).as("fim_fp"),
          (concat(pre, mid, suf) === col("text")).cast("int")
            .as("roundtrip"))
        .orderBy("doc_id")}),

    // RE-SHARD stability (rendezvous vs mod hashing, 8 → 9 shards):
    // growing a mod-hashed layout relocates ~8/9 of the corpus — a
    // near-total rewrite — where rendezvous hashing relocates only the
    // ~1/9 whose new argmax IS the added shard (Layout.rendezvousShard;
    // every move lands on shard 8, PipelineSpec pins it). THE metric
    // for whether a 100 TB layout can grow incrementally; per method:
    // moved fraction in milli + the k=8 balance spread
    "d_reshard" -> ((s, dir) =>
      graft.operators.Layout.reshardReport(docs(s, dir), "doc_id", 8, 9)),

    "d_quality" -> ((s, dir) => {
      val toks = tokens(col("text"))
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        tokenCount(col("text")).as("n_tokens"),
        punctCount(col("text")).as("n_punct"),
        stopwordCount(toks).as("n_stopwords"),
        round(stopwordCount(toks).cast("double") /
          greatest(tokenCount(col("text")), lit(1)), 4).as("stopword_ratio"),
        round(length(col("text")).cast("double") /
          greatest(tokenCount(col("text")), lit(1)), 4).as("avg_token_span"))
        .orderBy("doc_id")}),

    "d_langid" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        langId(col("text")).as("pred_lang"))
        .orderBy("doc_id")),

    // within-doc token entropy (needs NO corpus stats, unlike d_surprisal):
    // n·H in micro-nats + distinct-type count — the repetitive-boilerplate
    // detector; every ln pre-rounded to integer micro-nats
    "d_token_entropy" -> ((s, dir) =>
      TextFunctions.tokenEntropyStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // repetition quality signal (duplicate word-2-gram fraction) as exact
    // integer counts — threshold via cross-multiplication (dup * K >= t * n)
    // like the Jaccard query, so no float boundary can disagree
    "d_repetition" -> ((s, dir) =>
      TextFunctions.repetitionStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Gopher repetition panel (char-occupancy rules): planted repetition
    // keeps every rule non-vacuous at all SFs — doc_id%10 selects docs
    // that get 4 duplicate lines (line rules), a 7× repeated word (the
    // top-2gram rule), or a 3× repeated phrase (the dup-3gram rule);
    // whether a planted doc crosses a threshold depends on its length,
    // so keep lands mixed rather than constant
    "d_gopher_rep" -> ((s, dir) => {
      val q = pmod(col("doc_id"), lit(10))
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(q === 0, lit("\nrepeat me line\nrepeat me line" +
            "\nrepeat me line\nrepeat me line")).otherwise(lit("")),
          when(q === 1, lit(" badger badger badger badger badger" +
            " badger badger")).otherwise(lit("")),
          when(q === 2, lit(" one two three one two three one two three"))
            .otherwise(lit(""))).as("text"))
      TextFunctions.gopherRepetitionStats(planted, "doc_id", "text")
        .orderBy("doc_id")}),

    // --- dedup -----------------------------------------------------------
    "d_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir), "doc_id", "text")
        .select(col("fp"), col("keep_id"), col("n_copies"))
        .orderBy("fp")),

    "d_minhash_lsh" -> ((s, dir) =>
      sharedMinhashCands(s, dir).orderBy("a", "b")),

    // CONTRASTIVE training pairs from the dedup signal — the text twin
    // of gx_walk_pairs: near-dup candidate pairs (est_sim >= 0.5) are
    // the positives an embedding model trains on; each draws 2
    // DETERMINISTIC hash-indexed negatives from the rank-ordered doc-id
    // vocabulary (reproducible, no RNG; a rare accidental near-dup
    // negative is standard sampling noise and replays identically)
    "d_contrastive" -> ((s, dir) => {
      val pos = sharedMinhashCands(s, dir).filter(col("est_sim") >= 0.5)
        .select(col("a"), col("b"), lit(1).as("label"), lit(0).as("neg_k"))
      val ids = docs(s, dir).select(col("doc_id"))
      val n = ids.count()
      // rank table via the distributed range+offset two-pass (Ranks) —
      // never a single-partition window over the corpus id set
      val ranked = graft.CacheScope.cached(
        graft.operators.Ranks.rowNumber(ids, "rk", col("doc_id"))
          .withColumn("rk", col("rk") - 1))
      // draws keyed by the WHOLE positive pair (a, b, k) — keying on
      // (a, k) alone made every positive of the same anchor reuse one
      // negative, emitting byte-identical duplicate rows
      val negs = pos.select(col("a"), col("b").as("bp"),
          explode(expr("sequence(1, 2)")).as("neg_k"))
        .withColumn("rk", pmod(graft.functions.TextFunctions.hash60(
          concat_ws("|", col("a"), col("bp"), col("neg_k"), lit("cneg"))),
          lit(n)))
        .join(ranked, "rk")
        .select(col("a"), col("doc_id").as("b"), lit(0).as("label"),
          col("neg_k").cast("int").as("neg_k"))
      pos.unionByName(negs).orderBy("a", "b", "label", "neg_k")}),

    // cross-corpus banded MinHash join: documents split by id parity
    // into two corpus-sized halves, shared minhash family, (band,
    // band_val) sort-merge join with NEITHER side broadcast — the text
    // twin of e_cross_lsh (new-crawl × existing-corpus dedup shape);
    // PlanSpec asserts no BroadcastExchange feeds the band join
    "d_cross_minhash" -> ((s, dir) =>
      Dedup.crossMinhashJoin(
          docs(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0),
          docs(s, dir).filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text")
        .orderBy("a", "b")),

    "d_simhash" -> ((s, dir) =>
      Dedup.simhashSignatures(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "d_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), "doc_id", "text", 0.3)
        .orderBy("a", "b")),

    // language-ID evaluation against the fixture's ground-truth lang column
    // (the confusion table a pipeline engineer actually reads)
    "d_langid_eval" -> ((s, dir) =>
      docs(s, dir)
        .groupBy(col("lang").as("true_lang"),
          langId(col("text")).as("pred_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("true_lang", "pred_lang")),

    // trainable multinomial Naive Bayes language classifier (the fasttext
    // analog of d_langid's fixed n-gram heuristic): class-token counts +
    // Laplace smoothing learned from the corpus itself, argmax scored per
    // doc — train AND score replay exactly in SQL (micro-nat lns, label
    // tie-break)
    "d_nb_classifier" -> ((s, dir) => sharedNb(s, dir).orderBy("doc_id")),

    // per-class evaluation of the NB classifier in exact integers: tp/fp/
    // fn counts + integer milli precision/recall (the classifier report
    // card a pipeline gates deployment on); rides the session-shared
    // scoring pass
    "d_nb_eval" -> ((s, dir) => {
      val sc = sharedNb(s, dir)
      val classes = sc.select(col("true_lang").as("lang")).distinct()
      classes.join(sc, classes("lang") === sc("true_lang") ||
          classes("lang") === sc("pred_lang"))
        .groupBy("lang")
        .agg(
          sum(when(col("true_lang") === col("lang") &&
            col("pred_lang") === col("lang"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("pred_lang") === col("lang") &&
            col("true_lang") =!= col("lang"), 1L).otherwise(0L)).as("fp"),
          sum(when(col("true_lang") === col("lang") &&
            col("pred_lang") =!= col("lang"), 1L).otherwise(0L)).as("fn"))
        .select(col("lang"), col("tp"), col("fp"), col("fn"),
          expr("(1000 * tp) div greatest(tp + fp, 1)").as("precision_milli"),
          expr("(1000 * tp) div greatest(tp + fn, 1)").as("recall_milli"))
        .orderBy("lang")}),

    // classifier CALIBRATION curve over the same shared NB scoring (the
    // reliability diagram's integer-exact core): per doc the DECISION
    // MARGIN (best minus runner-up log-posterior, micro-nats — the
    // confidence proxy an unnormalized NB actually has), bucketed by
    // data-adaptive margin quartiles (percentile == quantile_cont), with
    // per-bucket accuracy in milli. A well-calibrated filter must show
    // accuracy rising with margin; flat buckets mean the scores are not
    // a confidence signal and threshold-filtering on them is noise
    "d_calibration" -> ((s, dir) => {
      val sc = sharedNbScored(s, dir)
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("lbl").desc)
      val ranked = sc.withColumn("rn", row_number().over(w))
      val best = ranked.filter(col("rn") === 1)
        .select(col("doc_id"), col("lbl").as("pred"), col("score").as("s1"))
      val second = ranked.filter(col("rn") === 2)
        .select(col("doc_id"), col("score").as("s2"))
      val m = best.join(second, "doc_id")
        .join(docs(s, dir).select(col("doc_id"), col("lang")), "doc_id")
        .select((col("s1") - col("s2")).as("margin"),
          (col("pred") === col("lang")).as("correct"))
      val cuts = m.agg(
        expr("percentile(margin, 0.25D)").as("c1"),
        expr("percentile(margin, 0.5D)").as("c2"),
        expr("percentile(margin, 0.75D)").as("c3"))
      m.crossJoin(broadcast(cuts))
        .withColumn("bucket", when(col("margin") <= col("c1"), 1)
          .when(col("margin") <= col("c2"), 2)
          .when(col("margin") <= col("c3"), 3).otherwise(4))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc_milli", expr("(1000 * n_correct) div n"))
        .orderBy("bucket")}),

    // mixed-script / homoglyph detection — the data-poisoning guard a
    // web corpus needs (Cyrillic lookalikes inside Latin text evade
    // string blocklists): per source the docs whose text carries BOTH
    // Latin and Cyrillic letters. The corpus is ASCII, so Cyrillic
    // content is PLANTED (doc_id%37=5 gets a Cyrillic word appended)
    // to keep the detector non-vacuous; counts via length-minus-
    // stripped arithmetic over anchored char-class regexes (replace-all
    // in both engines: Spark regexp_replace is global, DuckDB takes 'g')
    "d_mixed_script" -> ((s, dir) => {
      val txt = when(pmod(col("doc_id"), lit(37)) === 5,
        concat(col("text"), lit(" привет"))).otherwise(col("text"))
      def nOf(pat: String) =
        length(txt) - length(regexp_replace(txt, pat, ""))
      docs(s, dir)
        .select(col("source"),
          nOf("[A-Za-z]").as("n_latin"),
          nOf("[Ѐ-ӿ]").as("n_cyr"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_cyr") > 0, 1L).otherwise(0L)).as("n_with_cyr"),
          sum(when(col("n_latin") > 0 && col("n_cyr") > 0, 1L).otherwise(0L))
            .as("n_mixed"),
          sum(col("n_cyr").cast("long")).as("total_cyr_chars"))
        .orderBy("source")}),

    // blocklist filter — the wordlist stage (NSFW/spam terms) every web
    // pipeline runs before training: docs containing ANY blocked token.
    // The corpus is clean, so hits are PLANTED (doc_id%41∈{3,7} append a
    // blocked token) to keep both the hit and miss branches non-vacuous;
    // the membership test is arrays_overlap against a literal list —
    // broadcast-sized however long a real blocklist gets
    "d_blocklist" -> ((s, dir) => {
      val txt = when(pmod(col("doc_id"), lit(41)) === 3,
          concat(col("text"), lit(" fraudword")))
        .when(pmod(col("doc_id"), lit(41)) === 7,
          concat(col("text"), lit(" spamword spamword")))
        .otherwise(col("text"))
      val blocked = array(lit("fraudword"), lit("spamword"), lit("scamword"))
      docs(s, dir)
        .select(col("source"),
          arrays_overlap(tokens(txt), blocked).as("hit"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_blocked"))
        .orderBy("source")}),

    // chi-square independence test of lang × source (is the language mix
    // uniform across sources, or does some source skew? — the stratified
    // mixture diagnostic). Observed counts are exact integers; each
    // cell's expected value e = (row·col)/n is ONE IEEE division of an
    // exact i64 product, the (o−e)²/e term is a fixed IEEE tree, and
    // every term is floor-micro'd BEFORE the order-free sum (the
    // d_surprisal discipline). Zero cells contribute their full e — the
    // grid cross-join is (L×S)-sized, never corpus-sized
    "d_chi2" -> ((s, dir) => {
      val ct = docs(s, dir).groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("o"))
      val rt = ct.groupBy("lang").agg(sum(col("o")).as("r"))
      val st = ct.groupBy("source").agg(sum(col("o")).as("c"))
      val nn = ct.agg(sum(col("o")).as("n"))
      val grid = rt.crossJoin(st).crossJoin(broadcast(nn))
        .join(ct, Seq("lang", "source"), "left")
        .withColumn("od", coalesce(col("o"), lit(0L)).cast("double"))
        .withColumn("e", (col("r") * col("c")).cast("double") / col("n"))
        .withColumn("term_micro",
          floor(lit(1000000.0) * (col("od") - col("e")) * (col("od") - col("e"))
            / col("e")).cast("long"))
      grid.agg(max(col("n")).as("n"),
          countDistinct(col("lang")).as("n_lang"),
          countDistinct(col("source")).as("n_source"),
          sum(col("term_micro")).as("chi2_micro"))
        .select(col("n"), col("n_lang"), col("n_source"),
          ((col("n_lang") - 1) * (col("n_source") - 1)).as("dof"),
          col("chi2_micro"))}),

    // per-source corpus profile (exact integer stats)
    "d_source_stats" -> ((s, dir) =>
      docs(s, dir).groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text")).cast("long")).as("total_tokens"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
        .orderBy("source")),

    // corpus vocabulary: top-100 tokens by frequency (the 100 TB wordcount
    // shape — map-side-combinable count + distributed TakeOrdered top-k)
    // Zipf rank-frequency fit: log-log OLS slope and Pearson r over the
    // top-200 vocabulary ranks — the corpus-statistics check that catches
    // degenerate or boilerplate corpora (natural text slopes ≈ −1; this
    // synthetic fixture's 31-token near-uniform vocabulary reads ≈ −0.18,
    // exactly the degeneracy the stat exists to expose). x = ln(rank),
    // y = ln(count), each micro-rounded BEFORE the order-free i64 sums
    // (the surprisal discipline); the two float steps use only
    // correctly-rounded ops off exact sufficient stats (gx_assort
    // discipline), so slope AND fit quality are hash-green
    "d_zipf" -> ((s, dir) =>
      TextFunctions.zipfFit(
        docs(s, dir).select(explode(tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("cnt")))),

    "d_vocab" -> ((s, dir) =>
      docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(100)),

    // deterministic hash sampling (reproducible, engine-auditable)
    "d_sample" -> ((s, dir) =>
      Sampling.hashSample(docs(s, dir), col("doc_id"), 0.2)
        .select("doc_id").orderBy("doc_id")),

    // weight-proportional deterministic sampling: keep probability
    // min(tokens, 500)/500 per doc, hash-decided — the Bernoulli
    // importance sample a token-budgeted pipeline draws when long docs
    // should be kept preferentially. Per-source doc and token masses
    // before/after show the length tilt; integers end to end
    "d_wsample" -> ((s, dir) => {
      val d = graft.CacheScope.cached(
        docs(s, dir).select(col("doc_id"), col("source"),
          tokenCount(col("text")).cast("long").as("w")))
      val kept = Sampling.weightedHashSample(d, col("doc_id"), col("w"), 500L)
      val tot = d.groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("w_total"))
      val kep = kept.groupBy("source")
        .agg(count(lit(1)).as("n_kept"), sum(col("w")).as("w_kept"))
      tot.join(kep, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("w_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("w_kept"), lit(0L)).as("w_kept"))
        .orderBy("source")}),

    // deterministic train/val/test split counts
    "d_split" -> ((s, dir) =>
      docs(s, dir)
        .withColumn("split", Sampling.splitColumn(col("doc_id"), 0.1, 0.1))
        .groupBy("split").agg(count(lit(1)).as("n"))
        .orderBy("split")),

    // end-to-end near-dup pipeline: surviving doc ids after LSH-candidate
    // clustering (GraphX CC grouping); oracle replays min-id survivor
    // selection over the (oracle-exact) minhash candidate set in SQL
    "d_dedup_pipeline" -> ((s, dir) =>
      Dedup.nearDupSurvivors(docs(s, dir), "doc_id", "text", 0.5,
          candidates = Some(sharedMinhashCands(s, dir)))
        .select(col("doc_id")).orderBy("doc_id")),

    // QUALITY-KEEPING dedup survivor policy: within each near-dup
    // cluster keep the LONGEST document (n_chars, doc_id asc tie-break)
    // instead of the min id — the policy a production pipeline actually
    // wants (min-id keeps whichever copy crawled first; quality-keeping
    // keeps the least-truncated one). Same candidate graph + CC as
    // d_dedup_pipeline; only the per-cluster argmax differs, so the two
    // gates together pin that the survivor policy is pluggable
    "d_dedup_best" -> ((s, dir) => {
      val pairs = sharedMinhashCands(s, dir).filter(col("est_sim") >= 0.5)
        .select(col("a").cast("string").as("src"),
          col("b").cast("string").as("dst"))
        .localCheckpoint(true)
      val comps = graft.gx.GraphXBridge.connectedComponents(
        graft.gx.GraphXBridge.toGraphX(
          graft.KinGraph.fromEdges(pairs.withColumn("etype", lit(0)))))
        .select(col("key").cast("long").as("doc_id"), col("component"))
      val mem = comps.join(docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id")
      val w = Window.partitionBy(col("component"))
        .orderBy(col("n_chars").desc, col("doc_id"))
      val victims = mem.withColumn("rn", row_number().over(w))
        .filter(col("rn") > 1).select("doc_id")
      docs(s, dir).join(victims, Seq("doc_id"), "left_anti")
        .select("doc_id").orderBy("doc_id")}),

    // near-dup CLUSTER SIZE histogram (the other governance view over
    // the same candidate table): how big do duplicate families get —
    // a fat tail here means template/boilerplate content the pipeline
    // should kill upstream. Components via GraphX CC on the candidate
    // graph only (nodes = docs appearing in ≥1 pair; singletons are not
    // clusters); labels are engine-specific but group away — only the
    // size distribution is emitted, which the recursive-CTE replay pins
    "d_dup_cluster_hist" -> ((s, dir) => {
      val pairs = sharedMinhashCands(s, dir).filter(col("est_sim") >= 0.5)
        .select(col("a").cast("string").as("src"),
          col("b").cast("string").as("dst"))
        .localCheckpoint(true)
      val comps = graft.gx.GraphXBridge.connectedComponents(
        graft.gx.GraphXBridge.toGraphX(
          graft.KinGraph.fromEdges(pairs.withColumn("etype", lit(0)))))
      comps.groupBy("component").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")}),

    // hard-negative mining for contrastive training: per query the
    // top-10 nearest CROSS-LABEL vectors (same-label hits are positives,
    // the near-misses with a different label are the negatives a
    // two-tower trainer needs). Exact floor-micro cosine over the
    // label-filtered corpus — brute force is the declared-exact baseline
    // shape; at scale the shortlist comes from any ANN index and the
    // label filter rides the candidate join
    "e_hard_negatives" -> ((s, dir) =>
      exactHardNegatives(s, dir).orderBy("query_id", "rank")),

    // hard-negative mining on the ANN SHORTLIST — the scale path the
    // exact gate above documents ("at scale the shortlist comes from any
    // ANN index"): candidates from the shared-bucket LSH multi-probe
    // join, cross-label filter riding the candidate join, floor-micro
    // rerank — the full retrieval (ids, labels, scores, ranks) replays
    // in the oracle via the shared signature CTEs (e_ann_lsh discipline)
    "e_hard_negatives_ann" -> ((s, dir) => {
      val withLbl = embLabeled(s, dir)
      Similarity.lshHardNegatives(withLbl, withLbl.filter(col("id") < 5), 10)
        .orderBy("query_id", "rank")}),

    // recall of the ANN-shortlisted miner vs the exact cross-label miner
    // as a DRIVER-CHECKED number per query — both sides replay in SQL,
    // so mining quality is a hash-matched integer, not a spec assertion
    "e_hard_neg_recall" -> ((s, dir) => {
      val withLbl = embLabeled(s, dir)
      val queriesDf = withLbl.filter(col("id") < 5)
      val exact = exactHardNegatives(s, dir).select("query_id", "vec_id")
      val approx = Similarity.lshHardNegatives(withLbl, queriesDf, 10)
        .select("query_id", "vec_id")
      val ne = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val na = approx.groupBy("query_id").agg(count(lit(1)).as("n_ann"))
      val nh = approx.join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      // LEFT joins both sides: a query whose every bucketed candidate is
      // same-label has n_ann = 0 but must still appear in the report
      ne.join(na, Seq("query_id"), "left").join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          coalesce(col("n_ann"), lit(0L)).as("n_ann"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("query_id")}),

    // cross-SOURCE duplication matrix (the governance view over the
    // near-dup candidate table): which source pairs share near-dup docs,
    // and how many — pairs ordered so src_a <= src_b groups both
    // directions together
    // SPLIT-LEAKAGE audit: near-dup candidate pairs that STRADDLE the
    // deterministic train/validation/test split — the eval-integrity
    // check every pipeline must run before trusting held-out numbers
    // (a near-dup of a training doc in the test split leaks). The PAIR
    // view of what d_split_leakage measures by shingle mass and
    // d_split_safe repairs. Rides the session-shared banded candidates;
    // split assignment is the exact d_split hash rule; symmetric
    // (least, greatest) split-pair cells so off-diagonal rows ARE leaks
    "d_split_leak_pairs" -> ((s, dir) => {
      def sp(c: String) = Sampling.splitColumn(col(c), 0.1, 0.1)
      sharedMinhashCands(s, dir).filter(col("est_sim") >= 0.5)
        .select(least(sp("a"), sp("b")).as("split_a"),
          greatest(sp("a"), sp("b")).as("split_b"))
        .groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("split_a", "split_b")}),

    // SNAPSHOT DIFF, per-source rollup — d_snapshot_diff's CDC audit
    // widened by the provenance dimension (WHICH source regressed) and
    // by genuinely NEW ids (v2 re-adds every 11th doc under a shifted
    // id, so 'added' rows exist beyond re-appearing ones): every 7th
    // doc removed, every remaining 5th doc's text revised; full-outer
    // fingerprint compare → per-(source, status) counts
    "d_snapshot_diff_src" -> ((s, dir) => {
      val v1 = docs(s, dir).select(col("doc_id"), col("source"), col("text"))
      val kept = v1.filter(pmod(col("doc_id"), lit(7L)) =!= 0)
        .select(col("doc_id"), col("source"),
          when(pmod(col("doc_id"), lit(5L)) === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text"))
            .as("text"))
      val added = v1.filter(pmod(col("doc_id"), lit(11L)) === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("source"),
          concat(col("text"), lit(" new")).as("text"))
      val v2 = kept.unionByName(added)
      val a = v1.select(col("doc_id"), col("source").as("src1"),
        fingerprint(col("text")).as("fp1"))
      val b = v2.select(col("doc_id"), col("source").as("src2"),
        fingerprint(col("text")).as("fp2"))
      a.join(b, Seq("doc_id"), "full_outer")
        .select(coalesce(col("src1"), col("src2")).as("source"),
          when(col("fp1").isNull, "added")
            .when(col("fp2").isNull, "removed")
            .when(col("fp1") =!= col("fp2"), "changed")
            .otherwise("same").as("status"))
        .groupBy("source", "status").agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "status")}),

    "d_dup_sources" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("source"))
      val cand = sharedMinhashCands(s, dir).filter(col("est_sim") >= 0.5)
        .join(d.select(col("doc_id").as("a"), col("source").as("sa")), "a")
        .join(d.select(col("doc_id").as("b"), col("source").as("sb")), "b")
      cand.select(least(col("sa"), col("sb")).as("src_a"),
          greatest(col("sa"), col("sb")).as("src_b"))
        .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
        .orderBy("src_a", "src_b")}),

    // INCREMENTAL dedup (the daily-crawl shape): docs at/above the
    // data-adaptive id cutoff (top fifth) are the delta batch, the rest
    // the already-indexed corpus. A delta doc drops on any cross LSH
    // match (index bands never self-join); the remainder dedups among
    // itself. Cutoff = (4·max)/5 integer div — driver probe here, scalar
    // subquery in the oracle (the gx_kcore pattern)
    "d_dedup_incr" -> ((s, dir) => {
      val d = docs(s, dir)
      val cutoff = d.agg(expr("(4 * max(doc_id)) div 5")).head.getLong(0)
      // per-doc signatures are side-independent: slice the session-shared
      // cached shingle explode per side instead of re-exploding twice
      def sideSigs(cond: Column) = Dedup.minhashSignaturesFrom(
        sharedShingles(s, dir).filter(cond))
      Dedup.incrementalSurvivors(
          d.filter(col("doc_id") < cutoff), d.filter(col("doc_id") >= cutoff),
          "doc_id", "text", 0.5,
          indexedSigs = Some(sideSigs(col("doc_id") < cutoff)),
          deltaSigs = Some(sideSigs(col("doc_id") >= cutoff)))
        .select(col("doc_id")).orderBy("doc_id")}),

    // the flagship composite: quality filter -> language filter -> near-dup
    // dedup (LSH + CC survivors) -> deterministic split assignment. Every
    // stage is exactly SQL-replayable, so the END-TO-END pipeline is
    // hash-checked against DuckDB, not just its pieces.
    "d_pipeline_e2e" -> ((s, dir) => {
      val filtered = docs(s, dir)
        .filter(tokenCount(col("text")) >= 20 && langId(col("text")) === "en")
      Dedup.nearDupSurvivors(filtered, "doc_id", "text", 0.5)
        .withColumn("split", Sampling.splitColumn(col("doc_id"), 0.1, 0.1))
        .select("doc_id", "split").orderBy("doc_id")}),

    // banded SimHash near-dup pairs: the banding is exact for
    // hamming <= 3 (pigeonhole over 4 signature pieces), so the all-pairs
    // DuckDB oracle produces the identical set
    "d_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), "doc_id", "text", maxHamming = 3)
        .orderBy("a", "b")),

    "d_winnow" -> ((s, dir) =>
      Dedup.winnowFingerprints(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id", "fp")),

    // span-level exact-substring dedup TRANSFORM: cross-doc duplicated
    // 5-token windows are excised and the cleaned text emitted — the
    // rewrite that d_repetition (measure) and d_winnow (detection) stop
    // short of; full SQL replay oracle (spans, md5-60 keys, coverage
    // window, ordered reassembly)
    "d_span_dedup" -> ((s, dir) =>
      Dedup.spanDedupFrom(docBase(s, dir), sharedSpanRows(s, dir))
        .orderBy("doc_id")),

    // PRODUCTION-WIDTH span dedup gate: the same spanDedup transform at
    // w=50 (the Lee-et-al exact-substring width) — docs are augmented
    // with a planted 96-token run keyed by doc_id % 5 on every
    // doc_id % 3 == 0 doc (the d_substring planted-leak discipline), so
    // the run carries 47 cross-doc-shared 50-token windows and ALL 96
    // planted tokens must excise, while natural text (doc-unique at this
    // width) survives — proving the window width is a free parameter
    "d_span_dedup_w50" -> ((s, dir) => {
      val run = concat_ws(" ", (0 until 96).map(j =>
        md5(concat(pmod(col("doc_id"), lit(5L)).cast("string"),
          lit(s"_$j")))): _*)
      val aug = docs(s, dir).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3L)) === 0,
          concat(col("text"), lit(" "), run)).otherwise(col("text"))
          .as("text"))
      Dedup.spanDedup(aug, "doc_id", "text", w = 50)
        .orderBy("doc_id")}),

    // INTRA-doc span dedup: 5-token spans repeated within one document
    // are excised except the first occurrence (first copy wins) — the
    // d_repetition transform counterpart; all work stays inside the doc
    // partition (no cross-doc shuffle at all)
    "d_span_dedup_doc" -> ((s, dir) =>
      Dedup.spanDedupWithinFrom(docBase(s, dir), sharedSpanRows(s, dir))
        .orderBy("doc_id")),

    // INCREMENTAL span dedup (the daily-crawl / decontamination form):
    // odd-id delta docs cleaned against the even-id corpus's persisted
    // distinct span-key index — O(delta) work, the indexed text never
    // re-scans or self-joins
    "d_span_dedup_incr" -> ((s, dir) =>
      Dedup.spanDedupAgainst(
          docs(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0),
          docs(s, dir).filter(pmod(col("doc_id"), lit(2)) === 1),
          "doc_id", "text")
        .orderBy("doc_id")),

    // MAXIMAL shared-span runs — the longest-shared-span readout the
    // fixed-w excisions stop short of: consecutive duplicated 5-token
    // window starts merge per doc into maximal runs (gaps-and-islands,
    // i − row_number), so an L-token shared block reports ONE run of
    // run_len = L; the oracle replays the islands merge on the same
    // sd* span-key CTEs
    // per-doc cross-corpus duplication FRACTION (Lee et al's
    // duplicated-n-gram statistic — the measure the span transform acts
    // on), riding the shared span-row cache: window count, duplicated
    // count, integer milli fraction; sub-w docs report zeros
    "d_span_dup_frac" -> ((s, dir) =>
      Dedup.spanDupFractionFrom(docBase(s, dir), sharedSpanRows(s, dir))
        .orderBy("doc_id")),

    // STREAMING per-doc duplication fraction at ingest: docs arrive as
    // micro-batches and count their windows against the PERSISTED
    // duplicated span-key set (batch-derived, checkpointed — cleaning
    // against the self dup set reproduces the corpus fractions
    // bit-for-bit, the s_stream_clean argument); stateless span rows +
    // key equi join, ONE update-mode count aggregation, zero-window
    // docs reattach post-drain. Shares d_span_dup_frac's oracle
    "s_stream_span_frac" -> ((s, dir) => {
      val dupKeys = Dedup.dupSpanKeySetFrom(sharedSpanRows(s, dir))
        .localCheckpoint(true)
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
      val agg = graft.streaming.EventStreams.spanDupFractionStream(
        stream, dupKeys, "doc_id", "text")
      val drained = graft.streaming.EventStreams.runToMemory(agg,
        "s_stream_span_frac_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      val fin = drained.groupBy("doc_id")
        .agg(max(struct(col("n_spans"), col("n_dup"))).as("m"))
        .select(col("doc_id"), col("m.n_spans").as("n_spans"),
          col("m.n_dup").as("n_dup"))
      docs(s, dir).select(col("doc_id"))
        .join(fin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_spans"), lit(0L)).as("n_spans"),
          coalesce(col("n_dup"), lit(0L)).as("n_dup"))
        .withColumn("dup_milli",
          when(col("n_spans") === 0, lit(0L))
            .otherwise(expr("(1000 * n_dup) div n_spans")))
        .orderBy("doc_id")}),

    "d_span_runs" -> ((s, dir) =>
      Dedup.spanDupRunsFrom(sharedSpanRows(s, dir))
        .orderBy("doc_id", "run_start")),

    // per-document TF-IDF: top-3 terms per doc. tf/df are exact integers;
    // ranking orders by the exact integer triple (tf desc, df asc, token)
    // — NOT the double score, whose JDK-vs-libm ln() can differ by 1 ulp
    // and flip near-equal ranks at scale. The rounded score is OUTPUT only
    // (4 dp on a product of exact-integer logs — no ordering rides on it)
    "d_tfidf" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      val tf = tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val dfx = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val ndocs = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(dfx, "token").crossJoin(broadcast(ndocs))
        .withColumn("tfidf",
          col("tf") * log(col("n_docs").cast("double") / col("df")))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tf").desc, col("df").asc, col("token"))
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          round(col("tfidf"), 4).as("tfidf"), col("rk"))
        .orderBy("doc_id", "rk")}),

    // PII scrubbing: the fixture corpus carries no PII, so the query plants
    // deterministic emails/phones (from doc_id) and then proves the
    // scrubber finds and redacts them — counts + a fingerprint of the
    // scrubbed text, all exactly replayable
    "d_pii_scrub" -> ((s, dir) => {
      val withPii = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example or +1-555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")).as("text"))
      withPii.select(
        col("doc_id"),
        TextFunctions.emailCount(col("text")).as("n_emails"),
        TextFunctions.phoneCount(col("text")).as("n_phones"),
        md5(TextFunctions.scrubPii(col("text"))).as("scrub_fp"))
        .orderBy("doc_id")}),

    // stratified deterministic sampling: per-language keep rates
    "d_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(docs(s, dir), col("lang"), col("doc_id"),
          Seq("en" -> 0.3, "de" -> 0.2), defaultRate = 0.05)
        .groupBy(col("lang")).agg(count(lit(1)).as("n"))
        .orderBy("lang")),

    // data-mixture balancing: every language deterministically downsampled
    // to (expected) the smallest language's size — integer cross-multiplied
    // keep rule, so each kept doc_id is hash-checked. Balancing on lang,
    // not source: the fixture's sources are uniform at every SF (rate 1 =
    // vacuous), while its lang mix is skewed by construction (en ~2.5x de)
    "d_mixture" -> ((s, dir) =>
      Sampling.balanceGroups(
          docs(s, dir).select(col("doc_id"), col("lang")),
          col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // temperature-flattened (T=2) lang mix: keep-rate sqrt(min_n/n_g),
    // group sizes land at sqrt(min_n·n_g) — between d_mixture's full
    // equalization and the raw skew
    "d_temperature" -> ((s, dir) =>
      Sampling.temperatureSample(
          docs(s, dir).select(col("doc_id"), col("lang")),
          col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    // mixture upsampling: replicate minority-lang docs toward the largest
    // lang's count (the dual of d_mixture's downsampling; copy_id keeps
    // replicas distinct and hash-checkable)
    "d_upsample" -> ((s, dir) =>
      Sampling.upsampleGroups(
          docs(s, dir).select(col("doc_id"), col("lang")),
          col("doc_id"), col("lang"))
        .orderBy("doc_id", "copy_id")),

    // context-length chunking: overlapping 32-token windows, stride 24
    // (every chunk's id, length and text are hash-checked)
    "d_chunk" -> ((s, dir) =>
      Chunking.tokenChunks(docs(s, dir), "doc_id", "text", 32, 24)
        .orderBy("doc_id", "chunk_id")),

    // corpus length profile: power-of-2 token-count histogram (the
    // sequence-length diagnostic behind packing/chunking decisions).
    // floor(log2(n)) is exact at powers of two in IEEE double and cannot
    // straddle an integer elsewhere, so the bucketing is engine-exact
    "d_len_hist" -> ((s, dir) =>
      docs(s, dir).select(tokenCount(col("text")).as("n"))
        .withColumn("bucket", when(col("n") === 0, lit(-1))
          .otherwise(floor(log2(col("n"))).cast("int")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("n").as("min_tokens"), max("n").as("max_tokens"))
        .orderBy("bucket")),

    // robust length-outlier gate: median + MAD (median absolute
    // deviation) of the token-count distribution, both engine-exact
    // interpolated quantiles, and the count of docs beyond the classic
    // 3×MAD fence — the outlier rule that, unlike mean±kσ, one degenerate
    // mega-doc cannot drag. Milli units keep every comparison on
    // integers; 3.0·mad is one IEEE multiply of an exact quantile
    "d_len_mad" -> ((s, dir) => {
      val tl = docs(s, dir).select(tokenCount(col("text")).cast("long").as("n_tokens"))
      val med = tl.agg(expr("percentile(n_tokens, 0.5D)").as("med"))
      val dev = tl.crossJoin(broadcast(med))
        .select(col("med"),
          abs(col("n_tokens") * 1000 - floor(col("med") * 1000)).as("absdev_milli"))
      val mad = dev.agg(expr("percentile(absdev_milli, 0.5D)").as("mad"))
      dev.crossJoin(broadcast(mad))
        .agg(count(lit(1)).as("n_docs"),
          floor(min(col("med")) * 1000).as("med_milli"),
          floor(min(col("mad"))).as("mad_milli"),
          sum(when(col("absdev_milli") > lit(3.0) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))}),

    // TF-IDF retrieval: rank the corpus against a fixed term query by
    // Σ tf·idf_micro (idf rounded to integer micro-nats per TERM before
    // any summing — the d_surprisal discipline), top-50 by a total order.
    // The term filter pushes into the scan; idf is a term-count-sized
    // broadcast; one per-doc aggregation — the search-scoring shape at
    // any corpus size
    "d_search" -> ((s, dir) => tfidfTop50(s, dir)),

    // token-budget mixture planning: allocate half the corpus tokens
    // across sources by sqrt-weight with largest-remainder rounding —
    // the "how many tokens from each source" table before a training
    // run, every cell integer-exact
    "d_budget" -> ((s, dir) =>
      Sampling.tokenBudget(
          docs(s, dir).select(col("source"), tokenCount(col("text")).as("nt")),
          col("source"), col("nt"))
        .orderBy("grp")),

    // DSIR importance weighting (hashed unigram+bigram features, target =
    // English docs): per-doc micro-nat log-ratio score between the target
    // and raw feature distributions, plus the top-quartile keep flag a
    // selection pass would act on — every ln pre-rounded to integer
    // micro-nats, the cut a data-adaptive percentile both engines
    // interpolate identically
    "d_dsir" -> ((s, dir) => {
      val w = Sampling.dsirWeights(docs(s, dir), "doc_id", "text",
        col("lang") === "en")
      val cut = w.agg(expr("percentile(dsir_micro, 0.75)").as("p75"))
      w.crossJoin(broadcast(cut))
        .select(col("doc_id"), col("n_feats"), col("dsir_micro"),
          (col("dsir_micro") >= col("p75")).as("keep"))
        .orderBy("doc_id")}),

    // BPE-style merge-rule learning at the word level (collocation
    // discovery): 3 rounds of corpus-wide pair counts -> deterministic
    // argmax merge -> greedy non-overlapping re-tokenization. Integer and
    // string ops only; the oracle replays the ENTIRE training loop
    // (windows, run parity, argmax order) unrolled in SQL
    "d_bpe" -> ((s, dir) => bpeShared(s, dir)._1.orderBy("round")),

    // the APPLY side of the learned tokenizer: per-doc token counts
    // before/after the 3 merges — hash-pins the re-tokenized corpus
    // state itself, not just the merge table
    "d_bpe_apply" -> ((s, dir) => {
      val state = bpeShared(s, dir)._2
      val before = docs(s, dir).select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_before"))
      val after = state.groupBy("doc_id").agg(count(lit(1)).as("n_after"))
      before.join(after, "doc_id").orderBy("doc_id")}),

    // unigram-LM tokenizer training (the SentencePiece-style EM family —
    // the other mainstream tokenizer next to d_bpe's merge rounds):
    // substring-seeded vocabulary (all chars + top-50 multi-char), 2 EM
    // rounds of Viterbi-segment (bounded-lookback-3 integer DP, ties to
    // the longest piece) + usage re-count + prune-to-top-40. Scores are
    // Laplace-smoothed integer micro-nats (the PMI discipline); the
    // oracle replays the ENTIRE loop — seeds, both DPs as recursive CTEs
    // carrying the 3-value sliding window, backtracks, prunes — in SQL
    "d_unigram_lm" -> ((s, dir) =>
      sharedUnigramVocab(s, dir)
        .select(col("tok").as("token"), col("cnt"), col("score_micro"))
        .orderBy("token")),

    // the APPLY side: per-doc word/piece counts and summed segmentation
    // log-likelihood under the trained vocab — hash-pins the actual
    // segmentation of every document, not just the vocabulary
    "d_unigram_apply" -> ((s, dir) =>
      Collocations.unigramApplyFrom(sharedUnigramVocab(s, dir),
          docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // per-language fertility (pieces per word) of the trained unigram
    // vocab — the compression diagnostic d_bpe_compression reports for
    // the merge family, here for the EM family; rides the shared vocab
    "d_unigram_fertility" -> ((s, dir) => {
      val applied = Collocations.unigramApplyFrom(
        sharedUnigramVocab(s, dir), docs(s, dir), "doc_id", "text")
      docs(s, dir).select(col("doc_id"), col("lang"))
        .join(applied, "doc_id")
        .groupBy("lang")
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_pieces")).as("n_pieces"))
        .withColumn("fertility_milli",
          expr("(1000 * n_pieces) div n_words"))
        .orderBy("lang")}),

    // BPE-DROPOUT apply (Provilkov et al. subword regularization): the
    // learned 3 merges re-applied with a deterministic hash-gated 1/10
    // candidate skip — training-time segmentation diversity with zero
    // RNG state, so both the per-doc counts AND the exact dropped-out
    // segmentation (md5 of the token stream) replay in SQL. n_drop ≥
    // n_plain on this fixture but NOT universally: a skipped early
    // merge can enable two later merges on the same tokens
    "d_bpe_dropout" -> ((s, dir) => {
      val shared = bpeShared(s, dir)
      val plain = shared._2.groupBy("doc_id")
        .agg(count(lit(1)).as("n_plain"))
      val drop = Collocations.applyMergesWithDropout(
        docs(s, dir), "doc_id", "text", shared._3)
      val dstats = drop.groupBy("doc_id").agg(
        count(lit(1)).as("n_drop"),
        md5(expr("array_join(transform(array_sort(" +
          "collect_list(struct(i, t))), x -> x.t), ' ')")).as("fp_drop"))
      plain.join(dstats, "doc_id").orderBy("doc_id")}),

    // held-out trigram LM with STUPID BACKOFF (the web-scale count LM):
    // train on the first 4/5 of doc_ids (adaptive cutoff — the
    // d_dedup_incr discipline), score the held-out tail with trigram →
    // bigram → unigram → OOV backoff, hardcoded ln(0.4) micro penalty so
    // neither engine's libm picks the constant. The fixture vocab is
    // CLOSED (every token appears in train), so one planted unseen-token
    // doc keeps the OOV branch non-vacuous at every SF (branch census at
    // sf0.001: 2685 trigram / 1990 bigram / 2 unigram / 1 planted OOV)
    "d_backoff_lm" -> ((s, dir) => {
      val d = docs(s, dir)
      val cut = d.agg(expr("(4 * max(doc_id)) div 5").as("c"))
      val withCut = d.crossJoin(broadcast(cut))
      val planted = cut.select(lit(999999999999L).as("doc_id"),
        lit("zzunseen zzunseen zzunseen").as("text"))
      TextFunctions.backoffScores(
          withCut.filter(col("doc_id") < col("c")),
          withCut.filter(col("doc_id") >= col("c"))
            .select(col("doc_id"), col("text")).union(planted),
          "doc_id", "text")
        .orderBy("doc_id")}),

    // PMI collocation ranking (the statistical phrase finder next to
    // d_bpe's frequency argmax): min-count-5 bigrams scored by
    // ln P(ab) − ln P(a) − ln P(b), each ln separately micro-rounded,
    // top-50 under a total order
    // TextRank keyword extraction: PageRank over the token adjacency
    // graph restricted to the top-100 vocabulary — integer micro-unit
    // fixed-point rounds (each edge term divides BEFORE the order-free
    // sum), so graph, iterations and ranking all replay in SQL
    "d_textrank" -> ((s, dir) =>
      Collocations.textRank(docs(s, dir), "doc_id", "text")),

    "d_pmi" -> ((s, dir) =>
      Collocations.pmiTop(docs(s, dir), "text")),

    // per-language compression of the learned merges (the tokenizer-
    // fertility diagnostic: which languages does this vocab serve?):
    // token counts before/after the 3 merges aggregated by lang, integer
    // milli-ratio — rides the session-shared BPE state
    "d_bpe_compression" -> ((s, dir) => {
      val after = bpeShared(s, dir)._2
        .groupBy("doc_id").agg(count(lit(1)).as("na"))
      docs(s, dir).select(col("doc_id"), col("lang"),
          size(tokens(col("text"))).cast("long").as("nb"))
        .join(after, "doc_id")
        .groupBy("lang")
        .agg(sum(col("nb")).as("n_before"), sum(col("na")).as("n_after"))
        .withColumn("ratio_milli", expr("(1000 * n_after) div n_before"))
        .orderBy("lang")}),

    // BM25 retrieval (k1=1.2, b=0.75): the doc-length-normalized upgrade
    // of d_search's tf-idf. Every per-term score floors to integer micros
    // BEFORE summing (order-free); inside the term, everything except the
    // idf ln (the d_search-proven micro-rounding) is IEEE basic ops over
    // identical inputs written identically in both engines — dl/avgdl,
    // the b-mix, the k1 saturation are each one exact-rounded op
    "d_bm25" -> ((s, dir) => bm25Top50(s, dir)),

    // reciprocal-rank fusion of the TF-IDF and BM25 rankings — the hybrid
    // retrieval combiner (Cormack et al. 2009): per list each doc
    // contributes floor-micro 1e6 div (60 + rank), summed across lists;
    // integer terms before summing, order-free, engine-exact. The rank
    // windows run on the two 50-row top-k frames — broadcast-sized by
    // construction, never the corpus
    "d_rrf" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_micro").desc, col("doc_id"))
      def ranked(df: DataFrame) = df
        .withColumn("rk", row_number().over(w)).select(col("doc_id"), col("rk"))
      ranked(tfidfTop50(s, dir)).unionByName(ranked(bm25Top50(s, dir)))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_lists"),
          sum(expr("1000000 div (60 + rk)")).as("rrf_micro"))
        .orderBy(col("rrf_micro").desc, col("doc_id")).limit(20)}),

    // asymmetric shingle containment at ≥ 0.5 either direction — the
    // sub-document/quote-inclusion dedup signal Jaccard structurally
    // misses; rides the session-shared shingle explode
    "d_containment" -> ((s, dir) =>
      Dedup.containmentPairsFrom(sharedShingles(s, dir), 500)
        .orderBy("a", "b")),

    // per-doc out-of-vocabulary rate against the corpus top-1000 vocab
    // (rank cut is the total order n desc, token — deterministic): the
    // tokenizer-health / domain-shift signal of a training pipeline.
    // Vocab is corpus-adaptive (never vacuous across SFs) and broadcasts;
    // integer milli-rate, no float division
    "d_oov" -> ((s, dir) => {
      val tok = docs(s, dir).select(col("doc_id"),
        explode(tokens(col("text"))).as("token"))
      val vocab = tok.groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token")).limit(1000)
        .select(col("token"), lit(1).as("iv"))
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
        .withColumn("oov_milli", expr("(1000 * n_oov) div n_tokens"))
        .orderBy("doc_id")}),

    // data-adaptive quality floor: drop the shortest quartile. The cut is
    // the exact interpolated p25 of the integer token counts (Spark
    // `percentile` == DuckDB `quantile_cont`; int >= fractional-cut can
    // only sit on the boundary when the percentile lands on an integer,
    // and integer percentiles are computed exactly in both engines) —
    // non-vacuous at every SF because it tracks the corpus, and the 1-row
    // cut broadcasts instead of collecting
    "d_quality_cut" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"))
      val cut = d.agg(expr("percentile(n_tokens, 0.25)").as("p25"))
      d.crossJoin(broadcast(cut))
        .filter(col("n_tokens") >= col("p25"))
        .select(col("doc_id"), col("n_tokens"))
        .orderBy("doc_id")}),

    // C4-style global line dedup: fixture docs are single-line, so the
    // query plants per-source boilerplate lines (the shared header/footer
    // shape of a web source) and the operator must strip every copy but
    // the corpus-first one; body lines survive
    "d_line_dedup" -> ((s, dir) => {
      val lined = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit("\nvisit us at "), col("source"), lit(" dot example")).as("text"))
      Dedup.lineDedup(lined, "doc_id", "text").orderBy("doc_id")}),

    // CCNet-style per-source boilerplate strip: the planted header is in
    // EVERY doc of its source (df ratio 1.0 → dropped, all copies), the
    // newsletter line in 60% (majority → dropped), the promo line in 10%
    // (shared but non-majority → kept). floor(doc_id/20)%10 decorrelates
    // the plant from the source assignment (source = doc_id%20) so the
    // ratios hold at every SF
    "d_boilerplate" -> ((s, dir) => {
      val q = floor(col("doc_id") / 20) % 10
      val lined = docs(s, dir).select(col("doc_id"), col("source"),
        concat(
          lit("(c) "), col("source"), lit(" all rights reserved\n"),
          col("text"),
          when(q < 6, lit("\nsubscribe to the newsletter")).otherwise(lit("")),
          when(q === 3, lit("\nrare promo line")).otherwise(lit(""))).as("text"))
      Dedup.boilerplateStrip(lined, "doc_id", "source", "text")
        .orderBy("doc_id")}),

    // the COMPOSED cleaning pipeline end-to-end — strip → scrub →
    // gopher drop → quality cut → span dedup in the documented order
    // (each stage is gated alone; the composition order changes the
    // answer and is what a real pipeline actually ships). The plant
    // unions every stage's fixture: the d_boilerplate headers, the
    // d_gopher_rep repetition tails (doc_id%10 ∈ {0,1,2}) and a planted
    // per-doc email line (doc_id%10 == 4) the scrub must redact BEFORE
    // span dedup sees it
    "d_clean_e2e" -> ((s, dir) =>
      Dedup.cleanPipeline(cleanPlant(docs(s, dir)), "doc_id", "source",
          "text")
        .orderBy("doc_id")),

    // benchmark decontamination: src19 is the held-out benchmark; every
    // other doc is flagged by shared-shingle count — the n-gram-overlap
    // contamination sweep an LLM data pipeline runs before training
    "d_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contaminationReport(
        d.filter(col("source") =!= "src19"),
        d.filter(col("source") === "src19"),
        "doc_id", "text").orderBy("doc_id")}),

    // MOSS-style overlap report on the winnow index: pairs sharing ≥ 3
    // selected fingerprints, hot fingerprints (df > 64) dropped before
    // the pair join so no bucket exceeds maxDf² pairs
    "d_winnow_pairs" -> ((s, dir) =>
      Dedup.winnowMatchPairs(docs(s, dir), "doc_id", "text")
        .orderBy("a", "b")),

    // vocabulary coverage curve: fraction of corpus tokens covered by the
    // top-K vocabulary at several K (the tokenizer-sizing diagnostic).
    // Rank is over the VOCABULARY (bounded however large the corpus);
    // ties break on the token string, cumulative sums are integer-exact
    "d_vocab_curve" -> ((s, dir) => {
      val tok = docs(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
      val counts = tok.groupBy("token").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token"))
      val ranked = counts.withColumn("rk", row_number().over(w))
      val tot = counts.agg(sum(col("n")).as("total"))
      val sizes = s.range(1).select(explode(
        array(lit(100), lit(500), lit(1000), lit(5000))).as("vocab_size"))
      ranked.join(broadcast(sizes), col("rk") <= col("vocab_size"))
        .crossJoin(broadcast(tot))
        .groupBy("vocab_size", "total")
        .agg(sum(col("n")).as("covered"))
        .select(col("vocab_size"), col("covered"),
          expr("(1000 * covered) div total").as("covered_milli"))
        .orderBy("vocab_size")}),

    // Gopher duplicate-n-gram coverage: per-doc fraction of token
    // positions inside within-doc duplicated 3-grams, integer milli-units
    // (27/500 fixture docs carry natural duplication — non-vacuous)
    "d_dupfrac" -> ((s, dir) =>
      Dedup.dupShingleCoverage(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // EXACT substring decontamination (50-char windows, corpus stride 10):
    // a 96-char leak string keyed by doc_id % 5 is planted onto every
    // benchmark (src19) doc AND every doc_id % 7 == 0 corpus doc — well
    // past the 59-char guaranteed-detection length, so those corpus docs
    // MUST flag, and the oracle replays windows + hashes exactly
    "d_substring" -> ((s, dir) => {
      val leak = repeat(md5(pmod(col("doc_id"), lit(5L)).cast("string")), 3)
      val aug = docs(s, dir).select(col("doc_id"), col("source"),
        when(col("source") === "src19" || pmod(col("doc_id"), lit(7L)) === 0,
          concat(col("text"), lit("|"), leak)).otherwise(col("text")).as("text"))
      Dedup.substringContamination(
        aug.filter(col("source") =!= "src19"),
        aug.filter(col("source") === "src19"),
        "doc_id", "text").orderBy("doc_id")}),

    // bigram conditional surprisal: the next-word LM quality signal
    // (−Σ ln P(cur|prev) under the corpus bigram model), hash-checked via
    // the same integer micro-nat construction as d_surprisal
    "d_bigram_lm" -> ((s, dir) =>
      TextFunctions.bigramSurprisalStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Gopher-style composite quality filter: every rule an exact integer
    // comparison (cross-multiplied rationals — no float thresholds), so
    // the keep/drop decision for every doc is hash-checked
    "d_quality_flags" -> ((s, dir) => {
      val d = docs(s, dir)
      val toks = tokens(col("text"))
      val base = d.select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        length(regexp_replace(col("text"), "\\s+", "")).as("n_letter_chars"),
        punctCount(col("text")).as("n_punct"),
        stopwordCount(toks).as("n_stop"))
      val rep = TextFunctions.repetitionStats(d, "doc_id", "text")
      // thresholds sit inside the fixture's distribution (p5/p95 tails) so
      // every rule actually fires on some docs — a bound the corpus never
      // crosses would verify nothing about the comparison
      base.join(rep, "doc_id")
        .select(col("doc_id"),
          (col("n_tokens") >= 15 && col("n_tokens") <= 100000).as("len_ok"),
          (col("n_letter_chars") * 10 >= col("n_tokens") * 38 &&
            col("n_letter_chars") * 10 <= col("n_tokens") * 48).as("word_len_ok"),
          (col("n_punct") * 10 <= col("n_tokens") * 3).as("symbol_ok"),
          (col("n_stop") >= 2).as("stopwords_ok"),
          ((col("n_bigrams") - col("n_distinct")) * 20 <= col("n_bigrams"))
            .as("repetition_ok"))
        .withColumn("keep",
          col("len_ok") && col("word_len_ok") && col("symbol_ok") &&
            col("stopwords_ok") && col("repetition_ok"))
        .orderBy("doc_id")}),

    // corpus-relative unigram surprisal (CCNet-style quality signal) in
    // exact integer micro-nats — order-free sums, so the iterative-free
    // two-pass LM score is hash-checked, not rows-only
    // Flesch reading-ease + FK grade from exact word/sentence/vowel-group
    // counts — two IEEE divisions per doc in a fixed literal tree, so the
    // floor-micro scores replay exactly; map-only, rides the corpus scan
    "d_readability" -> ((s, dir) =>
      TextFunctions.readabilityStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    "d_surprisal" -> ((s, dir) =>
      TextFunctions.surprisalStats(docs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // CCNet-style perplexity split: bucket docs into head/middle/tail by
    // the corpus terciles of mean unigram surprisal (integer micro-nats).
    // Tercile fractions are written 1.0/3, 2.0/3 in BOTH engines — one
    // correctly-rounded double division each — and Spark `percentile` ==
    // DuckDB `quantile_cont` exactly (the d_quality_cut discipline), so
    // the data-adaptive cuts are engine-identical
    "d_ccnet_buckets" -> ((s, dir) => {
      val sp = TextFunctions.surprisalStats(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("mean_micro"))
      val cuts = sp.agg(
        expr("percentile(mean_micro, 1.0D/3)").as("p33"),
        expr("percentile(mean_micro, 2.0D/3)").as("p66"))
      sp.crossJoin(broadcast(cuts))
        .withColumn("bucket",
          when(col("mean_micro") < col("p33"), lit("head"))
            .when(col("mean_micro") < col("p66"), lit("middle"))
            .otherwise(lit("tail")))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          min("mean_micro").as("min_micro"),
          max("mean_micro").as("max_micro"),
          sum("n_tokens").as("sum_tokens"))
        .orderBy("bucket")}),

    // approximate sequence packing: docs dealt into 512-token context bins
    // (grouped LPT round-robin — the distributed, replayable packer); the
    // per-bin profile is the view a training-data engineer checks for
    // utilization before padding/truncation
    "d_pack" -> ((s, dir) => {
      val withLen = docs(s, dir).select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"))
      Sampling.seqPack(withLen, "doc_id", "n_tokens", ctxLen = 512, groups = 8)
        .groupBy("pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("total_tokens"))
        .orderBy("pack_id")}),

    // CURRICULUM training order: quality-annealed deterministic schedule
    // — surprisal-tercile band as the MAJOR key (band 1 = lowest
    // perplexity first), hash-shuffled within band, every band-1
    // position before every band-2 position by construction. The
    // tercile cuts are data-adaptive and engine-exact (the
    // d_ccnet_buckets percentile discipline)
    "d_curriculum" -> ((s, dir) => {
      val sp = TextFunctions.surprisalStats(docs(s, dir), "doc_id", "text")
        .select(col("doc_id"), col("mean_micro"))
      val cuts = sp.agg(
        expr("percentile(mean_micro, 1.0D/3)").as("p33"),
        expr("percentile(mean_micro, 2.0D/3)").as("p66"))
      val banded = sp.crossJoin(broadcast(cuts))
        .withColumn("band",
          when(col("mean_micro") < col("p33"), lit(1))
            .when(col("mean_micro") < col("p66"), lit(2))
            .otherwise(lit(3)))
        .select("doc_id", "band")
      Sampling.curriculumOrder(banded, "doc_id", "band", epoch = 1)
        .select("doc_id", "band", "cur_pos")
        .orderBy("doc_id")}),

    // MATERIALIZED packed sequences: d_pack's bins turned into the
    // actual training rows — member docs concatenated in doc_id order
    // with an <eos> terminator each, truncated to exactly 512 tokens
    // (overflow counted). The whole string content of every bin is
    // hash-gated, so assembly order, separators and the truncation
    // boundary are all pinned
    "d_pack_text" -> ((s, dir) =>
      Sampling.packMaterialize(docs(s, dir), "doc_id", "text",
          ctxLen = 512, groups = 8)
        .orderBy("pack_id")),

    // deterministic EPOCH-ORDER shuffle over d_pack's bins (the last
    // packing step): per-epoch training positions = dense rank of a
    // salted hash of the pack id — reproducible, source-interleaving,
    // epoch a free parameter (two epochs emitted). chk = Σ pos·tokens is
    // the order-sensitive checksum: any transposition of two unequal
    // bins changes it
    "d_epoch_order" -> ((s, dir) => {
      val withLen = docs(s, dir).select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"))
      val bins = Sampling.seqPack(withLen, "doc_id", "n_tokens",
          ctxLen = 512, groups = 8)
        .groupBy("pack_id")
        .agg(sum("n_tokens").as("total_tokens"))
      val e1 = Sampling.epochOrder(bins, "pack_id", 1, "pos_e1")
      val e2 = Sampling.epochOrder(bins.select("pack_id"), "pack_id", 2,
        "pos_e2")
      val wAll = Window.partitionBy(lit(1))
      e1.join(e2, "pack_id")
        .withColumn("chk1",
          sum(col("pos_e1") * col("total_tokens")).over(wAll))
        .withColumn("chk2",
          sum(col("pos_e2") * col("total_tokens")).over(wAll))
        .select("pack_id", "total_tokens", "pos_e1", "pos_e2", "chk1", "chk2")
        .orderBy("pack_id")}),

    // --- sketches --------------------------------------------------------
    // count-min heavy hitters: fixed-size (depth × width) frequency sketch
    // + estimates for the top-50 true-count tokens. est >= true by
    // construction; carrying the true count alongside makes the
    // overestimation (bucket collisions) visible — the estimator-quality
    // view you'd check before trusting the sketch at corpus scale
    "d_heavy_hitters" -> ((s, dir) => {
      val tok = graft.CacheScope.cached(
        docs(s, dir).select(explode(tokens(col("text"))).as("token")))
      val sketch = Sketches.cmsBuild(tok, "token")
      val truth = tok.groupBy("token").agg(count(lit(1)).as("true_cnt"))
      val est = Sketches.cmsEstimate(sketch, tok, "token")
      truth.join(est, col("token") === col("item"))
        .select(col("token"), col("true_cnt"), col("est").as("est_cnt"))
        .orderBy(col("true_cnt").desc, col("token")).limit(50)}),

    // Bloom-filter contamination check: src10..19 docs probed against a
    // filter built from src0..9 fingerprints (the fixed-memory test-set
    // contamination sweep). No false negatives by construction; `exact`
    // alongside `maybe` makes false positives visible
    "d_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      val buildSrcs = (0 to 9).map("src" + _)
      // cached: feeds both the bit-set build and the exact-membership flag
      val train = graft.CacheScope.cached(
        d.filter(col("source").isin(buildSrcs: _*))
          .select(fingerprint(col("text")).as("fp")))
      val bits = Sketches.bloomBits(train, "fp")
      val probes = d.filter(!col("source").isin(buildSrcs: _*))
        .select(col("doc_id"), fingerprint(col("text")).as("fp"))
      val may = Sketches.bloomMayContain(bits, probes, "fp")
      val exact = train.distinct().withColumn("exact", lit(true))
      probes.join(may, probes("fp") === may("item"))
        .join(exact, Seq("fp"), "left")
        .select(col("doc_id"), col("maybe"),
          coalesce(col("exact"), lit(false)).as("exact"))
        .orderBy("doc_id")}),

    // deterministic HyperLogLog register table over the corpus token
    // stream: md5-hash family, 64 registers, rho from pure-integer
    // bit-length — the cardinality sketch itself, hash-checked cell by
    // cell (the built-in HLL's registers are engine-private;
    // q_approx_distinct can only gate an error bound)
    "d_hll" -> ((s, dir) =>
      Sketches.hllRegisters(
        docs(s, dir).select(explode(tokens(col("text"))).as("token")), "token")
        .orderBy("register")),

    // STREAMING HLL maintenance at ingest: the d_hll register table
    // with the corpus arriving as micro-batches — the per-register max
    // IS the one streaming aggregation's state (64 rows however large
    // the stream); the drain collapses by max (monotone) and absent
    // registers reattach from the 64-row literal frame. Cell-identical
    // to the batch sketch: shares d_hll's oracle verbatim
    "s_stream_hll" -> ((s, dir) => {
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
      val drained = graft.streaming.EventStreams.runToMemory(
        graft.streaming.EventStreams.hllRegisterStream(stream, "token"),
        "s_stream_hll_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      val fin = drained.groupBy("register").agg(max(col("rho_max")).as("r"))
      s.range(64L).select(col("id").cast("int").as("register"))
        .join(fin, Seq("register"), "left")
        .select(col("register"),
          coalesce(col("r"), lit(0)).cast("int").as("rho_max"))
        .orderBy("register")}),

    // STREAMING quantile-sketch maintenance at ingest: the hash-sampled
    // quantile sketch with its VALUE HISTOGRAM as the one streaming
    // aggregation's state (sample membership is a row-local hash
    // predicate — no coordination, the shard-union merge law). Drain
    // collapses by max (counts grow monotonically), the multiset is
    // reconstructed from the histogram, and the post-drain interpolation
    // + full-data rank gate are the BATCH code, so the oracle is shared
    // verbatim with d_sampled_pct
    "s_stream_quantile" -> ((s, dir) => {
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .select(col("doc_id"), tokenCount(col("text")).as("n_tok"))
      val drained = graft.streaming.EventStreams.runToMemory(
        graft.streaming.EventStreams.quantileSampleHistStream(
          stream, col("doc_id"), col("n_tok"), 0.125),
        "s_stream_quantile_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      val hist = drained.groupBy("v").agg(max(col("cnt")).as("cnt"))
      val sample = hist
        .select(col("v"), explode(sequence(lit(1L), col("cnt"))))
        .select("v")
      val full = docs(s, dir)
        .select(col("doc_id").as("k"), tokenCount(col("text")).as("v"))
      Sketches.sampledQuantilesFrom(sample, full, Seq(250, 500, 750, 900))}),

    // STREAMING CMS maintenance at ingest: the count-min cell table with
    // the engine applying the sketch's additive-merge law per
    // micro-batch (the one streaming aggregation's state IS the cells,
    // ≤ 2048 rows); drain collapses by max (counts only grow). The
    // oracle replays the full build over the same tokens
    "s_stream_cms" -> ((s, dir) => {
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
      val drained = graft.streaming.EventStreams.runToMemory(
        graft.streaming.EventStreams.cmsCellStream(stream, "token"),
        "s_stream_cms_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      drained.groupBy("r", "bucket").agg(max(col("cnt")).as("cnt"))
        .orderBy("r", "bucket")}),

    // GROUPED deterministic HLL: one 64-register sketch PER SOURCE from
    // a single token pass (sketch-as-aggregation — per-source/per-day
    // distincts without a per-group rescan; each group's sketch stays
    // shard-mergeable by the d_hll_merge max law). Gate carries the
    // estimate, the exact distinct count and the milli error per source
    "d_hll_by_source" -> ((s, dir) => {
      val tok = docs(s, dir).select(col("source"),
        explode(tokens(col("text"))).as("token"))
      val est = Sketches.hllEstimateBy(
        Sketches.hllRegistersBy(tok, "source", "token"))
      val exact = tok.groupBy(col("source").as("grp"))
        .agg(countDistinct(col("token")).as("exact"))
      est.join(exact, "grp")
        .select(col("grp").as("source"), col("exact"), col("est"),
          expr("(1000 * abs(est - exact)) div exact").as("err_milli"))
        .orderBy("source")}),

    // CMS shard-merge identity: cell counts are additive, so sketches of
    // the even-id and odd-id shards merge (cell-wise sum) into EXACTLY
    // the full-corpus sketch. The output carries the shard cells, the
    // cmsMerge result and the full-build cells so the hash pins the
    // identity itself
    "d_cms_merge" -> ((s, dir) => {
      def toks(cond: Column) = docs(s, dir).filter(cond)
        .select(explode(tokens(col("text"))).as("token"))
      val even = Sketches.cmsBuild(toks(col("doc_id") % 2 === 0), "token")
      val odd = Sketches.cmsBuild(toks(col("doc_id") % 2 =!= 0), "token")
      val full = Sketches.cmsBuild(toks(lit(true)), "token")
      full.withColumnRenamed("cnt", "cnt_full")
        .join(even.withColumnRenamed("cnt", "cnt_even"),
          Seq("r", "bucket"), "left")
        .join(odd.withColumnRenamed("cnt", "cnt_odd"),
          Seq("r", "bucket"), "left")
        .join(Sketches.cmsMerge(even, odd)
            .withColumnRenamed("cnt", "cnt_merged"),
          Seq("r", "bucket"), "left")
        .select(col("r"), col("bucket"),
          coalesce(col("cnt_even"), lit(0L)).as("cnt_even"),
          coalesce(col("cnt_odd"), lit(0L)).as("cnt_odd"),
          coalesce(col("cnt_merged"), lit(0L)).as("cnt_merged"),
          col("cnt_full"))
        .orderBy("r", "bucket")}),

    // shard-merge identity: registers built on the even-id and odd-id doc
    // shards merge (per-register max) into EXACTLY the full-corpus
    // registers — the property that lets a 100 TB pipeline keep one
    // 64-row sketch per shard/day and combine them without re-scanning.
    // The output carries all four register columns so the hash pins the
    // identity itself, not just the merged result
    "d_hll_merge" -> ((s, dir) => {
      def toks(cond: Column) = docs(s, dir).filter(cond)
        .select(explode(tokens(col("text"))).as("token"))
      val even = Sketches.hllRegisters(toks(col("doc_id") % 2 === 0), "token")
      val odd = Sketches.hllRegisters(toks(col("doc_id") % 2 =!= 0), "token")
      val full = Sketches.hllRegisters(toks(lit(true)), "token")
      Sketches.hllMerge(even, odd).withColumnRenamed("rho_max", "rho_merged")
        .join(even.withColumnRenamed("rho_max", "rho_even"), "register")
        .join(odd.withColumnRenamed("rho_max", "rho_odd"), "register")
        .join(full.withColumnRenamed("rho_max", "rho_full"), "register")
        .select(col("register"), col("rho_even"), col("rho_odd"),
          col("rho_merged"), col("rho_full"))
        .orderBy("register")}),

    // HLL SET-ALGEBRA: distinct-intersection estimate by inclusion-
    // exclusion over three 64-register sketches (est_a + est_b −
    // est_union — the standard trick that turns a union-only sketch into
    // set overlap), next to the exact distinct counts so the estimator's
    // error is in-artifact. Registers never rescan data; the exact
    // columns are one distinct + one key join
    "d_hll_intersect" -> ((s, dir) => {
      // the corpus vocabulary is closed (both halves see all 31 tokens),
      // so shard-unique tokens are planted: evens carry 5 exclusive
      // types, odds 7 — the intersection estimate is then a genuine
      // subtraction, not est_a trivially
      def toks(cond: Column) = docs(s, dir).filter(cond)
        .select(explode(tokens(concat(col("text"),
          when(col("doc_id") % 2 === 0,
            concat(lit(" evenonly"), col("doc_id") % 5))
            .otherwise(concat(lit(" oddonly"), col("doc_id") % 7)))))
          .as("token"))
      val a = Sketches.hllRegisters(toks(col("doc_id") % 2 === 0), "token")
      val b = Sketches.hllRegisters(toks(col("doc_id") % 2 =!= 0), "token")
      val u = Sketches.hllMerge(a, b)
      val ea = Sketches.hllEstimate(a).select(col("est").as("est_a"))
      val eb = Sketches.hllEstimate(b).select(col("est").as("est_b"))
      val eu = Sketches.hllEstimate(u).select(col("est").as("est_union"))
      val ta = toks(col("doc_id") % 2 === 0).distinct()
      val tb = toks(col("doc_id") % 2 =!= 0).distinct()
      val exA = ta.agg(count(lit(1)).as("exact_a"))
      val exB = tb.agg(count(lit(1)).as("exact_b"))
      val exI = ta.join(tb, "token").agg(count(lit(1)).as("exact_intersect"))
      ea.crossJoin(eb).crossJoin(eu)
        .crossJoin(exA).crossJoin(exB).crossJoin(exI)
        .select(col("est_a"), col("est_b"), col("est_union"),
          (col("est_a") + col("est_b") - col("est_union"))
            .as("est_intersect"),
          col("exact_a"), col("exact_b"), col("exact_intersect"))}),

    // Bloom shard-merge identity, the third sketch-merge law after CMS
    // (cell sum) and HLL (register max): set bits are position-set
    // unions, so filters of the even-id and odd-id doc shards OR together
    // into EXACTLY the full-corpus filter. Output = every set position
    // across the three builds with per-shard/merged/full membership, so
    // the hash pins the identity bit by bit — any asymmetry between
    // merged and full would surface as a flag mismatch
    "d_bloom_merge" -> ((s, dir) => {
      def fps(cond: Column) = docs(s, dir).filter(cond)
        .select(fingerprint(col("text")).as("fp"))
      val even = Sketches.bloomBits(fps(col("doc_id") % 2 === 0), "fp")
      val odd = Sketches.bloomBits(fps(col("doc_id") % 2 =!= 0), "fp")
      val full = Sketches.bloomBits(fps(lit(true)), "fp")
      def flagged(df: DataFrame, name: String) = df.withColumn(name, lit(true))
      even.union(odd).union(full).distinct()
        .join(flagged(even, "in_even"), Seq("pos"), "left")
        .join(flagged(odd, "in_odd"), Seq("pos"), "left")
        .join(flagged(Sketches.bloomMerge(even, odd), "in_merged"),
          Seq("pos"), "left")
        .join(flagged(full, "in_full"), Seq("pos"), "left")
        .select(col("pos"),
          coalesce(col("in_even"), lit(false)).as("in_even"),
          coalesce(col("in_odd"), lit(false)).as("in_odd"),
          coalesce(col("in_merged"), lit(false)).as("in_merged"),
          coalesce(col("in_full"), lit(false)).as("in_full"))
        .orderBy("pos")}),

    // Unicode-normalization-aware dedup: the same grapheme arrives as
    // precomposed U+00E9, decomposed e+U+0301, or plain ASCII 'e'; a
    // byte-exact dedup sees three distinct strings where NFC folds the
    // first two. Variants are PLANTED from doc_id arithmetic (the corpus
    // is ASCII, where NFC is the identity) so the oracle inverts the
    // construction: DuckDB nfc_normalize replays the same Unicode
    // canonical composition the native graft_nfc expression applies.
    // Spark chr() is byte-masked (chr(769) % 256 ≠ U+0301), so the Spark
    // side plants the codepoints as string literals instead
    "d_nfc_dedup" -> ((s, dir) => {
      val accent = when(col("doc_id") % 3 === 0, lit("\u00e9"))
        .when(col("doc_id") % 3 === 1, lit("e\u0301"))
        .otherwise(lit("e"))
      val raw = concat(lit("caf"), accent, lit("_"),
        expr("doc_id div 3").cast("string"))
      docs(s, dir)
        .select(col("doc_id"), raw.as("raw"))
        .withColumn("norm",
          graft.functions.NfcNormalize.nfcNormalize(col("raw")))
        .groupBy("norm")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("raw")).as("n_raw"),
          min(col("doc_id")).as("survivor_id"))
        .orderBy("norm")}),

    // hash-sampled quantile sketch over the per-doc token counts:
    // deterministic sample-quantile estimates (Spark percentile ==
    // DuckDB quantile_cont) PLUS the exact full-data rank of each
    // estimate — estimate AND error hash-green, the engine-exact
    // counterpart of q_approx_pct's bound-only gate. The sample is a
    // pure hash predicate, so shard samples union with no coordination
    "d_sampled_pct" -> ((s, dir) =>
      Sketches.sampledQuantiles(
        docs(s, dir).select(col("doc_id"), tokenCount(col("text")).as("n_tok")),
        col("doc_id"), col("n_tok"), 0.125, Seq(250, 500, 750, 900))),

    // ... and the estimate read off those registers: exact BIGINT
    // harmonic denominator, IEEE-exact raw estimate, plus the exact
    // distinct-token count and integer milli error — sketch AND its
    // accuracy, both hash-green
    "d_hll_est" -> ((s, dir) => {
      val tok = graft.CacheScope.cached(
        docs(s, dir).select(explode(tokens(col("text"))).as("token")))
      val est = Sketches.hllEstimate(Sketches.hllRegisters(tok, "token"))
      val exact = tok.agg(countDistinct(col("token")).as("exact_distinct"))
      est.crossJoin(exact)
        .select(col("s_pow"), col("est"), col("exact_distinct"),
          expr("(1000 * abs(est - exact_distinct)) div exact_distinct")
            .as("err_milli"))}),

    // exact ROC-AUC of the NB classifier's 'en' log-posterior as a
    // ranking signal for "is this English" — Mann-Whitney with midrank
    // ties, everything integer until one final division; rides the
    // session-shared scoring pass
    "d_auc" -> ((s, dir) => {
      val en = sharedNbScored(s, dir).filter(col("lbl") === "en")
        .select(col("doc_id"), col("score"))
      val lab = docs(s, dir)
        .select(col("doc_id"), (col("lang") === "en").as("pos"))
      Classify.rocAuc(en.join(lab, "doc_id"), "score", "pos")}),

    // MinHash estimator quality: LSH candidate pairs with BOTH the
    // signature-agreement estimate and the exact shingle Jaccard — the
    // view used to tune bands/rows before trusting est_sim at full scale
    // pairwise source-vocabulary Jensen-Shannon divergence — the corpus
    // mixing diagnostic ("which sources are interchangeable, which add
    // diversity"): JS(P,Q) over unigram distributions in the micro-nat
    // discipline. Shared tokens contribute c_a·(ln2 + ln c_a + ln N_b −
    // ln(c_a·N_b + c_b·N_a)) with every ln micro-rounded BEFORE the
    // order-free i64 sum; tokens private to one side contribute exactly
    // c·ln2 (the q=0 limit), folded in as (N − shared_mass)·ln2. The
    // final js_micro is two IEEE divisions and one add over exact
    // integers — engine-exact end to end
    "d_source_divergence" -> ((s, dir) => {
      val cnt = graft.CacheScope.cached(
        docs(s, dir).select(col("source"), explode(tokens(col("text"))).as("t"))
          .groupBy("source", "t").agg(count(lit(1)).as("c")))
      val tot = cnt.groupBy("source").agg(sum(col("c")).as("n"))
      val l2 = 693147L // round(ln(2)·1e6)
      def lmicro(c: Column): Column = round(log(c) * 1e6, 0).cast("long")
      val a = cnt.select(col("source").as("sa"), col("t"), col("c").as("ca"))
      val b = cnt.select(col("source").as("sb"), col("t"), col("c").as("cb"))
      val shared = a.join(b, "t").filter(col("sa") < col("sb"))
        .join(broadcast(tot.select(col("source").as("sa"), col("n").as("na"))), "sa")
        .join(broadcast(tot.select(col("source").as("sb"), col("n").as("nb"))), "sb")
        .withColumn("denom", lmicro(col("ca") * col("nb") + col("cb") * col("na")))
        .groupBy("sa", "sb", "na", "nb")
        .agg(count(lit(1)).as("n_shared"),
          sum(col("ca")).as("ma"), sum(col("cb")).as("mb"),
          sum(col("ca") * (lit(l2) + lmicro(col("ca")) + lmicro(col("nb"))
            - col("denom"))).as("ta"),
          sum(col("cb") * (lit(l2) + lmicro(col("cb")) + lmicro(col("na"))
            - col("denom"))).as("tb"))
      shared
        .withColumn("sa_total", col("ta") + (col("na") - col("ma")) * lit(l2))
        .withColumn("sb_total", col("tb") + (col("nb") - col("mb")) * lit(l2))
        .select(col("sa"), col("sb"), col("n_shared"),
          col("sa_total"), col("sb_total"),
          floor(col("sa_total").cast("double") / (lit(2.0) * col("na").cast("double"))
            + col("sb_total").cast("double") / (lit(2.0) * col("nb").cast("double")))
            .cast("long").as("js_micro"))
        .orderBy("sa", "sb")}),

    // LEAKAGE-SAFE split: the FIX for what d_split_leakage measures —
    // the split key is the near-dup CLUSTER representative (min id of
    // the minhash CC component), so a whole duplicate cluster lands in
    // ONE split by construction and train/test can never share a
    // near-dup pair. `moved` flags docs whose naive doc-hash split
    // differs — the visible repair
    "d_split_safe" -> ((s, dir) => {
      val pairs = sharedMinhashCands(s, dir).filter(col("est_sim") >= 0.5)
      val rep = Dedup.ccComponentRep(pairs)
      docs(s, dir).select(col("doc_id"))
        .join(rep.select(col("id").as("doc_id"), col("rep")),
          Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("rep"), col("doc_id")))
        .withColumn("split", Sampling.splitColumn(col("rep"), 0.1, 0.1))
        .withColumn("naive_split",
          Sampling.splitColumn(col("doc_id"), 0.1, 0.1))
        .withColumn("moved",
          when(col("split") =!= col("naive_split"), 1).otherwise(0))
        .orderBy("doc_id")}),

    // split-leakage audit — the generalization-hygiene check a training
    // pipeline runs after splitting: what fraction of each eval split's
    // distinct shingles already appears in train (and how many eval docs
    // are FULLY covered — the memorization-risk set). Shares the session
    // shingle cache; split assignment, overlap and ratios all integer
    "d_split_leakage" -> ((s, dir) => {
      val sp = docs(s, dir).select(col("doc_id"),
        Sampling.splitColumn(col("doc_id"), 0.1, 0.1).as("split"))
      val sh = sharedShingles(s, dir).select("doc_id", "shingle").distinct()
        .join(sp, "doc_id")
      val trainSh = sh.filter(col("split") === "train")
        .select("shingle").distinct()
      val evalSh = graft.CacheScope.cached(sh.filter(col("split") =!= "train"))
      val seen = evalSh.join(trainSh, Seq("shingle"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_seen"))
      evalSh.groupBy(col("doc_id"), col("split"))
        .agg(count(lit(1)).as("n_sh"))
        .join(seen, Seq("doc_id"), "left")
        .withColumn("n_seen", coalesce(col("n_seen"), lit(0L)))
        .groupBy("split").agg(count(lit(1)).as("n_docs"),
          sum(col("n_sh")).as("n_shingles"),
          sum(col("n_seen")).as("n_seen"),
          sum(when(col("n_seen") === col("n_sh"), 1L).otherwise(0L))
            .as("n_fully_leaked"))
        .withColumn("leak_milli", expr("(1000 * n_seen) div n_shingles"))
        .select("split", "n_docs", "n_shingles", "n_seen", "leak_milli",
          "n_fully_leaked")
        .orderBy("split")}),

    // LSH S-curve validation — measured candidate rate vs the textbook
    // P = 1-(1-s^r)^b per exact-jaccard decile over the deterministic
    // 5% pair sample: the "is (8 bands × 4 rows) right for my
    // threshold" tuning readout, measured rather than assumed
    "d_lsh_tune" -> ((s, dir) =>
      Dedup.lshTuningCurve(sharedShingles(s, dir))),

    // LSH false-drop PRECISION audit — the other side of d_lsh_tune's
    // recall curve: of the pairs the banded verdict would merge at
    // est_sim ≥ 0.7 (what a production dedup pass drops), how many had
    // exact Jaccard BELOW the threshold, per exact decile. Rides the
    // session-shared candidate and shingle caches; all comparisons
    // integer (PipelineSpec plants a borderline est>tau>exact pair)
    "d_lsh_precision" -> ((s, dir) =>
      Dedup.lshFalseDropsFrom(sharedMinhashCands(s, dir),
        sharedShingles(s, dir), 700L)),

    "d_minhash_est" -> ((s, dir) => {
      // the session-shared shingle explode feeds BOTH the (shared) LSH
      // candidates and the exact-Jaccard verify side
      val cand = sharedMinhashCands(s, dir)
      val exact = Dedup.ngramJaccardPairsFrom(sharedShingles(s, dir), 0.0)
      cand.join(exact, Seq("a", "b"), "left")
        .select(col("a"), col("b"), col("est_sim"),
          coalesce(col("inter"), lit(0L)).as("inter"),
          coalesce(col("union_size"), lit(0L)).as("union_size"))
        .orderBy("a", "b")}),

    // --- similarity search ----------------------------------------------
    "e_ann_topk" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      Similarity.bruteForceTopK(corpus, queriesDf, 10)
        .orderBy("query_id", "rank")}),

    // metadata-filtered vector search (pre-filter strategy): the label
    // predicate prunes the corpus BEFORE any distance math — pushed to
    // the parquet scan at scale — instead of post-filtering an oversized
    // top-k, which under-fills k whenever the filter is selective
    "e_ann_filtered" -> ((s, dir) => {
      val all = embs(s, dir).select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("vec"), col("label"))
      val corpus = all.filter(col("label") === 1).select("id", "vec")
      val queriesDf = all.filter(col("id") < 5).select("id", "vec")
      Similarity.bruteForceTopK(corpus, queriesDf, 10)
        .orderBy("query_id", "rank")}),

    // threshold 0.45 sits just under the fixtures' max pairwise cosine —
    // the check returns rows at every SF (a 0.99 threshold matched zero
    // rows, which verified nothing about the cosine/threshold logic)
    "e_near_dup" -> ((s, dir) =>
      Similarity.cosineNearDupExact(embDouble(s, dir), 0.45)
        .orderBy("a", "b")),

    // embedding-space benchmark decontamination (the semantic upgrade of
    // d_decontaminate's shingle sweep): vec_id < 10 is the held-out
    // benchmark, every other vector scores its max cosine against it in
    // floor-micros — same 0.45 threshold as e_near_dup so flags are
    // non-vacuous at every SF
    "e_decontaminate" -> ((s, dir) => {
      val all = embDouble(s, dir)
      Similarity.embContamination(
          all.filter(col("id") >= 10), all.filter(col("id") < 10), 0.45)
        .orderBy("id")}),

    // cross-corpus banded similarity join: embeddings split by id parity
    // into two ~equal corpus-sized halves (the new-crawl × existing-
    // corpus shape), both banded with the SHARED hyperplane family and
    // joined on (table, bucket) with NEITHER side broadcast (hinted
    // sort-merge; PlanSpec asserts no BroadcastExchange feeds the band
    // join) — the one retrieval op where broadcasting a side is the
    // wrong plan at scale. Floor-micro rerank keeps top-3 rights per
    // left; signatures, band join and rerank all replay in SQL.
    "e_cross_lsh" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      Similarity.crossLshJoin(
          corpus.filter(col("id") % 2 === 0),
          corpus.filter(col("id") % 2 === 1), 3)
        .orderBy("left_id", "rank")}),

    // LSH-bucketed ANN (scale path): md5-derived hyperplanes, sign-bit
    // signatures, 1-bit multi-probe candidates, floor-micro cosine rerank
    // — every stage deterministic, so the FULL retrieval (ids, scores,
    // ranks) hash-checks against the DuckDB replay below
    "e_ann_lsh" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      Similarity.lshTopK(corpus, queriesDf, 10)
        .orderBy("query_id", "rank")}),

    // LSH ANN recall vs the exact baseline as a DRIVER-CHECKED number:
    // both the brute-force top-k and the FULL LSH retrieval (md5-derived
    // hyperplanes, sign-bit signatures, 1-bit multi-probe, rounded-cosine
    // rerank) replay exactly in DuckDB — plane components are the shared
    // int31-of-md5 family divided by exact constants, and the dot-product
    // fold is left-to-right in both engines — so approximate-search
    // quality is a hash-matched integer per query, not a ScalaTest-only
    // assertion. (IVF recall stays spec-only: its coarse quantizer is
    // MLlib KMeans, not SQL-replayable.)
    "e_ann_recall" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      val exact = Similarity.bruteForceTopK(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"))
      val approx = Similarity.lshTopK(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"))
      val ne = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val nl = approx.groupBy("query_id").agg(count(lit(1)).as("n_lsh"))
      val nh = approx.join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      ne.join(nl, "query_id").join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"), col("n_lsh"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("query_id")}),

    // IVF nprobe tuning curve — the IVF counterpart of d_lsh_tune's
    // S-curve: recall@10 per query at nprobe ∈ {1,2,4,8} over the SAME
    // shared trainless index (cells+assignment built once). The curve is
    // what sizes nprobe before paying for a production index: recall
    // must rise monotonically with probes, and where it plateaus is the
    // operating point
    "e_ivf_probe_sweep" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      val cells = sharedIvfCells(s, dir)
      val assigned = sharedIvfAssign(s, dir)
      val exact = Similarity.bruteForceTopK(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"))
      Seq(1, 2, 4, 8).map { np =>
        val approx = Similarity.ivfSampledTopK(corpus, queriesDf, 10,
            nprobe = np, prebuiltCells = Some(cells),
            prebuiltAssigned = Some(assigned))
          .select(col("query_id"), col("vec_id"))
        val nv = approx.groupBy("query_id").agg(count(lit(1)).as("n_ivf"))
        val nh = approx.join(exact, Seq("query_id", "vec_id"), "left_semi")
          .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
        nv.join(nh, Seq("query_id"), "left")
          .select(lit(np).as("nprobe"), col("query_id"), col("n_ivf"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      }.reduce(_ unionByName _).orderBy("nprobe", "query_id")}),

    // greedy k-CENTER coreset selection — the diverse-subset pass of
    // training-data selection (pick the 8 vectors that best COVER the
    // embedding space: each round adds the point farthest from the
    // chosen set, farthest-first traversal = the classic 2-approximation
    // to k-center). Distance = 1e6 − floor-micro cosine (integers all
    // the way), seed = min id, (dmin DESC, id) total order per round —
    // so the whole greedy trajectory replays in 8 unrolled CTEs. The
    // per-round argmax rides to the driver (k tiny by construction, the
    // BPE-argmax discipline); each round is one corpus×chosen scan, and
    // at 100 TB the corpus side is a hash-sampled candidate pool
    "e_coreset" -> ((s, dir) => {
      val corpus = graft.CacheScope.cached(embDouble(s, dir)
        .select(col("id"), col("vec"), Similarity.norm(col("vec")).as("nrm")))
      val seedId = corpus.agg(min(col("id"))).head.getLong(0)
      var chosen = Seq(seedId)
      val picks = scala.collection.mutable.ArrayBuffer[(Int, Long, Option[Long])](
        (0, seedId, None))
      for (r <- 1 to 8) {
        val ch = broadcast(corpus.filter(col("id").isin(chosen: _*))
          .select(col("vec").as("cv"), col("nrm").as("cn")))
        val row = corpus.filter(!col("id").isin(chosen: _*))
          .crossJoin(ch)
          .select(col("id"), (lit(1000000L) -
            floor(lit(1000000.0) * (Similarity.dot(col("vec"), col("cv")) /
              (col("nrm") * col("cn")))).cast("long")).as("dist"))
          .groupBy("id").agg(min(col("dist")).as("dmin"))
          .orderBy(col("dmin").desc, col("id")).limit(1).head
        picks += ((r, row.getLong(0), Some(row.getLong(1))))
        chosen = chosen :+ row.getLong(0)
      }
      import s.implicits._
      picks.toSeq.toDF("round", "id", "dmin_micro").orderBy("round")}),

    // embedding DRIFT detection: per label the L1 milli distance between
    // the int8 centroids of the even-id and odd-id corpus halves — the
    // "did the encoder shift between batches" monitor (here the halves
    // are a random split, so the drift reading is the NOISE FLOOR a real
    // monitor alarms above). One centroid pass with grp = label|half;
    // the per-dim min/max quantization stats stay GLOBAL so both halves
    // quantize identically
    "e_centroid_drift" -> ((s, dir) => {
      val c = embs(s, dir).select(col("vec_id").as("id"),
        concat(col("label").cast("string"), lit("|"),
          pmod(col("vec_id"), lit(2)).cast("string")).as("grp"),
        col("embedding").cast("array<double>").as("vec"))
      val cent = Similarity.int8GroupCentroids(c)
        .select(split(col("grp"), "\\|").getItem(0).cast("int").as("label"),
          split(col("grp"), "\\|").getItem(1).as("half"),
          col("dim"), col("mean_milli"))
      val e = cent.filter(col("half") === "0")
        .select(col("label"), col("dim"), col("mean_milli").as("m0"))
      val o = cent.filter(col("half") === "1")
        .select(col("label"), col("dim"), col("mean_milli").as("m1"))
      e.join(o, Seq("label", "dim"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_dims"),
          sum(abs(col("m0") - col("m1"))).as("l1_drift_milli"),
          max(abs(col("m0") - col("m1"))).as("max_dim_drift_milli"))
        .orderBy("label")}),

    // INCREMENTAL PQ indexing — the index-maintenance identity behind
    // the d_dedup_incr discipline, on the ANN side: a delta batch
    // (id%7=3) encoded against the EXISTING shared codebooks must
    // produce byte-identical codes to the full-corpus build's rows for
    // those ids (per-vector encode is independent given the codebooks,
    // so appends never re-encode the corpus and never drift). The gate
    // full-outer-joins delta-encode vs full-build and counts cells,
    // matches and missing — the oracle is the closed form (n·M, n·M, 0)
    "e_pq_incr" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val delta = corpus.filter(pmod(col("id"), lit(7)) === 3)
      val deltaCodes = Similarity.pqEncode(delta,
          sharedPqCodebooks(s, dir), Similarity.inferDim(corpus))
        .withColumnRenamed("code", "code_delta")
      val fullDelta = sharedPqCodes(s, dir)
        .join(delta.select(col("id").as("vec_id")), "vec_id")
        .withColumnRenamed("code", "code_full")
      deltaCodes.join(fullDelta, Seq("vec_id", "m"), "full_outer")
        .agg(count(lit(1)).as("n_cells"),
          sum(when(col("code_delta") === col("code_full"), 1L).otherwise(0L))
            .as("n_match"),
          sum(when(col("code_delta").isNull || col("code_full").isNull, 1L)
            .otherwise(0L)).as("n_missing"))}),

    // cluster purity vs ground-truth labels — the external-validation
    // grade of the kNN clustering (THIRD consumer of the shared cluster
    // build): per cluster the member count, majority embedding label
    // (count DESC, label tie-break) and milli purity. Low purity means
    // the ANN edges cross label boundaries and the clustering is not
    // capturing the label structure
    "e_cluster_purity" -> ((s, dir) => {
      val m = sharedKnnClusters(s, dir).select(col("id"), col("cluster"))
        .join(embs(s, dir).select(col("vec_id").as("id"), col("label")), "id")
      val pc = m.groupBy("cluster", "label").agg(count(lit(1)).as("n_lbl"))
      val pt = m.groupBy("cluster").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("n_lbl").desc, col("label"))
      val maj = pc.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("cluster"), col("label").as("maj_label"),
          col("n_lbl").as("maj_n"))
      pt.join(maj, "cluster")
        .select(col("cluster"), col("n"), col("maj_label"), col("maj_n"),
          expr("(1000 * maj_n) div n").as("purity_milli"))
        .orderBy("cluster")}),

    // SQ8 search: top-10 over the DEQUANTIZED int8 reconstructions (the
    // scalar-quantizer search mode — 1 byte/dim corpus + dims-row stats,
    // floats rebuilt on the fly, ranking hash-exact end to end), graded
    // by recall vs the float-exact micro ranker per query
    "e_sq_recall" -> ((s, dir) => {
      val corpus = graft.CacheScope.cached(embDouble(s, dir))
      val queriesDf = corpus.filter(col("id") < 5)
      val sq = Similarity.sqTopK(corpus, queriesDf, 10)
      val exact = Similarity.exactTopKMicro(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"))
      val ne = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val ns = sq.groupBy("query_id").agg(count(lit(1)).as("n_sq"),
        max(col("cos_micro")).as("best_micro"))
      val nh = sq.select("query_id", "vec_id")
        .join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      ne.join(ns, "query_id").join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"), col("n_sq"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("best_micro"))
        .orderBy("query_id")}),

    // maximum-inner-product search — the dot-product ranking learned
    // retrieval actually uses (norms carry signal cosine normalizes
    // away); floor-micro dots, total-order top-10, full SQL replay
    "e_mips" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      Similarity.mipsTopK(corpus, corpus.filter(col("id") < 5), 10)
        .orderBy("query_id", "rank")}),

    // 1-bit binary quantization search (the RaBitQ-family baseline): per-
    // dimension midrange-threshold sign bits packed into 32-bit words
    // (64× smaller than the float corpus), candidates ranked by
    // XOR-popcount Hamming distance — codes, distances and ranking are
    // integers end to end and replay fully in SQL; graded by recall vs
    // the float-exact micro ranker per query
    "e_bq_recall" -> ((s, dir) => {
      val corpus = graft.CacheScope.cached(embDouble(s, dir))
      val queriesDf = corpus.filter(col("id") < 5)
      val bq = Similarity.bqTopK(corpus, queriesDf, 10)
      val exact = Similarity.exactTopKMicro(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"))
      val ne = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val nb = bq.groupBy("query_id").agg(count(lit(1)).as("n_bq"),
        min(col("hamming")).as("best_ham"))
      val nh = bq.select("query_id", "vec_id")
        .join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      ne.join(nb, "query_id").join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"), col("n_bq"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("best_ham"))
        .orderBy("query_id")}),

    // the two-stage deployment of the 1-bit index: Hamming shortlist of
    // 50 (reading only the packed words) → exact floor-micro cosine
    // rerank of the shortlist (reading 50 float vectors per query, not
    // the corpus) — recall@10 vs the full exact ranker measures what the
    // 64× compression actually costs end-to-end
    "e_bq_rerank" -> ((s, dir) => {
      val corpus = graft.CacheScope.cached(embDouble(s, dir))
      val queriesDf = corpus.filter(col("id") < 5)
      val short = Similarity.bqTopK(corpus, queriesDf, 50)
        .select(col("query_id"), col("vec_id"))
      val reranked = short
        .join(corpus.select(col("id").as("vec_id"), col("vec").as("cv")),
          "vec_id")
        .join(broadcast(queriesDf.select(col("id").as("query_id"),
          col("vec").as("qv"))), "query_id")
        .select(col("query_id"), col("vec_id"),
          floor(lit(1000000.0) * (Similarity.dot(col("qv"), col("cv")) /
            (Similarity.norm(col("qv")) * Similarity.norm(col("cv")))))
            .cast("long").as("cos_micro"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_micro").desc, col("vec_id"))
      val top = reranked.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10).select("query_id", "vec_id")
      val exact = Similarity.exactTopKMicro(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"))
      val ne = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val nh = top.join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      ne.join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("query_id")}),

    // Johnson-Lindenstrauss random-projection distortion profile: 64 → 16
    // dims via md5-derived dense planes (trainless, any embedding — vs
    // Matryoshka's trained prefix and PCA's learned axis). The JL lemma
    // guarantees bounded DISTANCE distortion, not rank preservation, so
    // the report is per-query mean/max |Δcos_micro| over the whole
    // corpus (integer, order-free sums) plus recall@10 as the secondary
    // signal (honest and low here: random isotropic fixtures have no
    // neighbor gap for any distance-preserving sketch to keep) —
    // projection, both scorings and every stat replayed in the oracle
    "e_jl_distortion" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      val dim = Similarity.inferDim(queriesDf)
      val f = graft.CacheScope.cached(
        Similarity.scoredMicro(corpus, queriesDf))
      val p = graft.CacheScope.cached(Similarity.scoredMicro(
        Similarity.jlProject(corpus, dim, 16),
        Similarity.jlProject(queriesDf, dim, 16)))
      def top10(df: DataFrame) = {
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cos_micro").desc, col("vec_id"))
        df.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 10).select("query_id", "vec_id")
      }
      val dist = f.join(p.withColumnRenamed("cos_micro", "cos_proj"),
          Seq("query_id", "vec_id"))
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_cand"),
          sum(abs(col("cos_micro") - col("cos_proj"))).as("sum_dist"),
          max(abs(col("cos_micro") - col("cos_proj"))).as("max_dist_micro"))
        .select(col("query_id"), col("n_cand"),
          expr("sum_dist div n_cand").as("mean_dist_micro"),
          col("max_dist_micro"))
      val nh = top10(p).join(top10(f), Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      dist.join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_cand"), col("mean_dist_micro"),
          col("max_dist_micro"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("query_id")}),

    // GRAPH-navigation ANN (the NSW/HNSW base layer, fourth index family
    // after LSH/IVF/PQ): greedy beam search over the exact kNN graph of
    // the id%5 subsample, every walk step the (floor-micro cos, id) total
    // order — graph, rounds and final top-k all replayed in the oracle,
    // recall vs the tie-exact micro top-k hash-green per query
    "e_ann_beam" -> ((s, dir) => {
      val corpus = graft.CacheScope.cached(
        embDouble(s, dir).filter(col("id") % 5 === 0))
      val queriesDf = corpus.filter(col("id") < 50)
      // ONE pairwise floor-micro pass feeds both the kNN-graph edges and
      // the exact recall baseline (the operator's internal build would
      // score the same pairs a second time)
      val pairs = graft.CacheScope.cached(Similarity.scoredMicro(corpus, corpus))
      val wE = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_micro").desc, col("vec_id"))
      val edges = pairs.withColumn("rn", row_number().over(wE))
        .filter(col("rn") <= 8)
        .select(col("query_id").as("src"), col("vec_id").as("dst"))
      val beamT = Similarity.beamSearchTopK(corpus, queriesDf, 10,
        prebuiltEdges = Some(edges))
      val exact = pairs.filter(col("query_id") < 50)
        .withColumn("rank", row_number().over(wE)).filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id"))
      val ne = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val nb = beamT.groupBy("query_id").agg(count(lit(1)).as("n_beam"),
        max(col("cos_micro")).as("best_micro"))
      val nh = beamT.select("query_id", "vec_id")
        .join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      ne.join(nb, "query_id").join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"), col("n_beam"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("best_micro"))
        .orderBy("query_id")}),

    // HNSW: two hash-sampled coarse layers over e_ann_beam's base graph
    // (same corpus, queries, k, ef, rounds — the flat-vs-hierarchical
    // comparison reads off the two gates' n_hits columns). Membership is
    // the md5-derived hash60 % 8^level rule (offline-verified non-empty
    // at every fixture SF), layer graphs are exact within-layer kNN from
    // the SAME shared pairwise pass, greedy small-beam descent seeds the
    // base beam — membership, layer graphs, descent, base walk and the
    // exact-recall grade all replay in the oracle, hash-green per query
    "e_ann_hnsw" -> ((s, dir) => {
      val corpus = graft.CacheScope.cached(
        embDouble(s, dir).filter(col("id") % 5 === 0))
      val queriesDf = corpus.filter(col("id") < 50)
      val pairs = graft.CacheScope.cached(Similarity.scoredMicro(corpus, corpus))
      val wE = Window.partitionBy(col("query_id"))
        .orderBy(col("cos_micro").desc, col("vec_id"))
      def knn(p: DataFrame, deg: Int): DataFrame =
        p.withColumn("rn", row_number().over(wE)).filter(col("rn") <= deg)
          .select(col("query_id").as("src"), col("vec_id").as("dst"))
      val baseEdges = knn(pairs, 8)
      def upperEdges(l: Int): DataFrame =
        knn(pairs.filter(Similarity.hnswMember(col("query_id"), l) &&
          Similarity.hnswMember(col("vec_id"), l)), 4)
      val hn = Similarity.hnswTopK(corpus, queriesDf, 10,
        prebuiltBase = Some(baseEdges), prebuiltUpper = Some(upperEdges))
      val exact = pairs.filter(col("query_id") < 50)
        .withColumn("rank", row_number().over(wE)).filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id"))
      val ne = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val nb = hn.groupBy("query_id").agg(count(lit(1)).as("n_beam"),
        max(col("cos_micro")).as("best_micro"))
      val nh = hn.select("query_id", "vec_id")
        .join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      ne.join(nb, "query_id").join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"), col("n_beam"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"), col("best_micro"))
        .orderBy("query_id")}),

    // KMeans-IVF recall-floor CONTRACT row (hash-green): the index's
    // centroids are engine-private (Spark ML KMeans), so its top-k VALUES
    // have no SQL twin — but its recall against the hash-green exact
    // brute-force baseline is a checkable contract. meets_floor = 1 iff
    // aggregate recall@10 across the query set reaches the spec floor
    // (0.4, integer form 10·hits ≥ 4·exact — no float compare); the
    // oracle replays the exact side (n_exact) and asserts the closed-form
    // all-true frame, so a regression anywhere in the index (cell
    // training, assignment, probe routing, rerank) turns every row red.
    // Per-query recall stays un-pinned on purpose: per-query cell luck
    // varies with KMeans init, and a slack-tolerant aggregate is the
    // stable cross-run contract (the gx_pagerank_rank discipline).
    "e_ann_ivf" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      val exact = Similarity.bruteForceTopK(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"))
      val approx = Similarity.ivfTopK(corpus, queriesDf, 10,
          cacheKey = Some(s"emb|$dir"))
        .select(col("query_id"), col("vec_id"))
      val ne = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val nh = approx.join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      val wAll = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      ne.join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          when(lit(10) * sum(coalesce(col("n_hits"), lit(0L))).over(wAll)
              >= lit(4) * sum(col("n_exact")).over(wAll), lit(1))
            .otherwise(lit(0)).as("meets_floor"))
        .orderBy("query_id")}),

    // IVF recall under ORACLE: the trainless sampled-centroid IVF is
    // fully SQL-replayable (deterministic hash-sampled centroids ->
    // rounded-cosine argmax assignment -> probes -> rounded rerank), so
    // this variant's recall-vs-exact is hash-checked end-to-end — the
    // KMeans index (e_ann_ivf) keeps its spec-pinned recall
    "e_ann_ivf_recall" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      val exact = Similarity.bruteForceTopK(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"))
      val approx = Similarity.ivfSampledTopK(corpus, queriesDf, 10,
          prebuiltCells = Some(sharedIvfCells(s, dir)),
          prebuiltAssigned = Some(sharedIvfAssign(s, dir)))
        .select(col("query_id"), col("vec_id"))
      val ne = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val nv = approx.groupBy("query_id").agg(count(lit(1)).as("n_ivf"))
      val nh = approx.join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      ne.join(nv, "query_id").join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"), col("n_ivf"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("query_id")}),

    // IVF cell-balance report: per-cell vector counts over the shared
    // sampled-centroid assignment plus an integer milli load factor
    // (1000·n·nlist div total; 1000 = perfectly balanced). Cell skew is
    // THE operational hazard of an IVF index at scale — a hot cell turns
    // every probe touching it into a scan — and trainless sampling makes
    // it worse than KMeans, so the index build needs this diagnostic
    // before anyone trusts nprobe latencies. Rides the session-shared
    // assignment; empty cells surface via the left join.
    "e_ivf_balance" -> ((s, dir) => {
      val counts = sharedIvfAssign(s, dir)
        .groupBy("cell").agg(count(lit(1)).as("n"))
      val total = sharedIvfAssign(s, dir).agg(count(lit(1)).as("n_total"))
      sharedIvfCells(s, dir).select(col("cell"))
        .join(counts, Seq("cell"), "left")
        .crossJoin(broadcast(total))
        .select(col("cell"), coalesce(col("n"), lit(0L)).as("n_vecs"),
          expr("(1000 * coalesce(n, 0) * 16) div n_total").as("load_milli"))
        .orderBy("cell")}),

    // Query-drift (OOD) monitor for the serving index: the id%10==7
    // subsample as in-distribution traffic vs the SAME vectors shifted
    // x -> 3x+1 as planted drift — nearest-centroid cosine histograms
    // per group, the alarm that fires before nprobe recall visibly
    // degrades. Centroids broadcast; order-free integer sums
    "e_ann_ood" -> ((s, dir) => {
      val base = embDouble(s, dir).filter(col("id") % 10 === 7)
      val q = base.select(lit("base").as("grp"), col("id"), col("vec"))
        .unionByName(base.select(lit("ood").as("grp"), col("id"),
          expr("transform(vec, x -> x * 3.0D + 1.0D)").as("vec")))
      Similarity.oodDriftHist(q, sharedIvfCells(s, dir))
        .orderBy("grp", "bucket")}),

    // Product-quantization ADC recall under ORACLE: trainless sampled
    // codebooks -> floor-micro argmax encoding -> M×K query tables ->
    // integer ADC scores, vs the exact top-k — every step SQL-replayable
    // (the memory-bandwidth ANN path: M ints per corpus vector)
    "e_pq_recall" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      val exact = Similarity.bruteForceTopK(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"))
      val approx = Similarity.pqTopK(corpus, queriesDf, 10,
          prebuiltCodebooks = Some(sharedPqCodebooks(s, dir)),
          prebuiltCodes = Some(sharedPqCodes(s, dir)))
        .select(col("query_id"), col("vec_id"))
      val ne = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val np = approx.groupBy("query_id").agg(count(lit(1)).as("n_pq"))
      val nh = approx.join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      ne.join(np, "query_id").join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"), col("n_pq"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("query_id")}),

    // recall CURVE for the PQ index: recall@{1,5,10} vs exact in one
    // query (the index-tuning view — one cutoff hides rank degradation);
    // a hit at k needs BOTH ranks ≤ k, zero rows padded per (query, k)
    "e_recall_curve" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      val exact = Similarity.bruteForceTopK(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"), col("rank").as("er"))
      val approx = Similarity.pqTopK(corpus, queriesDf, 10,
          prebuiltCodebooks = Some(sharedPqCodebooks(s, dir)),
          prebuiltCodes = Some(sharedPqCodes(s, dir)))
        .select(col("query_id"), col("vec_id"), col("rank").as("ar"))
      val ks = explode(array(lit(1), lit(5), lit(10))).as("k")
      val cnt = approx.join(exact, Seq("query_id", "vec_id"))
        .select(col("query_id"), col("er"), col("ar"), ks)
        .filter(col("ar") <= col("k") && col("er") <= col("k"))
        .groupBy("query_id", "k").agg(count(lit(1)).as("n"))
      queriesDf.select(col("id").as("query_id")).select(col("query_id"), ks)
        .join(cnt, Seq("query_id", "k"), "left")
        .select(col("query_id"), col("k"),
          coalesce(col("n"), lit(0L)).as("n_hits"))
        .orderBy("query_id", "k")}),

    // IVF+PQ composed recall under ORACLE (the FAISS-IVFPQ production
    // shape): trainless cells bound WHICH vectors are scored, PQ codes
    // bound the BYTES per scored vector — both components already
    // hash-checked alone, here composed and replayed end-to-end
    "e_ivfpq_recall" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      val exact = Similarity.bruteForceTopK(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"))
      val approx = Similarity.ivfPqTopK(corpus, queriesDf, 10,
          prebuiltCells = Some(sharedIvfCells(s, dir)),
          prebuiltAssigned = Some(sharedIvfAssign(s, dir)),
          prebuiltCodebooks = Some(sharedPqCodebooks(s, dir)),
          prebuiltCodes = Some(sharedPqCodes(s, dir)))
        .select(col("query_id"), col("vec_id"))
      val ne = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val np = approx.groupBy("query_id").agg(count(lit(1)).as("n_ivfpq"))
      val nh = approx.join(exact, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      ne.join(np, "query_id").join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"), col("n_ivfpq"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("query_id")}),

    // STREAMING ANN SERVING: query vectors arrive as a stream and each
    // micro-batch runs probe → candidate fetch → ADC score → top-10
    // against the session's static IVF+PQ index with ONE stateful
    // operator (Similarity.streamingIvfPqTopK). Arithmetic reuses the
    // batch expression trees, so the stream's answer is bit-identical
    // to batch ivfPqTopK — StreamingSpec pins that equality, and the
    // oracle replays the full index + scoring in SQL
    "s_stream_ann" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val dim = Similarity.inferDim(corpus)
      val st = graft.streaming.EventStreams.readEmbeddings(s, dir)
        .filter(col("vec_id") < 5)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val agg = Similarity.streamingIvfPqTopK(st,
        sharedIvfCells(s, dir), sharedIvfAssign(s, dir),
        sharedPqCodebooks(s, dir), sharedPqCodes(s, dir),
        kNN = 10, dim = dim)
      val sunk = graft.streaming.EventStreams.runToMemory(agg,
        "s_stream_ann_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      sunk.groupBy("query_id")
        .agg(max(struct(col("n_cands"), col("top"))).as("mx"))
        .select(col("query_id"), posexplode(col("mx.top")).as(Seq("pos", "t")))
        .select(col("query_id"), col("t.vec_id").as("vec_id"),
          (lit(0L) - col("t.ns")).as("score_micro"),
          (col("pos") + 1).cast("int").as("rank"))
        .orderBy("query_id", "rank")}),

    // STREAMING centroid assignment at ingest — the index-routing half
    // of the Lloyd step with vectors arriving as micro-batches: per-dim
    // stats and the k×dims seed codes collect into literals (bounded by
    // construction, the s_stream_ann index discipline), each vector
    // quantizes + assigns ROW-LOCALLY, and the per-cell count is the ONE
    // update-mode aggregation (k rows of state however large the
    // stream). Drained counts are bit-equal to the batch round-1
    // assignment; the oracle replays the Lloyd chain's counts
    "s_stream_kmeans" -> ((s, dir) => {
      val c = embDouble(s, dir)
      val seeds = Similarity.int8LloydSeeds(c, 8)
      val st = graft.streaming.EventStreams.readEmbeddings(s, dir)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
      val agg = Similarity.streamingLloydAssignCounts(st, c, seeds)
      val drained = graft.streaming.EventStreams.runToMemory(agg,
        "s_stream_kmeans_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      // counts only grow across re-emissions -> collapse by max
      drained.groupBy("cid").agg(max(col("n")).as("n_assigned"))
        .orderBy("cid")}),

    // STREAMING IVF+PQ index APPEND at ingest — the maintenance leg
    // that completes the ANN lifecycle (serve: s_stream_ann; train:
    // s_stream_kmeans): arriving delta vectors (id%7=3, e_pq_incr's
    // batch) assign to the static cells and encode against the fixed
    // codebooks ROW-LOCALLY — a STATELESS append-mode stream (zero
    // state stores however large the delta; appends never re-encode
    // the corpus). The gate full-outer-joins the appended rows against
    // the batch index (cell assignment + m-ordered code array) for the
    // same ids; the closed form IS the oracle: assignment and encode
    // are per-vector deterministic given the index, so every appended
    // row must match the batch build exactly
    "s_stream_ivf_append" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val dim = Similarity.inferDim(corpus)
      val st = graft.streaming.EventStreams.readEmbeddings(s, dir)
        .select(col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
        .filter(pmod(col("id"), lit(7)) === 3)
      val appended = Similarity.streamingIvfPqAppend(st,
        sharedIvfCells(s, dir), sharedPqCodebooks(s, dir), dim)
      val drained = graft.streaming.EventStreams.runToMemory(appended,
        "s_stream_ivf_append_sink",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(8))
      val batch = sharedIvfAssign(s, dir)
        .filter(pmod(col("vec_id"), lit(7)) === 3)
        .select(col("vec_id"), col("cell").as("cell_b"))
        .join(sharedPqCodes(s, dir)
          .groupBy("vec_id")
          .agg(array_sort(collect_list(struct(col("m"), col("code"))))
            .as("mc"))
          .select(col("vec_id"),
            expr("transform(mc, x -> x.code)").as("codes_b")),
          Seq("vec_id"))
      drained.join(batch, Seq("vec_id"), "full_outer")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("cell") === col("cell_b"), 1L).otherwise(0L))
            .as("n_cell_match"),
          sum(when(col("codes") === col("codes_b"), 1L).otherwise(0L))
            .as("n_code_match"),
          sum(when(col("cell").isNull || col("cell_b").isNull, 1L)
            .otherwise(0L)).as("n_missing"))}),

    // two-stage retrieval (the FAISS "refine" production shape): PQ-ADC
    // proposes a 20-deep shortlist reading M ints per corpus vector, the
    // full vectors rescore ONLY the shortlist, top-5 survive. The rerank
    // cosine floors to micros off the exact op tree (dot, two sqrts, one
    // division — each correctly-rounded IEEE, mirrored op-for-op in the
    // oracle), so both stages hash-check end-to-end
    "e_rerank" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      Similarity.pqRerankTopK(corpus, queriesDf, 5, shortlist = 20,
          prebuiltCodebooks = Some(sharedPqCodebooks(s, dir)),
          prebuiltCodes = Some(sharedPqCodes(s, dir)))
        .orderBy("query_id", "rank")}),

    // Matryoshka truncated search quality: top-k with only the first 8
    // components vs full-dim top-k — slice + exact rank, fully replayable
    "e_mrl_recall" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      val queriesDf = corpus.filter(col("id") < 5)
      val full = Similarity.bruteForceTopK(corpus, queriesDf, 10)
        .select(col("query_id"), col("vec_id"))
      val trunc = Similarity.matryoshkaTopK(corpus, queriesDf, 10, dims = 8)
        .select(col("query_id"), col("vec_id"))
      val nf = full.groupBy("query_id").agg(count(lit(1)).as("n_full"))
      val nt = trunc.groupBy("query_id").agg(count(lit(1)).as("n_trunc"))
      val nh = trunc.join(full, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
      nf.join(nt, "query_id").join(nh, Seq("query_id"), "left")
        .select(col("query_id"), col("n_full"), col("n_trunc"),
          coalesce(col("n_hits"), lit(0L)).as("n_hits"))
        .orderBy("query_id")}),

    // SemDeDup cluster-then-dedup end-to-end on the TRAINLESS sampled-
    // centroid quantizer: hash-sampled cells -> rounded-cosine argmax
    // assignment -> within-cell near-dup pairs -> CC -> min-id survivors.
    // Every step is deterministic and SQL-replayable, so the pipeline is
    // hash-checked end-to-end (the KMeans variant, semanticSurvivors,
    // stays spec-pinned in PipelineSpec — its quantizer is not
    // replayable)
    "e_semdedup" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      Similarity.semanticSurvivorsSampled(corpus, threshold = 0.45,
          prebuiltAssigned = Some(sharedIvfAssign(s, dir)))
        .select(col("id")).orderBy("id")}),

    // kNN-graph clustering over the deterministic 10% subsample (id%10=0;
    // the exact n² edge build stays tractable at every SF — at scale the
    // edges come from the ANN index via prebuiltNeighbors): top-3 edges,
    // symmetrized, components via GraphX, min-id cluster labels + sizes,
    // CC replayed with WITH RECURSIVE like d_dedup_pipeline
    "e_knn_cluster" -> ((s, dir) =>
      sharedKnnClusters(s, dir).orderBy("id")),

    // cluster topic labels — the "what is IN each cluster" readout every
    // clustering pass needs: members' texts (embedding id = doc id) token-
    // exploded, stopwords dropped, top-3 tokens per cluster by
    // (count DESC, token). Shares the session-cached cluster build with
    // e_knn_cluster; the oracle replays clustering AND labeling
    "d_cluster_topics" -> ((s, dir) => {
      val cl = sharedKnnClusters(s, dir)
      val sw = array(TextFunctions.Stopwords.map(lit): _*)
      val counts = docs(s, dir)
        .join(cl.select(col("id").as("doc_id"), col("cluster"),
          col("cluster_size")), "doc_id")
        .select(col("cluster"), col("cluster_size"),
          explode(tokens(col("text"))).as("token"))
        .filter(!array_contains(sw, col("token")))
        .groupBy("cluster", "cluster_size", "token")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("cluster"))
        .orderBy(col("cnt").desc, col("token"))
      counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("cluster"), col("cluster_size"), col("token"),
          col("cnt"), col("rank"))
        .orderBy("cluster", "rank")}),

    // int8 scalar quantization of the embedding corpus (the compression
    // pass before ANN storage) — integer codes, exact md5 fingerprint
    "e_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(embDouble(s, dir)).orderBy("id")),

    // BINARY (1-bit sign) quantization ANN — the BQ/RaBitQ storage
    // point: 16 bytes per vector, Hamming scan as the cheap first pass,
    // exact floor-micro rerank of the 32-deep shortlist, per-query
    // recall vs the tie-exact top-10. Every step an integer total
    // order, so packing + scan + rerank + recall all hash-check
    "e_ann_binary" -> ((s, dir) => {
      val corpus = embDouble(s, dir)
      Similarity.binaryTopK(corpus, corpus.filter(col("id") < 30), 10)
        .orderBy("query_id", "rank")}),

    // top principal component of the centered int8-quantized corpus via
    // 4 integer power-iteration rounds: exact Gram matrix, order-free
    // integer matvecs, IEEE-exact floor-micro renormalization — the
    // spectral diagnostic, fully hash-checked
    "e_pca" -> ((s, dir) =>
      Similarity.pcaTopComponent(embDouble(s, dir)).orderBy("dim")),

    // within-label embedding outlier scoring: int8 codes vs the label's
    // integer milli-centroid, L1 in milli-units (order-free integers),
    // flagged at the data-adaptive p95 — the mislabeled-vector pruning
    // pass before training
    "e_outlier" -> ((s, dir) => {
      val c = embs(s, dir).select(col("vec_id").as("id"),
        col("label").as("grp"), col("embedding").cast("array<double>").as("vec"))
      val sc = Similarity.int8OutlierScores(c)
      val cut = sc.agg(expr("percentile(l1_milli, 0.95)").as("p95"))
      sc.crossJoin(broadcast(cut))
        .select(col("id"), col("grp"), col("l1_milli"),
          (col("l1_milli") >= col("p95")).as("outlier"))
        .orderBy("id")}),

    // ONE Lloyd iteration over the int8-quantized embeddings with k=8
    // hash-ranked seeds — the IVF coarse-quantizer TRAINING step as a
    // relational plan (ML KMeans centroids are engine-private float
    // state; this step is all-integer on the affine codes, so member
    // counts, total inertia and the seed→mean L1 shift all hash-check
    // cell by cell). Assignment argmin ties to the smallest centroid id
    "e_kmeans_step" -> ((s, dir) => {
      val c = embDouble(s, dir)
      Similarity.int8LloydStep(c, Similarity.int8LloydSeeds(c, 8))
        .orderBy("cid")}),

    // reassignment CHURN after the Lloyd update — the convergence number
    // the k-means loop's stop condition reads: per round-1 cell, members
    // stayed vs moved when reassigned against the UPDATED milli-centroids
    // (exact milli² integer distances, smallest-cid ties), plus the
    // round-2 membership. Full two-half-step DuckDB replay
    "e_kmeans_churn" -> ((s, dir) => {
      val c = embDouble(s, dir)
      Similarity.int8LloydChurn(c, Similarity.int8LloydSeeds(c, 8))
        .orderBy("cid")}),

    // per-label integer centroid of the int8-quantized embeddings (the
    // cluster-profile step of semantic dedup): exact code sums + integer
    // milli-mean, every cell hash-checked
    "e_centroid" -> ((s, dir) =>
      Similarity.int8GroupCentroids(
          embs(s, dir).select(col("vec_id").as("id"), col("label").as("grp"),
            col("embedding").cast("array<double>").as("vec")))
        .orderBy("grp", "dim")),

    // embedding-space data-quality report card: per label the count and
    // the floor-micro norm envelope (min/mean/max) — the drift/zero-vector
    // guard a vector pipeline reads before trusting an index build (a
    // collapsed encoder shows up as a label whose norms pancake). One
    // scan, label-sized output; norm = sqrt∘dot is IEEE-exact
    "e_vec_stats" -> ((s, dir) => {
      val v = embDouble(s, dir)
      val lbl = embs(s, dir).select(col("vec_id").as("id"), col("label"))
      v.join(lbl, "id")
        .select(col("label"),
          floor(lit(1000000.0) * Similarity.norm(col("vec")))
            .cast("long").as("norm_micro"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          min("norm_micro").as("min_norm_micro"),
          max("norm_micro").as("max_norm_micro"),
          expr("sum(norm_micro) div count(1)").as("mean_norm_micro"))
        .orderBy("label")}),

    // multimodal header probe under oracle: payloads are REAL PNG/BMP/WAV
    // headers assembled arithmetically from doc_id (hex-built, unhex'd to
    // binary); probeMeta must PARSE the bytes back out, and the oracle
    // computes the planted ground truth directly — a hash match proves the
    // byte-offset parser inverts the construction exactly
    "m_probe" -> ((s, dir) => {
      import org.apache.spark.sql.Column
      def leHex(c: Column, nBytes: Int): Column =
        concat((0 until nBytes).map(i =>
          lpad(hex(pmod(shiftright(c, 8 * i), lit(256))), 2, "0")): _*)
      def beHex(c: Column, nBytes: Int): Column = lpad(hex(c), nBytes * 2, "0")
      val w = pmod(col("doc_id"), lit(999)) + 1
      val h = pmod(col("doc_id"), lit(499)) + 1
      val sr = pmod(col("doc_id"), lit(40000)) + 8000
      val dataSz = pmod(col("doc_id"), lit(100000)) * 2
      val png = concat(lit("89504E470D0A1A0A0000000D49484452"),
        beHex(w, 4), beHex(h, 4))
      val bmp = concat(lit("424D"), lit("0" * 32), leHex(w, 4), leHex(h, 4))
      val wav = concat(lit("52494646"), lit("00000000"), lit("57415645"),
        lit("666D7420"), lit("10000000"), lit("0100"), lit("0100"),
        leHex(sr, 4), leHex(sr * 2, 4), lit("0200"), lit("1000"),
        lit("64617461"), leHex(dataSz, 4))
      val m3 = pmod(col("doc_id"), lit(3))
      val content = unhex(
        when(m3 === 0, png).when(m3 === 1, bmp).otherwise(wav))
      val media = docs(s, dir).select(
        col("doc_id").as("media_id"),
        when(m3 === 2, "audio").otherwise("image").as("modality"),
        content.as("content"),
        struct(lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("int").as("sample_rate"),
          lit(null).cast("long").as("duration_ms"),
          lit(0L).as("n_bytes")).as("meta"))
      Multimodal.probeMeta(media)
        .select(col("media_id"), col("detected"), col("probed_width"),
          col("probed_height"), col("probed_sample_rate"),
          col("probed_duration_ms"))
        .orderBy("media_id")}),

    // multimodal REAL decode under oracle: payloads are complete, valid
    // 24-bit BMP rasters (even doc_id; blue channel varies per pixel) and
    // 16-bit PCM WAV clips (odd doc_id; signed samples spanning both
    // polarities), assembled arithmetically from doc_id. decodeMedia must
    // decode ACTUAL pixels via javax.imageio / PCM samples via the RIFF
    // walk; the oracle computes the planted stats directly — a hash match
    // proves decode(build(x)) == x for every payload
    "m_features" -> ((s, dir) => {
      val d = col("doc_id")
      val bmp = plantedBmpHex(d)
      val wav = plantedWavHex(d)
      val media = docs(s, dir).select(
        d.as("media_id"),
        unhex(when(pmod(d, lit(2)) === 0, bmp).otherwise(wav)).as("content"))
      Multimodal.decodeMedia(media).toDF().orderBy("media_id")}),

    // JPEG header round-trip under oracle: the planted BMPs transcode
    // through the JDK's LOSSY encoder, then the marker-segment walk reads
    // the SOF frame header back — dimensions and component count survive
    // the round-trip exactly (DCT quantization moves pixel VALUES only),
    // so the header path hash-checks against the planted geometry while
    // pixel stats stay in the rows-only twin below
    "m_jpeg" -> ((s, dir) => {
      val d = col("doc_id")
      val media = docs(s, dir).select(
        d.as("media_id"), unhex(plantedBmpHex(d)).as("content"))
      Multimodal.jpegProbe(Multimodal.transcodeJpeg(media)).toDF()
        .orderBy("media_id")}),

    // JPEG pixel decode as a VERDICT-ROW gate (the q_approx_distinct
    // discipline): decoded pixel values are quantized by the lossy
    // encoder above, so the raw sums have no closed form — but the
    // GEOMETRY survives exactly, and the per-channel MEAN drift is
    // bounded. The planted raster depends only on doc_id mod 256, so the
    // payload family is finite (256 classes) and the exact drift maxima
    // are measurable once for the deterministic JDK codec: r 5.292,
    // g 2.042, b 14.667 (blue is the (d+p)%256 gradient whose 255→0 wrap
    // is a sharp edge; red/green are flat but pay 4:2:0 chroma
    // subsampling on 4-px-wide rasters). The gate hashes the exact
    // geometry plus integer bound checks |Σdec − Σplanted| ≤ B·n with
    // B = 6/3/15 — deterministic at ANY SF because every doc_id falls in
    // one of the 256 measured classes; raw sums stay engine-side.
    "m_jpeg_stats" -> ((s, dir) => {
      val d = col("doc_id")
      val media = docs(s, dir).select(
        d.as("media_id"), unhex(plantedBmpHex(d)).as("content"))
      val dec = Multimodal.decodeMedia(Multimodal.transcodeJpeg(media)).toDF()
      val m = col("media_id")
      val n = (pmod(m, lit(8L)) + 1) * 4
      val pr = n * pmod(m * 13, lit(256L))
      val pg = n * pmod(m * 7, lit(256L))
      val pb = aggregate(
        transform(sequence(lit(0L), n - 1), p => pmod(m + p, lit(256L))),
        lit(0L), (acc, x) => acc + x)
      dec.select(m, col("kind"), col("width"), col("height"),
        col("n_pixels"),
        (abs(col("sum_r") - pr) <= n * 6).cast("int").as("drift_ok_r"),
        (abs(col("sum_g") - pg) <= n * 3).cast("int").as("drift_ok_g"),
        (abs(col("sum_b") - pb) <= n * 15).cast("int").as("drift_ok_b"))
        .orderBy("media_id")}),

    // REAL video container walk under oracle: a planted GVID container
    // per doc (magic + u16 frame count + length-prefixed BMP frames,
    // frame j = the m_features BMP of doc_id+j), frame-SAMPLED at stride
    // 2 — the container parse is cheap, only sampled frames pay the
    // imageio pixel decode. Per-channel sums over sampled frames are
    // order-free integers; the oracle computes the planted stats
    // directly, so the hash proves walk∘decode∘build = id
    "m_video" -> ((s, dir) => {
      val d = col("doc_id")
      val nf = pmod(d, lit(4L)) + 2
      val frames = array_join(
        transform(sequence(lit(0L), nf - 1),
          j => concat(
            leHexC(lit(54L) + (pmod(d + j, lit(8L)) + 1) * 12, 4),
            plantedBmpHex(d + j))), "")
      val media = docs(s, dir).select(
        d.as("media_id"),
        unhex(concat(lit("47564944"), leHexC(nf, 2), frames)).as("content"))
      Multimodal.videoFrameStats(media, stride = 2).toDF()
        .orderBy("media_id")}),

    // REAL scene segmentation under oracle: clip doc_id has doc_id%4+2
    // scenes, scene s repeated byte-identically (d+s)%3+1 frames — the
    // operator decodes EVERY frame and cuts where the exact pixel
    // profile changes; the oracle inverts the construction (scene
    // lengths, starts, longest run all closed-form). Consecutive scene
    // seeds always differ in height mod 8, so every planted cut is a
    // real profile change and no cut lands inside a scene
    "m_scenes" -> ((s, dir) => {
      val d = col("doc_id")
      val ns = pmod(d, lit(4L)) + 2
      def frameHex(seed: Column) = concat(
        leHexC(lit(54L) + (pmod(seed, lit(8L)) + 1) * 12, 4),
        plantedBmpHex(seed))
      val scenes = flatten(transform(sequence(lit(0L), ns - 1),
        sc => array_repeat(frameHex(d + sc),
          (pmod(d + sc, lit(3L)) + 1).cast("int"))))
      val media = docs(s, dir).select(
        d.as("media_id"),
        unhex(concat(lit("47564944"),
          leHexC(size(scenes).cast("long"), 2),
          array_join(scenes, ""))).as("content"))
      Multimodal.sceneStats(media).toDF().orderBy("media_id")}),

    // cross-VIDEO frame-level perceptual dedup: the m_video containers'
    // sampled frames flow through videoFrames (byte extraction, no
    // in-place aggregation) into the SAME imageHashes operator as
    // m_phash, and dhash grouping counts duplicate frames ACROSS videos
    // — non-vacuous by construction (video d frame j is the BMP seeded
    // d+j, so consecutive videos share planted frames). frame_id =
    // 16·media_id + frame_idx keys each sampled frame uniquely; the
    // oracle recomputes both hash bit formulas from the seed arithmetic
    "m_video_phash" -> ((s, dir) => {
      val d = col("doc_id")
      val nf = pmod(d, lit(4L)) + 2
      val frames = array_join(
        transform(sequence(lit(0L), nf - 1),
          j => concat(
            leHexC(lit(54L) + (pmod(d + j, lit(8L)) + 1) * 12, 4),
            plantedBmpHex(d + j))), "")
      val media = docs(s, dir).select(
        d.as("media_id"),
        unhex(concat(lit("47564944"), leHexC(nf, 2), frames)).as("content"))
      val fr = Multimodal.videoFrames(media, 2).toDF()
        .select((col("media_id") * 16 + col("frame_idx")).as("media_id"),
          col("frame").as("content"))
      Multimodal.imageHashes(fr).toDF()
        .withColumnRenamed("media_id", "frame_id")
        .withColumn("n_same",
          count(lit(1)).over(Window.partitionBy(col("dhash"))))
        .orderBy("frame_id")}),

    // cross-CLIP audio fingerprint dedup — the m_video_phash move on the
    // audio axis: every clip's REAL decoded PCM flows through the SAME
    // pcmWindowFeatures front-end as m_audio, consecutive windows pair
    // into 8-sample segments, and each segment's feature sequence
    // ("sum_abs:n_zc" per window, window order) IS its fingerprint.
    // Clips sharing a fingerprint band-join on it (grouped key join,
    // never all-pairs — the LSH discipline), yielding per clip the
    // duplicated-segment census and the min-partner keep id. Non-vacuous
    // by construction: clip d segment s is seeded d+s, so consecutive
    // clips share planted segments byte-identically; the oracle replays
    // every window feature closed-form from the seed arithmetic
    "m_audio_dup" -> ((s, dir) => {
      val d = col("doc_id")
      val media = docs(s, dir).select(d.as("media_id"),
        unhex(plantedClipWavHex(d)).as("content"))
      val feats = Multimodal.pcmWindowFeatures(media, 4).toDF()
      val sigs = graft.CacheScope.cached(feats
        .groupBy(col("media_id"), floor(col("win_idx") / 2).cast("int").as("seg"))
        .agg(array_join(transform(array_sort(collect_list(struct(
          col("win_idx"),
          concat(col("sum_abs"), lit(":"), col("n_zc")).as("f")))),
          x => x.getField("f")), "|").as("sig")))
      val prs = sigs.select(col("media_id"), col("seg"), col("sig"))
        .join(sigs.select(col("media_id").as("partner"), col("sig")),
          Seq("sig"))
        .filter(col("media_id") =!= col("partner"))
      val per = prs.groupBy("media_id")
        .agg(countDistinct(col("seg")).as("n_dup_segs"),
          countDistinct(col("partner")).as("n_partners"),
          min(col("partner")).as("minp"))
      sigs.groupBy("media_id").agg(count(lit(1)).as("n_segs"))
        .join(per, Seq("media_id"), "left")
        .select(col("media_id"), col("n_segs"),
          coalesce(col("n_dup_segs"), lit(0L)).as("n_dup_segs"),
          coalesce(col("n_partners"), lit(0L)).as("n_partners"),
          when(col("minp").isNull || col("minp") > col("media_id"),
            col("media_id")).otherwise(col("minp")).as("keep_id"))
        .orderBy("media_id")}),

    // REAL nearest-neighbor resize under oracle: the m_features BMPs
    // (even doc_ids) downsample at stride 2 — imageio decodes actual
    // pixels, the operator keeps every 2nd row/col, and the oracle
    // computes the kept pixels' channel sums in closed form from the
    // construction (image row y = raster row h-1-y) — a hash match proves
    // the resize samples exactly the specified pixel subset
    "m_resize" -> ((s, dir) => {
      val d = col("doc_id")
      val media = docs(s, dir).filter(pmod(d, lit(2)) === 0)
        .select(d.as("media_id"), unhex(plantedBmpHex(d)).as("content"))
      Multimodal.resizeImageStats(media, 2).toDF().orderBy("media_id")}),

    // REAL stride decimation under oracle: the m_features WAVs (odd
    // doc_ids) keep every 3rd PCM sample — the RIFF walk reads actual
    // bytes, the oracle computes the kept samples' stats in closed form
    // from the planted construction
    "m_resample" -> ((s, dir) => {
      val d = col("doc_id")
      val media = docs(s, dir).filter(pmod(d, lit(2)) === 1)
        .select(d.as("media_id"), unhex(plantedWavHex(d)).as("content"))
      Multimodal.decimateWavStats(media, 3).toDF().orderBy("media_id")}),

    // REAL windowed audio features under oracle: the planted WAVs (odd
    // doc_ids) split into 4-sample analysis windows, each reporting its
    // L1 energy (Σ|s|) and zero-crossing count — the VAD/silence-trim
    // front-end of an audio pipeline. All integers on decoded samples;
    // the oracle recomputes every window in closed form from the planted
    // sample formula, so a hash match proves the RIFF walk + windowing
    // reads exactly the planted PCM stream
    "m_audio" -> ((s, dir) => {
      val d = col("doc_id")
      val media = docs(s, dir).filter(pmod(d, lit(2)) === 1)
        .select(d.as("media_id"), unhex(plantedWavHex(d)).as("content"))
      Multimodal.pcmWindowFeatures(media, 4).toDF()
        .orderBy("media_id", "win_idx")}),

    // REAL loudness-normalization pass under oracle: peak / clipped-rail
    // census / exact Σs² / integer peak-gain / floor-micro RMS over the
    // planted WAVs (rails planted on doc_id%10==5 so the clip branch
    // fires at every SF) — the gain computation an audio pipeline runs
    // before resample and feature extraction. RMS is sqrt∘div on exact
    // integers, IEEE-exact in both engines
    "m_gain" -> ((s, dir) => {
      val d = col("doc_id")
      val media = docs(s, dir).filter(pmod(d, lit(2)) === 1)
        .select(d.as("media_id"), unhex(plantedGainWavHex(d)).as("content"))
      Multimodal.gainStats(media).toDF().orderBy("media_id")}),

    // REAL silence-run detection under oracle (the VAD-adjacent dead-air
    // / trimmable-lead-in pass): |s| ≤ 8192 over the planted WAVs'
    // decoded samples — run-length integer scan inside the batch decode;
    // the oracle replays the planted sample arithmetic and rebuilds the
    // runs with the gaps-and-islands window
    "m_silence" -> ((s, dir) => {
      val d = col("doc_id")
      val media = docs(s, dir).filter(pmod(d, lit(2)) === 1)
        .select(d.as("media_id"), unhex(plantedWavHex(d)).as("content"))
      Multimodal.silenceStats(media, 8192).toDF()
        .orderBy("media_id")}),

    // REAL perceptual image hashing under oracle: aHash (mean-threshold
    // bits, written as the integer cross-multiplication B·n > ΣB) and
    // dHash (horizontal-gradient bits) over the decoded blue channel of
    // the planted BMPs, plus dHash-group sizes — the content-level image
    // dedup byte hashing can't do. The oracle recomputes both bit
    // vectors in closed form from the construction, so a hash match
    // proves the decode-then-hash pipeline reads exactly the planted
    // pixels
    "m_phash" -> ((s, dir) => {
      val d = col("doc_id")
      val media = docs(s, dir).filter(pmod(d, lit(2)) === 0)
        .select(d.as("media_id"), unhex(plantedBmpHex(d)).as("content"))
      Multimodal.imageHashes(media).toDF()
        .withColumn("n_same",
          count(lit(1)).over(Window.partitionBy(col("dhash"))))
        .orderBy("media_id")}),

    // phash-banded image NEAR-DUP excision — the composition m_phash
    // computed parts for: decode the textured BMPs (even ids) plus their
    // planted perturbed copies (ids d+1 for d%20==0), resample to the
    // fixed 9×8 raster, 64-bit gradient dHash, band into 4×16-bit pieces
    // (pigeonhole ⇒ Hamming ≤3 always shares a piece), verify exact
    // Hamming, excise to the best (minimum-id) survivor. Planted truth:
    // seeds 256 apart are byte-identical images (exact clusters); the
    // d%40!=0 copies are Hamming-≤1 true near-dups; the d%40==0 copies
    // share piece 0 by construction but scatter ~dozens of bits — the
    // guaranteed candidates the verify step must reject. The oracle
    // recomputes every hash in closed form from the construction and
    // runs the pair join all-pairs — banding is plan-shape, not
    // semantics (PlanSpec pins no product on the Spark side)
    "m_phash_dedup" -> ((s, dir) => {
      val d = col("doc_id")
      val base = docs(s, dir).filter(pmod(d, lit(2)) === 0)
        .select(d.as("media_id"),
          unhex(plantedTexturedBmpHex(d, pert = 0)).as("content"))
      // the copies are phashDeltaMedia's one construction — shared with
      // the incr/streaming gates so the plants cannot drift apart
      val hashes = Multimodal.dhash64(
        base.unionByName(phashDeltaMedia(docs(s, dir)))).toDF()
      Multimodal.phashNearDupSurvivors(hashes).orderBy("media_id")}),

    // INCREMENTAL image near-dup: the daily-ingest form — a DELTA batch
    // of copies cleans against the persisted band-piece index of the
    // base corpus (the d_span_dedup_incr shape applied to image codes):
    // stateless banded candidate join + Hamming verify + per-delta
    // survivor mapping. Near copies excise to their base; far copies are
    // candidates the verify rejects (n_near = 0)
    "m_phash_incr" -> ((s, dir) =>
      Multimodal.phashNearDupAgainst(sharedPhashIndex(s, dir),
          Multimodal.dhash64(phashDeltaMedia(docs(s, dir))).toDF())
        .orderBy("media_id")),

    // STREAMING multimodal ingest decode: the m_resize pipeline with the
    // docs table arriving as a parquet micro-batch stream — the planted
    // BMPs build as a stateless projection, the imageio resize runs as the
    // same stateless mapPartitions batch decode, and the memory sink
    // drains in append mode (no state, no watermark — the media-ingest
    // deployment shape). Oracle = the m_resize closed form
    "s_stream_decode" -> ((s, dir) => {
      val d = col("doc_id")
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .filter(pmod(d, lit(2)) === 0)
        .select(d.as("media_id"), unhex(plantedBmpHex(d)).as("content"))
      val st = Multimodal.resizeImageStats(stream, 2).toDF()
      graft.streaming.EventStreams.runToMemory(st, "s_stream_decode_sink",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(8))
        .orderBy("media_id")}),

    // STREAMING decontamination at ingest: the stream-static LEFT ANTI
    // join form (no driver collect — the benchmark side re-plans per
    // micro-batch as a broadcast NLJ, stateless, append mode; the
    // scale-correct variant of the two in EventStreams). Benchmark =
    // src19, same as d_decontaminate; the gate pins the surviving doc
    // set, which is micro-batch-split-invariant because the filter is
    // per-row
    "s_stream_decontam" -> ((s, dir) => {
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .filter(col("source") =!= "src19")
      val bench = docs(s, dir).filter(col("source") === "src19")
      val surviving = graft.streaming.EventStreams
        .decontaminatedDocsJoin(stream, bench, "doc_id", "text")
        .select(col("doc_id"))
      graft.streaming.EventStreams.runToMemory(surviving,
        "s_stream_decontam_sink",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(8))
        .orderBy("doc_id")}),

    // STREAMING incremental span dedup: odd-id delta docs arrive as
    // micro-batches and clean against the even-id corpus's persisted
    // span-key index — a stateless stream-static EQUI join on the 8-byte
    // key plus one per-doc update-mode aggregation (no driver collect);
    // empty delta docs reattach from the static frame, sharing
    // d_span_dedup_incr's oracle verbatim
    "s_stream_span" -> ((s, dir) => {
      val odd = pmod(col("doc_id"), lit(2L)) === 1
      val idx = Dedup.spanKeyIndex(
        docs(s, dir).filter(pmod(col("doc_id"), lit(2L)) === 0),
        "doc_id", "text")
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .filter(pmod(col("doc_id"), lit(2L)) === 1)
      val cleaned = graft.streaming.EventStreams
        .spanDedupStream(stream, idx, "doc_id", "text")
      val drained = graft.streaming.EventStreams.runToMemory(cleaned,
        "s_stream_span_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      docs(s, dir).filter(odd).select(col("doc_id"))
        .join(drained, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0)).as("n_tokens"),
          coalesce(col("n_kept"), lit(0)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text"))
        .orderBy("doc_id")}),

    // STREAMING incremental MinHash dedup — the third leg of the
    // incremental ingest trilogy (span, phash, now minhash): the
    // top-fifth delta docs arrive as micro-batches and take their
    // near-dup verdict against the indexed corpus's PERSISTED banded
    // signature index (batch-side, checkpointed once — the static side
    // re-plans per micro-batch). Signature = stateless row-local fold,
    // band join = stateless stream-static equi, verify = zip_with
    // agreement at est_sim >= 0.5, ONE update-mode partner-set
    // aggregation. Post-drain the batch self stage
    // (minhashSelfSurvivors) dedups the surviving remainder among
    // itself, composing to EXACTLY incrementalSurvivors' verdict —
    // the gate shares d_dedup_incr's oracle verbatim
    "s_stream_minhash" -> ((s, dir) => {
      val d = docs(s, dir)
      val cutoff = d.agg(expr("(4 * max(doc_id)) div 5")).head.getLong(0)
      def sideSigs(cond: Column) = Dedup.minhashSignaturesFrom(
        sharedShingles(s, dir).filter(cond))
      val bandIdx = Dedup.minhashBandIndex(sideSigs(col("doc_id") < cutoff))
        .localCheckpoint(true)
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .filter(col("doc_id") >= cutoff)
      val hits = graft.streaming.EventStreams.minhashHitsStream(
        stream, bandIdx, "doc_id", "text")
      val drained = graft.streaming.EventStreams.runToMemory(hits,
        "s_stream_minhash_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      // the cross-hit verdict only needs MEMBERSHIP in the drained
      // output (a doc re-emits only with a grown partner set) — distinct
      // ids, never the arrays, leave the sink
      val fin = drained.select(col("doc_id").as("__hit")).distinct()
      val delta = d.filter(col("doc_id") >= cutoff)
      val remainder = delta.join(fin,
        delta("doc_id") === col("__hit"), "left_anti")
      Dedup.minhashSelfSurvivors(remainder, "doc_id",
          sideSigs(col("doc_id") >= cutoff))
        .select(col("doc_id")).orderBy("doc_id")}),

    // STREAMING boilerplate strip at ingest: micro-batches clean against
    // the corpus-derived per-source majority-line drop set (static side,
    // stateless equi join + one update-mode per-doc reassembly, no
    // driver collect) — shares d_boilerplate's planted text and oracle
    // verbatim, pinning stream == batch
    "s_stream_boilerplate" -> ((s, dir) => {
      def plant(df: org.apache.spark.sql.DataFrame) = {
        val q = floor(col("doc_id") / 20) % 10
        df.select(col("doc_id"), col("source"),
          concat(
            lit("(c) "), col("source"), lit(" all rights reserved\n"),
            col("text"),
            when(q < 6, lit("\nsubscribe to the newsletter")).otherwise(lit("")),
            when(q === 3, lit("\nrare promo line")).otherwise(lit(""))).as("text"))
      }
      // materialize the boilerplate-sized drop set ONCE: the static side
      // re-plans per micro-batch, and without the checkpoint each batch
      // re-runs the full corpus df aggregation (7.7s -> plan-sized)
      val dropSet = Dedup.boilerplateDropSet(plant(docs(s, dir)),
        "doc_id", "source", "text").localCheckpoint(true)
      val stream = plant(graft.streaming.EventStreams.readDocuments(s, dir))
      val cleaned = graft.streaming.EventStreams
        .boilerplateStripStream(stream, dropSet, "doc_id", "source", "text")
      graft.streaming.EventStreams.runToMemory(cleaned,
        "s_stream_boilerplate_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
        .orderBy("doc_id")}),

    // STREAMING composed cleaning pipeline at ingest — d_clean_e2e's
    // five stages with the docs arriving as micro-batches and exactly
    // ONE stateful operator. The corpus-derived statics (per-source
    // drop-set arrays, the quality percentile scalar, the duplicated
    // span-key set over the batch survivors) are computed once
    // batch-side and checkpointed; the strip and the Gopher panel run
    // as the PER-ROW stateless forms (boilerplateCleanRow /
    // gopherPanelRow — spec-pinned equal to their agg twins), scrub and
    // quality are row-local, and only the span stage's per-doc
    // reassembly aggregates (update mode). Cleaning against the
    // batch-derived DUP key set reproduces the self cross-doc dedup
    // bit-for-bit, so the gate shares d_clean_e2e's oracle verbatim
    "s_stream_clean" -> ((s, dir) => {
      val planted = cleanPlant(docs(s, dir))
      val dropSets = Dedup.boilerplateDropSets(planted,
        "doc_id", "source", "text").localCheckpoint(true)
      // batch replay of the stateless prefix (the cleanPipeline stage
      // chain, shared — not a second copy) derives the corpus statics
      val (bWithN, cutFrame) =
        Dedup.cleanQualityFrame(planted, "doc_id", "source", "text")
      // one-row corpus scalar (the documented bounded driver probe);
      // NULL on an all-dropped corpus — the null-propagating filter
      // then keeps nothing, exactly like the batch >= null comparison
      val cutRow = cutFrame.head()
      val cut = if (cutRow.isNullAt(0)) lit(null).cast("double")
        else lit(cutRow.getDouble(0))
      val bSurv = bWithN.filter(col("n_tok") >= cut)
        .select("doc_id", "text")
      val survIds = bSurv.select("doc_id").localCheckpoint(true)
      val dupKeys = Dedup.dupSpanKeySet(bSurv, "doc_id", "text")
        .localCheckpoint(true)
      // the stream: four stateless stages, then the one stateful span agg
      val stream0 = cleanPlant(
        graft.streaming.EventStreams.readDocuments(s, dir))
      val stripped = Dedup.boilerplateCleanRow(stream0, dropSets,
        "doc_id", "source", "text")
      val scrubbed = stripped.select(col("doc_id"),
        TextFunctions.scrubPii(col("text")).as("text"))
      val survivors = TextFunctions.gopherPanelRow(scrubbed, "text")
        .filter(col("keep"))
        .filter(tokenCount(col("text")) >= lit(cut))
        .select("doc_id", "text")
      val cleaned = graft.streaming.EventStreams
        .spanDedupStream(survivors, dupKeys, "doc_id", "text")
      val drained = graft.streaming.EventStreams.runToMemory(cleaned,
        "s_stream_clean_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      survIds.join(drained, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_tokens"), lit(0)).as("n_tokens"),
          coalesce(col("n_kept"), lit(0)).as("n_kept"),
          md5(coalesce(col("clean_text"), lit(""))).as("clean_fp"))
        .orderBy("doc_id")}),

    // STREAMING unigram-LM tokenization at ingest: the trained vocab is
    // corpus-static (session-shared); each arriving doc explodes to
    // word rows, the Viterbi DP runs as a STATELESS mapPartitions over
    // the broadcast score map, and ONE update-mode per-doc aggregation
    // sums words/pieces/log-likelihood (collapsed by max(struct) —
    // n_words only grows). Shares d_unigram_apply's oracle verbatim
    "s_stream_unigram" -> ((s, dir) => {
      val vocab = sharedUnigramVocab(s, dir)
      val words = graft.streaming.EventStreams.readDocuments(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
        .filter(length(col("word")) > 0)
      val stats = Collocations.unigramWordStats(words, vocab)
      val agg = stats.groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
          sum(col("ll")).as("ll_micro"))
      graft.streaming.EventStreams.runToMemory(agg,
        "s_stream_unigram_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
        .groupBy("doc_id")
        .agg(max(struct(col("n_words"), col("n_pieces"),
          col("ll_micro"))).as("m"))
        .select(col("doc_id"), col("m.n_words").as("n_words"),
          col("m.n_pieces").as("n_pieces"), col("m.ll_micro").as("ll_micro"))
        .orderBy("doc_id")}),

    // STREAMING image near-dup at ingest: the m_phash_incr pipeline
    // with the delta arriving as micro-batches — in-stream decode +
    // 9×8 dHash64 (stateless mapPartitions, the s_stream_decode
    // discipline), band-piece explode, stream-static equi join against
    // the checkpointed corpus index, Hamming verify, then ONE
    // update-mode per-media aggregation collecting the partner set
    // (collect_set dedups the per-piece candidate repeats — streaming
    // has no distinct aggregate). Drain collapses to the largest set
    // (sets only grow), zero-candidate media reattach from the static
    // id list. Shares m_phash_incr's oracle verbatim: stream == batch
    "s_stream_phash" -> ((s, dir) => {
      val delta = phashDeltaMedia(
        graft.streaming.EventStreams.readDocuments(s, dir))
      val cands = Multimodal.phashCandidatesAgainst(
        sharedPhashIndex(s, dir), Multimodal.dhash64(delta).toDF())
      val agg = cands.groupBy(col("media_id"))
        .agg(collect_set(col("partner")).as("ps"))
      val drained = graft.streaming.EventStreams.runToMemory(agg,
        "s_stream_phash_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      val fin = drained.groupBy("media_id")
        .agg(max(struct(size(col("ps")).as("n"), col("ps"))).as("m"))
        .select(col("media_id"), col("m.ps").as("ps"))
      phashDeltaMedia(docs(s, dir)).select(col("media_id"))
        .join(fin, Seq("media_id"), "left")
        .select(col("media_id"),
          when(col("ps").isNull || array_min(col("ps")) > col("media_id"),
            col("media_id")).otherwise(array_min(col("ps"))).as("keep_id"),
          coalesce(size(col("ps")), lit(0)).cast("long").as("n_near"))
        .orderBy("media_id")}),

    // STREAMING epoch-order emission: the training-order schedule
    // (bin packing + per-epoch hash-bucket positions) is corpus-static
    // by definition — computed once batch-side and checkpointed (the
    // s_stream_boilerplate static-side discipline); the doc stream then
    // looks up its pack and the pack's two epoch positions via two
    // STATELESS stream-static equi joins, and ONE update-mode
    // aggregation accumulates per-pack token totals. The drain
    // collapses to final state (max(struct) — totals strictly
    // increase; the s_stream_totals idiom) and the pack-sized global
    // checksums attach post-drain. Shares d_epoch_order's oracle
    // verbatim: stream == batch on positions, totals and checksums
    "s_stream_epoch" -> ((s, dir) => {
      val withLen = docs(s, dir).select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"))
      val assign = Sampling.seqPack(withLen, "doc_id", "n_tokens",
          ctxLen = 512, groups = 8)
        .select("doc_id", "pack_id").localCheckpoint(true)
      val bins = assign.select("pack_id").distinct()
      val pos = Sampling.epochOrder(bins, "pack_id", 1, "pos_e1")
        .join(Sampling.epochOrder(bins, "pack_id", 2, "pos_e2"), "pack_id")
        .localCheckpoint(true)
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .select(col("doc_id"), tokenCount(col("text")).as("n_tokens"))
        .join(assign, "doc_id")
        .join(pos, "pack_id")
      val agg = stream.groupBy(col("pack_id"), col("pos_e1"), col("pos_e2"))
        .agg(sum(col("n_tokens")).as("total_tokens"))
      val drained = graft.streaming.EventStreams.runToMemory(agg,
        "s_stream_epoch_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      val fin = drained.groupBy("pack_id")
        .agg(max(struct(col("total_tokens"), col("pos_e1"),
          col("pos_e2"))).as("m"))
        .select(col("pack_id"), col("m.total_tokens").as("total_tokens"),
          col("m.pos_e1").as("pos_e1"), col("m.pos_e2").as("pos_e2"))
      val wAll = Window.partitionBy(lit(1))
      fin
        .withColumn("chk1",
          sum(col("pos_e1") * col("total_tokens")).over(wAll))
        .withColumn("chk2",
          sum(col("pos_e2") * col("total_tokens")).over(wAll))
        .select("pack_id", "total_tokens", "pos_e1", "pos_e2",
          "chk1", "chk2")
        .orderBy("pack_id")}),

    // STREAMING Gopher repetition panel at ingest: the d_gopher_rep
    // quality gate as one tagged explode union + ONE update-mode per-doc
    // aggregation (no corpus state, no driver collect) — shares
    // d_gopher_rep's planted text and oracle verbatim, pinning
    // stream == batch on all four occupancy signals and the verdict
    "s_stream_gopher" -> ((s, dir) => {
      val q = pmod(col("doc_id"), lit(10))
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .select(col("doc_id"),
          concat(col("text"),
            when(q === 0, lit("\nrepeat me line\nrepeat me line" +
              "\nrepeat me line\nrepeat me line")).otherwise(lit("")),
            when(q === 1, lit(" badger badger badger badger badger" +
              " badger badger")).otherwise(lit("")),
            when(q === 2, lit(" one two three one two three one two three"))
              .otherwise(lit(""))).as("text"))
      val counts = graft.streaming.EventStreams
        .gopherGramCountsStream(stream, "doc_id", "text")
      val drained = graft.streaming.EventStreams.runToMemory(counts,
        "s_stream_gopher_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
      graft.streaming.EventStreams.gopherPanelOfCounts(drained)
        .orderBy("doc_id")}),

    // STREAMING blocklist filter at ingest: the d_blocklist wordlist as
    // a per-row stateless stream filter (append mode, no state) — the
    // cheapest place to kill blocked content is before it lands; gate
    // pins the surviving doc set against the batch verdict
    "s_stream_blocklist" -> ((s, dir) => {
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
      val txt = when(pmod(col("doc_id"), lit(41)) === 3,
          concat(col("text"), lit(" fraudword")))
        .when(pmod(col("doc_id"), lit(41)) === 7,
          concat(col("text"), lit(" spamword spamword")))
        .otherwise(col("text"))
      val blocked = array(lit("fraudword"), lit("spamword"), lit("scamword"))
      val surviving = stream
        .filter(!arrays_overlap(tokens(txt), blocked))
        .select(col("doc_id"))
      graft.streaming.EventStreams.runToMemory(surviving,
        "s_stream_blocklist_sink",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(8))
        .orderBy("doc_id")}),

    // STREAMING watermark-drop observability: a construction-planted
    // event-time lattice arrives as THREE parquet micro-batches
    // (maxFilesPerTrigger=1, mod-time ordered). Batch 1 — 100 rows at
    // hours 0..23 plus a clock row at hour 48 — raises the 2h watermark
    // to 46; batch 2 (one clock row at hour 49) makes the hour-0..45
    // windows EMIT AND EVICT under that watermark, then raises it to 47;
    // batch 3 replays hours 0..49 against the evicted state and its
    // h ≤ 45 rows are genuinely DROPPED (empirically pinned: Spark drops
    // a late row iff its window END < the watermark — the h = 46 row
    // with end == watermark is still accepted — and append mode emits a
    // window once its end ≤ watermark). Three batches matter: a late row
    // arriving in the SAME batch that finalizes its window still counts
    // (the two-batch version shows no drops at all), so drop
    // observability REQUIRES replaying against already-emitted windows.
    // Output is hour offsets from the epoch-fixed base, so no timezone
    // rides in the compare; the oracle derives drop + emission from the
    // construction in closed form — this row pins watermark-drop
    // semantics the way s_stream_tumbling pins window semantics.
    "s_stream_late" -> ((s, dir) => {
      val tmp = scratchDir("late", dir)
      val baseEpoch = 1767225600L // 2026-01-01T00:00:00Z, hour-aligned
      def lattice(n: Int, hExpr: String): org.apache.spark.sql.DataFrame =
        s.range(n).select(
          expr(s"timestamp_seconds($baseEpoch + ($hExpr) * 3600)").as("ts"))
      def plant(df: org.apache.spark.sql.DataFrame, name: String,
                mtime: Long): Unit = {
        val w = s"$tmp/_w_$name"
        df.coalesce(1).write.mode("overwrite").parquet(w)
        val part = new java.io.File(w).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$tmp/stream/$name")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(mtime); ()
      }
      val t0 = System.currentTimeMillis()
      plant(lattice(101, "CASE WHEN id = 100 THEN 48 ELSE id % 24 END"),
        "b1.parquet", t0 - 180000)
      plant(lattice(1, "49"), "b2.parquet", t0 - 120000)
      plant(lattice(50, "id % 50"), "b3.parquet", t0 - 60000)
      val src = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/stream")
      val agg = src.withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
        .select(((unix_timestamp(col("window.start")) - baseEpoch) / 3600)
          .cast("int").as("h"), col("n"))
      graft.streaming.EventStreams.runToMemory(agg, "s_stream_late_sink",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(8))
        .orderBy("h")}),

    // STREAMING sketch-state watermark EVICTION: the APPEND-mode
    // windowed-HLL twin of s_stream_whll over the s_stream_late lattice.
    // Update mode never drops late input (the pinned doctrine), so
    // s_stream_whll windows by event time but cannot demonstrate
    // eviction; append mode can. Batch 1 plants hour-windows 0..23 of
    // 'u' items + a clock row at h48 (watermark -> 46); batch 2's clock
    // row at h49 makes windows h <= 45 emit AND evict (wm -> 47); batch
    // 3 replays all 50 hours with NEW 'x' items — its h <= 45 rows are
    // genuinely dropped (those windows' register tables stay at their
    // batch-1 values), while its h = 46 row (window end == watermark) is
    // still accepted and that window emits carrying the x-item's
    // registers. Pins drop-iff-end<watermark for SKETCH state the way
    // s_stream_late pins it for counts; ONE stateful operator; the
    // oracle replays the construction's closed form through the md5
    // register family
    "s_stream_hll_late" -> ((s, dir) => {
      val tmp = scratchDir("hlllate", dir)
      val baseEpoch = 1767225600L // 2026-01-01T00:00:00Z, hour-aligned
      def lattice(n: Int, hExpr: String, itemExpr: String)
          : org.apache.spark.sql.DataFrame =
        s.range(n).select(
          expr(s"timestamp_seconds($baseEpoch + ($hExpr) * 3600)").as("ts"),
          expr(itemExpr).as("item"))
      def plant(df: org.apache.spark.sql.DataFrame, name: String,
                mtime: Long): Unit = {
        val w = s"$tmp/_w_$name"
        df.coalesce(1).write.mode("overwrite").parquet(w)
        val part = new java.io.File(w).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$tmp/stream/$name")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(mtime); ()
      }
      val t0 = System.currentTimeMillis()
      plant(lattice(101, "CASE WHEN id = 100 THEN 48 ELSE id % 24 END",
        "concat('u', id)"), "b1.parquet", t0 - 180000)
      plant(lattice(1, "49", "'u101'"), "b2.parquet", t0 - 120000)
      plant(lattice(50, "id % 50", "concat('x', id)"), "b3.parquet",
        t0 - 60000)
      val src = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("item",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/stream")
      val regs = graft.operators.Sketches.hllRhoRows(
          src.withWatermark("ts", "2 hours"), "item", carry = Seq("ts"))
        .groupBy(window(col("ts"), "1 hour"), col("register"))
        .agg(max(col("rho")).as("rho_max"))
        .select(((unix_timestamp(col("window.start")) - baseEpoch) / 3600)
          .cast("int").as("h"), col("register"), col("rho_max"))
      graft.streaming.EventStreams.runToMemory(regs, "s_stream_hll_late_sink",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(8))
        .orderBy("h", "register")}),

    // STREAMING ADDITIVE-sketch watermark eviction: the append-mode
    // windowed-CMS twin of s_stream_hll_late on the SAME lattice —
    // per-window count-min cells finalize when the watermark passes the
    // window end, and batch 3's replayed below-watermark rows are
    // genuinely dropped (emitted cells stay at their batch-1 counts,
    // where an admitted row would INCREMENT a cell — the additive law's
    // drop signature, stronger than max-merge HLL where a dropped
    // duplicate could be invisible). ONE stateful operator; closed-form
    // construction oracle through the CMS hash family
    "s_stream_cms_late" -> ((s, dir) => {
      val tmp = scratchDir("cmslate", dir)
      val baseEpoch = 1767225600L // 2026-01-01T00:00:00Z, hour-aligned
      def lattice(n: Int, hExpr: String, itemExpr: String)
          : org.apache.spark.sql.DataFrame =
        s.range(n).select(
          expr(s"timestamp_seconds($baseEpoch + ($hExpr) * 3600)").as("ts"),
          expr(itemExpr).as("item"))
      def plant(df: org.apache.spark.sql.DataFrame, name: String,
                mtime: Long): Unit = {
        val w = s"$tmp/_w_$name"
        df.coalesce(1).write.mode("overwrite").parquet(w)
        val part = new java.io.File(w).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$tmp/stream/$name")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(mtime); ()
      }
      val t0 = System.currentTimeMillis()
      plant(lattice(101, "CASE WHEN id = 100 THEN 48 ELSE id % 24 END",
        "concat('u', id)"), "b1.parquet", t0 - 180000)
      plant(lattice(1, "49", "'u101'"), "b2.parquet", t0 - 120000)
      plant(lattice(50, "id % 50", "concat('x', id)"), "b3.parquet",
        t0 - 60000)
      val src = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("item",
            org.apache.spark.sql.types.StringType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/stream")
      val cells = Sketches.cmsBucketRows(
          src.withWatermark("ts", "2 hours"), "item", carry = Seq("ts"))
        .groupBy(window(col("ts"), "1 hour"), col("r"), col("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .select(((unix_timestamp(col("window.start")) - baseEpoch) / 3600)
          .cast("int").as("h"), col("r"), col("bucket"), col("cnt"))
      graft.streaming.EventStreams.runToMemory(cells, "s_stream_cms_late_sink",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(8))
        .orderBy("h", "r", "bucket")}),

    // STREAMING dedup STATE-EVICTION observability:
    // dropDuplicatesWithinWatermark keeps per-key state only until the
    // watermark passes first-seen event time + delay — a duplicate
    // arriving after eviction is genuinely RE-ADMITTED (the bounded-state
    // contract: dedup is only guaranteed WITHIN the watermark). A planted
    // 3-batch lattice (maxFilesPerTrigger=1, mod-time ordered, 120-min
    // delay) pins all four behaviors: (A) re-admission after eviction,
    // (C) suppression while state lives — across batches and with a
    // DIFFERENT event time, (D) in-batch duplicate suppression, (E) a
    // never-seen key arriving below the watermark (late input).
    // Empirically pinned like s_stream_late; the oracle is the closed
    // form of the construction.
    "s_stream_dedup_wm" -> ((s, dir) => {
      val tmp = scratchDir("dedupwm", dir)
      val baseEpoch = 1767225600L // 2026-01-01T00:00:00Z
      def rows(kv: Seq[(String, Int)]): org.apache.spark.sql.DataFrame = {
        val sp = s; import sp.implicits._
        kv.toDF("k", "m").select(col("k"),
          expr(s"timestamp_seconds($baseEpoch + m * 60)").as("ts"))
      }
      def plant(df: org.apache.spark.sql.DataFrame, name: String,
                mtime: Long): Unit = {
        val w = s"$tmp/_w_$name"
        df.coalesce(1).write.mode("overwrite").parquet(w)
        val part = new java.io.File(w).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(s"$tmp/stream/$name")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(mtime); ()
      }
      val t0 = System.currentTimeMillis()
      // b1: first-seen A/B/C + clock to m600 -> watermark 480 after b1
      plant(rows(Seq("A" -> 0, "B" -> 60, "C" -> 540, "W1" -> 600)),
        "b1.parquet", t0 - 180000)
      // b2 (wm 480): A's state nominally expired (0+120<480) but eviction
      // runs at batch COMMIT with the one-batch-LAGGED watermark, so A is
      // STILL SUPPRESSED here (n_admitted(A)=1 — re-admission is only
      // observable one batch later, which B demonstrates in b3); C alive
      // (660>480) -> dup dropped; D+D in-batch pair -> one survives;
      // clock to 720
      plant(rows(Seq("A" -> 540, "C" -> 540, "D" -> 540, "D" -> 540,
          "W2" -> 720)), "b2.parquet", t0 - 120000)
      // b3 (wm 600): C STILL alive (660>600) even at a new event time ->
      // dropped; B expired (180<600) -> re-admit; E first-seen but BELOW
      // the watermark (300<600) -> late-input verdict pinned empirically
      plant(rows(Seq("C" -> 630, "B" -> 650, "E" -> 300)),
        "b3.parquet", t0 - 60000)
      val src = s.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType))))
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$tmp/stream")
      val dd = src.withWatermark("ts", "120 minutes")
        .dropDuplicatesWithinWatermark("k")
        .select(col("k"),
          (((unix_timestamp(col("ts")) - baseEpoch) / 60)).cast("int").as("m"))
      graft.streaming.EventStreams.runToMemory(dd, "s_stream_dedup_wm_sink",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(8))
        .groupBy("k").agg(count(lit(1)).cast("long").as("n_admitted"),
          min(col("m")).as("first_m"), max(col("m")).as("last_m"))
        .orderBy("k")}),

    // STREAMING audio ingest + VAD: m_silence's run-length silence scan
    // with the docs table arriving as parquet micro-batches — stateless
    // mapPartitions decode through the SAME operator object as batch,
    // append-mode drain; oracle shared verbatim with m_silence
    "s_stream_silence" -> ((s, dir) => {
      val d = col("doc_id")
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .filter(pmod(d, lit(2)) === 1)
        .select(d.as("media_id"), unhex(plantedWavHex(d)).as("content"))
      val st = Multimodal.silenceStats(stream, 8192).toDF()
      graft.streaming.EventStreams.runToMemory(st, "s_stream_silence_sink",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(8))
        .orderBy("media_id")}),

    // STREAMING video ingest: the m_video GVID walk with the docs table
    // arriving as parquet micro-batches — stateless mapPartitions frame
    // sampling through the SAME operator object as batch, append-mode
    // drain (the media-ingest deployment shape for video). Oracle =
    // the m_video closed form, shared verbatim
    "s_stream_video" -> ((s, dir) => {
      val d = col("doc_id")
      val nf = pmod(d, lit(4L)) + 2
      val frames = array_join(
        transform(sequence(lit(0L), nf - 1),
          j => concat(
            leHexC(lit(54L) + (pmod(d + j, lit(8L)) + 1) * 12, 4),
            plantedBmpHex(d + j))), "")
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .select(d.as("media_id"),
          unhex(concat(lit("47564944"), leHexC(nf, 2), frames)).as("content"))
      val st = Multimodal.videoFrameStats(stream, 2).toDF()
      graft.streaming.EventStreams.runToMemory(st, "s_stream_video_sink",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(8))
        .orderBy("media_id")}),

    // STREAMING CDC upsert: a seeded parquet target (even doc_ids,
    // original payload) receives the doc stream's change feed (every
    // 3rd id, payload rewritten) through the foreachBatch MERGE sink
    // with atomic directory swap. The audit row over the FINAL target
    // state — counts + order-free content checksum — matches the closed
    // form whatever the micro-batch split, because per-key changes are
    // unique in the feed and merges commute across batches
    "s_stream_cdc" -> ((s, dir) => {
      val tmpRoot = scratchDir("cdc", dir)
      val target = s"$tmpRoot/target"
      val d = col("doc_id")
      docs(s, dir).filter(pmod(d, lit(2)) === 0)
        .select(d.as("k"), col("text").as("payload"))
        .write.parquet(target)
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id").as("k"),
          concat(lit("v2:"), col("text")).as("payload"))
      graft.streaming.EventStreams.cdcMergeRun(stream, target, "k",
        "payload", s"$tmpRoot/ck")
      s.read.parquet(target).agg(
        count(lit(1)).as("n_result"),
        sum(when(pmod(col("k"), lit(2)) === 0 && pmod(col("k"), lit(3)) === 0,
          1L).otherwise(0L)).as("n_updated"),
        sum(when(pmod(col("k"), lit(2)) === 1, 1L).otherwise(0L))
          .as("n_inserted"),
        sum(TextFunctions.hash32(concat(col("k").cast("string"), lit(":"),
          col("payload")))).as("checksum"))}),

    // STREAMING heavy-hitter vocabulary: the built-in keyed streaming
    // aggregation (no window, no custom state) in UPDATE mode — token
    // counts re-emit as they grow; the drain keeps each token's max
    // (counts strictly increase), giving the final corpus-wide counts
    // whatever the micro-batch split. State is vocabulary-bounded — the
    // same bound as the batch groupBy; production swaps in windowed or
    // CMS state when the key space is open-ended. Oracle = the batch
    // top-30 token count
    "s_stream_hh" -> ((s, dir) => {
      val cnt = graft.streaming.EventStreams.readDocuments(s, dir)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))
      graft.streaming.EventStreams.runToMemory(cnt, "s_stream_hh_sink",
        org.apache.spark.sql.streaming.OutputMode.Update(),
        shufflePartitions = Some(8))
        .groupBy("token").agg(max(col("cnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(30)}),

    // STREAMING audio-ingest decode: the m_audio pipeline with the docs
    // table arriving as a parquet micro-batch stream — planted WAVs build
    // as a stateless projection, the RIFF walk + windowing run as the
    // same stateless mapPartitions batch decode, memory sink drains in
    // append mode (no state, no watermark). Oracle = the m_audio closed
    // form
    "s_stream_audio" -> ((s, dir) => {
      val d = col("doc_id")
      val stream = graft.streaming.EventStreams.readDocuments(s, dir)
        .filter(pmod(d, lit(2)) === 1)
        .select(d.as("media_id"), unhex(plantedWavHex(d)).as("content"))
      val st = Multimodal.pcmWindowFeatures(stream, 4).toDF()
      graft.streaming.EventStreams.runToMemory(st, "s_stream_audio_sink",
        org.apache.spark.sql.streaming.OutputMode.Append(),
        shufflePartitions = Some(8))
        .orderBy("media_id", "win_idx")}),

    // multimodal frame sampling under oracle: payloads are md5-derived
    // bytes of deterministic length (16 * (doc_id%5 + 1)); sampleFrames
    // takes every 7th byte, and the oracle re-derives those exact bytes by
    // character-slicing the same repeated md5 hex — a hash match proves
    // the byte-indexed frame extraction inverts the construction
    "m_frames" -> ((s, dir) => {
      val reps = pmod(col("doc_id"), lit(5)) + 1
      val media = docs(s, dir).select(
        col("doc_id").as("media_id"),
        lit("video").as("modality"),
        unhex(expr(
          "repeat(md5(cast(doc_id as string)), cast(pmod(doc_id, 5) + 1 as int))"))
          .as("content"),
        struct(lit(null).cast("int").as("width"),
          lit(null).cast("int").as("height"),
          lit(null).cast("int").as("sample_rate"),
          lit(null).cast("long").as("duration_ms"),
          (lit(16L) * reps).as("n_bytes")).as("meta"))
      Multimodal.sampleFrames(media, 7)
        .select(col("media_id"),
          size(col("frames")).as("n_frames"),
          array_join(transform(col("frames"), f => hex(f)), "").as("frames_hex"))
        .orderBy("media_id")})
  )

  private val docsT = "documents"

  private lazy val hllRegistersOracleSql: String =
    s"""WITH hitems AS (
       |  SELECT unnest(${tokensSql("text")}) AS item FROM $docsT
       |), ${Sketches.hllRegistersSql("hitems")}
       |SELECT register, rho_max FROM hfull ORDER BY register""".stripMargin

  private lazy val dedupIncrOracleSql: String =
    s"""WITH cut AS (SELECT (4 * max(doc_id)) // 5 AS c FROM $docsT),
         |cand AS (
         |  SELECT * FROM (${Dedup.minhashCandidatesSql(docsT, "doc_id", "text")})
         |), xhit AS (
         |  SELECT DISTINCT b AS key FROM cand, cut
         |  WHERE a < c AND b >= c AND est_sim >= 0.5
         |), rem AS (
         |  SELECT doc_id FROM $docsT, cut WHERE doc_id >= c
         |    AND doc_id NOT IN (SELECT key FROM xhit)
         |), internal AS (
         |  SELECT a, b FROM cand, cut WHERE a >= c AND est_sim >= 0.5
         |    AND a IN (SELECT doc_id FROM rem) AND b IN (SELECT doc_id FROM rem)
         |), ud AS (
         |  SELECT a AS s, b AS t FROM internal UNION SELECT b, a FROM internal
         |), dn AS (
         |  SELECT DISTINCT s AS key FROM ud
         |), rch AS (
         |  WITH RECURSIVE reach(key, label) AS (
         |    SELECT key, key FROM dn
         |    UNION
         |    SELECT e.t, r.label FROM reach r JOIN ud e ON e.s = r.key
         |  ) SELECT key, min(label) AS keep FROM reach GROUP BY key
         |)
         |SELECT doc_id FROM rem
         |WHERE doc_id NOT IN (SELECT key FROM rch WHERE keep <> key)
         |ORDER BY doc_id""".stripMargin

  /** Shared by d_clean_e2e and its streaming twin s_stream_clean. */
  private lazy val cleanE2eOracleSql: String =
    Dedup.cleanPipelineSql(docsT, "doc_id", "source",
      "'(c) ' || source || ' all rights reserved' || chr(10) || text" +
        " || (CASE WHEN (doc_id // 20) % 10 < 6" +
        " THEN chr(10) || 'subscribe to the newsletter' ELSE '' END)" +
        " || (CASE WHEN (doc_id // 20) % 10 = 3" +
        " THEN chr(10) || 'rare promo line' ELSE '' END)" +
        " || (CASE WHEN doc_id % 10 = 0 THEN chr(10) || 'repeat me line'" +
        " || chr(10) || 'repeat me line' || chr(10) || 'repeat me line'" +
        " || chr(10) || 'repeat me line' ELSE '' END)" +
        " || (CASE WHEN doc_id % 10 = 1 THEN" +
        " ' badger badger badger badger badger badger badger'" +
        " ELSE '' END)" +
        " || (CASE WHEN doc_id % 10 = 2 THEN" +
        " ' one two three one two three one two three' ELSE '' END)" +
        " || (CASE WHEN doc_id % 10 = 4 THEN chr(10) || 'contact user'" +
        " || CAST(doc_id AS VARCHAR) || '@example.com for details'" +
        " ELSE '' END)")

  /** Shared by d_epoch_order and its streaming twin s_stream_epoch. */
  private lazy val epochOrderOracleSql: String =
    s"""WITH pk AS (
       |${Sampling.seqPackSql(docsT, "doc_id", tokenCountSql("text"), 512, 8)}
       |), bins AS (
       |  SELECT pack_id, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       |  FROM pk GROUP BY 1
       |), ${Sampling.epochOrderSql("bins", "pack_id", 1, "x1")},
       |${Sampling.epochOrderSql("bins", "pack_id", 2, "x2")}
       |SELECT b.pack_id, b.total_tokens,
       |  o1.pos AS pos_e1, o2.pos AS pos_e2,
       |  CAST(sum(o1.pos * b.total_tokens) OVER () AS BIGINT) AS chk1,
       |  CAST(sum(o2.pos * b.total_tokens) OVER () AS BIGINT) AS chk2
       |FROM bins b JOIN x1out o1 ON o1.key = b.pack_id
       |JOIN x2out o2 ON o2.key = b.pack_id
       |ORDER BY b.pack_id""".stripMargin

  /** kNN-clustering CTEs (10% subsample, top-3 cosine edges, symmetrized,
    * recursive CC to min-id labels + sizes) — shared by the e_knn_cluster
    * and d_cluster_topics oracles, mirroring the session-shared Spark
    * build. */
  private val knnClusterCte: String =
    """WITH c AS (
      |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      |  FROM embeddings WHERE vec_id % 10 = 0
      |), nn AS (
      |  SELECT query_id AS a, vec_id AS b FROM (
      |    SELECT q.id AS query_id, c.id AS vec_id,
      |      row_number() OVER (PARTITION BY q.id
      |        ORDER BY round(list_cosine_similarity(q.vec, c.vec), 4) DESC, c.id) AS rnk
      |    FROM c q JOIN c ON c.id <> q.id)
      |  WHERE rnk <= 3
      |), ud AS (
      |  SELECT a AS s, b AS t FROM nn UNION SELECT b, a FROM nn
      |), dn AS (
      |  SELECT DISTINCT s AS key FROM ud
      |), rch AS (
      |  WITH RECURSIVE reach(key, label) AS (
      |    SELECT key, key FROM dn
      |    UNION
      |    SELECT e.t, r.label FROM reach r JOIN ud e ON e.s = r.key
      |  ) SELECT key, min(label) AS cluster FROM reach GROUP BY key
      |), sz AS (
      |  SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
      |  FROM rch GROUP BY 1
      |)""".stripMargin

  /** m_video closed-form replay, shared verbatim by the batch (m_video)
    * and streaming (s_stream_video) paths — both walk identical planted
    * GVID containers through the same operator object. */
  private val mVideoSql: String =
    """WITH vb AS (
      |  SELECT doc_id, doc_id % 4 + 2 AS nf FROM documents
      |), vs AS (
      |  SELECT doc_id, nf,
      |    list_filter(generate_series(0, nf - 1), j -> j % 2 = 0) AS sj
      |  FROM vb
      |)
      |SELECT doc_id AS media_id,
      |  CAST(nf AS INT) AS n_frames,
      |  CAST(len(sj) AS INT) AS n_sampled,
      |  CAST(list_aggregate(list_transform(sj,
      |    j -> 4 * ((doc_id + j) % 8 + 1)), 'sum') AS BIGINT) AS px_total,
      |  CAST(list_aggregate(list_transform(sj,
      |    j -> 4 * ((doc_id + j) % 8 + 1) * ((doc_id + j) * 13 % 256)), 'sum')
      |    AS BIGINT) AS sum_r,
      |  CAST(list_aggregate(list_transform(sj,
      |    j -> 4 * ((doc_id + j) % 8 + 1) * ((doc_id + j) * 7 % 256)), 'sum')
      |    AS BIGINT) AS sum_g,
      |  CAST(list_aggregate(list_transform(sj,
      |    j -> list_aggregate(list_transform(
      |      generate_series(0, 4 * ((doc_id + j) % 8 + 1) - 1),
      |      p -> (doc_id + j + p) % 256), 'sum')), 'sum') AS BIGINT) AS sum_b
      |FROM vs ORDER BY media_id""".stripMargin

  /** m_audio closed-form replay, shared verbatim by the batch (m_audio)
    * and streaming (s_stream_audio) paths — both decode the identical
    * planted WAVs through the same operator object. */
  /** m_silence / s_stream_silence shared oracle: planted-sample replay +
    * gaps-and-islands run rebuild. */
  private val mSilenceSql: String =
    s"""WITH msdocs AS (
       |  SELECT doc_id AS media_id, doc_id % 16 + 2 AS n
       |  FROM $docsT WHERE doc_id % 2 = 1
       |), msil AS (
       |  SELECT media_id, n, k.range AS k,
       |    CASE WHEN abs(CASE WHEN (media_id * 31 + k.range * 997) % 65536 >= 32768
       |                       THEN (media_id * 31 + k.range * 997) % 65536 - 65536
       |                       ELSE (media_id * 31 + k.range * 997) % 65536 END) <= 8192
       |         THEN 1 ELSE 0 END AS silent
       |  FROM msdocs, range(0, 18) k WHERE k.range < n
       |), mruns AS (
       |  SELECT media_id,
       |    k - row_number() OVER (PARTITION BY media_id ORDER BY k) AS grp
       |  FROM msil WHERE silent = 1
       |), mbest AS (
       |  SELECT media_id, CAST(max(cnt) AS INT) AS longest_run FROM (
       |    SELECT media_id, grp, count(*) AS cnt FROM mruns GROUP BY 1, 2)
       |  GROUP BY media_id
       |), mlead AS (
       |  SELECT media_id, CAST(max(n) AS INT) AS n_samples,
       |    CAST(sum(silent) AS INT) AS n_silent,
       |    CAST(coalesce(min(CASE WHEN silent = 0 THEN k END), max(n)) AS INT)
       |      AS lead_silent
       |  FROM msil GROUP BY media_id
       |)
       |SELECT l.media_id, l.n_samples, l.n_silent,
       |  CAST(coalesce(b.longest_run, 0) AS INT) AS longest_run, l.lead_silent
       |FROM mlead l LEFT JOIN mbest b ON b.media_id = l.media_id
       |ORDER BY l.media_id""".stripMargin

  /** m_audio_dup construction-inverting oracle: replays every planted
    * window feature closed-form from the (q = d + s, j) seed arithmetic,
    * rebuilds the per-segment fingerprint string identically, and runs
    * the same fingerprint-grouped partner census. */
  private lazy val mAudioDupSql: String = {
    // signed PCM-16 sample j of the segment seeded q
    def sv(j: String) =
      s"(CASE WHEN (q * 31 + ($j) * 997) % 65536 < 32768 " +
        s"THEN (q * 31 + ($j) * 997) % 65536 " +
        s"ELSE (q * 31 + ($j) * 997) % 65536 - 65536 END)"
    s"""WITH adocs AS (
       |  SELECT doc_id AS d, doc_id % 3 + 2 AS ns FROM $docsT
       |), asegs AS (
       |  SELECT d, s.range AS s, d + s.range AS q
       |  FROM adocs, range(0, 4) s WHERE s.range < ns
       |), afeat AS (
       |  SELECT d, s, w.range AS wi,
       |    CAST(list_aggregate(list_transform(
       |      generate_series(w.range * 4, w.range * 4 + 3),
       |      j -> abs(${sv("j")})), 'sum') AS BIGINT) AS sum_abs,
       |    CAST(list_aggregate(list_transform(
       |      generate_series(w.range * 4 + 1, w.range * 4 + 3),
       |      j -> CASE WHEN (${sv("j - 1")} >= 0) <> (${sv("j")} >= 0)
       |           THEN 1 ELSE 0 END), 'sum') AS BIGINT) AS n_zc
       |  FROM asegs, range(0, 2) w
       |), asig AS MATERIALIZED (
       |  SELECT d, s, string_agg(CAST(sum_abs AS VARCHAR) || ':' ||
       |    CAST(n_zc AS VARCHAR), '|' ORDER BY wi) AS sig
       |  FROM afeat GROUP BY d, s
       |), aprs AS (
       |  SELECT a.d AS d, a.s AS s, b.d AS partner
       |  FROM asig a JOIN asig b ON b.sig = a.sig AND b.d <> a.d
       |), aper AS (
       |  SELECT d, CAST(count(DISTINCT s) AS BIGINT) AS n_dup_segs,
       |    CAST(count(DISTINCT partner) AS BIGINT) AS n_partners,
       |    min(partner) AS minp
       |  FROM aprs GROUP BY d
       |)
       |SELECT b.d AS media_id, CAST(b.ns AS BIGINT) AS n_segs,
       |  CAST(coalesce(p.n_dup_segs, 0) AS BIGINT) AS n_dup_segs,
       |  CAST(coalesce(p.n_partners, 0) AS BIGINT) AS n_partners,
       |  CAST(CASE WHEN p.minp IS NULL OR p.minp > b.d THEN b.d
       |       ELSE p.minp END AS BIGINT) AS keep_id
       |FROM adocs b LEFT JOIN aper p ON p.d = b.d
       |ORDER BY media_id""".stripMargin
  }

  private val mAudioSql: String =
    """WITH base AS (
      |  SELECT doc_id AS d, doc_id % 16 + 2 AS n FROM documents
      |  WHERE doc_id % 2 = 1
      |), w AS (
      |  SELECT d, n, unnest(generate_series(0, (n - 1) // 4)) AS wi FROM base
      |), f AS (
      |  SELECT d, wi,
      |    list_transform(generate_series(wi * 4, least(wi * 4 + 3, n - 1)),
      |      k -> CASE WHEN (d * 31 + k * 997) % 65536 < 32768
      |                THEN (d * 31 + k * 997) % 65536
      |                ELSE (d * 31 + k * 997) % 65536 - 65536 END) AS smp
      |  FROM w
      |)
      |SELECT d AS media_id, CAST(wi AS INT) AS win_idx,
      |  CAST(len(smp) AS BIGINT) AS n_win,
      |  CAST(list_aggregate(list_transform(smp, x -> abs(x)), 'sum')
      |    AS BIGINT) AS sum_abs,
      |  CAST(coalesce(list_aggregate(
      |    list_transform(generate_series(1, len(smp) - 1),
      |      j -> CASE WHEN (smp[j] >= 0) <> (smp[j + 1] >= 0)
      |           THEN 1 ELSE 0 END), 'sum'), 0) AS BIGINT) AS n_zc
      |FROM f ORDER BY media_id, win_idx""".stripMargin

  /** The two retrieval oracles, factored so d_rrf can nest them verbatim
    * as subqueries (DuckDB allows a full WITH inside a derived table). */
  private lazy val searchOracleSql =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS token FROM $docsT
       |), qt AS (
       |  SELECT doc_id, token FROM tok
       |  WHERE token IN ('spark', 'query', 'vector')
       |), nn AS (SELECT count(*) AS n FROM $docsT),
       |idf AS (
       |  SELECT token,
       |    CAST(round(ln(CAST(n AS DOUBLE) / df) * 1000000) AS BIGINT)
       |      AS idf_micro
       |  FROM (SELECT token, count(DISTINCT doc_id) AS df FROM qt
       |        GROUP BY token), nn
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM qt GROUP BY 1, 2
       |)
       |SELECT doc_id, CAST(SUM(tf * idf_micro) AS BIGINT) AS score_micro
       |FROM tf JOIN idf USING (token)
       |GROUP BY doc_id ORDER BY score_micro DESC, doc_id LIMIT 50""".stripMargin

  private lazy val bm25OracleSql =
    s"""WITH dlt AS (
       |  SELECT doc_id, ${tokenCountSql("text")} AS dl FROM $docsT
       |), st AS (
       |  SELECT CAST(sum(dl) AS DOUBLE) AS sum_dl,
       |    CAST(count(*) AS DOUBLE) AS n FROM dlt
       |), tok AS (
       |  SELECT doc_id, unnest(${tokensSql("text")}) AS token FROM $docsT
       |), qt AS (
       |  SELECT doc_id, token FROM tok
       |  WHERE token IN ('spark', 'query', 'vector')
       |), idf AS (
       |  SELECT token,
       |    CAST(round(ln(1.0 + (st.n - df + 0.5) / (df + 0.5)) * 1000000) AS BIGINT)
       |      AS idf_micro
       |  FROM (SELECT token, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
       |        FROM qt GROUP BY token), st
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM qt GROUP BY 1, 2
       |), terms AS (
       |  SELECT tf.doc_id,
       |    CAST(floor(idf_micro * (tf * CAST(2.2 AS DOUBLE)) /
       |      (tf + CAST(1.2 AS DOUBLE) * (CAST(0.25 AS DOUBLE) +
       |        CAST(0.75 AS DOUBLE) * dl / (sum_dl / n)))) AS BIGINT)
       |      AS term_micro
       |  FROM tf JOIN idf USING (token) JOIN dlt ON dlt.doc_id = tf.doc_id, st
       |)
       |SELECT doc_id, CAST(SUM(term_micro) AS BIGINT) AS score_micro
       |FROM terms GROUP BY doc_id
       |ORDER BY score_micro DESC, doc_id LIMIT 50""".stripMargin

  /** The shared LSH signature replay (md5-derived hyperplanes, sign-bit
    * signatures) — prefix of [[lshReplayCtes]] and the e_cross_lsh band
    * join, which needs signatures but not the query-side multi-probe. */
  private val lshSigCtes: String =
    s"""WITH c AS (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings
       |), dims AS (
       |  SELECT len(vec) AS dim FROM c LIMIT 1
       |), planes AS (
       |  SELECT t, b, list(comp ORDER BY j) AS plane FROM (
       |    SELECT t.range AS t, b.range AS b, jj.j AS j,
       |      ((CAST('0x' || substring(md5('plane_' || t.range || '_' || b.range || '_' || jj.j), 1, 8) AS BIGINT) & 2147483647) / 2147483647.0) - 0.5 AS comp
       |    FROM range(${Similarity.LshTables}) t, range(${Similarity.LshBitsPerTable}) b,
       |      (SELECT unnest(generate_series(0, dim - 1)) AS j FROM dims) jj)
       |  GROUP BY t, b
       |), sig AS (
       |  SELECT c.id, p.t AS tbl,
       |    CAST(sum(CASE WHEN list_dot_product(c.vec, p.plane) >= 0 THEN (1 << CAST(p.b AS INT)) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM c, planes p GROUP BY c.id, p.t
       |)""".stripMargin

  /** The LSH index replay (md5-derived hyperplanes, sign-bit signatures,
    * 1-bit multi-probe, distinct candidates) shared by the e_ann_lsh full
    * retrieval and the e_ann_recall grade — one CTE prefix, two gates. */
  private val lshReplayCtes: String =
    s"""$lshSigCtes, probes AS (
       |  SELECT id AS query_id, tbl, bucket FROM sig WHERE id < 5
       |  UNION ALL
       |  SELECT id, tbl, xor(bucket, CAST(1 << CAST(f.range AS INT) AS BIGINT))
       |  FROM sig, range(${Similarity.LshBitsPerTable}) f WHERE id < 5
       |), cand AS (
       |  SELECT DISTINCT p.query_id, s.id AS vec_id
       |  FROM sig s JOIN probes p ON s.tbl = p.tbl AND s.bucket = p.bucket
       |  WHERE s.id <> p.query_id
       |)""".stripMargin

  /** Shared verbatim by d_sampled_pct (batch sketch) and
    * s_stream_quantile (streaming histogram-state drain): the two forms
    * are bit-identical by construction, so one oracle gates both. */
  private lazy val sampledPctOracle: String =
    s"""WITH pvals AS (
       |  SELECT doc_id AS k, ${tokenCountSql("text")} AS v FROM $docsT
       |), ${Sketches.sampledQuantilesSql("pvals", 0.125, Seq(250, 500, 750, 900))}""".stripMargin

  val oracles: Map[String, String] = Map(
    "d_token_count" ->
      s"""SELECT doc_id, ${tokenCountSql("text")} AS n_tokens,
         |CAST(length(text) AS INT) AS len_chars
         |FROM $docsT ORDER BY doc_id""".stripMargin,

    "d_fingerprint" ->
      s"""SELECT doc_id, ${fingerprintSql("text")} AS fp
         |FROM $docsT ORDER BY doc_id""".stripMargin,

    "d_quality" -> {
      val toks = tokensSql("text")
      val ntok = tokenCountSql("text")
      s"""SELECT doc_id,
         |CAST(length(text) AS INT) AS n_chars,
         |$ntok AS n_tokens,
         |CAST(${punctCountSql("text")} AS INT) AS n_punct,
         |CAST(${stopwordCountSql(toks)} AS INT) AS n_stopwords,
         |round(CAST(${stopwordCountSql(toks)} AS DOUBLE) / greatest($ntok, 1), 4) AS stopword_ratio,
         |round(CAST(length(text) AS DOUBLE) / greatest($ntok, 1), 4) AS avg_token_span
         |FROM $docsT ORDER BY doc_id""".stripMargin
    },

    "d_langid" ->
      s"""SELECT doc_id, ${TextFunctions.langIdSql("text")} AS pred_lang
         |FROM $docsT ORDER BY doc_id""".stripMargin,

    "d_repetition" -> {
      val bg = TextFunctions.bigramsSql("text")
      s"""WITH b AS (
         |  SELECT doc_id, $bg AS bg FROM $docsT
         |)
         |SELECT doc_id,
         |CAST(len(bg) AS INT) AS n_bigrams,
         |CAST(len(list_distinct(bg)) AS INT) AS n_distinct
         |FROM b ORDER BY doc_id""".stripMargin
    },

    "d_dedup_exact" ->
      s"""SELECT ${fingerprintSql("text")} AS fp, min(doc_id) AS keep_id,
         |count(*) AS n_copies
         |FROM $docsT GROUP BY 1 ORDER BY fp""".stripMargin,

    "d_minhash_lsh" -> Dedup.minhashCandidatesSql(docsT, "doc_id", "text"),

    "d_contrastive" ->
      s"""WITH cpo AS (
         |  SELECT a, b FROM (${Dedup.minhashCandidatesSql(docsT, "doc_id", "text")})
         |  WHERE est_sim >= 0.5
         |), crk AS (
         |  SELECT doc_id, CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS rk
         |  FROM $docsT
         |), ccn AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM $docsT
         |), cng AS (
         |  SELECT p.a, r.doc_id AS b, 0 AS label, CAST(k.k AS INT) AS neg_k
         |  FROM cpo p
         |  CROSS JOIN (SELECT unnest(generate_series(1, 2)) AS k) k
         |  CROSS JOIN ccn
         |  JOIN crk r ON r.rk =
         |    ${graft.functions.TextFunctions.hash60Sql(
                "CAST(p.a AS VARCHAR) || '|' || CAST(p.b AS VARCHAR)" +
                " || '|' || CAST(k.k AS VARCHAR) || '|cneg'")} % ccn.n
         |)
         |SELECT a, b, 1 AS label, 0 AS neg_k FROM cpo
         |UNION ALL
         |SELECT a, b, label, neg_k FROM cng
         |ORDER BY a, b, label, neg_k""".stripMargin,

    // per-doc signatures are split-independent: same CTEs, parity pair
    // predicate
    "d_cross_minhash" -> Dedup.minhashCandidatesSql(docsT, "doc_id", "text",
      "x.doc_id % 2 = 0 AND y.doc_id % 2 = 1"),

    "d_simhash" -> Dedup.simhashSignaturesSql(docsT, "doc_id", "text"),

    "d_ngram_jaccard" -> Dedup.ngramJaccardPairsSql(docsT, "doc_id", "text", 0.3),

    "d_winnow" -> Dedup.winnowFingerprintsSql(docsT, "doc_id", "text"),

    "d_span_dedup" -> Dedup.spanDedupSql(docsT, "doc_id", "text"),

    "d_span_dedup_doc" -> Dedup.spanDedupWithinSql(docsT, "doc_id", "text"),

    "d_span_dedup_w50" -> Dedup.spanDedupSql(docsT, "doc_id",
      """CASE WHEN doc_id % 3 = 0 THEN text || ' ' ||
        |  array_to_string(list_transform(generate_series(0, 95),
        |    j -> md5(CAST(doc_id % 5 AS VARCHAR) || '_' || CAST(j AS VARCHAR))), ' ')
        |ELSE text END""".stripMargin, w = 50),

    "d_span_dedup_incr" -> Dedup.spanDedupAgainstSql(docsT, "doc_id", "text",
      "doc_id % 2 = 0", "doc_id % 2 = 1"),

    "d_span_runs" -> Dedup.spanDupRunsSql(docsT, "doc_id", "text"),

    "d_span_dup_frac" -> Dedup.spanDupFractionSql(docsT, "doc_id", "text"),

    // the streaming ingest form reproduces the corpus self fractions
    // bit-for-bit (cleans against the batch-derived dup key set)
    "s_stream_span_frac" -> Dedup.spanDupFractionSql(docsT, "doc_id", "text"),

    // the streaming delta form shares the batch incremental oracle
    "s_stream_span" -> Dedup.spanDedupAgainstSql(docsT, "doc_id", "text",
      "doc_id % 2 = 0", "doc_id % 2 = 1"),

    "d_winnow_pairs" -> Dedup.winnowMatchPairsSql(docsT, "doc_id", "text"),

    "d_quality_flags" -> {
      val ntok = tokenCountSql("text")
      val toks = tokensSql("text")
      val bg = TextFunctions.bigramsSql("text")
      s"""WITH base AS (
         |  SELECT doc_id,
         |    $ntok AS n_tokens,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS INT) AS n_letter_chars,
         |    CAST(${punctCountSql("text")} AS INT) AS n_punct,
         |    CAST(${stopwordCountSql(toks)} AS INT) AS n_stop,
         |    CAST(len($bg) AS INT) AS n_bigrams,
         |    CAST(len(list_distinct($bg)) AS INT) AS n_distinct
         |  FROM $docsT
         |)
         |SELECT doc_id,
         |  (n_tokens >= 15 AND n_tokens <= 100000) AS len_ok,
         |  (n_letter_chars * 10 >= n_tokens * 38 AND n_letter_chars * 10 <= n_tokens * 48) AS word_len_ok,
         |  (n_punct * 10 <= n_tokens * 3) AS symbol_ok,
         |  (n_stop >= 2) AS stopwords_ok,
         |  ((n_bigrams - n_distinct) * 20 <= n_bigrams) AS repetition_ok,
         |  ((n_tokens >= 15 AND n_tokens <= 100000)
         |   AND (n_letter_chars * 10 >= n_tokens * 38 AND n_letter_chars * 10 <= n_tokens * 48)
         |   AND (n_punct * 10 <= n_tokens * 3)
         |   AND (n_stop >= 2)
         |   AND ((n_bigrams - n_distinct) * 20 <= n_bigrams)) AS keep
         |FROM base ORDER BY doc_id""".stripMargin
    },

    "d_line_dedup" -> Dedup.lineDedupSql(docsT, "doc_id",
      "text || chr(10) || 'visit us at ' || source || ' dot example'"),

    // stream == batch: the streaming panel shares the batch twin verbatim
    "s_stream_gopher" -> TextFunctions.gopherRepetitionStatsSql(docsT,
      "doc_id",
      "text" +
        " || (CASE WHEN doc_id % 10 = 0 THEN chr(10) || 'repeat me line'" +
        " || chr(10) || 'repeat me line' || chr(10) || 'repeat me line'" +
        " || chr(10) || 'repeat me line' ELSE '' END)" +
        " || (CASE WHEN doc_id % 10 = 1 THEN" +
        " ' badger badger badger badger badger badger badger'" +
        " ELSE '' END)" +
        " || (CASE WHEN doc_id % 10 = 2 THEN" +
        " ' one two three one two three one two three' ELSE '' END)"),

    "d_gopher_rep" -> TextFunctions.gopherRepetitionStatsSql(docsT, "doc_id",
      "text" +
        " || (CASE WHEN doc_id % 10 = 0 THEN chr(10) || 'repeat me line'" +
        " || chr(10) || 'repeat me line' || chr(10) || 'repeat me line'" +
        " || chr(10) || 'repeat me line' ELSE '' END)" +
        " || (CASE WHEN doc_id % 10 = 1 THEN" +
        " ' badger badger badger badger badger badger badger'" +
        " ELSE '' END)" +
        " || (CASE WHEN doc_id % 10 = 2 THEN" +
        " ' one two three one two three one two three' ELSE '' END)"),

    "d_boilerplate" -> Dedup.boilerplateStripSql(docsT, "doc_id", "source",
      "'(c) ' || source || ' all rights reserved' || chr(10) || text" +
        " || (CASE WHEN (doc_id // 20) % 10 < 6" +
        " THEN chr(10) || 'subscribe to the newsletter' ELSE '' END)" +
        " || (CASE WHEN (doc_id // 20) % 10 = 3" +
        " THEN chr(10) || 'rare promo line' ELSE '' END)"),

    // every stage's gated twin nested verbatim, composed in the
    // documented order over the unioned plant; shared with the
    // streaming ingest twin (stream == batch)
    "d_clean_e2e" -> cleanE2eOracleSql,
    "s_stream_clean" -> cleanE2eOracleSql,

    // stream == batch: the streaming strip shares the batch twin verbatim
    "s_stream_boilerplate" -> Dedup.boilerplateStripSql(docsT, "doc_id",
      "source",
      "'(c) ' || source || ' all rights reserved' || chr(10) || text" +
        " || (CASE WHEN (doc_id // 20) % 10 < 6" +
        " THEN chr(10) || 'subscribe to the newsletter' ELSE '' END)" +
        " || (CASE WHEN (doc_id // 20) % 10 = 3" +
        " THEN chr(10) || 'rare promo line' ELSE '' END)"),

    "d_decontaminate" -> Dedup.contaminationReportSql(docsT, "doc_id", "text",
      "source <> 'src19'", "source = 'src19'"),

    // the surviving set of the streaming anti-join decontamination ==
    // the batch report's uncontaminated docs (the filter is per-row, so
    // the micro-batch split cannot change the verdict)
    "s_stream_decontam" ->
      s"""SELECT doc_id FROM (
         |${Dedup.contaminationReportSql(docsT, "doc_id", "text",
              "source <> 'src19'", "source = 'src19'")}
         |) WHERE NOT contaminated ORDER BY doc_id""".stripMargin,

    "d_dupfrac" -> Dedup.dupShingleCoverageSql(docsT, "doc_id", "text"),

    "d_vocab_curve" ->
      s"""WITH tok AS (
         |  SELECT unnest(${tokensSql("text")}) AS token FROM $docsT
         |), counts AS (
         |  SELECT token, count(*) AS n FROM tok GROUP BY token
         |), ranked AS (
         |  SELECT token, n,
         |    row_number() OVER (ORDER BY n DESC, token) AS rk
         |  FROM counts
         |), tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
         |SELECT s.vocab_size, CAST(sum(r.n) AS BIGINT) AS covered,
         |  CAST((1000 * sum(r.n)) // total AS BIGINT) AS covered_milli
         |FROM (SELECT CAST(unnest([100, 500, 1000, 5000]) AS INT) AS vocab_size) s
         |JOIN ranked r ON r.rk <= s.vocab_size CROSS JOIN tot
         |GROUP BY s.vocab_size, tot.total
         |ORDER BY vocab_size""".stripMargin,

    "d_substring" -> Dedup.substringContaminationSql(docsT, "doc_id",
      """CASE WHEN source = 'src19' OR doc_id % 7 = 0
        |     THEN text || '|' || repeat(md5(CAST(doc_id % 5 AS VARCHAR)), 3)
        |     ELSE text END""".stripMargin,
      "source <> 'src19'", "source = 'src19'"),

    "e_quantize" -> Similarity.quantizeInt8Sql("embeddings"),

    // full replay of the binary-quantization index: sign packing into
    // two 32-bit halves, XOR+popcount Hamming scan, micro-cosine rerank,
    // recall vs the exact top-10
    "e_ann_binary" ->
      """WITH eb AS (
        |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
        |), ebn AS (
        |  SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM eb
        |), ebc AS (
        |  SELECT id, vec, nrm,
        |    CAST(list_sum(list_transform(generate_series(0, 31),
        |      j -> CASE WHEN vec[j + 1] >= 0 THEN (CAST(1 AS BIGINT) << j)
        |           ELSE 0 END)) AS BIGINT) AS blo,
        |    CAST(list_sum(list_transform(generate_series(32, 63),
        |      j -> CASE WHEN vec[j + 1] >= 0 THEN (CAST(1 AS BIGINT) << (j - 32))
        |           ELSE 0 END)) AS BIGINT) AS bhi
        |  FROM ebn
        |), ebh AS (
        |  SELECT q.id AS query_id, c.id AS vec_id,
        |    CAST(bit_count(xor(c.blo, q.blo)) + bit_count(xor(c.bhi, q.bhi)) AS INT) AS hamming,
        |    c.vec AS cvec, c.nrm AS cnrm, q.vec AS qvec, q.nrm AS qnrm
        |  FROM ebc c JOIN ebc q ON q.id < 30 AND c.id <> q.id
        |), ebs AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (
        |    PARTITION BY query_id ORDER BY hamming, vec_id) AS hrn FROM ebh)
        |  WHERE hrn <= 32
        |), ebr AS (
        |  SELECT query_id, vec_id, hamming,
        |    CAST(floor(1000000 * (list_dot_product(qvec, cvec) / (qnrm * cnrm))) AS BIGINT) AS cos_micro
        |  FROM ebs
        |), ebt AS (
        |  SELECT * FROM (SELECT query_id, vec_id, hamming, cos_micro,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_micro DESC, vec_id) AS rank FROM ebr)
        |  WHERE rank <= 10
        |), ebx AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.id AS query_id, c.id AS vec_id,
        |      row_number() OVER (PARTITION BY q.id ORDER BY
        |        floor(1000000 * (list_dot_product(q.vec, c.vec) / (q.nrm * c.nrm))) DESC,
        |        c.id) AS rk
        |    FROM ebn c JOIN ebn q ON q.id < 30 AND c.id <> q.id)
        |  WHERE rk <= 10
        |), ebhit AS (
        |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM ebt t JOIN ebx x ON x.query_id = t.query_id AND x.vec_id = t.vec_id
        |  GROUP BY 1
        |)
        |SELECT t.query_id, t.vec_id, t.hamming, t.cos_micro,
        |  CAST(t.rank AS INT) AS rank, coalesce(h.n_hits, 0) AS n_hits
        |FROM ebt t LEFT JOIN ebhit h ON h.query_id = t.query_id
        |ORDER BY t.query_id, t.rank""".stripMargin,

    "e_centroid" ->
      (Similarity.int8GroupCentroidsSql("embeddings", "label") +
        "\nORDER BY grp, dim"),

    "e_kmeans_step" -> Similarity.int8LloydStepSql("embeddings", 8),

    "e_kmeans_churn" -> Similarity.int8LloydChurnSql("embeddings", 8),

    "s_stream_kmeans" -> Similarity.int8LloydAssignCountsSql("embeddings", 8),

    // per-label floor-micro norm envelope off the exact sqrt∘dot tree
    "e_vec_stats" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
        |    label
        |  FROM embeddings
        |), nm AS (
        |  SELECT label,
        |    CAST(floor(1000000 * sqrt(list_dot_product(vec, vec))) AS BIGINT)
        |      AS norm_micro
        |  FROM c
        |)
        |SELECT label, CAST(count(*) AS BIGINT) AS n,
        |  min(norm_micro) AS min_norm_micro,
        |  max(norm_micro) AS max_norm_micro,
        |  CAST(sum(norm_micro) // count(*) AS BIGINT) AS mean_norm_micro
        |FROM nm GROUP BY label ORDER BY label""".stripMargin,

    // streaming decode drains append-mode micro-batches of the same
    // stateless resize — the oracle is the identical m_resize closed form
    "s_stream_decode" ->
      """WITH base AS (
        |  SELECT doc_id AS media_id, doc_id % 8 + 1 AS h,
        |    (doc_id % 8 + 2) // 2 AS oh,
        |    (doc_id * 7) % 256 AS g0, (doc_id * 13) % 256 AS r0
        |  FROM documents WHERE doc_id % 2 = 0
        |)
        |SELECT media_id, CAST(2 AS INT) AS out_w, CAST(oh AS INT) AS out_h,
        |  CAST(r0 * 2 * oh AS BIGINT) AS sum_r,
        |  CAST(g0 * 2 * oh AS BIGINT) AS sum_g,
        |  CAST(list_aggregate(list_transform(generate_series(0, oh - 1),
        |    j -> (media_id + (h - 1 - 2*j) * 4) % 256
        |       + (media_id + (h - 1 - 2*j) * 4 + 2) % 256), 'sum') AS BIGINT)
        |    AS sum_b
        |FROM base ORDER BY media_id""".stripMargin,

    // the e_outlier quantize CTEs, integer centering, exact Gram, and the
    // 4 power rounds unrolled — matvecs are integer sums, renormalization
    // is the same cast/divide/multiply/floor tree Spark runs
    "e_pca" -> {
      val rounds = (1 to 4).map { r =>
        val p = r - 1
        s"""w$r AS (
           |  SELECT g.i, CAST(sum(g.g * v.v) AS BIGINT) AS w
           |  FROM gram g JOIN v$p v ON g.j = v.dim GROUP BY 1
           |), m$r AS (
           |  SELECT max(abs(w)) AS m FROM w$r
           |), v$r AS (
           |  SELECT i AS dim,
           |    CAST(floor(1000000.0 * (CAST(w AS DOUBLE) / CAST(m AS DOUBLE)))
           |      AS BIGINT) AS v
           |  FROM w$r, m$r
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH el AS (
         |  SELECT id, s['i'] AS i, CAST(s['v'] AS DOUBLE) AS v FROM (
         |    SELECT vec_id AS id, unnest(list_transform(
         |      generate_series(1, len(embedding)),
         |      i -> {'i': i - 1, 'v': embedding[i]})) AS s
         |    FROM embeddings)
         |), stats AS (
         |  SELECT i, min(v) AS mn, max(v) AS mx FROM el GROUP BY i
         |), q AS (
         |  SELECT id, i,
         |    CASE WHEN mx = mn THEN 0
         |         ELSE CAST(least(floor((v - mn) * 255.0 / (mx - mn)), 255) AS INT)
         |    END AS q
         |  FROM el JOIN stats USING (i)
         |), ctr AS (
         |  SELECT i, CAST(sum(q) AS BIGINT) // count(*) AS c FROM q GROUP BY 1
         |), z AS (
         |  SELECT q.id, q.i, q.q - ctr.c AS z FROM q JOIN ctr USING (i)
         |), gram AS (
         |  SELECT a.i, b.i AS j, CAST(sum(a.z * b.z) AS BIGINT) AS g
         |  FROM z a JOIN z b ON a.id = b.id GROUP BY 1, 2
         |), v0 AS (
         |  SELECT DISTINCT j AS dim, CAST(1000000 AS BIGINT) AS v FROM gram
         |),
         |$rounds
         |SELECT CAST(dim AS INT) AS dim, v AS v_micro
         |FROM v4 ORDER BY dim""".stripMargin
    },

    // the e_outlier quantize CTEs, then per-vector integer L1
    // against the own-label milli-centroid and the quantile_cont p95 cut
    "e_outlier" ->
      """WITH el AS (
        |  SELECT id, grp, s['i'] AS i, CAST(s['v'] AS DOUBLE) AS v FROM (
        |    SELECT vec_id AS id, label AS grp, unnest(list_transform(
        |      generate_series(1, len(embedding)),
        |      i -> {'i': i - 1, 'v': embedding[i]})) AS s
        |    FROM embeddings)
        |), stats AS (
        |  SELECT i, min(v) AS mn, max(v) AS mx FROM el GROUP BY i
        |), q AS (
        |  SELECT id, grp, i,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE CAST(least(floor((v - mn) * 255.0 / (mx - mn)), 255) AS INT)
        |    END AS q
        |  FROM el JOIN stats USING (i)
        |), cent AS (
        |  SELECT grp, i,
        |    (1000 * CAST(sum(q) AS BIGINT)) // count(*) AS mean_milli
        |  FROM q GROUP BY 1, 2
        |), sc AS (
        |  SELECT q.id, q.grp,
        |    CAST(sum(abs(1000 * q.q - c.mean_milli)) AS BIGINT) AS l1_milli
        |  FROM q JOIN cent c ON c.grp = q.grp AND c.i = q.i
        |  GROUP BY 1, 2
        |), cut AS (
        |  SELECT quantile_cont(l1_milli, 0.95) AS p95 FROM sc
        |)
        |SELECT id, grp, l1_milli, l1_milli >= p95 AS outlier
        |FROM sc, cut ORDER BY id""".stripMargin,

    // ground truth is the planted-header arithmetic, NOT a reimplementation
    // of the parser — the hash match proves parse(build(x)) == x
    "m_probe" ->
      s"""SELECT doc_id AS media_id,
         |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image/png'
         |       WHEN 1 THEN 'image/bmp' ELSE 'audio/wav' END AS detected,
         |  CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(doc_id % 999 + 1 AS INT) END AS probed_width,
         |  CASE WHEN doc_id % 3 IN (0, 1) THEN CAST(doc_id % 499 + 1 AS INT) END AS probed_height,
         |  CASE WHEN doc_id % 3 = 2 THEN CAST(doc_id % 40000 + 8000 AS INT) END AS probed_sample_rate,
         |  CASE WHEN doc_id % 3 = 2 THEN CAST(((doc_id % 100000) * 2 * 1000)
         |    // ((doc_id % 40000 + 8000) * 2) AS BIGINT) END AS probed_duration_ms
         |FROM $docsT ORDER BY media_id""".stripMargin,

    // the JPEG encoder preserves the planted BMP geometry exactly; the
    // oracle computes it in closed form from doc_id (w fixed at 4,
    // h = doc_id%8+1, 3 components) — a hash match proves
    // sofWalk(encode(decode(build(x)))) reads the true frame header
    "m_jpeg" ->
      s"""SELECT doc_id AS media_id, CAST(1 AS INT) AS soi_ok,
         |  CAST(4 AS INT) AS width, CAST(doc_id % 8 + 1 AS INT) AS height,
         |  CAST(3 AS INT) AS n_components
         |FROM $docsT ORDER BY media_id""".stripMargin,

    // JPEG pixel-decode verdict rows: geometry closed-form from doc_id;
    // the drift verdicts are 1 for EVERY row because the payload family
    // is finite (doc_id mod 256) and the per-class maxima under the
    // deterministic JDK codec are measured below the gate's 6/3/15
    // bounds — so the oracle predicts the full verdict row exactly
    "m_jpeg_stats" ->
      s"""SELECT doc_id AS media_id, 'image/jpeg' AS kind,
         |  CAST(4 AS INT) AS width, CAST(doc_id % 8 + 1 AS INT) AS height,
         |  CAST((doc_id % 8 + 1) * 4 AS BIGINT) AS n_pixels,
         |  CAST(1 AS INT) AS drift_ok_r, CAST(1 AS INT) AS drift_ok_g,
         |  CAST(1 AS INT) AS drift_ok_b
         |FROM $docsT ORDER BY media_id""".stripMargin,

    "d_pack" ->
      s"""WITH pk AS (
         |${Sampling.seqPackSql(docsT, "doc_id", tokenCountSql("text"), 512, 8)}
         |)
         |SELECT pack_id, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
         |FROM pk GROUP BY 1 ORDER BY 1""".stripMargin,

    "d_curriculum" ->
      s"""WITH csp AS (
         |  SELECT doc_id, mean_micro
         |  FROM (${TextFunctions.surprisalStatsSql(docsT, "doc_id", "text")}) t
         |), ccut AS (
         |  SELECT quantile_cont(mean_micro, 1.0/3) AS p33,
         |         quantile_cont(mean_micro, 2.0/3) AS p66 FROM csp
         |), cbd AS (
         |  SELECT doc_id, CASE WHEN mean_micro < p33 THEN 1
         |                      WHEN mean_micro < p66 THEN 2
         |                      ELSE 3 END AS band
         |  FROM csp CROSS JOIN ccut
         |), ${Sampling.curriculumOrderSql("cbd", "doc_id", "band", 1, "cu")}
         |SELECT key AS doc_id, band, pos AS cur_pos
         |FROM cuout ORDER BY doc_id""".stripMargin,

    "d_pack_text" ->
      s"""WITH pm AS (
         |${Sampling.seqPackSql(docsT, "doc_id", tokenCountSql("text"), 512, 8)}
         |), ${Sampling.packMaterializeSql(docsT, "doc_id", "text", "pm", 512)}
         |SELECT pack_id, n_docs, CAST(len(pt) AS BIGINT) AS raw_tokens,
         |  CAST(greatest(len(pt) - 512, 0) AS BIGINT) AS n_overflow,
         |  array_to_string(pt[1:512], ' ') AS packed_text
         |FROM pma ORDER BY pack_id""".stripMargin,

    "d_epoch_order" -> epochOrderOracleSql,

    // stream == batch: the streaming schedule shares the batch twin
    "s_stream_epoch" -> epochOrderOracleSql,

    "d_readability" ->
      TextFunctions.readabilityStatsSql(docsT, "doc_id", "text"),

    "d_surprisal" -> TextFunctions.surprisalStatsSql(docsT, "doc_id", "text"),

    "d_token_entropy" ->
      s"""${TextFunctions.tokenEntropySql(docsT, "doc_id", "text")}
         |ORDER BY doc_id""".stripMargin,

    "d_ccnet_buckets" ->
      s"""WITH sp AS (
         |  SELECT doc_id, n_tokens, mean_micro
         |  FROM (${TextFunctions.surprisalStatsSql(docsT, "doc_id", "text")}) t
         |), cut AS (
         |  SELECT quantile_cont(mean_micro, 1.0/3) AS p33,
         |         quantile_cont(mean_micro, 2.0/3) AS p66 FROM sp
         |)
         |SELECT CASE WHEN mean_micro < p33 THEN 'head'
         |            WHEN mean_micro < p66 THEN 'middle'
         |            ELSE 'tail' END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(min(mean_micro) AS BIGINT) AS min_micro,
         |  CAST(max(mean_micro) AS BIGINT) AS max_micro,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM sp CROSS JOIN cut GROUP BY 1 ORDER BY bucket""".stripMargin,

    "d_bigram_lm" -> TextFunctions.bigramSurprisalStatsSql(docsT, "doc_id", "text"),

    "d_heavy_hitters" -> Sketches.cmsHeavyHittersSql(docsT, tokensSql("text"), 50),

    "d_bloom" -> Sketches.bloomContaminationSql(docsT, fingerprintSql("text"),
      (0 to 9).map("src" + _).mkString("source IN ('", "', '", "')"),
      (0 to 9).map("src" + _).mkString("source NOT IN ('", "', '", "')")),

    "d_hll" -> hllRegistersOracleSql,

    // streaming register maintenance is cell-identical to the batch
    // sketch — shared verbatim
    "s_stream_hll" -> hllRegistersOracleSql,

    "s_stream_cms" ->
      s"""WITH citems AS (
         |  SELECT unnest(${tokensSql("text")}) AS item FROM $docsT
         |), ${Sketches.cmsBuildSql("citems", "c")}
         |SELECT r, bucket, cnt FROM csk ORDER BY r, bucket""".stripMargin,

    // grouped registers + the absent-registers-as-2^55 estimate fold,
    // the same float tree as hllEstimateSql, per source
    "d_hll_by_source" ->
      s"""WITH gtok AS (
         |  SELECT source, unnest(${tokensSql("text")}) AS item FROM $docsT
         |), gpre AS (
         |  SELECT source, CAST(h % 64 AS INT) AS register, h // 64 AS v FROM (
         |    SELECT source, ${graft.functions.TextFunctions.hash60Sql("item")} AS h
         |    FROM gtok)
         |), gregs AS (
         |  SELECT source, register,
         |    max(CASE WHEN v = 0 THEN 55 ELSE 55 - length(bin(v)) END) AS rho_max
         |  FROM gpre GROUP BY source, register
         |), gsp AS (
         |  SELECT source,
         |    CAST(sum(1::BIGINT << (55 - rho_max))
         |      + (64 - count(*)) * (1::BIGINT << 55) AS BIGINT) AS s_pow
         |  FROM gregs GROUP BY source
         |), gest AS (
         |  SELECT source,
         |    CAST(floor(CAST(${Sketches.HllAlpha} AS DOUBLE) * CAST(4096.0 AS DOUBLE)
         |        * CAST(36028797018963968.0 AS DOUBLE)
         |      / CAST(s_pow AS DOUBLE)) AS BIGINT) AS est
         |  FROM gsp
         |), gex AS (
         |  SELECT source, CAST(count(DISTINCT item) AS BIGINT) AS exact
         |  FROM gtok GROUP BY source
         |)
         |SELECT gex.source, gex.exact, gest.est,
         |  CAST((1000 * abs(gest.est - gex.exact)) // gex.exact AS BIGINT) AS err_milli
         |FROM gex JOIN gest ON gest.source = gex.source
         |ORDER BY gex.source""".stripMargin,

    "d_cms_merge" ->
      s"""WITH ce_items AS (
         |  SELECT unnest(${tokensSql("text")}) AS item FROM $docsT WHERE doc_id % 2 = 0
         |), co_items AS (
         |  SELECT unnest(${tokensSql("text")}) AS item FROM $docsT WHERE doc_id % 2 <> 0
         |), ca_items AS (
         |  SELECT unnest(${tokensSql("text")}) AS item FROM $docsT
         |), ${Sketches.cmsBuildSql("ce_items", "ce")},
         |${Sketches.cmsBuildSql("co_items", "co")},
         |${Sketches.cmsBuildSql("ca_items", "ca")}
         |SELECT f.r, f.bucket,
         |  CAST(coalesce(e.cnt, 0) AS BIGINT) AS cnt_even,
         |  CAST(coalesce(o.cnt, 0) AS BIGINT) AS cnt_odd,
         |  CAST(coalesce(e.cnt, 0) + coalesce(o.cnt, 0) AS BIGINT) AS cnt_merged,
         |  f.cnt AS cnt_full
         |FROM cask f
         |LEFT JOIN cesk e ON e.r = f.r AND e.bucket = f.bucket
         |LEFT JOIN cosk o ON o.r = f.r AND o.bucket = f.bucket
         |ORDER BY f.r, f.bucket""".stripMargin,

    "d_hll_intersect" -> {
      def est(src: String): String =
        s"""CAST(floor(CAST(${Sketches.HllAlpha} AS DOUBLE)
           |    * CAST(4096.0 AS DOUBLE) * CAST(36028797018963968.0 AS DOUBLE)
           |    / CAST((SELECT CAST(sum(1::BIGINT << (55 - rho_max)) AS BIGINT)
           |            FROM $src) AS DOUBLE)) AS BIGINT)""".stripMargin
      s"""WITH ia_items AS (
         |  SELECT unnest(${tokensSql(
              "text || ' evenonly' || CAST(doc_id % 5 AS VARCHAR)")}) AS item
         |  FROM $docsT WHERE doc_id % 2 = 0
         |), ib_items AS (
         |  SELECT unnest(${tokensSql(
              "text || ' oddonly' || CAST(doc_id % 7 AS VARCHAR)")}) AS item
         |  FROM $docsT WHERE doc_id % 2 <> 0
         |), ${Sketches.hllRegistersSql("ia_items", "ia")},
         |${Sketches.hllRegistersSql("ib_items", "ib")},
         |im AS (
         |  SELECT a.register, greatest(a.rho_max, b.rho_max) AS rho_max
         |  FROM iafull a JOIN ibfull b ON a.register = b.register
         |), ests AS (
         |  SELECT ${est("iafull")} AS est_a, ${est("ibfull")} AS est_b,
         |    ${est("im")} AS est_union
         |), exa AS (
         |  SELECT CAST(count(DISTINCT item) AS BIGINT) AS exact_a
         |  FROM ia_items
         |), exb AS (
         |  SELECT CAST(count(DISTINCT item) AS BIGINT) AS exact_b
         |  FROM ib_items
         |), exi AS (
         |  SELECT CAST(count(*) AS BIGINT) AS exact_intersect
         |  FROM (SELECT DISTINCT item FROM ia_items) x
         |  JOIN (SELECT DISTINCT item FROM ib_items) y ON x.item = y.item
         |)
         |SELECT est_a, est_b, est_union,
         |  est_a + est_b - est_union AS est_intersect,
         |  exact_a, exact_b, exact_intersect
         |FROM ests, exa, exb, exi""".stripMargin
    },

    "d_hll_merge" ->
      s"""WITH he_items AS (
         |  SELECT unnest(${tokensSql("text")}) AS item FROM $docsT WHERE doc_id % 2 = 0
         |), ho_items AS (
         |  SELECT unnest(${tokensSql("text")}) AS item FROM $docsT WHERE doc_id % 2 <> 0
         |), ha_items AS (
         |  SELECT unnest(${tokensSql("text")}) AS item FROM $docsT
         |), ${Sketches.hllRegistersSql("he_items", "he")},
         |${Sketches.hllRegistersSql("ho_items", "ho")},
         |${Sketches.hllRegistersSql("ha_items", "ha")}
         |SELECT he.register, he.rho_max AS rho_even, ho.rho_max AS rho_odd,
         |  greatest(he.rho_max, ho.rho_max) AS rho_merged,
         |  ha.rho_max AS rho_full
         |FROM hefull he JOIN hofull ho ON ho.register = he.register
         |JOIN hafull ha ON ha.register = he.register
         |ORDER BY he.register""".stripMargin,

    "d_nfc_dedup" ->
      s"""WITH nv AS (
         |  SELECT doc_id,
         |    'caf' || CASE WHEN doc_id % 3 = 0 THEN chr(233)
         |                  WHEN doc_id % 3 = 1 THEN 'e' || chr(769)
         |                  ELSE 'e' END
         |          || '_' || CAST(doc_id // 3 AS VARCHAR) AS raw
         |  FROM $docsT
         |)
         |SELECT nfc_normalize(raw) AS norm,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count(DISTINCT raw) AS BIGINT) AS n_raw,
         |  CAST(min(doc_id) AS BIGINT) AS survivor_id
         |FROM nv GROUP BY 1 ORDER BY norm""".stripMargin,

    "d_spearman" ->
      s"""WITH spb AS (
         |  SELECT doc_id, n_tokens, mean_micro
         |  FROM (${TextFunctions.surprisalStatsSql(docsT, "doc_id", "text")})
         |), sp1 AS (
         |  SELECT doc_id, n_tokens AS sa FROM spb
         |), sp2 AS (
         |  SELECT doc_id, mean_micro AS sb FROM spb
         |), spr AS (
         |  SELECT row_number() OVER (ORDER BY sa DESC, doc_id) AS ra,
         |         row_number() OVER (ORDER BY sb DESC, doc_id) AS rb
         |  FROM sp1 JOIN sp2 USING (doc_id)
         |), sps AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(ra) AS BIGINT) AS sx, CAST(sum(rb) AS BIGINT) AS sy,
         |    CAST(sum(ra * rb) AS BIGINT) AS sxy,
         |    CAST(sum(ra * ra) AS BIGINT) AS sxx,
         |    CAST(sum(rb * rb) AS BIGINT) AS syy
         |  FROM spr
         |)
         |SELECT n, CAST(floor(1000000.0 *
         |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |  sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |     * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
         |  AS BIGINT) AS rho_micro
         |FROM sps""".stripMargin,

    "d_ndcg" ->
      s"""WITH n10 AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score_micro DESC, doc_id)
         |    AS rank
         |  FROM ($searchOracleSql)
         |  QUALIFY rank <= 10
         |), nrel AS (
         |  SELECT doc_id, CAST(len(list_filter(
         |    ${tokensSql("text")}, t -> t = 'vector')) AS BIGINT) AS rel
         |  FROM $docsT
         |), ng AS (
         |  SELECT s.rank, r.rel,
         |    CAST(round(1000000 * r.rel / log2(s.rank + 1)) AS BIGINT) AS dterm
         |  FROM n10 s JOIN nrel r USING (doc_id)
         |), ni AS (
         |  SELECT CAST(round(1000000 * rel / log2(irank + 1)) AS BIGINT) AS iterm
         |  FROM (SELECT rel, row_number() OVER (ORDER BY rel DESC, rank) AS irank
         |        FROM ng)
         |)
         |SELECT (SELECT CAST(count(*) AS BIGINT) FROM ng) AS n_eval,
         |  CAST(1000000 AS BIGINT)
         |    // (SELECT CAST(min(rank) AS BIGINT) FROM ng WHERE rel > 0)
         |    AS mrr_micro,
         |  (SELECT CAST(sum(dterm) AS BIGINT) FROM ng) AS dcg_micro,
         |  (SELECT CAST(sum(iterm) AS BIGINT) FROM ni) AS idcg_micro,
         |  (1000 * (SELECT CAST(sum(dterm) AS BIGINT) FROM ng))
         |    // (SELECT CAST(sum(iterm) AS BIGINT) FROM ni) AS ndcg_milli""".stripMargin,

    // evolution-read replay: the merged table's content equals the source
    // split by parity; the new column exists only on odd keys
    "q_schema_evolution" ->
      """SELECT o_orderkey % 2 AS parity, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_status,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |FROM orders GROUP BY 1 ORDER BY parity""".stripMargin,

    "d_export_roundtrip" ->
      s"""SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_jsonl,
         |  CAST(sum(${tokenCountSql("text")}) AS BIGINT) AS tok_jsonl,
         |  CAST(count(*) AS BIGINT) AS n_parq,
         |  CAST(sum(${tokenCountSql("text")}) AS BIGINT) AS tok_parq,
         |  CAST(count(*) AS BIGINT) AS n_orc,
         |  CAST(sum(${tokenCountSql("text")}) AS BIGINT) AS tok_orc
         |FROM $docsT GROUP BY source ORDER BY source""".stripMargin,

    "d_export_dynamic" ->
      s"""WITH dfin AS (
         |  SELECT doc_id, source FROM $docsT
         |  WHERE NOT (source IN ('src0', 'src1') AND (doc_id // 20) % 2 = 1)
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_result,
         |  CAST(sum(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_in_rewritten,
         |  CAST(sum(${TextFunctions.hash32Sql(
              "CAST(doc_id AS VARCHAR) || ':' || source")}) AS BIGINT)
         |    AS checksum
         |FROM dfin""".stripMargin,

    "d_export_csv" ->
      s"""SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_csv,
         |  CAST(sum(${tokenCountSql("text")}) AS BIGINT) AS tok_csv,
         |  CAST(sum(${TextFunctions.hash32Sql(
              "CAST(doc_id AS VARCHAR) || ':' || text")}) AS BIGINT)
         |    AS content_sum
         |FROM $docsT GROUP BY source ORDER BY source""".stripMargin,

    "d_corpus_card" ->
      s"""WITH cb AS (
         |  SELECT doc_id, source, text, ${tokenCountSql("text")} AS n_tok,
         |    ${fingerprintSql("text")} AS fp,
         |    (length(text) = strlen(text)) AS is_ascii
         |  FROM $docsT
         |), cent AS (
         |  SELECT CAST(sum(ns * (CAST(round(ln(nd) * 1000000.0) AS BIGINT)
         |           - CAST(round(ln(ns) * 1000000.0) AS BIGINT))) AS BIGINT)
         |         // any_value(nd) AS src_entropy_micro
         |  FROM (SELECT source, CAST(count(*) AS BIGINT) AS ns,
         |          (SELECT CAST(count(*) AS BIGINT) FROM cb) AS nd
         |        FROM cb GROUP BY source)
         |), cvoc AS (
         |  SELECT CAST(count(DISTINCT t) AS BIGINT) AS vocab FROM (
         |    SELECT unnest(${tokensSql("text")}) AS t FROM $docsT)
         |), cagg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct_fp,
         |    CAST(sum(CASE WHEN is_ascii THEN 1 ELSE 0 END) AS BIGINT) AS n_ascii,
         |    quantile_cont(n_tok, CAST(5 AS DOUBLE) / 10) AS median_tokens
         |  FROM cb
         |)
         |SELECT a.n_docs, a.n_tokens, v.vocab,
         |  (1000 * (a.n_docs - a.n_distinct_fp)) // a.n_docs AS dup_rate_milli,
         |  (1000 * a.n_tokens) // a.n_docs AS mean_tokens_milli,
         |  a.median_tokens,
         |  (1000 * a.n_ascii) // a.n_docs AS ascii_milli,
         |  e.src_entropy_micro
         |FROM cagg a, cvoc v, cent e""".stripMargin,

    "d_distmatch" ->
      s"""WITH mb AS (
         |  SELECT doc_id, ${tokenCountSql("text")} AS n FROM $docsT
         |), mc AS (
         |  SELECT quantile_cont(n, 0.5) AS cut FROM mb
         |), mbk AS (
         |  SELECT doc_id, n,
         |    CASE WHEN n = 0 THEN -1 ELSE CAST(floor(log2(n)) AS INT) END AS bucket,
         |    (doc_id % 3 = 0 AND n >= (SELECT cut FROM mc)) AS is_ref
         |  FROM mb
         |), mrates AS (
         |  SELECT coalesce(r.bucket, c.bucket) AS bucket,
         |    CAST(coalesce(r.n_ref, 0) AS BIGINT) AS n_ref,
         |    CAST(coalesce(c.n_cand, 0) AS BIGINT) AS n_cand,
         |    CASE WHEN coalesce(c.n_cand, 0) = 0 THEN 0
         |         ELSE least(1000, (1000 * coalesce(r.n_ref, 0)) // c.n_cand)
         |    END AS rate_milli
         |  FROM (SELECT bucket, count(*) AS n_ref FROM mbk WHERE is_ref GROUP BY 1) r
         |  FULL JOIN (SELECT bucket, count(*) AS n_cand FROM mbk WHERE NOT is_ref GROUP BY 1) c
         |    ON c.bucket = r.bucket
         |), mkept AS (
         |  SELECT k.bucket, CAST(count(*) AS BIGINT) AS n_kept
         |  FROM mbk k JOIN mrates t ON t.bucket = k.bucket
         |  WHERE NOT k.is_ref
         |    AND ${graft.functions.TextFunctions.hash60Sql("CAST(doc_id AS VARCHAR) || 'dm'")} % 1000 < t.rate_milli
         |  GROUP BY 1
         |)
         |SELECT r.bucket, r.n_ref, r.n_cand, CAST(r.rate_milli AS BIGINT) AS rate_milli,
         |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
         |FROM mrates r LEFT JOIN mkept k ON k.bucket = r.bucket
         |ORDER BY r.bucket""".stripMargin,

    "d_snapshot_diff" ->
      s"""WITH sold AS (
         |  SELECT doc_id, ${fingerprintSql("text")} AS fp_old FROM $docsT
         |  WHERE doc_id % 7 <> 0
         |), snew AS (
         |  SELECT doc_id,
         |    ${fingerprintSql("(CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END)")} AS fp_new
         |  FROM $docsT WHERE doc_id % 5 <> 0
         |), sj AS (
         |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |    CASE WHEN o.fp_old IS NULL THEN 'added'
         |         WHEN n.fp_new IS NULL THEN 'removed'
         |         WHEN o.fp_old <> n.fp_new THEN 'changed'
         |         ELSE 'same' END AS status
         |  FROM sold o FULL JOIN snew n ON n.doc_id = o.doc_id
         |)
         |SELECT status, CAST(count(*) AS BIGINT) AS n,
         |  CAST(min(doc_id) AS BIGINT) AS min_id,
         |  CAST(max(doc_id) AS BIGINT) AS max_id
         |FROM sj GROUP BY 1 ORDER BY status""".stripMargin,

    "d_compaction" ->
      s"""WITH cf AS (
         |  SELECT source, doc_id % 16 AS shard,
         |    CAST(sum(length(text)) AS BIGINT) AS bytes
         |  FROM $docsT GROUP BY 1, 2
         |), ctot AS (
         |  SELECT CAST(sum(bytes) AS BIGINT) AS total FROM cf
         |), cw AS (
         |  SELECT bytes,
         |    CAST(coalesce(sum(bytes) OVER (ORDER BY bytes DESC, source, shard
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS cum_before
         |  FROM cf
         |)
         |SELECT cum_before // (SELECT total // 8 + 1 FROM ctot) AS bin,
         |  CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum(bytes) AS BIGINT) AS bytes_total,
         |  CAST(max(bytes) AS BIGINT) AS max_file
         |FROM cw GROUP BY 1 ORDER BY bin""".stripMargin,

    "d_fim" ->
      s"""WITH fimb AS (
         |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n,
         |    (${graft.functions.TextFunctions.hash60Sql(
               "CAST(doc_id AS VARCHAR) || ':fim1'")}
         |      % (CAST(length(text) AS BIGINT) - 1)) + 1 AS h1,
         |    (${graft.functions.TextFunctions.hash60Sql(
               "CAST(doc_id AS VARCHAR) || ':fim2'")}
         |      % (CAST(length(text) AS BIGINT) - 1)) + 1 AS h2
         |  FROM $docsT WHERE length(text) >= 20
         |), fims AS (
         |  SELECT doc_id, n, least(h1, h2) AS p1, greatest(h1, h2) AS p2,
         |    substring(text, 1, CAST(least(h1, h2) AS INT)) AS pre,
         |    substring(text, CAST(least(h1, h2) + 1 AS INT),
         |              CAST(greatest(h1, h2) - least(h1, h2) AS INT)) AS mid,
         |    substring(text, CAST(greatest(h1, h2) + 1 AS INT),
         |              CAST(n - greatest(h1, h2) AS INT)) AS suf,
         |    text
         |  FROM fimb
         |)
         |SELECT doc_id, CAST(n AS INT) AS n_chars,
         |  CAST(p1 AS INT) AS p1, CAST(p2 AS INT) AS p2,
         |  ${graft.functions.TextFunctions.hash60Sql(
             "'<PRE>' || pre || '<SUF>' || suf || '<MID>' || mid")} AS fim_fp,
         |  CAST(CASE WHEN pre || mid || suf = text THEN 1 ELSE 0 END
         |       AS INT) AS roundtrip
         |FROM fims ORDER BY doc_id""".stripMargin,

    "d_reshard" ->
      s"""WITH rsb AS MATERIALIZED (
         |  SELECT doc_id AS id,
         |    ${graft.operators.Layout.rendezvousShardSql("doc_id", 8)} AS h1,
         |    ${graft.operators.Layout.rendezvousShardSql("doc_id", 9)} AS h2,
         |    CAST(doc_id % 8 AS INT) AS m1, CAST(doc_id % 9 AS INT) AS m2
         |  FROM $docsT
         |), rsrow AS (
         |  SELECT 'hrw' AS method,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN h1 <> h2 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
         |    (SELECT CAST(max(n) AS BIGINT) FROM (
         |       SELECT count(*) AS n FROM rsb GROUP BY h1)) AS max_shard_n,
         |    (SELECT CAST(min(n) AS BIGINT) FROM (
         |       SELECT count(*) AS n FROM rsb GROUP BY h1)) AS min_shard_n
         |  FROM rsb
         |  UNION ALL
         |  SELECT 'mod',
         |    CAST(count(*) AS BIGINT),
         |    CAST(sum(CASE WHEN m1 <> m2 THEN 1 ELSE 0 END) AS BIGINT),
         |    (SELECT CAST(max(n) AS BIGINT) FROM (
         |       SELECT count(*) AS n FROM rsb GROUP BY m1)),
         |    (SELECT CAST(min(n) AS BIGINT) FROM (
         |       SELECT count(*) AS n FROM rsb GROUP BY m1))
         |  FROM rsb
         |)
         |SELECT method, n_docs, n_moved,
         |  CAST((1000 * n_moved) // n_docs AS BIGINT) AS moved_milli,
         |  max_shard_n, min_shard_n
         |FROM rsrow ORDER BY method""".stripMargin,

    "d_sampled_pct" -> sampledPctOracle,

    "s_stream_quantile" -> sampledPctOracle,

    "d_bloom_merge" ->
      s"""WITH be_items AS (
         |  SELECT ${fingerprintSql("text")} AS item FROM $docsT WHERE doc_id % 2 = 0
         |), bo_items AS (
         |  SELECT ${fingerprintSql("text")} AS item FROM $docsT WHERE doc_id % 2 <> 0
         |), ba_items AS (
         |  SELECT ${fingerprintSql("text")} AS item FROM $docsT
         |), ${Sketches.bloomBitsSql("be_items", "be")},
         |${Sketches.bloomBitsSql("bo_items", "bo")},
         |${Sketches.bloomBitsSql("ba_items", "ba")},
         |buni AS (
         |  SELECT DISTINCT pos FROM (
         |    SELECT pos FROM bebits UNION ALL SELECT pos FROM bobits
         |    UNION ALL SELECT pos FROM babits)
         |)
         |SELECT u.pos,
         |  (e.pos IS NOT NULL) AS in_even,
         |  (o.pos IS NOT NULL) AS in_odd,
         |  (e.pos IS NOT NULL OR o.pos IS NOT NULL) AS in_merged,
         |  (a.pos IS NOT NULL) AS in_full
         |FROM buni u
         |LEFT JOIN bebits e ON e.pos = u.pos
         |LEFT JOIN bobits o ON o.pos = u.pos
         |LEFT JOIN babits a ON a.pos = u.pos
         |ORDER BY u.pos""".stripMargin,

    "d_hll_est" ->
      s"""WITH hitems AS (
         |  SELECT unnest(${tokensSql("text")}) AS item FROM $docsT
         |), ${Sketches.hllRegistersSql("hitems")},
         |${Sketches.hllEstimateSql}
         |SELECT hest.s_pow, hest.est, ex.exact_distinct,
         |  CAST((1000 * abs(hest.est - ex.exact_distinct)) // ex.exact_distinct
         |    AS BIGINT) AS err_milli
         |FROM hest, (SELECT CAST(count(DISTINCT item) AS BIGINT)
         |            AS exact_distinct FROM hitems) ex""".stripMargin,

    // exact midrank ROC-AUC of the NB 'en' log-posterior: the scored CTE
    // is the same train+score replay as d_nb_classifier; the rank pass is
    // one cumulative window over the (score -> t, p) aggregate and the
    // only division is the final integer one
    "d_auc" ->
      s"""WITH ${Classify.naiveBayesScoredCte(docsT, "doc_id", "text", "lang")},
         |aen AS (
         |  SELECT s.doc_id, s.score FROM scored s WHERE s.lbl = 'en'
         |), aj AS (
         |  SELECT aen.score AS s, (d.lang = 'en') AS pos
         |  FROM aen JOIN $docsT d ON d.doc_id = aen.doc_id
         |), agrp AS (
         |  SELECT s, CAST(count(*) AS BIGINT) AS t,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS p
         |  FROM aj GROUP BY s
         |), acum AS (
         |  SELECT t, p, coalesce(CAST(SUM(t) OVER (ORDER BY s
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
         |    AS c_lt
         |  FROM agrp
         |)
         |SELECT CAST(sum(p) AS BIGINT) AS n_pos,
         |  CAST(sum(t - p) AS BIGINT) AS n_neg,
         |  CAST((1000000 * (CAST(sum(p * (2 * c_lt + t + 1)) AS BIGINT)
         |      - CAST(sum(p) AS BIGINT) * (CAST(sum(p) AS BIGINT) + 1)))
         |    // nullif(2 * CAST(sum(p) AS BIGINT) * CAST(sum(t - p) AS BIGINT), 0)
         |    AS BIGINT) AS auc_micro
         |FROM acum""".stripMargin,

    "d_lsh_tune" -> Dedup.lshTuningCurveSql(docsT, "doc_id", "text"),

    "d_lsh_precision" -> Dedup.lshFalseDropsSql(docsT, "doc_id", "text", 700L),

    "d_source_divergence" ->
      s"""WITH jc AS (
         |  SELECT source, t, count(*) AS c FROM (
         |    SELECT source, unnest(${TextFunctions.tokensSql("text")}) AS t
         |    FROM $docsT)
         |  GROUP BY 1, 2
         |), jt AS (
         |  SELECT source, CAST(sum(c) AS BIGINT) AS n FROM jc GROUP BY 1
         |), js AS (
         |  SELECT a.source AS sa, b.source AS sb, ta.n AS na, tb.n AS nb,
         |    CAST(count(*) AS BIGINT) AS n_shared,
         |    CAST(sum(a.c) AS BIGINT) AS ma, CAST(sum(b.c) AS BIGINT) AS mb,
         |    CAST(sum(a.c * (693147
         |      + CAST(round(ln(a.c) * 1000000.0) AS BIGINT)
         |      + CAST(round(ln(tb.n) * 1000000.0) AS BIGINT)
         |      - CAST(round(ln(a.c * tb.n + b.c * ta.n) * 1000000.0) AS BIGINT)))
         |      AS BIGINT) AS ta_sum,
         |    CAST(sum(b.c * (693147
         |      + CAST(round(ln(b.c) * 1000000.0) AS BIGINT)
         |      + CAST(round(ln(ta.n) * 1000000.0) AS BIGINT)
         |      - CAST(round(ln(a.c * tb.n + b.c * ta.n) * 1000000.0) AS BIGINT)))
         |      AS BIGINT) AS tb_sum
         |  FROM jc a JOIN jc b ON b.t = a.t AND a.source < b.source
         |  JOIN jt ta ON ta.source = a.source
         |  JOIN jt tb ON tb.source = b.source
         |  GROUP BY 1, 2, 3, 4
         |), jr AS (
         |  SELECT sa, sb, n_shared,
         |    ta_sum + (na - ma) * 693147 AS sa_total,
         |    tb_sum + (nb - mb) * 693147 AS sb_total,
         |    na, nb
         |  FROM js
         |)
         |SELECT sa, sb, n_shared,
         |  CAST(sa_total AS BIGINT) AS sa_total,
         |  CAST(sb_total AS BIGINT) AS sb_total,
         |  CAST(floor(CAST(sa_total AS DOUBLE) / (2.0 * CAST(na AS DOUBLE))
         |    + CAST(sb_total AS DOUBLE) / (2.0 * CAST(nb AS DOUBLE)))
         |    AS BIGINT) AS js_micro
         |FROM jr ORDER BY sa, sb""".stripMargin,

    "d_split_leakage" ->
      s"""WITH lsp AS (
         |  SELECT doc_id, ${Sampling.splitColumnSql("doc_id", 0.1, 0.1)} AS split
         |  FROM $docsT
         |), lsh AS (
         |  SELECT DISTINCT doc_id, shingle FROM (
         |    SELECT doc_id, unnest(${Dedup.shinglesSql("text")}) AS shingle
         |    FROM $docsT)
         |), lj AS (
         |  SELECT h.doc_id, h.shingle, p.split FROM lsh h JOIN lsp p USING (doc_id)
         |), ltr AS (
         |  SELECT DISTINCT shingle FROM lj WHERE split = 'train'
         |), lev AS (
         |  SELECT doc_id, shingle, split FROM lj WHERE split <> 'train'
         |), lse AS (
         |  SELECT doc_id, count(*) AS n_seen FROM lev
         |  WHERE shingle IN (SELECT shingle FROM ltr) GROUP BY 1
         |), lpp AS (
         |  SELECT d.doc_id, d.split, d.n_sh, coalesce(s.n_seen, 0) AS n_seen
         |  FROM (SELECT doc_id, split, count(*) AS n_sh FROM lev GROUP BY 1, 2) d
         |  LEFT JOIN lse s ON s.doc_id = d.doc_id
         |)
         |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_sh) AS BIGINT) AS n_shingles,
         |  CAST(sum(n_seen) AS BIGINT) AS n_seen,
         |  CAST((1000 * sum(n_seen)) // sum(n_sh) AS BIGINT) AS leak_milli,
         |  CAST(sum(CASE WHEN n_seen = n_sh THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_fully_leaked
         |FROM lpp GROUP BY split ORDER BY split""".stripMargin,

    "d_minhash_est" ->
      s"""WITH cand AS (${Dedup.minhashCandidatesSql(docsT, "doc_id", "text")}),
         |ex AS (${Dedup.ngramJaccardPairsSql(docsT, "doc_id", "text", 0.0)})
         |SELECT c.a, c.b, c.est_sim,
         |  CAST(coalesce(e.inter, 0) AS BIGINT) AS inter,
         |  CAST(coalesce(e.union_size, 0) AS BIGINT) AS union_size
         |FROM cand c LEFT JOIN ex e ON c.a = e.a AND c.b = e.b
         |ORDER BY c.a, c.b""".stripMargin,

    "d_langid_eval" ->
      s"""SELECT lang AS true_lang, ${TextFunctions.langIdSql("text")} AS pred_lang,
         |count(*) AS n FROM $docsT
         |GROUP BY 1, 2 ORDER BY true_lang, pred_lang""".stripMargin,

    "d_nb_classifier" ->
      s"""${Classify.naiveBayesSql(docsT, "doc_id", "text", "lang")}
         |ORDER BY doc_id""".stripMargin,

    // planted Cyrillic word + replace-all char-class strips ('g' flag —
    // DuckDB's regexp_replace is first-match-only without it)
    "d_mixed_script" ->
      s"""WITH ms AS (
         |  SELECT source,
         |    CASE WHEN doc_id % 37 = 5 THEN text || ' привет' ELSE text END AS t
         |  FROM $docsT
         |), msc AS (
         |  SELECT source,
         |    length(t) - length(regexp_replace(t, '[A-Za-z]', '', 'g')) AS n_latin,
         |    length(t) - length(regexp_replace(t, '[Ѐ-ӿ]', '', 'g')) AS n_cyr
         |  FROM ms
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN n_cyr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_cyr,
         |  CAST(sum(CASE WHEN n_latin > 0 AND n_cyr > 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_mixed,
         |  CAST(sum(n_cyr) AS BIGINT) AS total_cyr_chars
         |FROM msc GROUP BY source ORDER BY source""".stripMargin,

    "d_blocklist" ->
      s"""WITH bl AS (
         |  SELECT source,
         |    CASE WHEN doc_id % 41 = 3 THEN text || ' fraudword'
         |         WHEN doc_id % 41 = 7 THEN text || ' spamword spamword'
         |         ELSE text END AS t
         |  FROM $docsT
         |)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN list_has_any(${tokensSql("t")},
         |    ['fraudword', 'spamword', 'scamword']) THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_blocked
         |FROM bl GROUP BY source ORDER BY source""".stripMargin,

    // exact contingency counts; e and the (o-e)^2/e term are the same
    // left-associated IEEE tree as the Spark column expression
    "d_chi2" ->
      s"""WITH ct AS (
         |  SELECT lang, source, CAST(count(*) AS BIGINT) AS o
         |  FROM $docsT GROUP BY 1, 2
         |), crt AS (SELECT lang, CAST(sum(o) AS BIGINT) AS r FROM ct GROUP BY 1),
         |cst AS (SELECT source, CAST(sum(o) AS BIGINT) AS c FROM ct GROUP BY 1),
         |cnn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM ct),
         |cgrid AS (
         |  SELECT CAST(coalesce(ct.o, 0) AS DOUBLE) AS od,
         |    CAST(crt.r * cst.c AS DOUBLE) / cnn.n AS e
         |  FROM crt CROSS JOIN cst CROSS JOIN cnn
         |  LEFT JOIN ct ON ct.lang = crt.lang AND ct.source = cst.source
         |)
         |SELECT (SELECT n FROM cnn) AS n,
         |  CAST((SELECT count(*) FROM crt) AS BIGINT) AS n_lang,
         |  CAST((SELECT count(*) FROM cst) AS BIGINT) AS n_source,
         |  CAST(((SELECT count(*) FROM crt) - 1) *
         |       ((SELECT count(*) FROM cst) - 1) AS BIGINT) AS dof,
         |  CAST(sum(CAST(floor(1000000.0 * (od - e) * (od - e) / e) AS BIGINT))
         |    AS BIGINT) AS chi2_micro
         |FROM cgrid""".stripMargin,

    // full NB replay -> per-doc margin (rn1 - rn2 under the argmax tie
    // order) -> quartile buckets -> per-bucket accuracy
    "d_calibration" ->
      s"""WITH ${Classify.naiveBayesScoredCte(docsT, "doc_id", "text", "lang")},
         |cranked AS (
         |  SELECT doc_id, lbl, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, lbl DESC) AS rn
         |  FROM scored
         |), cbest AS (
         |  SELECT doc_id, lbl AS pred, score AS s1 FROM cranked WHERE rn = 1
         |), csecond AS (
         |  SELECT doc_id, score AS s2 FROM cranked WHERE rn = 2
         |), cm AS (
         |  SELECT b.s1 - s.s2 AS margin, (b.pred = d.lang) AS correct
         |  FROM cbest b JOIN csecond s ON s.doc_id = b.doc_id
         |  JOIN $docsT d ON d.doc_id = b.doc_id
         |), ccuts AS (
         |  SELECT quantile_cont(margin, 0.25) AS c1,
         |    quantile_cont(margin, 0.5) AS c2,
         |    quantile_cont(margin, 0.75) AS c3 FROM cm
         |), cbk AS (
         |  SELECT CASE WHEN margin <= c1 THEN 1 WHEN margin <= c2 THEN 2
         |              WHEN margin <= c3 THEN 3 ELSE 4 END AS bucket, correct
         |  FROM cm, ccuts
         |)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  CAST((1000 * sum(CASE WHEN correct THEN 1 ELSE 0 END)) // count(*)
         |    AS BIGINT) AS acc_milli
         |FROM cbk GROUP BY bucket ORDER BY bucket""".stripMargin,

    "d_nb_eval" ->
      s"""WITH nb AS (
         |${Classify.naiveBayesSql(docsT, "doc_id", "text", "lang")}
         |), cls AS (
         |  SELECT DISTINCT true_lang AS lang FROM nb
         |), j AS (
         |  SELECT cls.lang, nb.true_lang, nb.pred_lang
         |  FROM cls JOIN nb ON cls.lang = nb.true_lang OR cls.lang = nb.pred_lang
         |), agg AS (
         |  SELECT lang,
         |    CAST(sum(CASE WHEN true_lang = lang AND pred_lang = lang
         |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |    CAST(sum(CASE WHEN pred_lang = lang AND true_lang <> lang
         |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |    CAST(sum(CASE WHEN true_lang = lang AND pred_lang <> lang
         |      THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM j GROUP BY 1
         |)
         |SELECT lang, tp, fp, fn,
         |  CAST((1000 * tp) // greatest(tp + fp, 1) AS BIGINT) AS precision_milli,
         |  CAST((1000 * tp) // greatest(tp + fn, 1) AS BIGINT) AS recall_milli
         |FROM agg ORDER BY lang""".stripMargin,

    "d_source_stats" ->
      s"""SELECT source, count(*) AS n_docs,
         |CAST(sum(${tokenCountSql("text")}) AS BIGINT) AS total_tokens,
         |min(n_chars) AS min_chars, max(n_chars) AS max_chars
         |FROM $docsT GROUP BY source ORDER BY source""".stripMargin,

    "d_zipf" ->
      s"""WITH ztok AS (
         |  SELECT unnest(${tokensSql("text")}) AS token FROM $docsT
         |), zcnt AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM ztok GROUP BY 1
         |), zr AS (
         |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, token) AS r FROM zcnt
         |), zxy AS (
         |  SELECT CAST(round(ln(r) * 1000000.0) AS BIGINT) AS x,
         |         CAST(round(ln(cnt) * 1000000.0) AS BIGINT) AS y
         |  FROM zr WHERE r <= 200
         |), zst AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |    CAST(sum(x * y) AS BIGINT) AS sxy,
         |    CAST(sum(x * x) AS BIGINT) AS sxx,
         |    CAST(sum(y * y) AS BIGINT) AS syy
         |  FROM zxy
         |)
         |SELECT n,
         |  CAST(floor(1000000.0 *
         |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
         |    AS BIGINT) AS slope_micro,
         |  CAST(floor(1000000.0 *
         |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
         |    sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
         |            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
         |    AS BIGINT) AS r_micro
         |FROM zst""".stripMargin,

    "d_vocab" ->
      s"""SELECT token, count(*) AS n FROM (
         |  SELECT unnest(${tokensSql("text")}) AS token FROM $docsT
         |) GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,

    "d_sample" -> (Sampling.hashSampleSql("(SELECT doc_id FROM documents)", "doc_id", 0.2)
      .replace("SELECT *", "SELECT doc_id") + " ORDER BY doc_id"),

    "d_wsample" ->
      s"""WITH wd AS (
         |  SELECT doc_id, source, CAST(${tokenCountSql("text")} AS BIGINT) AS w
         |  FROM $docsT
         |), wk AS (
         |  ${Sampling.weightedHashSampleSql("wd", "doc_id", "w", 500L)}
         |), wt AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(w) AS BIGINT) AS w_total
         |  FROM wd GROUP BY 1
         |), wkk AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
         |    CAST(sum(w) AS BIGINT) AS w_kept
         |  FROM wk GROUP BY 1
         |)
         |SELECT wt.source, wt.n_docs, wt.w_total,
         |  CAST(coalesce(wkk.n_kept, 0) AS BIGINT) AS n_kept,
         |  CAST(coalesce(wkk.w_kept, 0) AS BIGINT) AS w_kept
         |FROM wt LEFT JOIN wkk ON wkk.source = wt.source
         |ORDER BY wt.source""".stripMargin,

    "d_split" ->
      s"""SELECT ${Sampling.splitColumnSql("doc_id", 0.1, 0.1)} AS split,
         |count(*) AS n FROM documents GROUP BY 1 ORDER BY split""".stripMargin,

    "d_simhash_pairs" -> Dedup.simhashPairsSql(docsT, "doc_id", "text", 3),

    // full pipeline replay: filters + the CC survivor selection + split
    "d_pipeline_e2e" -> {
      val filt = s"SELECT doc_id, text FROM $docsT " +
        s"WHERE ${tokenCountSql("text")} >= 20 AND ${TextFunctions.langIdSql("text")} = 'en'"
      s"""WITH filt AS ($filt),
         |cand AS (
         |  SELECT * FROM (${Dedup.minhashCandidatesSql("filt", "doc_id", "text")})
         |), ud AS (
         |  SELECT a AS s, b AS t FROM cand WHERE est_sim >= 0.5
         |  UNION SELECT b, a FROM cand WHERE est_sim >= 0.5
         |), dn AS (
         |  SELECT DISTINCT s AS key FROM ud
         |), rch AS (
         |  WITH RECURSIVE reach(key, label) AS (
         |    SELECT key, key FROM dn
         |    UNION
         |    SELECT e.t, r.label FROM reach r JOIN ud e ON e.s = r.key
         |  ) SELECT key, min(label) AS keep FROM reach GROUP BY key
         |)
         |SELECT doc_id, ${Sampling.splitColumnSql("doc_id", 0.1, 0.1)} AS split
         |FROM filt
         |WHERE doc_id NOT IN (SELECT key FROM rch WHERE keep <> key)
         |ORDER BY doc_id""".stripMargin
    },

    // replay of nearDupSurvivors: minhash candidates (est_sim >= 0.5) form
    // an undirected dup graph; recursive min-label propagation = connected
    // components; victims = nodes that are not their component's min id
    // same CC replay, but the survivor is the per-component argmax under
    // (n_chars DESC, doc_id): victims = every other member
    "d_dedup_best" ->
      s"""WITH cand AS (
         |  SELECT * FROM (${Dedup.minhashCandidatesSql(docsT, "doc_id", "text")})
         |), ud AS (
         |  SELECT a AS s, b AS t FROM cand WHERE est_sim >= 0.5
         |  UNION SELECT b, a FROM cand WHERE est_sim >= 0.5
         |), dn AS (
         |  SELECT DISTINCT s AS key FROM ud
         |), rch AS (
         |  WITH RECURSIVE reach(key, label) AS (
         |    SELECT key, key FROM dn
         |    UNION
         |    SELECT e.t, r.label FROM reach r JOIN ud e ON e.s = r.key
         |  ) SELECT key, min(label) AS comp FROM reach GROUP BY key
         |), mem AS (
         |  SELECT r.key AS doc_id, r.comp, d.n_chars
         |  FROM rch r JOIN $docsT d ON d.doc_id = r.key
         |), victims AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id, row_number() OVER (PARTITION BY comp
         |      ORDER BY n_chars DESC, doc_id) AS rn FROM mem)
         |  WHERE rn > 1
         |)
         |SELECT doc_id FROM $docsT
         |WHERE doc_id NOT IN (SELECT doc_id FROM victims)
         |ORDER BY doc_id""".stripMargin,

    // same recursive-CTE component replay as d_dedup_pipeline, rolled up
    // to the size histogram (min-label per node -> component sizes)
    "d_dup_cluster_hist" ->
      s"""WITH cand AS (
         |  SELECT * FROM (${Dedup.minhashCandidatesSql(docsT, "doc_id", "text")})
         |), ud AS (
         |  SELECT a AS s, b AS t FROM cand WHERE est_sim >= 0.5
         |  UNION SELECT b, a FROM cand WHERE est_sim >= 0.5
         |), dn AS (
         |  SELECT DISTINCT s AS key FROM ud
         |), rch AS (
         |  WITH RECURSIVE reach(key, label) AS (
         |    SELECT key, key FROM dn
         |    UNION
         |    SELECT e.t, r.label FROM reach r JOIN ud e ON e.s = r.key
         |  ) SELECT key, min(label) AS keep FROM reach GROUP BY key
         |), szs AS (
         |  SELECT keep, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM rch GROUP BY keep
         |)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM szs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // exact cross-label ranking replay: same floor-micro cosine tree,
    // corpus filtered to label <> query label before ranking
    "e_hard_negatives" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
        |    label
        |  FROM embeddings
        |), fn AS (
        |  SELECT id, vec, label, sqrt(list_dot_product(vec, vec)) AS nrm FROM c
        |), sc AS (
        |  SELECT q.id AS query_id, v.id AS vec_id, v.label AS neg_label,
        |    CAST(floor(1000000 * (list_dot_product(q.vec, v.vec) /
        |      (q.nrm * v.nrm))) AS BIGINT) AS cos_micro
        |  FROM fn q JOIN fn v
        |    ON q.id < 5 AND v.id <> q.id AND v.label <> q.label
        |)
        |SELECT query_id, vec_id, neg_label, cos_micro, CAST(rn AS INT) AS rank
        |FROM (
        |  SELECT query_id, vec_id, neg_label, cos_micro,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_micro DESC, vec_id) AS rn FROM sc)
        |WHERE rn <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // ANN-shortlist miner: shared signature/probe CTEs (e_ann_lsh), then
    // the cross-label filter on the candidate join and floor-micro rerank
    "e_hard_negatives_ann" ->
      s"""$lshReplayCtes, hl AS (
         |  SELECT vec_id AS id, label FROM embeddings
         |), hsc AS (
         |  SELECT cand.query_id, cand.vec_id, vl.label AS neg_label,
         |    CAST(floor(1000000 * (list_dot_product(qv.vec, cv.vec) /
         |      (sqrt(list_dot_product(qv.vec, qv.vec)) *
         |       sqrt(list_dot_product(cv.vec, cv.vec))))) AS BIGINT) AS cos_micro
         |  FROM cand JOIN c qv ON qv.id = cand.query_id
         |            JOIN c cv ON cv.id = cand.vec_id
         |            JOIN hl ql ON ql.id = cand.query_id
         |            JOIN hl vl ON vl.id = cand.vec_id
         |  WHERE vl.label <> ql.label
         |)
         |SELECT query_id, vec_id, neg_label, cos_micro, CAST(rnk AS INT) AS rank
         |FROM (
         |  SELECT query_id, vec_id, neg_label, cos_micro,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_micro DESC, vec_id) AS rnk FROM hsc)
         |WHERE rnk <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // both miners replayed over one CTE prefix, recall as hash-green
    // integers per query (LEFT joins: a query whose every bucketed
    // candidate is same-label reports n_ann = 0, not a dropped row)
    "e_hard_neg_recall" ->
      s"""$lshReplayCtes, hl AS (
         |  SELECT vec_id AS id, label FROM embeddings
         |), hfn AS (
         |  SELECT c.id, c.vec, sqrt(list_dot_product(c.vec, c.vec)) AS nrm,
         |    hl.label
         |  FROM c JOIN hl ON hl.id = c.id
         |), hex AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.id AS query_id, v.id AS vec_id,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY CAST(floor(1000000 * (list_dot_product(q.vec, v.vec) /
         |          (q.nrm * v.nrm))) AS BIGINT) DESC, v.id) AS rnk
         |    FROM hfn q JOIN hfn v
         |      ON q.id < 5 AND v.id <> q.id AND v.label <> q.label)
         |  WHERE rnk <= 10
         |), hap AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT cand.query_id, cand.vec_id,
         |      row_number() OVER (PARTITION BY cand.query_id
         |        ORDER BY CAST(floor(1000000 * (list_dot_product(qv.vec, cv.vec) /
         |          (sqrt(list_dot_product(qv.vec, qv.vec)) *
         |           sqrt(list_dot_product(cv.vec, cv.vec))))) AS BIGINT) DESC,
         |          cand.vec_id) AS rnk
         |    FROM cand JOIN c qv ON qv.id = cand.query_id
         |              JOIN c cv ON cv.id = cand.vec_id
         |              JOIN hl ql ON ql.id = cand.query_id
         |              JOIN hl vl ON vl.id = cand.vec_id
         |    WHERE vl.label <> ql.label)
         |  WHERE rnk <= 10
         |), hne AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
         |  FROM hex GROUP BY 1
         |), hna AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_ann
         |  FROM hap GROUP BY 1
         |), hnh AS (
         |  SELECT a.query_id, CAST(count(*) AS BIGINT) AS n_hits
         |  FROM hap a JOIN hex e
         |    ON e.query_id = a.query_id AND e.vec_id = a.vec_id
         |  GROUP BY 1
         |)
         |SELECT hne.query_id, hne.n_exact,
         |  CAST(coalesce(hna.n_ann, 0) AS BIGINT) AS n_ann,
         |  CAST(coalesce(hnh.n_hits, 0) AS BIGINT) AS n_hits
         |FROM hne
         |LEFT JOIN hna ON hna.query_id = hne.query_id
         |LEFT JOIN hnh ON hnh.query_id = hne.query_id
         |ORDER BY hne.query_id""".stripMargin,

    "d_dedup_pipeline" ->
      s"""WITH cand AS (
         |  SELECT * FROM (${Dedup.minhashCandidatesSql(docsT, "doc_id", "text")})
         |), ud AS (
         |  SELECT a AS s, b AS t FROM cand WHERE est_sim >= 0.5
         |  UNION SELECT b, a FROM cand WHERE est_sim >= 0.5
         |), dn AS (
         |  SELECT DISTINCT s AS key FROM ud
         |), rch AS (
         |  WITH RECURSIVE reach(key, label) AS (
         |    SELECT key, key FROM dn
         |    UNION
         |    SELECT e.t, r.label FROM reach r JOIN ud e ON e.s = r.key
         |  ) SELECT key, min(label) AS keep FROM reach GROUP BY key
         |)
         |SELECT doc_id FROM $docsT
         |WHERE doc_id NOT IN (SELECT key FROM rch WHERE keep <> key)
         |ORDER BY doc_id""".stripMargin,

    // cluster-keyed split replay: CC over the >=0.5 candidate pairs, rep
    // = numeric-min member, split hashes the rep (subquery so the alias
    // comparison is engine-portable)
    "d_split_safe" ->
      s"""WITH cand AS (
         |  SELECT * FROM (${Dedup.minhashCandidatesSql(docsT, "doc_id", "text")})
         |), ud AS (
         |  SELECT a AS s, b AS t FROM cand WHERE est_sim >= 0.5
         |  UNION SELECT b, a FROM cand WHERE est_sim >= 0.5
         |), dn AS (
         |  SELECT DISTINCT s AS key FROM ud
         |), rch AS (
         |  WITH RECURSIVE reach(key, label) AS (
         |    SELECT key, key FROM dn
         |    UNION
         |    SELECT e.t, r.label FROM reach r JOIN ud e ON e.s = r.key
         |  ) SELECT key, CAST(min(label) AS BIGINT) AS rep FROM reach GROUP BY key
         |), sbase AS (
         |  SELECT d.doc_id, coalesce(r.rep, d.doc_id) AS rep,
         |    ${Sampling.splitColumnSql("coalesce(r.rep, d.doc_id)", 0.1, 0.1)} AS split,
         |    ${Sampling.splitColumnSql("d.doc_id", 0.1, 0.1)} AS naive_split
         |  FROM $docsT d LEFT JOIN rch r ON r.key = d.doc_id
         |)
         |SELECT doc_id, rep, split, naive_split,
         |  CAST(CASE WHEN split <> naive_split THEN 1 ELSE 0 END AS INT) AS moved
         |FROM sbase ORDER BY doc_id""".stripMargin,

    "d_split_leak_pairs" ->
      s"""WITH cand AS (
         |  SELECT * FROM (${Dedup.minhashCandidatesSql(docsT, "doc_id", "text")})
         |), sl AS (
         |  SELECT least(${Sampling.splitColumnSql("a", 0.1, 0.1)},
         |           ${Sampling.splitColumnSql("b", 0.1, 0.1)}) AS split_a,
         |    greatest(${Sampling.splitColumnSql("a", 0.1, 0.1)},
         |           ${Sampling.splitColumnSql("b", 0.1, 0.1)}) AS split_b
         |  FROM cand WHERE est_sim >= 0.5
         |)
         |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM sl GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin,

    "d_snapshot_diff_src" ->
      s"""WITH v1 AS (
         |  SELECT doc_id, source, text FROM $docsT
         |), v2 AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END AS text
         |  FROM v1 WHERE doc_id % 7 <> 0
         |  UNION ALL
         |  SELECT doc_id + 10000000, source, text || ' new' FROM v1
         |  WHERE doc_id % 11 = 0
         |), dj AS (
         |  SELECT coalesce(a.source, b.source) AS source,
         |    CASE WHEN a.doc_id IS NULL THEN 'added'
         |         WHEN b.doc_id IS NULL THEN 'removed'
         |         WHEN ${fingerprintSql("a.text")} <> ${fingerprintSql("b.text")}
         |           THEN 'changed'
         |         ELSE 'same' END AS status
         |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id
         |)
         |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
         |FROM dj GROUP BY 1, 2 ORDER BY source, status""".stripMargin,

    "d_dup_sources" ->
      s"""WITH cand AS (
         |  SELECT * FROM (${Dedup.minhashCandidatesSql(docsT, "doc_id", "text")})
         |), j AS (
         |  SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM cand
         |  JOIN $docsT da ON da.doc_id = cand.a
         |  JOIN $docsT db ON db.doc_id = cand.b
         |  WHERE est_sim >= 0.5
         |)
         |SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_pairs
         |FROM j GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin,

    // incremental-dedup replay: the union candidate table restricted to
    // pairs touching the delta (a < cut <= b for cross hits, a >= cut for
    // delta-internal pairs) equals the operator's two banded joins — the
    // per-doc signatures are identical whether computed per side or over
    // the union
    "d_dedup_incr" -> dedupIncrOracleSql,

    "s_stream_minhash" -> dedupIncrOracleSql,

    "d_tfidf" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${tokensSql("text")}) AS token FROM $docsT
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
         |), dfx AS (
         |  SELECT token, count(*) AS df FROM tf GROUP BY 1
         |), nd AS (
         |  SELECT count(*) AS n_docs FROM $docsT
         |), scored AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, dfx.df,
         |    tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / dfx.df) AS tfidf
         |  FROM tf JOIN dfx USING (token), nd
         |), ranked AS (
         |  SELECT doc_id, token, tf, df, tfidf,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tf DESC, df, token) AS INT) AS rk
         |  FROM scored)
         |SELECT doc_id, token, tf, df, round(tfidf, 4) AS tfidf, rk
         |FROM ranked WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    "d_pii_scrub" -> {
      val piiText = "text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@mail.example or +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"
      s"""WITH p AS (SELECT doc_id, $piiText AS text FROM $docsT)
         |SELECT doc_id,
         |${TextFunctions.emailCountSql("text")} AS n_emails,
         |${TextFunctions.phoneCountSql("text")} AS n_phones,
         |md5(${TextFunctions.scrubPiiSql("text")}) AS scrub_fp
         |FROM p ORDER BY doc_id""".stripMargin
    },

    "d_stratified" ->
      s"""SELECT lang, count(*) AS n FROM (
         |${Sampling.stratifiedSampleSql(docsT, "lang", "doc_id",
              Seq("en" -> 0.3, "de" -> 0.2), 0.05)}
         |) GROUP BY lang ORDER BY lang""".stripMargin,

    "d_mixture" ->
      s"""${Sampling.balanceGroupsSql(
             "(SELECT doc_id, lang FROM documents)", "doc_id", "lang")}
         |ORDER BY doc_id""".stripMargin,

    "d_temperature" ->
      s"""${Sampling.temperatureSampleSql(
             "(SELECT doc_id, lang FROM documents)", "doc_id", "lang")}
         |ORDER BY doc_id""".stripMargin,

    "d_upsample" ->
      s"""${Sampling.upsampleGroupsSql(
             "(SELECT doc_id, lang FROM documents)", "doc_id", "lang")}
         |ORDER BY doc_id, copy_id""".stripMargin,

    "d_chunk" ->
      s"""${Chunking.tokenChunksSql(docsT, "doc_id", "text", 32, 24)}
         |ORDER BY doc_id, chunk_id""".stripMargin,

    // median/MAD robust fence: exact interpolated quantiles both engines,
    // all comparisons on milli integers, 3.0*mad one IEEE multiply
    "d_len_mad" ->
      s"""WITH tl AS (
         |  SELECT CAST(${tokenCountSql("text")} AS BIGINT) AS n_tokens FROM $docsT
         |), lmed AS (
         |  SELECT quantile_cont(n_tokens, 0.5) AS med FROM tl
         |), ldev AS (
         |  SELECT med,
         |    abs(1000 * n_tokens - CAST(floor(med * 1000) AS BIGINT)) AS absdev_milli
         |  FROM tl, lmed
         |), lmad AS (
         |  SELECT quantile_cont(absdev_milli, 0.5) AS mad FROM ldev
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(floor(min(ldev.med) * 1000) AS BIGINT) AS med_milli,
         |  CAST(floor(min(lmad.mad)) AS BIGINT) AS mad_milli,
         |  CAST(sum(CASE WHEN absdev_milli > 3.0 * lmad.mad THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_outliers
         |FROM ldev, lmad""".stripMargin,

    "d_len_hist" ->
      s"""WITH t AS (
         |  SELECT ${tokenCountSql("text")} AS n FROM $docsT
         |)
         |SELECT CASE WHEN n = 0 THEN -1
         |            ELSE CAST(floor(log2(n)) AS INT) END AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(min(n) AS INT) AS min_tokens, CAST(max(n) AS INT) AS max_tokens
         |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin,

    "d_search" -> searchOracleSql,

    // RRF fusion of the two retrieval oracles (each nested verbatim as a
    // subquery CTE): rank per list, 1e6 // (60 + rank) terms, integer sum
    "d_rrf" ->
      s"""WITH r1 AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rk
         |  FROM ($searchOracleSql)
         |), r2 AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rk
         |  FROM ($bm25OracleSql)
         |), u AS (
         |  SELECT doc_id, rk FROM r1 UNION ALL SELECT doc_id, rk FROM r2
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lists,
         |  CAST(SUM(1000000 // (60 + rk)) AS BIGINT) AS rrf_micro
         |FROM u GROUP BY doc_id
         |ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin,

    "d_containment" ->
      Dedup.containmentPairsSql(docsT, "doc_id", "text", 500),

    // full BPE-training replay: the unrolled 3-round loop
    "d_bpe" -> Collocations.mergeRoundsSql(docsT, "doc_id", "text", 3),

    // the full EM train loop replayed: recursive-CTE Viterbi DPs,
    // backtracks, usage counts and prunes, then the final scored vocab /
    // the per-doc segmentation stats
    "d_unigram_lm" -> Collocations.unigramVocabSql(docsT, "doc_id", "text"),
    "d_unigram_apply" -> Collocations.unigramApplySql(docsT, "doc_id", "text"),
    "d_unigram_fertility" ->
      Collocations.unigramFertilitySql(docsT, "doc_id", "text", "lang"),
    // learn chain + the hash-gated dropout apply chain in one WITH
    "d_bpe_dropout" ->
      ("WITH " + Collocations.bpeCteBody(docsT, "doc_id", "text", 3) + ",\n" +
        Collocations.dropoutCteBody(3) +
        s"""
           |SELECT p.doc_id, CAST(p.n AS BIGINT) AS n_plain,
           |  CAST(d.n AS BIGINT) AS n_drop, d.fp AS fp_drop
           |FROM (SELECT doc_id, count(*) AS n FROM s3 GROUP BY 1) p
           |JOIN (SELECT doc_id, count(*) AS n,
           |        md5(string_agg(t, ' ' ORDER BY i)) AS fp
           |      FROM b3 GROUP BY 1) d ON d.doc_id = p.doc_id
           |ORDER BY p.doc_id""".stripMargin),
    // stream == batch: the streaming apply shares the batch twin
    "s_stream_unigram" ->
      Collocations.unigramApplySql(docsT, "doc_id", "text"),

    "d_budget" ->
      s"""${Sampling.tokenBudgetSql(docsT, "source", tokenCountSql("text"))}
         |ORDER BY grp""".stripMargin,

    "d_dsir" ->
      s"""WITH d AS (
         |${Sampling.dsirWeightsSql(docsT, "doc_id", "text", "lang = 'en'")}
         |), cut AS (
         |  SELECT quantile_cont(dsir_micro, 0.75) AS p75 FROM d
         |)
         |SELECT doc_id, n_feats, dsir_micro, dsir_micro >= p75 AS keep
         |FROM d, cut ORDER BY doc_id""".stripMargin,

    "d_bpe_apply" -> Collocations.applyCountsSql(docsT, "doc_id", "text", 3),

    "d_bpe_compression" ->
      Collocations.compressionByGroupSql(docsT, "doc_id", "text", "lang", 3),

    "d_pmi" -> Collocations.pmiTopSql(docsT, "text"),

    "d_textrank" -> Collocations.textRankSql(docsT, "doc_id", "text"),

    "d_backoff_lm" ->
      s"""WITH cut AS (SELECT (4 * max(doc_id)) // 5 AS c FROM $docsT),
         |${TextFunctions.backoffScoresSql(docsT, "doc_id", "text",
             "doc_id < c", "doc_id >= c",
             "UNION ALL SELECT 999999999999 AS doc_id, " +
               "'zzunseen zzunseen zzunseen' AS text")}""".stripMargin,

    "d_bm25" -> bm25OracleSql,

    "d_oov" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(${tokensSql("text")}) AS token FROM $docsT
         |), v AS (
         |  SELECT token, 1 AS iv FROM (
         |    SELECT token, count(*) AS n FROM tok GROUP BY token
         |    ORDER BY n DESC, token LIMIT 1000)
         |)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN iv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  CAST((1000 * SUM(CASE WHEN iv IS NULL THEN 1 ELSE 0 END))
         |       // count(*) AS BIGINT) AS oov_milli
         |FROM tok LEFT JOIN v USING (token)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "d_quality_cut" ->
      s"""WITH t AS (
         |  SELECT doc_id, ${tokenCountSql("text")} AS n_tokens FROM $docsT
         |)
         |SELECT doc_id, n_tokens FROM t
         |WHERE n_tokens >= (SELECT quantile_cont(n_tokens, 0.25) FROM t)
         |ORDER BY doc_id""".stripMargin,

    "e_ann_topk" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), scored AS (
        |  SELECT q.id AS query_id, c.id AS vec_id,
        |    round(list_cosine_similarity(q.vec, c.vec), 4) AS cos
        |  FROM c q JOIN c ON q.id < 5 AND c.id <> q.id
        |), ranked AS (
        |  SELECT query_id, vec_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cos, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // the e_ann_topk construction with the label pre-filter on the
    // corpus side only (queries stay unrestricted)
    "e_ann_filtered" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec, label
        |  FROM embeddings
        |), scored AS (
        |  SELECT q.id AS query_id, c.id AS vec_id,
        |    round(list_cosine_similarity(q.vec, c.vec), 4) AS cos
        |  FROM c q JOIN c ON q.id < 5 AND c.label = 1 AND c.id <> q.id
        |), ranked AS (
        |  SELECT query_id, vec_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cos, rank FROM ranked
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // SQ8 replay: the quantizeInt8 affine-code CTEs, integer-dot ranking
    // on the code lists, recall vs the float-exact micro ranker
    "e_sq_recall" ->
      """WITH el AS (
        |  SELECT vec_id AS id, s['i'] AS i, CAST(s['v'] AS DOUBLE) AS v FROM (
        |    SELECT vec_id, unnest(list_transform(
        |      generate_series(1, len(embedding)),
        |      i -> {'i': i - 1, 'v': embedding[i]})) AS s
        |    FROM embeddings)
        |), qstats AS (
        |  SELECT i, min(v) AS mn, max(v) AS mx FROM el GROUP BY i
        |), qc AS (
        |  SELECT id, i,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE CAST(least(floor((v - mn) * 255.0 / (mx - mn)), 255) AS INT)
        |    END AS q
        |  FROM el JOIN qstats USING (i)
        |), qdq AS (
        |  SELECT qc.id, qc.i,
        |    s.mn + (CAST(qc.q AS DOUBLE) * (s.mx - s.mn)) / 255.0 AS dq
        |  FROM qc JOIN qstats s USING (i)
        |), cq AS (
        |  SELECT id, list(dq ORDER BY i) AS qv FROM qdq GROUP BY id
        |), cqn AS (
        |  SELECT id, qv, sqrt(list_dot_product(qv, qv)) AS nrm FROM cq
        |), sqtop AS (
        |  SELECT query_id, vec_id, score FROM (
        |    SELECT a.id AS query_id, b.id AS vec_id,
        |      CAST(floor(1000000 * (list_dot_product(a.qv, b.qv) /
        |        (a.nrm * b.nrm))) AS BIGINT) AS score,
        |      row_number() OVER (PARTITION BY a.id ORDER BY
        |        CAST(floor(1000000 * (list_dot_product(a.qv, b.qv) /
        |          (a.nrm * b.nrm))) AS BIGINT) DESC, b.id) AS rn
        |    FROM cqn a JOIN cqn b ON a.id < 5 AND b.id <> a.id)
        |  WHERE rn <= 10
        |), c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), fn AS (
        |  SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM c
        |), ftop AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.id AS query_id, v.id AS vec_id,
        |      row_number() OVER (PARTITION BY q.id ORDER BY
        |        CAST(floor(1000000 * (list_dot_product(q.vec, v.vec) /
        |          (q.nrm * v.nrm))) AS BIGINT) DESC, v.id) AS rn
        |    FROM fn q JOIN fn v ON q.id < 5 AND v.id <> q.id)
        |  WHERE rn <= 10
        |), sne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM ftop GROUP BY 1),
        |sns AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_sq,
        |          max(score) AS best_micro FROM sqtop GROUP BY 1),
        |snh AS (
        |  SELECT s.query_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM sqtop s JOIN ftop f ON f.query_id = s.query_id AND f.vec_id = s.vec_id
        |  GROUP BY 1)
        |SELECT ne.query_id, ne.n_exact, ns.n_sq,
        |  CAST(coalesce(nh.n_hits, 0) AS BIGINT) AS n_hits, ns.best_micro
        |FROM sne ne JOIN sns ns ON ns.query_id = ne.query_id
        |LEFT JOIN snh nh ON nh.query_id = ne.query_id
        |ORDER BY ne.query_id""".stripMargin,

    // MIPS replay: the same left-to-right list dot, floor-micro, ranked
    // under (dot DESC, id)
    "e_mips" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |)
        |SELECT query_id, vec_id, dot_micro, CAST(rn AS INT) AS rank FROM (
        |  SELECT q.id AS query_id, v.id AS vec_id,
        |    CAST(floor(1000000.0 * list_dot_product(q.vec, v.vec)) AS BIGINT)
        |      AS dot_micro,
        |    row_number() OVER (PARTITION BY q.id ORDER BY
        |      CAST(floor(1000000.0 * list_dot_product(q.vec, v.vec)) AS BIGINT)
        |        DESC, v.id) AS rn
        |  FROM c q JOIN c v ON q.id < 5 AND v.id <> q.id)
        |WHERE rn <= 10 ORDER BY query_id, rank""".stripMargin,

    // binary-quantization replay: midrange thresholds, little-endian
    // 32-bit word packing, XOR-popcount Hamming ranking, recall vs the
    // float-exact micro top-10 — integers end to end
    "e_bq_recall" ->
      """WITH el AS (
        |  SELECT vec_id AS id, s['i'] AS i, CAST(s['v'] AS DOUBLE) AS v FROM (
        |    SELECT vec_id, unnest(list_transform(
        |      generate_series(1, len(embedding)),
        |      i -> {'i': i - 1, 'v': embedding[i]})) AS s
        |    FROM embeddings)
        |), thr AS (
        |  SELECT i, (min(v) + max(v)) / 2 AS thr FROM el GROUP BY i
        |), words AS (
        |  SELECT id, CAST(i // 32 AS INT) AS w,
        |    CAST(sum(CASE WHEN v > thr
        |      THEN (CAST(1 AS BIGINT) << CAST(i % 32 AS INT))
        |      ELSE 0 END) AS BIGINT) AS word
        |  FROM el JOIN thr USING (i) GROUP BY id, i // 32
        |), qw AS (
        |  SELECT id AS query_id, w, word AS qword FROM words WHERE id < 5
        |), ham AS (
        |  SELECT q.query_id, c.id AS vec_id,
        |    CAST(sum(bit_count(xor(c.word, q.qword))) AS BIGINT) AS hamming
        |  FROM words c JOIN qw q USING (w) WHERE c.id <> q.query_id
        |  GROUP BY 1, 2
        |), bqtop AS (
        |  SELECT query_id, vec_id, hamming FROM (
        |    SELECT query_id, vec_id, hamming, row_number() OVER (
        |      PARTITION BY query_id ORDER BY hamming, vec_id) AS rn FROM ham)
        |  WHERE rn <= 10
        |), c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), fn AS (
        |  SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM c
        |), ftop AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.id AS query_id, v.id AS vec_id,
        |      row_number() OVER (PARTITION BY q.id ORDER BY
        |        CAST(floor(1000000 * (list_dot_product(q.vec, v.vec) /
        |          (q.nrm * v.nrm))) AS BIGINT) DESC, v.id) AS rn
        |    FROM fn q JOIN fn v ON q.id < 5 AND v.id <> q.id)
        |  WHERE rn <= 10
        |), bne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM ftop GROUP BY 1),
        |bnb AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_bq,
        |          min(hamming) AS best_ham FROM bqtop GROUP BY 1),
        |bnh AS (
        |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM bqtop t JOIN ftop f ON f.query_id = t.query_id AND f.vec_id = t.vec_id
        |  GROUP BY 1)
        |SELECT ne.query_id, ne.n_exact, nb.n_bq,
        |  CAST(coalesce(nh.n_hits, 0) AS BIGINT) AS n_hits, nb.best_ham
        |FROM bne ne JOIN bnb nb ON nb.query_id = ne.query_id
        |LEFT JOIN bnh nh ON nh.query_id = ne.query_id
        |ORDER BY ne.query_id""".stripMargin,

    // two-stage BQ replay: the Hamming shortlist CTEs at k=50, exact
    // cosine rerank on the shortlist, recall vs the full exact top-10
    "e_bq_rerank" ->
      """WITH el AS (
        |  SELECT vec_id AS id, s['i'] AS i, CAST(s['v'] AS DOUBLE) AS v FROM (
        |    SELECT vec_id, unnest(list_transform(
        |      generate_series(1, len(embedding)),
        |      i -> {'i': i - 1, 'v': embedding[i]})) AS s
        |    FROM embeddings)
        |), thr AS (
        |  SELECT i, (min(v) + max(v)) / 2 AS thr FROM el GROUP BY i
        |), words AS (
        |  SELECT id, CAST(i // 32 AS INT) AS w,
        |    CAST(sum(CASE WHEN v > thr
        |      THEN (CAST(1 AS BIGINT) << CAST(i % 32 AS INT))
        |      ELSE 0 END) AS BIGINT) AS word
        |  FROM el JOIN thr USING (i) GROUP BY id, i // 32
        |), qw AS (
        |  SELECT id AS query_id, w, word AS qword FROM words WHERE id < 5
        |), ham AS (
        |  SELECT q.query_id, c.id AS vec_id,
        |    CAST(sum(bit_count(xor(c.word, q.qword))) AS BIGINT) AS hamming
        |  FROM words c JOIN qw q USING (w) WHERE c.id <> q.query_id
        |  GROUP BY 1, 2
        |), short AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (
        |      PARTITION BY query_id ORDER BY hamming, vec_id) AS rn FROM ham)
        |  WHERE rn <= 50
        |), c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), fn AS (
        |  SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM c
        |), rr AS (
        |  SELECT s.query_id, s.vec_id FROM (
        |    SELECT s.query_id, s.vec_id,
        |      row_number() OVER (PARTITION BY s.query_id ORDER BY
        |        CAST(floor(1000000.0 * (list_dot_product(q.vec, v.vec) /
        |          (q.nrm * v.nrm))) AS BIGINT) DESC, s.vec_id) AS rn
        |    FROM short s
        |    JOIN fn q ON q.id = s.query_id JOIN fn v ON v.id = s.vec_id) s
        |  WHERE rn <= 10
        |), ftop AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.id AS query_id, v.id AS vec_id,
        |      row_number() OVER (PARTITION BY q.id ORDER BY
        |        CAST(floor(1000000 * (list_dot_product(q.vec, v.vec) /
        |          (q.nrm * v.nrm))) AS BIGINT) DESC, v.id) AS rn
        |    FROM fn q JOIN fn v ON q.id < 5 AND v.id <> q.id)
        |  WHERE rn <= 10
        |), bne AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM ftop GROUP BY 1),
        |bnh AS (
        |  SELECT r.query_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM rr r JOIN ftop f ON f.query_id = r.query_id AND f.vec_id = r.vec_id
        |  GROUP BY 1)
        |SELECT ne.query_id, ne.n_exact,
        |  CAST(coalesce(nh.n_hits, 0) AS BIGINT) AS n_hits
        |FROM bne ne LEFT JOIN bnh nh ON nh.query_id = ne.query_id
        |ORDER BY ne.query_id""".stripMargin,

    // JL replay: md5-derived planes, per-dimension list_dot_product
    // projection, floor-micro scorings in both spaces, integer stats
    "e_jl_distortion" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), jdims AS (
        |  SELECT len(vec) AS dim FROM c LIMIT 1
        |), jplanes AS (
        |  SELECT d, list(comp ORDER BY j) AS plane FROM (
        |    SELECT d.range AS d, jj.j AS j,
        |      ((CAST('0x' || substring(md5('jl_' || d.range || '_' || jj.j), 1, 8) AS BIGINT)
        |        & 2147483647) / CAST(2147483647 AS DOUBLE)) - CAST(0.5 AS DOUBLE) AS comp
        |    FROM range(16) d,
        |      (SELECT unnest(generate_series(0, dim - 1)) AS j FROM jdims) jj)
        |  GROUP BY d
        |), jp AS (
        |  SELECT c.id, list(list_dot_product(c.vec, p.plane) ORDER BY p.d) AS vec
        |  FROM c, jplanes p GROUP BY c.id
        |), jn AS (
        |  SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM jp
        |), fn AS (
        |  SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM c
        |), fsc AS (
        |  SELECT q.id AS query_id, v.id AS vec_id,
        |    CAST(floor(1000000 * (list_dot_product(q.vec, v.vec) /
        |      (q.nrm * v.nrm))) AS BIGINT) AS cos_micro
        |  FROM fn q JOIN fn v ON q.id < 5 AND v.id <> q.id
        |), psc AS (
        |  SELECT q.id AS query_id, v.id AS vec_id,
        |    CAST(floor(1000000 * (list_dot_product(q.vec, v.vec) /
        |      (q.nrm * v.nrm))) AS BIGINT) AS cos_proj
        |  FROM jn q JOIN jn v ON q.id < 5 AND v.id <> q.id
        |), jdist AS (
        |  SELECT f.query_id, CAST(count(*) AS BIGINT) AS n_cand,
        |    CAST(sum(abs(f.cos_micro - p.cos_proj)) AS BIGINT) // count(*) AS mean_dist_micro,
        |    CAST(max(abs(f.cos_micro - p.cos_proj)) AS BIGINT) AS max_dist_micro
        |  FROM fsc f JOIN psc p ON p.query_id = f.query_id AND p.vec_id = f.vec_id
        |  GROUP BY 1
        |), ftop AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_micro DESC, vec_id) AS rn FROM fsc)
        |  WHERE rn <= 10
        |), jtop AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos_proj DESC, vec_id) AS rn FROM psc)
        |  WHERE rn <= 10
        |), jnh AS (
        |  SELECT j.query_id, CAST(count(*) AS BIGINT) AS n_hits
        |  FROM jtop j JOIN ftop f ON f.query_id = j.query_id AND f.vec_id = j.vec_id
        |  GROUP BY 1)
        |SELECT d.query_id, d.n_cand,
        |  CAST(d.mean_dist_micro AS BIGINT) AS mean_dist_micro, d.max_dist_micro,
        |  CAST(coalesce(nh.n_hits, 0) AS BIGINT) AS n_hits
        |FROM jdist d LEFT JOIN jnh nh ON nh.query_id = d.query_id
        |ORDER BY d.query_id""".stripMargin,

    // full graph-beam replay: exact kNN graph, deterministic entry, every
    // expansion round an unrolled CTE, recall vs the micro-exact top-k
    "e_ann_beam" ->
      Similarity.beamSearchRecallSql("vec_id % 5 = 0", "id < 50", 10),

    // full HNSW replay: hash-sampled layer membership, per-layer kNN
    // graphs, two-layer greedy descent, seeded base beam, exact recall —
    // same corpus/queries/k as e_ann_beam so the hierarchy's gain is the
    // cross-gate n_hits delta
    "e_ann_hnsw" ->
      Similarity.hnswRecallSql("vec_id % 5 = 0", "id < 50", 10),

    // full LSH retrieval replay, hash-green end to end: planes,
    // signatures, multi-probe, floor-micro cosine rerank — the SAME CTE
    // prefix e_ann_recall grades recall over
    // band join + rerank replay over the shared signature CTEs; the
    // Spark side's merge hint changes the physical join only, so the
    // candidate pair set is definitionally identical
    "e_cross_lsh" ->
      s"""$lshSigCtes, xc AS (
         |  SELECT DISTINCT l.id AS left_id, r.id AS right_id
         |  FROM sig l JOIN sig r ON r.tbl = l.tbl AND r.bucket = l.bucket
         |  WHERE l.id % 2 = 0 AND r.id % 2 = 1
         |), xs AS (
         |  SELECT x.left_id, x.right_id,
         |    CAST(floor(1000000 * (list_dot_product(lv.vec, rv.vec) /
         |      (sqrt(list_dot_product(lv.vec, lv.vec)) *
         |       sqrt(list_dot_product(rv.vec, rv.vec))))) AS BIGINT) AS cos_micro
         |  FROM xc x JOIN c lv ON lv.id = x.left_id JOIN c rv ON rv.id = x.right_id
         |), xr AS (
         |  SELECT left_id, right_id, cos_micro,
         |    CAST(row_number() OVER (PARTITION BY left_id
         |      ORDER BY cos_micro DESC, right_id) AS INT) AS rank
         |  FROM xs)
         |SELECT left_id, right_id, cos_micro, rank FROM xr
         |WHERE rank <= 3 ORDER BY left_id, rank""".stripMargin,

    "e_ann_lsh" ->
      s"""$lshReplayCtes, scored AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    CAST(floor(1000000 * (list_dot_product(qv.vec, cv.vec) /
         |      (sqrt(list_dot_product(qv.vec, qv.vec)) *
         |       sqrt(list_dot_product(cv.vec, cv.vec))))) AS BIGINT) AS cos_micro
         |  FROM cand JOIN c qv ON qv.id = cand.query_id
         |            JOIN c cv ON cv.id = cand.vec_id
         |)
         |SELECT query_id, vec_id, cos_micro, CAST(rnk AS INT) AS rank FROM (
         |  SELECT query_id, vec_id, cos_micro,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_micro DESC, vec_id) AS rnk FROM scored)
         |WHERE rnk <= 10
         |ORDER BY query_id, rank""".stripMargin,

    // full LSH replay (shared CTE prefix) + floor-micro rerank — then
    // recall vs the brute-force exact top-k, all integer outputs
    "e_ann_recall" ->
      s"""$lshReplayCtes, lsh AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT cand.query_id, cand.vec_id,
         |      row_number() OVER (PARTITION BY cand.query_id
         |        ORDER BY floor(1000000 * (list_dot_product(qv.vec, cv.vec) /
         |          (sqrt(list_dot_product(qv.vec, qv.vec)) *
         |           sqrt(list_dot_product(cv.vec, cv.vec))))) DESC, cand.vec_id) AS rnk
         |    FROM cand JOIN c qv ON qv.id = cand.query_id JOIN c cv ON cv.id = cand.vec_id)
         |  WHERE rnk <= 10
         |), exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.id AS query_id, c.id AS vec_id,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY round(list_cosine_similarity(q.vec, c.vec), 4) DESC, c.id) AS rnk
         |    FROM c q JOIN c ON q.id < 5 AND c.id <> q.id)
         |  WHERE rnk <= 10
         |), ne AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1),
         |nl AS (SELECT query_id, count(*) AS n_lsh FROM lsh GROUP BY 1),
         |nh AS (
         |  SELECT l.query_id, count(*) AS n_hits
         |  FROM lsh l JOIN exact e ON e.query_id = l.query_id AND e.vec_id = l.vec_id
         |  GROUP BY 1)
         |SELECT ne.query_id, ne.n_exact, nl.n_lsh,
         |  CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits
         |FROM ne JOIN nl USING (query_id) LEFT JOIN nh USING (query_id)
         |ORDER BY query_id""".stripMargin,

    // truncated-prefix replay: list slice + the exact ranker on both the
    // full and 8-dim views, recall as integer counts
    "e_mrl_recall" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), full_k AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.id AS query_id, c.id AS vec_id,
        |      row_number() OVER (PARTITION BY q.id
        |        ORDER BY round(list_cosine_similarity(q.vec, c.vec), 4) DESC, c.id) AS rnk
        |    FROM c q JOIN c ON q.id < 5 AND c.id <> q.id)
        |  WHERE rnk <= 10
        |), trunc_k AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.id AS query_id, c.id AS vec_id,
        |      row_number() OVER (PARTITION BY q.id
        |        ORDER BY round(list_cosine_similarity(q.vec[1:8], c.vec[1:8]), 4) DESC, c.id) AS rnk
        |    FROM c q JOIN c ON q.id < 5 AND c.id <> q.id)
        |  WHERE rnk <= 10
        |), nf AS (SELECT query_id, count(*) AS n_full FROM full_k GROUP BY 1),
        |nt AS (SELECT query_id, count(*) AS n_trunc FROM trunc_k GROUP BY 1),
        |nh AS (
        |  SELECT t.query_id, count(*) AS n_hits
        |  FROM trunc_k t JOIN full_k f ON f.query_id = t.query_id AND f.vec_id = t.vec_id
        |  GROUP BY 1)
        |SELECT nf.query_id, nf.n_full, nt.n_trunc,
        |  CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits
        |FROM nf JOIN nt USING (query_id) LEFT JOIN nh USING (query_id)
        |ORDER BY nf.query_id""".stripMargin,

    // full sampled-centroid IVF replay: hash-sampled centroids, rounded-
    // cosine argmax assignment with min-cell tie-break, nprobe=4 probes,
    // rounded rerank — then recall vs brute-force, all integer outputs
    "e_ivf_balance" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), cells AS (
        |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS cell,
        |    vec AS centroid
        |  FROM (
        |    SELECT id, vec,
        |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'ivfc'), 1, 15) AS BIGINT) AS hc
        |    FROM c ORDER BY hc, id LIMIT 16)
        |), assign AS (
        |  SELECT id, cell FROM (
        |    SELECT c.id, cells.cell, row_number() OVER (PARTITION BY c.id
        |      ORDER BY round(list_cosine_similarity(c.vec, cells.centroid), 4) DESC, cells.cell) AS rn
        |    FROM c, cells) WHERE rn = 1
        |), cnt AS (
        |  SELECT cell, CAST(count(*) AS BIGINT) AS n FROM assign GROUP BY 1
        |), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM assign)
        |SELECT cells.cell, CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_vecs,
        |  CAST((1000 * coalesce(cnt.n, 0) * 16) // tot.n_total AS BIGINT) AS load_milli
        |FROM cells LEFT JOIN cnt ON cnt.cell = cells.cell, tot
        |ORDER BY cells.cell""".stripMargin,

    // planted-drift replay: the ood branch rebuilds 3x+1 in SQL; buckets
    // and integer tenth-milli sums off the same rounded cosine
    "e_ann_ood" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), cells AS (
        |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS cell,
        |    vec AS centroid
        |  FROM (
        |    SELECT id, vec,
        |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'ivfc'), 1, 15) AS BIGINT) AS hc
        |    FROM c ORDER BY hc, id LIMIT 16)
        |), q AS (
        |  SELECT 'base' AS grp, id, vec FROM c WHERE id % 10 = 7
        |  UNION ALL
        |  SELECT 'ood' AS grp, id, list_transform(vec, x -> x * 3.0 + 1.0)
        |  FROM c WHERE id % 10 = 7
        |), best AS (
        |  SELECT grp, id,
        |    max(round(list_cosine_similarity(q.vec, cells.centroid), 4)) AS best
        |  FROM q, cells GROUP BY 1, 2
        |)
        |SELECT grp, CAST(floor(best * 10) AS INT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(CAST(round(best * 10000) AS BIGINT)) AS BIGINT)
        |    AS sum_best_tenthmilli
        |FROM best GROUP BY 1, 2 ORDER BY grp, bucket""".stripMargin,

    // contract-row oracle: replay the exact baseline for n_exact; the
    // floor boolean's truth is the contract itself (closed-form 1) —
    // the Spark side computes it from the live KMeans index
    "e_ann_ivf" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), exact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.id AS query_id, c.id AS vec_id,
        |      row_number() OVER (PARTITION BY q.id
        |        ORDER BY round(list_cosine_similarity(q.vec, c.vec), 4) DESC, c.id) AS rnk
        |    FROM c q JOIN c ON q.id < 5 AND c.id <> q.id)
        |  WHERE rnk <= 10
        |)
        |SELECT query_id, count(*) AS n_exact, 1 AS meets_floor
        |FROM exact GROUP BY query_id ORDER BY query_id""".stripMargin,

    "e_ann_ivf_recall" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), cells AS (
        |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS cell,
        |    vec AS centroid
        |  FROM (
        |    SELECT id, vec,
        |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'ivfc'), 1, 15) AS BIGINT) AS hc
        |    FROM c ORDER BY hc, id LIMIT 16)
        |), assign AS (
        |  SELECT id, cell FROM (
        |    SELECT c.id, cells.cell, row_number() OVER (PARTITION BY c.id
        |      ORDER BY round(list_cosine_similarity(c.vec, cells.centroid), 4) DESC, cells.cell) AS rn
        |    FROM c, cells) WHERE rn = 1
        |), probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT q.id AS query_id, cells.cell, row_number() OVER (PARTITION BY q.id
        |      ORDER BY round(list_cosine_similarity(q.vec, cells.centroid), 4) DESC, cells.cell) AS rn
        |    FROM c q, cells WHERE q.id < 5) WHERE rn <= 4
        |), cand AS (
        |  SELECT DISTINCT p.query_id, a.id AS vec_id
        |  FROM assign a JOIN probes p ON a.cell = p.cell
        |  WHERE a.id <> p.query_id
        |), ivf AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT cand.query_id, cand.vec_id,
        |      row_number() OVER (PARTITION BY cand.query_id
        |        ORDER BY round(list_cosine_similarity(qv.vec, cv.vec), 4) DESC, cand.vec_id) AS rnk
        |    FROM cand JOIN c qv ON qv.id = cand.query_id JOIN c cv ON cv.id = cand.vec_id)
        |  WHERE rnk <= 10
        |), exact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.id AS query_id, c.id AS vec_id,
        |      row_number() OVER (PARTITION BY q.id
        |        ORDER BY round(list_cosine_similarity(q.vec, c.vec), 4) DESC, c.id) AS rnk
        |    FROM c q JOIN c ON q.id < 5 AND c.id <> q.id)
        |  WHERE rnk <= 10
        |), ne AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1),
        |nv AS (SELECT query_id, count(*) AS n_ivf FROM ivf GROUP BY 1),
        |nh AS (
        |  SELECT i.query_id, count(*) AS n_hits
        |  FROM ivf i JOIN exact e ON e.query_id = i.query_id AND e.vec_id = i.vec_id
        |  GROUP BY 1)
        |SELECT ne.query_id, ne.n_exact, nv.n_ivf,
        |  CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits
        |FROM ne JOIN nv USING (query_id) LEFT JOIN nh USING (query_id)
        |ORDER BY ne.query_id""".stripMargin,

    // same cells/assign replay, probe ranking kept to rn <= 8 and the
    // four nprobe settings unnested against it
    "e_ivf_probe_sweep" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), cells AS (
        |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS cell,
        |    vec AS centroid
        |  FROM (
        |    SELECT id, vec,
        |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'ivfc'), 1, 15) AS BIGINT) AS hc
        |    FROM c ORDER BY hc, id LIMIT 16)
        |), assign AS (
        |  SELECT id, cell FROM (
        |    SELECT c.id, cells.cell, row_number() OVER (PARTITION BY c.id
        |      ORDER BY round(list_cosine_similarity(c.vec, cells.centroid), 4) DESC, cells.cell) AS rn
        |    FROM c, cells) WHERE rn = 1
        |), pr AS (
        |  SELECT query_id, cell, rn FROM (
        |    SELECT q.id AS query_id, cells.cell, row_number() OVER (PARTITION BY q.id
        |      ORDER BY round(list_cosine_similarity(q.vec, cells.centroid), 4) DESC, cells.cell) AS rn
        |    FROM c q, cells WHERE q.id < 5) WHERE rn <= 8
        |), nps AS (SELECT CAST(unnest([1, 2, 4, 8]) AS INT) AS nprobe),
        |cand AS (
        |  SELECT DISTINCT nps.nprobe, p.query_id, a.id AS vec_id
        |  FROM nps, pr p, assign a
        |  WHERE p.rn <= nps.nprobe AND a.cell = p.cell AND a.id <> p.query_id
        |), ivf AS (
        |  SELECT nprobe, query_id, vec_id FROM (
        |    SELECT cand.nprobe, cand.query_id, cand.vec_id,
        |      row_number() OVER (PARTITION BY cand.nprobe, cand.query_id
        |        ORDER BY round(list_cosine_similarity(qv.vec, cv.vec), 4) DESC, cand.vec_id) AS rnk
        |    FROM cand JOIN c qv ON qv.id = cand.query_id JOIN c cv ON cv.id = cand.vec_id)
        |  WHERE rnk <= 10
        |), exact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT q.id AS query_id, c.id AS vec_id,
        |      row_number() OVER (PARTITION BY q.id
        |        ORDER BY round(list_cosine_similarity(q.vec, c.vec), 4) DESC, c.id) AS rnk
        |    FROM c q JOIN c ON q.id < 5 AND c.id <> q.id)
        |  WHERE rnk <= 10
        |), nv AS (
        |  SELECT nprobe, query_id, CAST(count(*) AS BIGINT) AS n_ivf
        |  FROM ivf GROUP BY 1, 2
        |), nh AS (
        |  SELECT i.nprobe, i.query_id, count(*) AS n_hits
        |  FROM ivf i JOIN exact e ON e.query_id = i.query_id AND e.vec_id = i.vec_id
        |  GROUP BY 1, 2)
        |SELECT nv.nprobe, nv.query_id, nv.n_ivf,
        |  CAST(coalesce(nh.n_hits, 0) AS BIGINT) AS n_hits
        |FROM nv LEFT JOIN nh ON nh.nprobe = nv.nprobe AND nh.query_id = nv.query_id
        |ORDER BY nv.nprobe, nv.query_id""".stripMargin,

    // full PQ-ADC replay: hash-sampled codebooks, floor-micro argmax
    // codes, M×K query tables, integer ADC sums — then recall vs exact
    "e_pq_recall" -> {
      val m = Similarity.PqSubspaces
      val k = Similarity.PqCodebookSize
      s"""WITH c AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings
         |), dims AS (
         |  SELECT len(vec) // $m AS sub FROM c LIMIT 1
         |), samp AS (
         |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS j, vec
         |  FROM (
         |    SELECT id, vec,
         |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'pqc'), 1, 15) AS BIGINT) AS hc
         |    FROM c ORDER BY hc, id LIMIT $k)
         |), cb AS (
         |  SELECT mm.range AS m, j,
         |    vec[(mm.range * sub + 1):((mm.range + 1) * sub)] AS cbv
         |  FROM samp, range($m) mm, dims
         |), sv AS (
         |  SELECT id, mm.range AS m,
         |    vec[(mm.range * sub + 1):((mm.range + 1) * sub)] AS svv
         |  FROM c, range($m) mm, dims
         |), enc AS (
         |  SELECT id, m, j AS code FROM (
         |    SELECT sv.id, sv.m, cb.j,
         |      row_number() OVER (PARTITION BY sv.id, sv.m
         |        ORDER BY CAST(floor(1000000 * list_dot_product(sv.svv, cb.cbv)) AS BIGINT) DESC, cb.j) AS rn
         |    FROM sv JOIN cb ON sv.m = cb.m) WHERE rn = 1
         |), qt AS (
         |  SELECT sv.id AS query_id, sv.m, cb.j AS code,
         |    CAST(floor(1000000 * list_dot_product(sv.svv, cb.cbv)) AS BIGINT) AS t_micro
         |  FROM sv JOIN cb ON sv.m = cb.m WHERE sv.id < 5
         |), pqs AS (
         |  SELECT qt.query_id, enc.id AS vec_id,
         |    CAST(SUM(t_micro) AS BIGINT) AS score
         |  FROM enc JOIN qt ON enc.m = qt.m AND enc.code = qt.code
         |  WHERE enc.id <> qt.query_id
         |  GROUP BY 1, 2
         |), pq AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, vec_id) AS rnk
         |    FROM pqs)
         |  WHERE rnk <= 10
         |), exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.id AS query_id, c.id AS vec_id,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY round(list_cosine_similarity(q.vec, c.vec), 4) DESC, c.id) AS rnk
         |    FROM c q JOIN c ON q.id < 5 AND c.id <> q.id)
         |  WHERE rnk <= 10
         |), ne AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1),
         |np AS (SELECT query_id, count(*) AS n_pq FROM pq GROUP BY 1),
         |nh AS (
         |  SELECT p.query_id, count(*) AS n_hits
         |  FROM pq p JOIN exact e ON e.query_id = p.query_id AND e.vec_id = p.vec_id
         |  GROUP BY 1)
         |SELECT ne.query_id, ne.n_exact, np.n_pq,
         |  CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits
         |FROM ne JOIN np USING (query_id) LEFT JOIN nh USING (query_id)
         |ORDER BY ne.query_id""".stripMargin
    },

    // the e_pq_recall replay keeping BOTH rank columns, counted at three
    // cutoffs with zero-padded (query, k) cells
    "e_recall_curve" -> {
      val m = Similarity.PqSubspaces
      val k = Similarity.PqCodebookSize
      s"""WITH c AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings
         |), dims AS (
         |  SELECT len(vec) // $m AS sub FROM c LIMIT 1
         |), samp AS (
         |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS j, vec
         |  FROM (
         |    SELECT id, vec,
         |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'pqc'), 1, 15) AS BIGINT) AS hc
         |    FROM c ORDER BY hc, id LIMIT $k)
         |), cb AS (
         |  SELECT mm.range AS m, j,
         |    vec[(mm.range * sub + 1):((mm.range + 1) * sub)] AS cbv
         |  FROM samp, range($m) mm, dims
         |), sv AS (
         |  SELECT id, mm.range AS m,
         |    vec[(mm.range * sub + 1):((mm.range + 1) * sub)] AS svv
         |  FROM c, range($m) mm, dims
         |), enc AS (
         |  SELECT id, m, j AS code FROM (
         |    SELECT sv.id, sv.m, cb.j,
         |      row_number() OVER (PARTITION BY sv.id, sv.m
         |        ORDER BY CAST(floor(1000000 * list_dot_product(sv.svv, cb.cbv)) AS BIGINT) DESC, cb.j) AS rn
         |    FROM sv JOIN cb ON sv.m = cb.m) WHERE rn = 1
         |), qt AS (
         |  SELECT sv.id AS query_id, sv.m, cb.j AS code,
         |    CAST(floor(1000000 * list_dot_product(sv.svv, cb.cbv)) AS BIGINT) AS t_micro
         |  FROM sv JOIN cb ON sv.m = cb.m WHERE sv.id < 5
         |), pqs AS (
         |  SELECT qt.query_id, enc.id AS vec_id,
         |    CAST(SUM(t_micro) AS BIGINT) AS score
         |  FROM enc JOIN qt ON enc.m = qt.m AND enc.code = qt.code
         |  WHERE enc.id <> qt.query_id
         |  GROUP BY 1, 2
         |), pqk AS (
         |  SELECT query_id, vec_id, rnk AS ar FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, vec_id) AS rnk
         |    FROM pqs)
         |  WHERE rnk <= 10
         |), ex AS (
         |  SELECT query_id, vec_id, rnk AS er FROM (
         |    SELECT q.id AS query_id, c.id AS vec_id,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY round(list_cosine_similarity(q.vec, c.vec), 4) DESC, c.id) AS rnk
         |    FROM c q JOIN c ON q.id < 5 AND c.id <> q.id)
         |  WHERE rnk <= 10
         |), hits AS (
         |  SELECT e.query_id, e.er, p.ar
         |  FROM ex e JOIN pqk p ON p.query_id = e.query_id AND p.vec_id = e.vec_id
         |), ks AS (
         |  SELECT unnest([1, 5, 10]) AS k
         |), cnt AS (
         |  SELECT query_id, k, CAST(count(*) AS BIGINT) AS n
         |  FROM hits JOIN ks ON hits.ar <= ks.k AND hits.er <= ks.k
         |  GROUP BY 1, 2
         |)
         |SELECT b.query_id, CAST(b.k AS INT) AS k,
         |  CAST(coalesce(cnt.n, 0) AS BIGINT) AS n_hits
         |FROM (SELECT id AS query_id, k FROM c, ks WHERE id < 5) b
         |LEFT JOIN cnt ON cnt.query_id = b.query_id AND cnt.k = b.k
         |ORDER BY b.query_id, b.k""".stripMargin
    },

    // two-stage replay: the e_pq_recall codebook/encode/score CTEs produce
    // the 20-deep shortlist, then the exact cosine — written as the same
    // op tree Spark runs (list_dot_product / (sqrt · sqrt)) — reranks it
    "e_rerank" -> {
      val m = Similarity.PqSubspaces
      val k = Similarity.PqCodebookSize
      s"""WITH c AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings
         |), dims AS (
         |  SELECT len(vec) // $m AS sub FROM c LIMIT 1
         |), samp AS (
         |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS j, vec
         |  FROM (
         |    SELECT id, vec,
         |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'pqc'), 1, 15) AS BIGINT) AS hc
         |    FROM c ORDER BY hc, id LIMIT $k)
         |), cb AS (
         |  SELECT mm.range AS m, j,
         |    vec[(mm.range * sub + 1):((mm.range + 1) * sub)] AS cbv
         |  FROM samp, range($m) mm, dims
         |), sv AS (
         |  SELECT id, mm.range AS m,
         |    vec[(mm.range * sub + 1):((mm.range + 1) * sub)] AS svv
         |  FROM c, range($m) mm, dims
         |), enc AS (
         |  SELECT id, m, j AS code FROM (
         |    SELECT sv.id, sv.m, cb.j,
         |      row_number() OVER (PARTITION BY sv.id, sv.m
         |        ORDER BY CAST(floor(1000000 * list_dot_product(sv.svv, cb.cbv)) AS BIGINT) DESC, cb.j) AS rn
         |    FROM sv JOIN cb ON sv.m = cb.m) WHERE rn = 1
         |), qt AS (
         |  SELECT sv.id AS query_id, sv.m, cb.j AS code,
         |    CAST(floor(1000000 * list_dot_product(sv.svv, cb.cbv)) AS BIGINT) AS t_micro
         |  FROM sv JOIN cb ON sv.m = cb.m WHERE sv.id < 5
         |), pqs AS (
         |  SELECT qt.query_id, enc.id AS vec_id,
         |    CAST(SUM(t_micro) AS BIGINT) AS score
         |  FROM enc JOIN qt ON enc.m = qt.m AND enc.code = qt.code
         |  WHERE enc.id <> qt.query_id
         |  GROUP BY 1, 2
         |), short AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, vec_id) AS rnk
         |    FROM pqs)
         |  WHERE rnk <= 20
         |), rer AS (
         |  SELECT s.query_id, s.vec_id,
         |    CAST(floor(1000000 * (list_dot_product(qv.vec, cv.vec) /
         |      (sqrt(list_dot_product(qv.vec, qv.vec)) * sqrt(list_dot_product(cv.vec, cv.vec)))))
         |      AS BIGINT) AS cos_micro
         |  FROM short s
         |  JOIN c qv ON qv.id = s.query_id
         |  JOIN c cv ON cv.id = s.vec_id
         |)
         |SELECT query_id, vec_id, cos_micro, rank FROM (
         |  SELECT query_id, vec_id, cos_micro,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos_micro DESC, vec_id) AS INT) AS rank
         |  FROM rer)
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
    },

    // IVF+PQ replay: the e_ann_ivf_recall cell/probe CTEs bound the
    // candidates, the e_pq_recall codebook/encode/table CTEs score them
    // the e_ivfpq_recall replay chain, re-emitting the top-10 LIST per
    // query (score + rank) instead of the recall counts — the streaming
    // serving result is bit-identical to the batch index's answer
    "s_stream_ann" -> {
      val m = Similarity.PqSubspaces
      val k = Similarity.PqCodebookSize
      s"""WITH c AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings
         |), dims AS (
         |  SELECT len(vec) // $m AS sub FROM c LIMIT 1
         |), cells AS (
         |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS cell,
         |    vec AS centroid
         |  FROM (
         |    SELECT id, vec,
         |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'ivfc'), 1, 15) AS BIGINT) AS hc
         |    FROM c ORDER BY hc, id LIMIT 16)
         |), asg AS (
         |  SELECT id, cell FROM (
         |    SELECT c.id, cells.cell, row_number() OVER (PARTITION BY c.id
         |      ORDER BY round(list_cosine_similarity(c.vec, cells.centroid), 4) DESC, cells.cell) AS rn
         |    FROM c, cells) WHERE rn = 1
         |), probes AS (
         |  SELECT query_id, cell FROM (
         |    SELECT q.id AS query_id, cells.cell, row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(list_cosine_similarity(q.vec, cells.centroid), 4) DESC, cells.cell) AS rn
         |    FROM c q, cells WHERE q.id < 5) WHERE rn <= 4
         |), cand AS (
         |  SELECT p.query_id, a.id AS vec_id
         |  FROM asg a JOIN probes p ON a.cell = p.cell
         |  WHERE a.id <> p.query_id
         |), samp AS (
         |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS j, vec
         |  FROM (
         |    SELECT id, vec,
         |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'pqc'), 1, 15) AS BIGINT) AS hc
         |    FROM c ORDER BY hc, id LIMIT $k)
         |), cb AS (
         |  SELECT mm.range AS m, j,
         |    vec[(mm.range * sub + 1):((mm.range + 1) * sub)] AS cbv
         |  FROM samp, range($m) mm, dims
         |), sv AS (
         |  SELECT id, mm.range AS m,
         |    vec[(mm.range * sub + 1):((mm.range + 1) * sub)] AS svv
         |  FROM c, range($m) mm, dims
         |), enc AS (
         |  SELECT id, m, j AS code FROM (
         |    SELECT sv.id, sv.m, cb.j,
         |      row_number() OVER (PARTITION BY sv.id, sv.m
         |        ORDER BY CAST(floor(1000000 * list_dot_product(sv.svv, cb.cbv)) AS BIGINT) DESC, cb.j) AS rn
         |    FROM sv JOIN cb ON sv.m = cb.m) WHERE rn = 1
         |), qt AS (
         |  SELECT sv.id AS query_id, sv.m, cb.j AS code,
         |    CAST(floor(1000000 * list_dot_product(sv.svv, cb.cbv)) AS BIGINT) AS t_micro
         |  FROM sv JOIN cb ON sv.m = cb.m WHERE sv.id < 5
         |), pqs AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    CAST(SUM(t_micro) AS BIGINT) AS score
         |  FROM cand JOIN enc ON enc.id = cand.vec_id
         |  JOIN qt ON qt.query_id = cand.query_id
         |    AND qt.m = enc.m AND qt.code = enc.code
         |  GROUP BY 1, 2
         |)
         |SELECT query_id, vec_id, score AS score_micro,
         |  CAST(rnk AS INT) AS rank
         |FROM (
         |  SELECT query_id, vec_id, score,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, vec_id) AS rnk
         |  FROM pqs)
         |WHERE rnk <= 10 ORDER BY query_id, rank""".stripMargin
    },

    "e_ivfpq_recall" -> {
      val m = Similarity.PqSubspaces
      val k = Similarity.PqCodebookSize
      s"""WITH c AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings
         |), dims AS (
         |  SELECT len(vec) // $m AS sub FROM c LIMIT 1
         |), cells AS (
         |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS cell,
         |    vec AS centroid
         |  FROM (
         |    SELECT id, vec,
         |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'ivfc'), 1, 15) AS BIGINT) AS hc
         |    FROM c ORDER BY hc, id LIMIT 16)
         |), asg AS (
         |  SELECT id, cell FROM (
         |    SELECT c.id, cells.cell, row_number() OVER (PARTITION BY c.id
         |      ORDER BY round(list_cosine_similarity(c.vec, cells.centroid), 4) DESC, cells.cell) AS rn
         |    FROM c, cells) WHERE rn = 1
         |), probes AS (
         |  SELECT query_id, cell FROM (
         |    SELECT q.id AS query_id, cells.cell, row_number() OVER (PARTITION BY q.id
         |      ORDER BY round(list_cosine_similarity(q.vec, cells.centroid), 4) DESC, cells.cell) AS rn
         |    FROM c q, cells WHERE q.id < 5) WHERE rn <= 4
         |), cand AS (
         |  SELECT p.query_id, a.id AS vec_id
         |  FROM asg a JOIN probes p ON a.cell = p.cell
         |  WHERE a.id <> p.query_id
         |), samp AS (
         |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS j, vec
         |  FROM (
         |    SELECT id, vec,
         |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'pqc'), 1, 15) AS BIGINT) AS hc
         |    FROM c ORDER BY hc, id LIMIT $k)
         |), cb AS (
         |  SELECT mm.range AS m, j,
         |    vec[(mm.range * sub + 1):((mm.range + 1) * sub)] AS cbv
         |  FROM samp, range($m) mm, dims
         |), sv AS (
         |  SELECT id, mm.range AS m,
         |    vec[(mm.range * sub + 1):((mm.range + 1) * sub)] AS svv
         |  FROM c, range($m) mm, dims
         |), enc AS (
         |  SELECT id, m, j AS code FROM (
         |    SELECT sv.id, sv.m, cb.j,
         |      row_number() OVER (PARTITION BY sv.id, sv.m
         |        ORDER BY CAST(floor(1000000 * list_dot_product(sv.svv, cb.cbv)) AS BIGINT) DESC, cb.j) AS rn
         |    FROM sv JOIN cb ON sv.m = cb.m) WHERE rn = 1
         |), qt AS (
         |  SELECT sv.id AS query_id, sv.m, cb.j AS code,
         |    CAST(floor(1000000 * list_dot_product(sv.svv, cb.cbv)) AS BIGINT) AS t_micro
         |  FROM sv JOIN cb ON sv.m = cb.m WHERE sv.id < 5
         |), pqs AS (
         |  SELECT cand.query_id, cand.vec_id,
         |    CAST(SUM(t_micro) AS BIGINT) AS score
         |  FROM cand JOIN enc ON enc.id = cand.vec_id
         |  JOIN qt ON qt.query_id = cand.query_id
         |    AND qt.m = enc.m AND qt.code = enc.code
         |  GROUP BY 1, 2
         |), pq AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, vec_id) AS rnk
         |    FROM pqs)
         |  WHERE rnk <= 10
         |), exact AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT q.id AS query_id, c.id AS vec_id,
         |      row_number() OVER (PARTITION BY q.id
         |        ORDER BY round(list_cosine_similarity(q.vec, c.vec), 4) DESC, c.id) AS rnk
         |    FROM c q JOIN c ON q.id < 5 AND c.id <> q.id)
         |  WHERE rnk <= 10
         |), ne AS (SELECT query_id, count(*) AS n_exact FROM exact GROUP BY 1),
         |np AS (SELECT query_id, count(*) AS n_ivfpq FROM pq GROUP BY 1),
         |nh AS (
         |  SELECT p.query_id, count(*) AS n_hits
         |  FROM pq p JOIN exact e ON e.query_id = p.query_id AND e.vec_id = p.vec_id
         |  GROUP BY 1)
         |SELECT ne.query_id, ne.n_exact, np.n_ivfpq,
         |  CAST(COALESCE(nh.n_hits, 0) AS BIGINT) AS n_hits
         |FROM ne JOIN np USING (query_id) LEFT JOIN nh USING (query_id)
         |ORDER BY ne.query_id""".stripMargin
    },

    // full trainless-SemDeDup replay: hash-sampled cells + rounded-cosine
    // argmax assignment (same CTEs as e_ann_ivf_recall), within-cell
    // pairs at threshold, recursive min-label propagation = connected
    // components (same CC replay as d_dedup_pipeline), min-id survivors
    "e_semdedup" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), cells AS (
        |  SELECT CAST(row_number() OVER (ORDER BY hc, id) - 1 AS INT) AS cell,
        |    vec AS centroid
        |  FROM (
        |    SELECT id, vec,
        |      CAST('0x' || substring(md5(CAST(id AS VARCHAR) || 'ivfc'), 1, 15) AS BIGINT) AS hc
        |    FROM c ORDER BY hc, id LIMIT 16)
        |), asg AS (
        |  SELECT id, cell, vec FROM (
        |    SELECT c.id, cells.cell, c.vec, row_number() OVER (PARTITION BY c.id
        |      ORDER BY round(list_cosine_similarity(c.vec, cells.centroid), 4) DESC, cells.cell) AS rn
        |    FROM c, cells) WHERE rn = 1
        |), pr AS (
        |  SELECT a.id AS s, b.id AS t
        |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id
        |  WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.45
        |), ud AS (
        |  SELECT s, t FROM pr UNION SELECT t, s FROM pr
        |), dn AS (
        |  SELECT DISTINCT s AS key FROM ud
        |), rch AS (
        |  WITH RECURSIVE reach(key, label) AS (
        |    SELECT key, key FROM dn
        |    UNION
        |    SELECT e.t, r.label FROM reach r JOIN ud e ON e.s = r.key
        |  ) SELECT key, min(label) AS keep FROM reach GROUP BY key
        |)
        |SELECT vec_id AS id FROM embeddings
        |WHERE vec_id NOT IN (SELECT key FROM rch WHERE keep <> key)
        |ORDER BY id""".stripMargin,

    // ground truth is the planted-payload arithmetic, NOT a re-decode:
    // the hash match proves the real pixel/PCM decoders invert the build
    // stride-3 sample subset of the planted PCM stream in closed form
    "m_resample" ->
      """WITH base AS (
        |  SELECT doc_id AS media_id, doc_id % 16 + 2 AS n
        |  FROM documents WHERE doc_id % 2 = 1
        |), smp AS (
        |  SELECT media_id,
        |    list_transform(generate_series(0, n - 1, 3),
        |      k -> CASE WHEN (media_id * 31 + k * 997) % 65536 < 32768
        |                THEN (media_id * 31 + k * 997) % 65536
        |                ELSE (media_id * 31 + k * 997) % 65536 - 65536 END) AS s
        |  FROM base
        |)
        |SELECT media_id, CAST(len(s) AS BIGINT) AS n_kept,
        |  CAST(list_aggregate(s, 'sum') AS BIGINT) AS sum_kept,
        |  CAST(list_aggregate(s, 'min') AS INT) AS min_kept,
        |  CAST(list_aggregate(s, 'max') AS INT) AS max_kept
        |FROM smp ORDER BY media_id""".stripMargin,

    // stride-2 pixel subset of the planted BMP raster in closed form:
    // image row y is raster row h-1-y, kept pixels are x∈{0,2}, y even
    "m_resize" ->
      """WITH base AS (
        |  SELECT doc_id AS media_id, doc_id % 8 + 1 AS h,
        |    (doc_id % 8 + 2) // 2 AS oh,
        |    (doc_id * 7) % 256 AS g0, (doc_id * 13) % 256 AS r0
        |  FROM documents WHERE doc_id % 2 = 0
        |)
        |SELECT media_id, CAST(2 AS INT) AS out_w, CAST(oh AS INT) AS out_h,
        |  CAST(r0 * 2 * oh AS BIGINT) AS sum_r,
        |  CAST(g0 * 2 * oh AS BIGINT) AS sum_g,
        |  CAST(list_aggregate(list_transform(generate_series(0, oh - 1),
        |    j -> (media_id + (h - 1 - 2*j) * 4) % 256
        |       + (media_id + (h - 1 - 2*j) * 4 + 2) % 256), 'sum') AS BIGINT)
        |    AS sum_b
        |FROM base ORDER BY media_id""".stripMargin,

    "m_features" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 8 + 1 AS hgt, doc_id % 16 + 2 AS n
        |  FROM documents
        |), calc AS (
        |  SELECT doc_id, hgt, n,
        |    CAST(list_aggregate(list_transform(generate_series(0, hgt * 4 - 1),
        |      p -> (doc_id + p) % 256), 'sum') AS BIGINT) AS sum_b,
        |    list_transform(generate_series(0, n - 1),
        |      k -> CASE WHEN (doc_id * 31 + k * 997) % 65536 < 32768
        |                THEN (doc_id * 31 + k * 997) % 65536
        |                ELSE (doc_id * 31 + k * 997) % 65536 - 65536 END) AS smp
        |  FROM base
        |)
        |SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image/bmp' ELSE 'audio/wav' END AS kind,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(4 AS INT) END AS width,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(hgt AS INT) END AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(hgt * 4 AS BIGINT) END AS n_pixels,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(hgt * 4 * (doc_id * 13 % 256) AS BIGINT) END AS sum_r,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(hgt * 4 * (doc_id * 7 % 256) AS BIGINT) END AS sum_g,
        |  CASE WHEN doc_id % 2 = 0 THEN sum_b END AS sum_b,
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(sum_b AS DOUBLE) / (hgt * 4) END AS mean_b,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST(n AS BIGINT) END AS n_samples,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST(list_aggregate(smp, 'sum') AS BIGINT) END AS sum_samples,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST(list_aggregate(smp, 'min') AS INT) END AS min_sample,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST(list_aggregate(smp, 'max') AS INT) END AS max_sample,
        |  CASE WHEN doc_id % 2 = 1 THEN CAST(list_aggregate(smp, 'sum') AS DOUBLE) / n END AS mean_sample
        |FROM calc ORDER BY media_id""".stripMargin,

    // windowed-audio replay: per (doc, window) the planted samples
    // s_k = signed((31d + 997k) % 65536) re-derived directly; Σ|s| and
    // the window-local sign-flip count are order-free integers
    "m_audio" -> mAudioSql,

    "m_audio_dup" -> mAudioDupSql,

    // planted-sample replay incl. the doc_id%10==5 rail plant; gain is
    // pure integer division, rms = floor(1e6·sqrt(Σs²/n)) — IEEE-exact
    "m_gain" ->
      """WITH base AS (
        |  SELECT doc_id AS d, doc_id % 16 + 2 AS n FROM documents
        |  WHERE doc_id % 2 = 1
        |), smps AS (
        |  SELECT d, n, list_transform(generate_series(0, n - 1),
        |    k -> CASE WHEN d % 10 = 5 AND k < 2
        |              THEN CASE WHEN k = 0 THEN 32767 ELSE -32768 END
        |              ELSE CASE WHEN (d * 31 + k * 997) % 65536 < 32768
        |                        THEN (d * 31 + k * 997) % 65536
        |                        ELSE (d * 31 + k * 997) % 65536 - 65536
        |                   END END) AS smp
        |  FROM base
        |), f AS (
        |  SELECT d, n,
        |    list_aggregate(list_transform(smp, x -> abs(x)), 'max') AS peak,
        |    coalesce(list_aggregate(list_transform(smp,
        |      x -> CASE WHEN x = 32767 OR x = -32768 THEN 1 ELSE 0 END),
        |      'sum'), 0) AS n_clipped,
        |    list_aggregate(list_transform(smp, x -> x * x), 'sum') AS sum_sq
        |  FROM smps
        |)
        |SELECT d AS media_id, CAST(n AS INT) AS n_samples,
        |  CAST(peak AS INT) AS peak, CAST(n_clipped AS INT) AS n_clipped,
        |  CAST(sum_sq AS BIGINT) AS sum_sq,
        |  (CAST(32767 AS BIGINT) * 1000000)
        |    // greatest(CAST(peak AS BIGINT), 1) AS gain_micro,
        |  CAST(floor(1000000 * sqrt(CAST(sum_sq AS DOUBLE) / n)) AS BIGINT)
        |    AS rms_micro
        |FROM f ORDER BY media_id""".stripMargin,

    // planted-sample replay + gaps-and-islands run rebuild
    "m_silence" -> mSilenceSql,

    // batch/stream parity: the stream drains the same payloads through
    // the same operator, so the oracle is shared verbatim
    "s_stream_silence" -> mSilenceSql,

    // the streaming path decodes the identical planted WAVs statelessly
    "s_stream_audio" -> mAudioSql,

    // CDC replay: the final merged state in closed form — seed ∪ feed
    // keys, feed payload wins on matched keys
    "s_stream_cdc" ->
      s"""WITH cfin AS (
         |  SELECT doc_id AS k,
         |    CASE WHEN doc_id % 3 = 0 THEN 'v2:' || text ELSE text END AS payload
         |  FROM $docsT WHERE doc_id % 2 = 0 OR doc_id % 3 = 0
         |)
         |SELECT CAST(count(*) AS BIGINT) AS n_result,
         |  CAST(sum(CASE WHEN k % 2 = 0 AND k % 3 = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_updated,
         |  CAST(sum(CASE WHEN k % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_inserted,
         |  CAST(sum(${TextFunctions.hash32Sql(
              "CAST(k AS VARCHAR) || ':' || payload")}) AS BIGINT) AS checksum
         |FROM cfin""".stripMargin,

    // streaming update-mode counts collapse to the batch corpus counts
    "s_stream_hh" ->
      s"""SELECT token, cnt FROM (
         |  SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM (
         |    SELECT unnest(${TextFunctions.tokensSql("text")}) AS token
         |    FROM documents)
         |  GROUP BY token)
         |ORDER BY cnt DESC, token LIMIT 30""".stripMargin,

    // perceptual-hash replay: aHash/dHash bit vectors recomputed in
    // closed form from the planted raster (blue(y,x) = (d + raster-row·4
    // + x) % 256 with raster row = h-1-y), bits little-endian row-major
    "m_phash" ->
      """WITH ph AS (
        |  SELECT doc_id AS d, doc_id % 8 + 1 AS h FROM documents
        |  WHERE doc_id % 2 = 0
        |), sums AS (
        |  SELECT d, h,
        |    CAST(list_aggregate(list_transform(generate_series(0, h * 4 - 1),
        |      p -> (d + p) % 256), 'sum') AS BIGINT) AS sum_b
        |  FROM ph
        |), hashes AS (
        |  SELECT d, h,
        |    CAST(list_aggregate(list_transform(generate_series(0, h * 4 - 1),
        |      p -> CASE WHEN ((d + (h - 1 - (p // 4)) * 4 + (p % 4)) % 256) * (4 * h) > sum_b
        |           THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END),
        |      'sum') AS BIGINT) AS ahash,
        |    CAST(list_aggregate(list_transform(generate_series(0, h * 3 - 1),
        |      q -> CASE WHEN (d + (h - 1 - (q // 3)) * 4 + (q % 3) + 1) % 256
        |                   > (d + (h - 1 - (q // 3)) * 4 + (q % 3)) % 256
        |           THEN (CAST(1 AS BIGINT) << CAST(q AS INT)) ELSE 0 END),
        |      'sum') AS BIGINT) AS dhash
        |  FROM sums
        |)
        |SELECT d AS media_id, CAST(4 AS INT) AS w, CAST(h AS INT) AS h,
        |  ahash, dhash,
        |  CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same
        |FROM hashes ORDER BY media_id""".stripMargin,

    // near-dup replay: the 9×8-resampled 64-bit gradient hash recomputed
    // in closed form from the textured construction (nearest-neighbor
    // source coords xsrc = x·4//9, ysrc = y·h//8), then the pair join run
    // ALL-PAIRS with bit_count(xor) ≤ 3 — banding is the Spark side's
    // plan shape, not part of the answer
    "m_phash_dedup" -> {
      val dhExpr = texDh64Sql
      s"""WITH media AS (
         |  SELECT doc_id AS media_id, doc_id AS seed, doc_id % 8 + 8 AS h,
         |    0 AS pert
         |  FROM documents WHERE doc_id % 2 = 0
         |  UNION ALL
         |  SELECT doc_id + 1, doc_id, doc_id % 8 + 8,
         |    CASE WHEN doc_id % 40 = 0 THEN 2 ELSE 1 END
         |  FROM documents WHERE doc_id % 20 = 0
         |), dh AS MATERIALIZED (
         |  SELECT media_id,
         |    $dhExpr AS dh64
         |  FROM media
         |), prs AS (
         |  SELECT x.media_id AS a, y.media_id AS b
         |  FROM dh x JOIN dh y ON x.media_id < y.media_id
         |  WHERE bit_count(xor(x.dh64, y.dh64)) <= 3
         |), part AS (
         |  SELECT a AS media_id, b AS partner FROM prs
         |  UNION ALL SELECT b, a FROM prs
         |)
         |SELECT m.media_id,
         |  CAST(CASE WHEN MIN(p.partner) IS NULL OR MIN(p.partner) > m.media_id
         |       THEN m.media_id ELSE MIN(p.partner) END AS BIGINT) AS keep_id,
         |  CAST(COUNT(p.partner) AS BIGINT) AS n_near
         |FROM dh m LEFT JOIN part p ON m.media_id = p.media_id
         |GROUP BY m.media_id
         |ORDER BY m.media_id""".stripMargin
    },

    // delta copies vs the index, all-pairs in the oracle; shared with
    // the streaming ingest twin
    "m_phash_incr" -> phashIncrOracleSql,
    "s_stream_phash" -> phashIncrOracleSql,

    // frame seed v = doc_id + j drives the same closed-form bit replay
    // as m_phash; fid = 16*doc_id + j keys sampled frames
    "m_video_phash" ->
      """WITH vf AS (
        |  SELECT doc_id * 16 + j AS fid, doc_id + j AS d, (doc_id + j) % 8 + 1 AS h
        |  FROM (
        |    SELECT doc_id, unnest(list_filter(generate_series(0, doc_id % 4 + 1),
        |      j -> j % 2 = 0)) AS j
        |    FROM documents)
        |), vsums AS (
        |  SELECT fid, d, h,
        |    CAST(list_aggregate(list_transform(generate_series(0, h * 4 - 1),
        |      p -> (d + p) % 256), 'sum') AS BIGINT) AS sum_b
        |  FROM vf
        |), vhashes AS (
        |  SELECT fid, h,
        |    CAST(list_aggregate(list_transform(generate_series(0, h * 4 - 1),
        |      p -> CASE WHEN ((d + (h - 1 - (p // 4)) * 4 + (p % 4)) % 256) * (4 * h) > sum_b
        |           THEN (CAST(1 AS BIGINT) << CAST(p AS INT)) ELSE 0 END),
        |      'sum') AS BIGINT) AS ahash,
        |    CAST(list_aggregate(list_transform(generate_series(0, h * 3 - 1),
        |      q -> CASE WHEN (d + (h - 1 - (q // 3)) * 4 + (q % 3) + 1) % 256
        |                   > (d + (h - 1 - (q // 3)) * 4 + (q % 3)) % 256
        |           THEN (CAST(1 AS BIGINT) << CAST(q AS INT)) ELSE 0 END),
        |      'sum') AS BIGINT) AS dhash
        |  FROM vsums
        |)
        |SELECT fid AS frame_id, CAST(4 AS INT) AS w, CAST(h AS INT) AS h,
        |  ahash, dhash,
        |  CAST(count(*) OVER (PARTITION BY dhash) AS BIGINT) AS n_same
        |FROM vhashes ORDER BY frame_id""".stripMargin,

    "m_video" -> mVideoSql,

    // construction inversion: scene lengths (d+s)%3+1, starts = running
    // sum, boundary checksum = Σ starts — all closed-form per clip
    "m_scenes" ->
      """WITH base AS (
        |  SELECT doc_id AS d, doc_id % 4 + 2 AS ns FROM documents
        |), scl AS (
        |  SELECT d, s, (d + s) % 3 + 1 AS len FROM (
        |    SELECT d, unnest(generate_series(0, ns - 1)) AS s FROM base)
        |), st AS (
        |  SELECT d, s, len,
        |    coalesce(sum(len) OVER (PARTITION BY d ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
        |  FROM scl
        |)
        |SELECT d AS media_id,
        |  CAST(sum(len) AS INT) AS n_frames,
        |  CAST(count(*) AS INT) AS n_scenes,
        |  CAST(max(len) AS INT) AS longest_scene,
        |  CAST(sum(start) AS BIGINT) AS boundary_sum
        |FROM st GROUP BY d ORDER BY media_id""".stripMargin,

    // identical oracle for the streaming drain of the same GVID walk
    "s_stream_video" -> mVideoSql,

    // closed-form replay of the planted lattice + the two empirically
    // pinned rules: late DROP iff window end < watermark (w = max hour
    // over batches 1-2, minus the 2h delay), append EMISSION iff window
    // end <= the final watermark
    // dropDuplicatesWithinWatermark replay under the empirically pinned
    // mechanics: the OPERATING watermark of batch n is computed from
    // batches 1..n-1 (one-batch lag; batch 1 runs at -inf), the late
    // filter and the dedup-vs-state check use that operating watermark,
    // and state eviction runs at batch COMMIT with the same value — so a
    // duplicate of an expired key arriving in the first batch after
    // expiry is STILL suppressed (input processes before eviction), and
    // re-admission is observable one full batch later
    "s_stream_dedup_wm" ->
      """WITH swb1(k, m) AS (
        |  VALUES ('A', 0), ('B', 60), ('C', 540), ('W1', 600)
        |), swb2(k, m) AS (
        |  VALUES ('A', 540), ('C', 540), ('D', 540), ('D', 540), ('W2', 720)
        |), swb3(k, m) AS (
        |  VALUES ('C', 630), ('B', 650), ('E', 300)
        |), sww2 AS (
        |  SELECT max(m) - 120 AS w FROM swb1
        |), sww3 AS (
        |  SELECT max(m) - 120 AS w
        |  FROM (SELECT m FROM swb1 UNION ALL SELECT m FROM swb2)
        |), swa1 AS (
        |  SELECT k, min(m) AS m FROM swb1 GROUP BY k
        |), swa2 AS (
        |  SELECT b.k, min(b.m) AS m FROM swb2 b, sww2
        |  WHERE b.m >= sww2.w AND b.k NOT IN (SELECT k FROM swa1)
        |  GROUP BY b.k
        |), swst3 AS (
        |  SELECT k FROM (SELECT k, m FROM swa1
        |                 UNION ALL SELECT k, m FROM swa2) s, sww2
        |  WHERE s.m + 120 > sww2.w
        |), swa3 AS (
        |  SELECT b.k, min(b.m) AS m FROM swb3 b, sww3
        |  WHERE b.m >= sww3.w AND b.k NOT IN (SELECT k FROM swst3)
        |  GROUP BY b.k
        |), swall AS (
        |  SELECT k, m FROM swa1 UNION ALL SELECT k, m FROM swa2
        |  UNION ALL SELECT k, m FROM swa3
        |)
        |SELECT k, CAST(count(*) AS BIGINT) AS n_admitted,
        |  CAST(min(m) AS INT) AS first_m, CAST(max(m) AS INT) AS last_m
        |FROM swall GROUP BY k ORDER BY k""".stripMargin,

    "s_stream_late" ->
      """WITH slb1 AS (
        |  SELECT CASE WHEN i = 100 THEN 48 ELSE i % 24 END AS h
        |  FROM (SELECT unnest(generate_series(0, 100)) AS i)
        |), slb2 AS (
        |  SELECT 49 AS h
        |), slw AS (
        |  SELECT max(h) - 2 AS w FROM (SELECT h FROM slb1 UNION ALL SELECT h FROM slb2)
        |), slb3 AS (
        |  SELECT i % 50 AS h FROM (SELECT unnest(generate_series(0, 49)) AS i)
        |), slkept AS (
        |  SELECT h FROM slb1
        |  UNION ALL SELECT h FROM slb2
        |  UNION ALL SELECT h FROM slb3, slw WHERE h + 1 >= w
        |)
        |SELECT CAST(h AS INT) AS h, CAST(count(*) AS BIGINT) AS n
        |FROM slkept, slw WHERE h + 1 <= w
        |GROUP BY h ORDER BY h""".stripMargin,

    "s_stream_hll_late" ->
      s"""WITH hlb1 AS (
         |  SELECT CASE WHEN i = 100 THEN 48 ELSE i % 24 END AS h,
         |    'u' || CAST(i AS VARCHAR) AS item
         |  FROM (SELECT unnest(generate_series(0, 100)) AS i)
         |), hlb2 AS (
         |  SELECT 49 AS h, 'u101' AS item
         |), hlw AS (
         |  SELECT max(h) - 2 AS w
         |  FROM (SELECT h FROM hlb1 UNION ALL SELECT h FROM hlb2)
         |), hlb3 AS (
         |  SELECT i % 50 AS h, 'x' || CAST(i AS VARCHAR) AS item
         |  FROM (SELECT unnest(generate_series(0, 49)) AS i)
         |), hlacc AS (
         |  SELECT h, item FROM hlb1
         |  UNION ALL SELECT h, item FROM hlb2
         |  UNION ALL SELECT b.h, b.item FROM hlb3 b, hlw WHERE b.h + 1 >= hlw.w
         |), hlpre AS (
         |  SELECT h, CAST(hh % 64 AS INT) AS register, hh // 64 AS v
         |  FROM (SELECT h, ${TextFunctions.hash60Sql("item")} AS hh FROM hlacc)
         |)
         |SELECT CAST(h AS INT) AS h, register,
         |  CAST(max(CASE WHEN v = 0 THEN 55 ELSE 55 - length(bin(v)) END) AS INT)
         |    AS rho_max
         |FROM hlpre, hlw WHERE h + 1 <= hlw.w
         |GROUP BY h, register ORDER BY h, register""".stripMargin,

    "s_stream_cms_late" -> {
      // joined with plain newlines (no margin pipes): stripMargin only
      // strips lines that start with '|', leaving the interpolation alone
      val bucketRows = (0 until Sketches.CmsDepth).map(r =>
        s"SELECT hr, $r AS r, ${Sketches.cmsBucketSql("hh", r)} AS bucket FROM clh")
        .mkString("\n  UNION ALL ")
      s"""WITH clb1 AS (
         |  SELECT CASE WHEN i = 100 THEN 48 ELSE i % 24 END AS hr,
         |    'u' || CAST(i AS VARCHAR) AS item
         |  FROM (SELECT unnest(generate_series(0, 100)) AS i)
         |), clb2 AS (
         |  SELECT 49 AS hr, 'u101' AS item
         |), clw AS (
         |  SELECT max(hr) - 2 AS w
         |  FROM (SELECT hr FROM clb1 UNION ALL SELECT hr FROM clb2)
         |), clb3 AS (
         |  SELECT i % 50 AS hr, 'x' || CAST(i AS VARCHAR) AS item
         |  FROM (SELECT unnest(generate_series(0, 49)) AS i)
         |), clacc AS (
         |  SELECT hr, item FROM clb1
         |  UNION ALL SELECT hr, item FROM clb2
         |  UNION ALL SELECT b.hr, b.item FROM clb3 b, clw WHERE b.hr + 1 >= clw.w
         |), clh AS (
         |  SELECT hr, ${TextFunctions.hash32Sql("item")} AS hh FROM clacc
         |), clcells AS (
         |  $bucketRows
         |)
         |SELECT CAST(hr AS INT) AS h, CAST(r AS INT) AS r,
         |  CAST(bucket AS BIGINT) AS bucket, CAST(count(*) AS BIGINT) AS cnt
         |FROM clcells, clw WHERE hr + 1 <= clw.w
         |GROUP BY hr, r, bucket ORDER BY h, r, bucket""".stripMargin
    },

    "m_frames" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    upper(repeat(md5(CAST(doc_id AS VARCHAR)),
        |                 CAST(doc_id % 5 + 1 AS INT))) AS hx,
        |    CAST(16 * (doc_id % 5 + 1) AS INT) AS nb
        |  FROM documents
        |)
        |SELECT doc_id AS media_id,
        |  CAST(len(generate_series(1, nb, 7)) AS INT) AS n_frames,
        |  array_to_string(list_transform(generate_series(1, nb, 7),
        |    p -> substr(hx, 2 * p - 1, 2)), '') AS frames_hex
        |FROM m ORDER BY media_id""".stripMargin,

    "e_near_dup" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |)
        |SELECT a.id AS a, b.id AS b,
        |  round(list_cosine_similarity(a.vec, b.vec), 4) AS cos
        |FROM c a JOIN c b ON a.id < b.id
        |WHERE round(list_cosine_similarity(a.vec, b.vec), 4) >= 0.45
        |ORDER BY a, b""".stripMargin,

    // exact top-3 edges over the 10% subsample, symmetric closure, then
    // the d_dedup_pipeline WITH RECURSIVE min-label reachability
    "e_knn_cluster" ->
      s"""$knnClusterCte
         |SELECT r.key AS id, r.cluster, s.cluster_size
         |FROM rch r JOIN sz s USING (cluster) ORDER BY id""".stripMargin,

    // farthest-first traversal unrolled: 8 rounds of min-distance-to-
    // chosen + (dmin DESC, id) argmax, chosen set growing by UNION
    "e_coreset" -> {
      val rounds = (1 to 8).map { r =>
        s"""ksdm$r AS MATERIALIZED (
           |  SELECT c.id,
           |    CAST(min(1000000 - floor(1000000 * (list_dot_product(c.vec, ch.vec) /
           |      (c.nrm * ch.nrm)))) AS BIGINT) AS dmin
           |  FROM kscn c, kscn ch
           |  WHERE ch.id IN (SELECT id FROM ksch${r - 1})
           |    AND c.id NOT IN (SELECT id FROM ksch${r - 1})
           |  GROUP BY c.id
           |), kspk$r AS MATERIALIZED (
           |  SELECT CAST($r AS INT) AS round, id, dmin
           |  FROM ksdm$r ORDER BY dmin DESC, id LIMIT 1
           |), ksch$r AS MATERIALIZED (
           |  SELECT id FROM ksch${r - 1} UNION ALL SELECT id FROM kspk$r
           |)""".stripMargin
      }.mkString(",\n")
      s"""WITH ksc AS (
         |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
         |  FROM embeddings
         |), kscn AS MATERIALIZED (
         |  SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM ksc
         |), ksch0 AS MATERIALIZED (SELECT min(id) AS id FROM kscn),
         |$rounds
         |SELECT CAST(0 AS INT) AS round, (SELECT id FROM ksch0) AS id,
         |  CAST(NULL AS BIGINT) AS dmin_micro
         |UNION ALL
         |${(1 to 8).map(r => s"SELECT round, id, dmin FROM kspk$r")
            .mkString("\nUNION ALL\n")}
         |ORDER BY round""".stripMargin
    },

    // one centroid replay with grp = label|half, split back and L1'd
    "e_centroid_drift" -> {
      val centSql = Similarity.int8GroupCentroidsSql("embeddings",
        "CAST(label AS VARCHAR) || '|' || CAST(vec_id % 2 AS VARCHAR)")
      s"""WITH dcent AS (
         |$centSql
         |), dsp AS (
         |  SELECT CAST(split_part(grp, '|', 1) AS INT) AS label,
         |    split_part(grp, '|', 2) AS half, dim, mean_milli
         |  FROM dcent
         |), de AS (
         |  SELECT label, dim, mean_milli AS m0 FROM dsp WHERE half = '0'
         |), do_ AS (
         |  SELECT label, dim, mean_milli AS m1 FROM dsp WHERE half = '1'
         |)
         |SELECT de.label, CAST(count(*) AS BIGINT) AS n_dims,
         |  CAST(sum(abs(de.m0 - do_.m1)) AS BIGINT) AS l1_drift_milli,
         |  CAST(max(abs(de.m0 - do_.m1)) AS BIGINT) AS max_dim_drift_milli
         |FROM de JOIN do_ ON do_.label = de.label AND do_.dim = de.dim
         |GROUP BY de.label ORDER BY de.label""".stripMargin
    },

    // surviving set of the per-row stream filter == the batch verdict
    "s_stream_blocklist" ->
      s"""SELECT doc_id FROM (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 41 = 3 THEN text || ' fraudword'
         |         WHEN doc_id % 41 = 7 THEN text || ' spamword spamword'
         |         ELSE text END AS t
         |  FROM $docsT)
         |WHERE NOT list_has_any(${tokensSql("t")},
         |  ['fraudword', 'spamword', 'scamword'])
         |ORDER BY doc_id""".stripMargin,

    // the closed form IS the oracle: delta-encode against fixed
    // codebooks is per-vector deterministic, so every (vector, subspace)
    // cell must match the full build — n·M cells, n·M matches, 0 missing
    "e_pq_incr" ->
      s"""SELECT
         |  CAST(count(*) * ${Similarity.PqSubspaces} AS BIGINT) AS n_cells,
         |  CAST(count(*) * ${Similarity.PqSubspaces} AS BIGINT) AS n_match,
         |  CAST(0 AS BIGINT) AS n_missing
         |FROM embeddings WHERE vec_id % 7 = 3""".stripMargin,

    // same closed-form discipline as e_pq_incr, now covering the cell
    // assignment too: the streamed append is deterministic given the
    // index, so every delta vector matches the batch build cell+codes
    "s_stream_ivf_append" ->
      s"""SELECT
         |  CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(count(*) AS BIGINT) AS n_cell_match,
         |  CAST(count(*) AS BIGINT) AS n_code_match,
         |  CAST(0 AS BIGINT) AS n_missing
         |FROM embeddings WHERE vec_id % 7 = 3""".stripMargin,

    // purity replay: the shared clustering CTEs + label join + majority
    // pick under the same (count DESC, label) order
    "e_cluster_purity" ->
      s"""$knnClusterCte,
         |pm AS (
         |  SELECT CAST(r.key AS BIGINT) AS id, r.cluster, e.label
         |  FROM rch r JOIN embeddings e ON e.vec_id = CAST(r.key AS BIGINT)
         |), pc AS (
         |  SELECT cluster, label, CAST(count(*) AS BIGINT) AS n_lbl
         |  FROM pm GROUP BY 1, 2
         |), pt AS (
         |  SELECT cluster, CAST(count(*) AS BIGINT) AS n FROM pm GROUP BY 1
         |), pmaj AS (
         |  SELECT cluster, label AS maj_label, n_lbl AS maj_n FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cluster
         |      ORDER BY n_lbl DESC, label) AS rn FROM pc)
         |  WHERE rn = 1
         |)
         |SELECT t.cluster, t.n, m.maj_label, m.maj_n,
         |  CAST((1000 * m.maj_n) // t.n AS BIGINT) AS purity_milli
         |FROM pt t JOIN pmaj m USING (cluster) ORDER BY t.cluster""".stripMargin,

    // cluster-labeling replay: the shared clustering CTEs + member token
    // explode, stopword filter, per-cluster (count DESC, token) top-3
    "d_cluster_topics" -> {
      val swList = graft.functions.TextFunctions.Stopwords
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""$knnClusterCte,
         |mem AS (
         |  SELECT r.key AS doc_id, r.cluster, s.cluster_size
         |  FROM rch r JOIN sz s USING (cluster)
         |), ctt AS (
         |  SELECT m.cluster, m.cluster_size, t.token,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT doc_id, unnest(${TextFunctions.tokensSql("text")}) AS token
         |    FROM documents) t
         |  JOIN mem m ON m.doc_id = t.doc_id
         |  WHERE NOT list_contains($swList, t.token)
         |  GROUP BY 1, 2, 3
         |)
         |SELECT cluster, cluster_size, token, cnt, CAST(rn AS INT) AS rank
         |FROM (
         |  SELECT *, row_number() OVER (PARTITION BY cluster
         |    ORDER BY cnt DESC, token) AS rn FROM ctt)
         |WHERE rn <= 3 ORDER BY cluster, rank""".stripMargin
    },

    // max-cosine-vs-benchmark sweep, the cosine written as the same op
    // tree Spark runs (dot / (sqrt·sqrt)) so floor-micros agree exactly
    "e_decontaminate" ->
      """WITH c AS (
        |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
        |  FROM embeddings
        |), s AS (
        |  SELECT cv.id,
        |    CAST(floor(1000000 * (list_dot_product(cv.vec, bv.vec) /
        |      (sqrt(list_dot_product(cv.vec, cv.vec)) * sqrt(list_dot_product(bv.vec, bv.vec)))))
        |      AS BIGINT) AS cm
        |  FROM c cv JOIN c bv ON cv.id >= 10 AND bv.id < 10
        |)
        |SELECT id, max(cm) AS max_cos_micro, max(cm) >= 450000 AS contaminated
        |FROM s GROUP BY 1 ORDER BY id""".stripMargin
  )
}
