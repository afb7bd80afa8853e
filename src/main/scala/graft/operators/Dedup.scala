package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions._

/** Deduplication operators for the training-data pipeline surface, each
  * designed shuffle-first for 100 TB:
  *
  *  - exact: one hash-groupBy on the normalized fingerprint (map-side
  *    combinable; no text comparison ever crosses the wire — only the md5).
  *  - MinHash + LSH: shingle → k minhashes → band buckets → bucket-join.
  *    Candidate generation never does an all-pairs product: pairs only form
  *    inside an LSH bucket. The hash family is md5-derived so the DuckDB
  *    oracle can replay it exactly.
  *  - SimHash: token-hash bit-majority signature; near-dup = small Hamming
  *    distance (banding applies at scale; the testdata-sized query compares
  *    within LSH-band buckets too).
  *  - n-gram Jaccard: exact verification metric over shingle sets, used
  *    standalone at test scale and as the LSH verify stage at real scale.
  *
  * All column logic is `org.apache.spark.sql.functions` composition —
  * codegen'd, no UDFs. */
object Dedup {

  // ------------------------------------------------------------ exact dedup
  /** Exact duplicates by normalized content: (fingerprint, keep_id = min id,
    * n copies). The survivor set is `docs` semi-joined on keep_id. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(fingerprint(col(textCol))).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  // ---------------------------------------------------------------- shingles
  /** Word 3-gram shingles (whole trimmed text when shorter than 3 tokens). */
  def shingles(textCol: Column): Column = {
    val w = tokens(textCol)
    when(size(w) < 3, array(trim(textCol)))
      .otherwise(transform(
        sequence(lit(0), size(w) - 3),
        i => concat_ws(" ", slice(w, i + 1, lit(3)))))
  }
  def shinglesSql(c: String): String = {
    val w = tokensSql(c)
    s"""(CASE WHEN len($w) < 3 THEN [trim($c)]
       | ELSE list_transform(generate_series(1, len($w) - 2),
       |        i -> ($w)[i] || ' ' || ($w)[i+1] || ' ' || ($w)[i+2]) END)""".stripMargin
  }

  /** One row per shingle: (doc_id, i, shingle) — the codegen'd form of
    * `explode(shingles(...))`. The array lambda in [[shingles]] runs
    * interpreted per element; here shingle assembly is a window-lead
    * projection, which matters because every dedup operator starts by
    * exploding this set. Docs shorter than 3 tokens contribute their whole
    * trimmed text as the single shingle (same contract as [[shingles]];
    * they come from a second cheap scan so the fat text column is never
    * carried through the token shuffle). */
  def shingleRows(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), trim(col(textCol)).as("txt"))
    val toks = base.select(col("doc_id"),
      posexplode(split(col("txt"), "\\s+")).as(Seq("i", "t")))
    val w = Window.partitionBy("doc_id").orderBy("i")
    val long = toks
      .withColumn("t1", lead("t", 1).over(w))
      .withColumn("t2", lead("t", 2).over(w))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), col("i"),
        concat_ws(" ", col("t"), col("t1"), col("t2")).as("shingle"))
    val short = base
      .filter(size(split(col("txt"), "\\s+")) < 3)
      .select(col("doc_id"), lit(0).as("i"), col("txt").as("shingle"))
    long.union(short)
  }

  // ---------------------------------------------------------------- minhash
  /** MinHash parameters: k independent permutation approximations
    * h_i(x) = (a_i * h32(x) + b_i) mod P, banded as Bands × RowsPerBand.
    * a_i < 2^20 keeps a_i * h32 < 2^52 — exact in i64 (and in DuckDB). */
  val NumHashes = 32
  val Bands = 8
  val RowsPerBand = 4
  val MinhashP = 4294967311L // prime > 2^32
  /** Deterministic coefficient family (any fixed odd-ish constants work;
    * these are Knuth multiplicative-hash style). */
  val CoeffA: IndexedSeq[Long] = (0 until NumHashes).map(i => ((i + 1) * 2654435761L % 1048573L) + 1L)
  val CoeffB: IndexedSeq[Long] = (0 until NumHashes).map(i => ((i + 1) * 40503L * 69069L) % MinhashP)

  /** Per-document MinHash signature: doc id + columns mh_0..mh_{k-1}.
    * One explode + one map-side-combinable min-aggregation. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    minhashSignaturesFrom(shingleRows(docs, idCol, textCol))

  /** Signature aggregation over precomputed (doc_id, i, shingle) rows —
    * callers running several shingle consumers over the same corpus (e.g.
    * the estimator-quality view) share ONE cached shingle explode. */
  def minhashSignaturesFrom(sh: DataFrame): DataFrame = {
    val exploded = sh.withColumn("h", hash32(col("shingle")))
    val aggs = (0 until NumHashes).map { i =>
      min(pmod(lit(CoeffA(i)) * col("h") + lit(CoeffB(i)), lit(MinhashP))).as(s"mh_$i")
    }
    exploded.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** THE band law, once: Bands structs of (band, md5 of the comma-joined
    * RowsPerBand minhash slice) over lane accessor `mh` — every Scala
    * band producer (column-wise sigs, array sigs, the persisted index)
    * builds from this one definition, so the stream and batch sides
    * cannot band-drift apart. */
  private def bandStructs(mh: Int => Column): Seq[Column] =
    (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => mh(b * RowsPerBand + r))
      struct(lit(b).as("band"), md5(concat_ws(",", cols: _*)).as("band_val"))
    }

  /** LSH band rows: (doc_id, band, band_val) — band_val is the md5 of the
    * band's minhash slice, so bucket keys are tiny fixed-width strings. */
  def lshBands(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"),
        explode(array(bandStructs(i => col(s"mh_$i")): _*)).as("bv"))
      .select(col("doc_id"), col("bv.band"), col("bv.band_val"))

  /** ROW-LOCAL MinHash signature as one array<bigint> column —
    * bit-identical to [[minhashSignatures]] (spec-pinned): a doc's
    * signature is a pure function of its own text, so a STREAM computes
    * it as a stateless projection instead of a per-doc aggregation. One
    * fold over the hashed shingle array carries all [[NumHashes]] lanes
    * at once (zip_with against the literal coefficient table — never a
    * per-lane re-scan). `hashedShingles` must be a NAMED attribute of
    * [[graft.functions.TextFunctions.hash32]]'d shingles (inlining a
    * computed array here would re-evaluate it per element).
    *
    * NULL-text edge: under ANSI size(NULL) is NULL, so shingles(null)
    * is a NULL array and the row-local signature is NULL (while batch
    * shingleRows drops null docs entirely — they are ABSENT from sigs
    * and the band index). A NULL stream signature still explodes band
    * rows (element_at(null) → null, concat_ws skips → md5("")), but
    * md5("") matches nothing a real index publishes, and even a
    * constructed match dies at the verify: zip_with against NULL is
    * NULL, so est_sim is NULL and the ≥-threshold filter drops it.
    * Null docs are therefore hit-free on BOTH paths (spec-pinned in
    * StreamingSpec with a planted null-text doc). */
  def minhashSigArray(hashedShingles: Column): Column = {
    val consts = array((0 until NumHashes).map(i =>
      struct(lit(CoeffA(i)).as("a"), lit(CoeffB(i)).as("b"))): _*)
    aggregate(hashedShingles,
      array_repeat(lit(MinhashP), NumHashes),
      (acc, h) => zip_with(acc,
        transform(consts,
          c => pmod(c.getField("a") * h + c.getField("b"), lit(MinhashP))),
        (x, y) => least(x, y)))
  }

  /** The [[lshBands]] structs from a signature ARRAY column: Bands ×
    * (band, band_val md5) — the comma-joined slice strings are identical
    * to the batch concat_ws over mh_i attribute columns. `sig` must be a
    * named attribute (same contract as [[minhashSigArray]]). */
  def lshBandArray(sig: Column): Column =
    array(bandStructs(i => element_at(sig, i + 1)): _*)

  /** The persisted stream-side INDEX of the incremental cross stage: one
    * row per (band, band_val, partner, psig) — band buckets carrying the
    * partner's full signature array so the agreement verify after the
    * bucket equi-join is row-local. Index-sized × [[Bands]]; at 100 TB a
    * bucketed table keyed by (band, band_val). */
  def minhashBandIndex(sigs: DataFrame): DataFrame = {
    val sigArr = array((0 until NumHashes).map(i => col(s"mh_$i")): _*)
    sigs.select(col("doc_id").as("partner"), sigArr.as("psig"),
        explode(array(bandStructs(i => col(s"mh_$i")): _*)).as("bv"))
      .select(col("bv.band").as("band"), col("bv.band_val").as("band_val"),
        col("partner"), col("psig"))
  }

  /** Candidate pairs (a < b) that share at least one LSH bucket, with the
    * signature-agreement similarity estimate est_sim = |{i: mh_i^a = mh_i^b}|/k.
    * The bucket self-join is the only shuffle that touches pairs; it never
    * materializes the all-pairs product. */
  def minhashCandidates(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    minhashCandidatesFrom(shingleRows(docs, idCol, textCol))

  def minhashCandidatesFrom(sh: DataFrame): DataFrame = {
    val sigs = graft.CacheScope.cached(minhashSignaturesFrom(sh))
    val bands = lshBands(sigs)
    val a = bands.select(col("band"), col("band_val"), col("doc_id").as("a"))
    val b = bands.select(col("band"), col("band_val"), col("doc_id").as("b"))
    val pairs = a.join(b, Seq("band", "band_val")).filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val sigA = sigs.toDF(sigs.columns.map(c => if (c == "doc_id") "a" else s"${c}_a"): _*)
    val sigB = sigs.toDF(sigs.columns.map(c => if (c == "doc_id") "b" else s"${c}_b"): _*)
    val agree = (0 until NumHashes)
      .map(i => when(col(s"mh_${i}_a") === col(s"mh_${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sigA, "a").join(sigB, "b")
      .select(col("a"), col("b"),
        round(agree.cast("double") / NumHashes, 6).as("est_sim"))
  }

  /** Edit-distance-1 fuzzy matching via deletion neighborhoods (the
    * FastSS banding): each name emits itself plus its single-character
    * deletions; two names at edit distance ≤ 1 MUST share a variant
    * (equal / substitution → same-position deletions agree; indel → one
    * IS the other's deletion), so the variant equi-join is a complete
    * candidate generator and the exact `levenshtein ≤ 1` filter runs on
    * candidates only — never on the name cross product. Some shared
    * variants are distance-2 (transpositions); the filter drops them.
    * Output: top-`k` names by (edit-1 neighbor count DESC, name) — the
    * entity-ambiguity readout of a record-linkage pass.
    *
    * Scale shape: (len+1) variant rows per distinct name, one equi-join
    * on the variant key (bucketed by construction, like the LSH band
    * join), exact verification on candidates, one count aggregation. */
  def editOneNeighborCounts(df: DataFrame, nameCol: Column,
                            k: Int = 50): DataFrame = {
    val names = df.select(nameCol.as("t")).distinct()
      .filter(length(col("t")).between(2, 30))
    val vars = graft.CacheScope.cached(names.select(col("t"),
      explode(expr("array_union(array(t), transform(sequence(1, length(t)), " +
        "i -> concat(substr(t, 1, i - 1), substr(t, i + 1, length(t) - i))))"))
        .as("v")))
    val pairs = vars.select(col("v"), col("t").as("a"))
      .join(vars.select(col("v"), col("t").as("b")), "v")
      .filter(col("a") < col("b")).select("a", "b").distinct()
      .filter(expr("levenshtein(a, b) <= 1"))
    pairs.select(explode(array(col("a"), col("b"))).as("name"))
      .groupBy("name").agg(count(lit(1)).as("n_neighbors"))
      .orderBy(col("n_neighbors").desc, col("name")).limit(k)
  }

  /** DuckDB twin of [[editOneNeighborCounts]] over `table`.`nameExpr`. */
  def editOneNeighborCountsSql(table: String, nameExpr: String,
                               k: Int = 50): String =
    s"""WITH fz AS (
       |  SELECT DISTINCT $nameExpr AS t FROM $table
       |  WHERE length($nameExpr) BETWEEN 2 AND 30
       |), fzv AS (
       |  SELECT t, unnest(list_distinct(list_prepend(t,
       |    list_transform(generate_series(1, length(t)),
       |      i -> substr(t, 1, i - 1) || substr(t, i + 1, length(t) - i)))))
       |    AS v
       |  FROM fz
       |), fzp AS (
       |  SELECT DISTINCT a.t AS a, b.t AS b
       |  FROM fzv a JOIN fzv b ON a.v = b.v AND a.t < b.t
       |), fzk AS (
       |  SELECT a, b FROM fzp WHERE levenshtein(a, b) <= 1
       |), fzn AS (
       |  SELECT name, CAST(count(*) AS BIGINT) AS n_neighbors FROM (
       |    SELECT a AS name FROM fzk UNION ALL SELECT b FROM fzk)
       |  GROUP BY name
       |)
       |SELECT name, n_neighbors FROM fzn
       |ORDER BY n_neighbors DESC, name LIMIT $k""".stripMargin

  /** LSH tuning S-curve — "is (bands × rows) right for my threshold?"
    * answered by MEASUREMENT, not the textbook formula alone: over the
    * deterministic doc sample (doc_id % sampleMod == 0), every pair
    * sharing ≥1 shingle gets its EXACT jaccard (integer ∩/∪ counts) and
    * is bucketed by decile; per decile the report compares the MEASURED
    * candidate rate (did the banded LSH emit the pair?) against the
    * textbook expectation P = 1 − (1 − s^r)^b. The expectation is
    * engine-exact: s is one IEEE division and both powers (r=4, b=8)
    * expand to repeated squarings — fixed multiply trees, no pow() —
    * floored to micro units. Pairs sharing no shingle (s = 0, expected
    * 0) are excluded by construction.
    *
    * Scale shape: the sample is the knob — the shingle self-join and the
    * sample-local LSH rebuild both run on sampleMod-th of the corpus,
    * and the shingle join only materializes pairs that actually
    * intersect. Output is 10 rows. */
  def lshTuningCurve(sh: DataFrame, sampleMod: Long = 20): DataFrame = {
    require(RowsPerBand == 4 && Bands == 8,
      "expectation tree is unrolled for r=4, b=8")
    val samp = graft.CacheScope.cached(
      sh.filter(pmod(col("doc_id"), lit(sampleMod)) === 0))
    val ds = graft.CacheScope.cached(
      samp.select(col("doc_id"), col("shingle")).distinct())
    val sizes = ds.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val inter = ds.select(col("doc_id").as("a"), col("shingle"))
      .join(ds.select(col("doc_id").as("b"), col("shingle")), "shingle")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    val cands = minhashCandidatesFrom(samp)
      .select(col("a"), col("b"), lit(1L).as("is_cand"))
    val s = col("inter").cast("double") / col("uni").cast("double")
    val s2 = s * s; val s4 = s2 * s2
    val q = lit(1.0) - s4
    val q2 = q * q; val q4 = q2 * q2; val q8 = q4 * q4
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .withColumn("uni", col("na") + col("nb") - col("inter"))
      .join(cands, Seq("a", "b"), "left")
      .withColumn("decile",
        least(expr("(10 * inter) div uni"), lit(9L)).cast("int"))
      .withColumn("exp_micro",
        floor(lit(1e6) * (lit(1.0) - q8)).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_pairs"),
        sum(coalesce(col("is_cand"), lit(0L))).as("n_cand"),
        sum(col("exp_micro")).as("sum_exp"))
      .select(col("decile"), col("n_pairs"), col("n_cand"),
        expr("(1000 * n_cand) div n_pairs").as("cand_rate_milli"),
        expr("sum_exp div n_pairs").as("exp_mean_micro"))
      .orderBy("decile")
  }

  /** LSH FALSE-DROP precision audit — the other side of [[lshTuningCurve]]
    * (which measures candidate RECALL vs the S-curve): of the pairs the
    * banded verdict would MERGE at est_sim ≥ tau (i.e. the docs a
    * production dedup pass drops), how many had exact Jaccard BELOW tau —
    * false drops — per exact-similarity decile. All comparisons integer:
    * est_milli = floor(est_sim·1000) is IEEE-exact (est_sim is the
    * 6-dp-rounded dyadic k/32), and the false test is 1000·inter <
    * tau·union. A candidate pair with NO shared shingle (possible only
    * via band-hash collision) has exact Jaccard 0 and counts as a false
    * drop in decile 0.
    *
    * Scale shape: rides the already-bucketed candidate pairs and the
    * shared-shingle exact-intersection join — no new pair generator, no
    * all-pairs product. */
  def lshFalseDropsFrom(cand: DataFrame, sh: DataFrame,
                        tauMilli: Long = 700L): DataFrame = {
    val exact = ngramJaccardPairsFrom(sh, 0.0)
    cand.join(exact, Seq("a", "b"), "left")
      .select(
        floor(col("est_sim") * 1000).cast("long").as("est_milli"),
        coalesce(col("inter"), lit(0L)).as("inter"),
        coalesce(col("union_size"), lit(0L)).as("union_size"))
      .filter(col("est_milli") >= tauMilli)
      .withColumn("decile",
        when(col("union_size") === 0, lit(0))
          .otherwise(least(expr("(10 * inter) div union_size"), lit(9L))
            .cast("int")))
      .withColumn("f",
        when(col("union_size") === 0 ||
          col("inter") * 1000 < col("union_size") * tauMilli, 1L)
          .otherwise(0L))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_dropped"), sum(col("f")).as("n_false"))
      .select(col("decile"), col("n_dropped"), col("n_false"),
        expr("(1000 * n_false) div n_dropped").as("false_rate_milli"))
      .orderBy("decile")
  }

  /** DuckDB twin of [[lshFalseDropsFrom]] over the full-corpus candidate
    * generator + exact-Jaccard pair replay. */
  def lshFalseDropsSql(table: String, idCol: String, textCol: String,
                       tauMilli: Long = 700L): String =
    s"""WITH cand AS (${minhashCandidatesSql(table, idCol, textCol)}),
       |ex AS (${ngramJaccardPairsSql(table, idCol, textCol, 0.0)}),
       |jd AS (
       |  SELECT CAST(floor(c.est_sim * 1000) AS BIGINT) AS est_milli,
       |    CAST(coalesce(e.inter, 0) AS BIGINT) AS inter,
       |    CAST(coalesce(e.union_size, 0) AS BIGINT) AS union_size
       |  FROM cand c LEFT JOIN ex e ON c.a = e.a AND c.b = e.b
       |), dr AS (
       |  SELECT CASE WHEN union_size = 0 THEN 0
       |      ELSE CAST(least((10 * inter) // union_size, 9) AS INT) END AS decile,
       |    CASE WHEN union_size = 0 OR inter * 1000 < union_size * $tauMilli
       |      THEN 1 ELSE 0 END AS f
       |  FROM jd WHERE est_milli >= $tauMilli
       |)
       |SELECT decile, CAST(count(*) AS BIGINT) AS n_dropped,
       |  CAST(sum(f) AS BIGINT) AS n_false,
       |  CAST((1000 * sum(f)) // count(*) AS BIGINT) AS false_rate_milli
       |FROM dr GROUP BY decile ORDER BY decile""".stripMargin

  /** DuckDB twin of [[lshTuningCurve]]: sampled shingles, exact pair
    * jaccard, the full signature/band/candidate replay on the sample,
    * and the identical squaring tree for the expectation. */
  def lshTuningCurveSql(table: String, idCol: String, textCol: String,
                        sampleMod: Long = 20): String = {
    // the identical squaring tree Spark builds: s2 is the aliased s·s,
    // s4 = s2·s2, q = 1 − s4, q8 by two more squarings
    val qSql = "(CAST(1.0 AS DOUBLE) - (s2 * s2))"
    val q2Sql = s"($qSql * $qSql)"
    val q4Sql = s"($q2Sql * $q2Sql)"
    val q8Sql = s"($q4Sql * $q4Sql)"
    val mh = (0 until NumHashes).map(i =>
      s"min((${CoeffA(i)} * h + ${CoeffB(i)}) % $MinhashP) AS mh_$i").mkString(",\n    ")
    val bandRows = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"CAST(mh_${b * RowsPerBand + r} AS VARCHAR)")
      s"SELECT doc_id, $b AS band, md5(${cols.mkString(" || ',' || ")}) AS band_val FROM tsig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH tsh0 AS (
       |  SELECT $idCol AS doc_id, unnest(${shinglesSql(textCol)}) AS shingle
       |  FROM $table WHERE $idCol % $sampleMod = 0
       |), tds AS (
       |  SELECT DISTINCT doc_id, shingle FROM tsh0
       |), tsz AS (
       |  SELECT doc_id, count(*) AS n FROM tds GROUP BY 1
       |), tint AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       |  FROM tds x JOIN tds y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2
       |), tsig AS (
       |  SELECT doc_id,
       |    $mh
       |  FROM (SELECT doc_id,
       |          CAST('0x' || substring(md5(shingle), 1, 8) AS BIGINT) AS h
       |        FROM tsh0)
       |  GROUP BY doc_id
       |), tband AS (
       |  $bandRows
       |), tcand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM tband x JOIN tband y
       |    ON x.band = y.band AND x.band_val = y.band_val
       |   AND x.doc_id < y.doc_id
       |), tpair AS (
       |  SELECT i.a, i.b, i.inter, sa.n + sb.n - i.inter AS uni,
       |    CASE WHEN c.a IS NULL THEN 0 ELSE 1 END AS is_cand
       |  FROM tint i
       |  JOIN tsz sa ON sa.doc_id = i.a
       |  JOIN tsz sb ON sb.doc_id = i.b
       |  LEFT JOIN tcand c ON c.a = i.a AND c.b = i.b
       |), trow AS (
       |  SELECT CAST(least((10 * inter) // uni, 9) AS INT) AS decile,
       |    is_cand,
       |    CAST(floor(1000000.0 * (CAST(1.0 AS DOUBLE) - $q8Sql)) AS BIGINT)
       |      AS exp_micro
       |  FROM (SELECT *, (CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE)) *
       |          (CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE)) AS s2
       |        FROM tpair)
       |)
       |SELECT decile, CAST(count(*) AS BIGINT) AS n_pairs,
       |  CAST(sum(is_cand) AS BIGINT) AS n_cand,
       |  CAST((1000 * sum(is_cand)) // count(*) AS BIGINT) AS cand_rate_milli,
       |  CAST(sum(exp_micro) // count(*) AS BIGINT) AS exp_mean_micro
       |FROM trow GROUP BY decile ORDER BY decile""".stripMargin
  }

  /** Candidate pairs ACROSS two precomputed signature tables (left id as
    * `a`, right id as `b`): bucket join of the two band sets + the
    * signature-agreement estimate. `requireLess` picks the self-dedup
    * convention (a < b) vs the cross-set form (a != b, where the sides are
    * disjoint by contract). This is the primitive incremental dedup is
    * built from — the indexed side's bands never self-join. */
  private def candidatesAcrossSigs(sigsA: DataFrame, sigsB: DataFrame,
                                   requireLess: Boolean): DataFrame = {
    val a = lshBands(sigsA).select(col("band"), col("band_val"), col("doc_id").as("a"))
    val b = lshBands(sigsB).select(col("band"), col("band_val"), col("doc_id").as("b"))
    val cond = if (requireLess) col("a") < col("b") else col("a") =!= col("b")
    val pairs = a.join(b, Seq("band", "band_val")).filter(cond)
      .select("a", "b").distinct()
    val sigA = sigsA.toDF(sigsA.columns.map(c => if (c == "doc_id") "a" else s"${c}_a"): _*)
    val sigB = sigsB.toDF(sigsB.columns.map(c => if (c == "doc_id") "b" else s"${c}_b"): _*)
    val agree = (0 until NumHashes)
      .map(i => when(col(s"mh_${i}_a") === col(s"mh_${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sigA, "a").join(sigB, "b")
      .select(col("a"), col("b"),
        round(agree.cast("double") / NumHashes, 6).as("est_sim"))
  }

  /** INCREMENTAL near-dup dedup: dedup a DELTA batch against an already-
    * indexed corpus — the daily-crawl shape, where the indexed side's
    * signatures are precomputed once and never self-join again. A delta
    * doc is dropped when it LSH-matches any indexed doc (est_sim >=
    * minEstSim); the remainder is then deduped among itself (candidate
    * pairs -> components -> min-id survivors). Returns the surviving
    * rows of `delta`. Ids must be integral and disjoint across the two
    * inputs (same id contract as [[nearDupSurvivors]]).
    *
    * Scale shape: the index×delta candidate join is banded exactly like
    * the self form — each side shuffles on (band, band_val) once, the
    * index side O(index) and the delta side O(delta); no index×index work
    * anywhere. At 100 TB the index bands/signatures live as a bucketed
    * table keyed by band_val and each day's delta broadcast-probes or
    * co-shuffles against it. */
  def incrementalSurvivors(indexed: DataFrame, delta: DataFrame,
                           idCol: String, textCol: String,
                           minEstSim: Double = 0.5,
                           indexedSigs: Option[DataFrame] = None,
                           deltaSigs: Option[DataFrame] = None): DataFrame = {
    delta.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"incrementalSurvivors needs an integral id column; '$idCol' is $other")
    }
    // per-doc signatures are side-independent, so callers holding a cached
    // union-corpus signature/shingle table pass each side's slice instead
    // of re-exploding (at scale the indexed side's sigs ARE the persisted
    // index — recomputing them per delta would defeat the point)
    val iSigs = graft.CacheScope.cached(
      indexedSigs.getOrElse(minhashSignatures(indexed, idCol, textCol)))
    val dSigs = graft.CacheScope.cached(
      deltaSigs.getOrElse(minhashSignatures(delta, idCol, textCol)))
    val crossHit = candidatesAcrossSigs(iSigs, dSigs, requireLess = false)
      .filter(col("est_sim") >= minEstSim)
      .select(col("b").as("__hit")).distinct()
    val remainder = delta.join(crossHit, delta(idCol) === col("__hit"), "left_anti")
    minhashSelfSurvivors(remainder, idCol, dSigs, minEstSim)
  }

  /** The intra-batch TAIL of [[incrementalSurvivors]] — dedup `remainder`
    * among itself from precomputed per-doc signatures (banded candidate
    * pairs → connected components → min-id survivors). Public because the
    * streaming gate's post-drain composition runs the identical stage on
    * the stream-decided remainder. */
  def minhashSelfSurvivors(remainder: DataFrame, idCol: String,
                           sigs: DataFrame,
                           minEstSim: Double = 0.5): DataFrame = {
    val rSigs = sigs.join(remainder.select(col(idCol).as("doc_id")),
      Seq("doc_id"), "left_semi")
    val internal = candidatesAcrossSigs(rSigs, rSigs, requireLess = true)
      .filter(col("est_sim") >= minEstSim)
    ccMinIdSurvivors(remainder, idCol, internal)
  }

  /** DuckDB twin of [[minhashCandidates]] (same constants, same md5-derived
    * hash family), generated so the oracle replays the computation. */
  /** Cross-corpus banded MinHash join — the TEXT twin of the embedding
    * side's crossLshJoin: both sides corpus-sized (new-crawl × existing-
    * corpus), banded with the SHARED minhash family, joined on
    * (band, band_val) with NEITHER side broadcast (hinted sort-merge —
    * the hint pins the only plan that survives two 100 TB sides), then
    * scored by signature agreement. Per-doc signatures are independent
    * of the corpus split, so the oracle reuses the whole-table signature
    * CTEs with the parity predicate swapped in. */
  def crossMinhashJoin(left: DataFrame, right: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val sigA = minhashSignatures(left, idCol, textCol)
    val sigB = minhashSignatures(right, idCol, textCol)
    val ba = lshBands(sigA)
      .select(col("band"), col("band_val"), col("doc_id").as("a"))
    val bb = lshBands(sigB)
      .select(col("band"), col("band_val"), col("doc_id").as("b"))
    val pairs = ba.hint("merge").join(bb, Seq("band", "band_val"))
      .select("a", "b").distinct()
    val sa = sigA.toDF(sigA.columns.map(c => if (c == "doc_id") "a" else s"${c}_a"): _*)
    val sb = sigB.toDF(sigB.columns.map(c => if (c == "doc_id") "b" else s"${c}_b"): _*)
    val agree = (0 until NumHashes)
      .map(i => when(col(s"mh_${i}_a") === col(s"mh_${i}_b"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.hint("merge").join(sa, "a").hint("merge").join(sb, "b")
      .select(col("a"), col("b"),
        round(agree.cast("double") / NumHashes, 6).as("est_sim"))
  }

  def minhashCandidatesSql(table: String, idCol: String, textCol: String): String =
    minhashCandidatesSql(table, idCol, textCol, "x.doc_id < y.doc_id")

  /** Shared CTE body for [[minhashCandidatesSql]] and the cross-corpus
    * variant — `pairPred` selects which banded pairs qualify. */
  def minhashCandidatesSql(table: String, idCol: String, textCol: String,
                           pairPred: String): String = {
    val hexpr = hash32Sql("shingle")
    val minCols = (0 until NumHashes).map { i =>
      s"min((${CoeffA(i)} * h + ${CoeffB(i)}) % $MinhashP) AS mh_$i"
    }.mkString(",\n    ")
    val bandRows = (0 until Bands).map { b =>
      val cols = (0 until RowsPerBand).map(r => s"CAST(mh_${b * RowsPerBand + r} AS VARCHAR)")
      s"SELECT doc_id, $b AS band, md5(${cols.mkString(" || ',' || ")}) AS band_val FROM sig"
    }.mkString("\n    UNION ALL ")
    val agree = (0 until NumHashes)
      .map(i => s"(CASE WHEN sa.mh_$i = sb.mh_$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH sh AS (
       |  SELECT $idCol AS doc_id, unnest(${shinglesSql(textCol)}) AS shingle FROM $table
       |), hs AS (
       |  SELECT doc_id, $hexpr AS h FROM sh
       |), sig AS (
       |  SELECT doc_id,
       |    $minCols
       |  FROM hs GROUP BY doc_id
       |), bands AS (
       |    $bandRows
       |), pairs AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_val = y.band_val AND ($pairPred)
       |)
       |SELECT p.a, p.b,
       |  round(CAST($agree AS DOUBLE) / $NumHashes, 6) AS est_sim
       |FROM pairs p JOIN sig sa ON p.a = sa.doc_id JOIN sig sb ON p.b = sb.doc_id
       |ORDER BY p.a, p.b""".stripMargin
  }

  // ---------------------------------------------------------------- simhash
  /** 60-bit SimHash over whitespace tokens (md5-derived token hashes —
    * 60 bits is the widest the exactly-oracle-replayable hash family
    * allows while every shift/sum stays in i64 on both engines). Banded
    * in 4 pieces of 15 bits ⇒ 2^15 distinct values per band, so the band
    * self-join stays bucket-bounded at corpus scale (a 16-bit signature's
    * 4-bit pieces had only 16 buckets — O(n²/16) candidates).
    *
    * The signature is built with one bit-sum aggregate column per bit
    * (map-side combinable, same shape as the MinHash signature): one
    * shuffle of (doc_id, 60 ints), no per-bit row explosion. */
  val SimhashBits = 60
  val SimhashPieces = 4

  def simhashSignatures(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
      .withColumn("h", hash60(col("tok")))
    val aggs = (0 until SimhashBits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"s_$b")
    }
    val perBit = tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val sig = (0 until SimhashBits)
      .map(b => when(col(s"s_$b") > 0, lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    perBit.select(col("doc_id"), sig.as("simhash"))
  }

  def simhashSignaturesSql(table: String, idCol: String, textCol: String): String = {
    val toks = tokensSql(textCol)
    val sumCols = (0 until SimhashBits).map { b =>
      s"sum(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s_$b"
    }.mkString(",\n    ")
    val sig = (0 until SimhashBits)
      .map(b => s"(CASE WHEN s_$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE CAST(0 AS BIGINT) END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT $idCol AS doc_id, unnest($toks) AS tok FROM $table
       |), hs AS (
       |  SELECT doc_id, ${hash60Sql("tok")} AS h FROM tok
       |), bits AS (
       |  SELECT doc_id,
       |    $sumCols
       |  FROM hs GROUP BY doc_id
       |)
       |SELECT doc_id, CAST($sig AS BIGINT) AS simhash
       |FROM bits ORDER BY doc_id""".stripMargin
  }

  /** PER-ROW form of [[simhashSignatures]]: the signature as a projection
    * over the row's own token array (no explode, no groupBy) — exactly the
    * same bit votes, so the two forms are equal row-for-row (spec-pinned).
    * This is the form a STREAM can run (a stateless projection composes
    * with streaming dedup; the explode+groupBy form is an aggregation and
    * cannot precede one). The token-hash array materializes in its own
    * projection so the 60 per-bit aggregates reference the attribute
    * instead of re-tokenizing 60 times (CollapseProject keeps non-cheap
    * multi-referenced expressions un-inlined). Batch callers should prefer
    * [[simhashSignatures]] — codegen'd explode beats 60 interpreted
    * lambda passes per row. */
  def withSimhash(df: DataFrame, textCol: String,
                  out: String = "simhash"): DataFrame = {
    val hs = df.withColumn("__hs", transform(tokens(col(textCol)), t => hash60(t)))
    val sig = (0 until SimhashBits).map { b =>
      when(aggregate(col("__hs"), lit(0L),
        (acc, x) => acc + (shiftright(x, b).bitwiseAND(lit(1L)) * 2 - 1)) > 0,
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    hs.withColumn(out, sig).drop("__hs")
  }

  /** SimHash near-dup pairs: Hamming distance <= maxHamming. Candidates are
    * generated by 4-piece banding of the signature (pigeonhole: hamming <
    * pieces ⇒ at least one piece equal), so this, too, avoids all-pairs. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming < SimhashPieces,
      s"banding is pigeonhole-exact only for maxHamming < $SimhashPieces pieces; " +
        s"got maxHamming=$maxHamming (raise SimhashPieces instead)")
    val sigs = graft.CacheScope.cached(simhashSignatures(docs, idCol, textCol))
    val pieces = SimhashPieces
    val bitsPer = SimhashBits / pieces
    val mask = (1L << bitsPer) - 1
    val bandRows = (0 until pieces).map { p =>
      struct(lit(p).as("piece"),
        shiftright(col("simhash"), p * bitsPer).bitwiseAND(mask).as("pv"))
    }
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array(bandRows: _*)).as("bp"))
      .select(col("doc_id"), col("simhash"), col("bp.piece"), col("bp.pv"))
    val a = banded.select(col("piece"), col("pv"),
      col("doc_id").as("a"), col("simhash").as("sig_a"))
    val b = banded.select(col("piece"), col("pv"),
      col("doc_id").as("b"), col("simhash").as("sig_b"))
    a.join(b, Seq("piece", "pv")).filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  def simhashPairsSql(table: String, idCol: String, textCol: String,
                      maxHamming: Int = 3): String = {
    val sig = simhashSignaturesSql(table, idCol, textCol)
      .replace("ORDER BY doc_id", "")
    s"""WITH sigt AS ($sig)
       |SELECT x.doc_id AS a, y.doc_id AS b,
       |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
       |FROM sigt x JOIN sigt y ON x.doc_id < y.doc_id
       |WHERE bit_count(xor(x.simhash, y.simhash)) <= $maxHamming
       |ORDER BY a, b""".stripMargin
  }

  // ------------------------------------------------------------- winnowing
  /** Winnowing (MOSS-style) document fingerprints: hash every shingle,
    * slide a window of `w` consecutive shingle hashes, keep each window's
    * minimum — the classic rolling-hash fingerprint set whose density is
    * 2/(w+1) regardless of document length. Output: (doc_id, fp) distinct.
    * Pure array-function composition (no explode until the final distinct,
    * so the heavy part stays inside one projection). */
  val WinnowWindow = 4

  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // explode + windowed min instead of array lambdas: a `transform` lambda
    // runs interpreted (md5 per shingle outside codegen) and the per-window
    // array_min/slice adds O(windows x w) interpreted work. Here md5 is a
    // codegen'd projection and each window minimum is one window-function
    // frame; both window ops share one hash shuffle on doc_id.
    val sh = shingleRows(docs, idCol, textCol)
      .select(col("doc_id"), col("i"), hash32(col("shingle")).as("h"))
    val byPos = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(Window.currentRow, WinnowWindow - 1)
    val perDoc = Window.partitionBy("doc_id")
    sh.withColumn("mn", min(col("h")).over(byPos))
      .withColumn("nsh", count(lit(1)).over(perDoc))
      // windows start at each of the first max(n - w + 1, 1) positions; the
      // final (clamped) frame also covers the short-doc n < w case exactly
      .filter(col("i") < greatest(col("nsh") - (WinnowWindow - 1), lit(1)))
      .select(col("doc_id"), col("mn").as("fp")).distinct()
  }

  def winnowFingerprintsSql(table: String, idCol: String, textCol: String): String = {
    val sh = shinglesSql(textCol)
    s"""WITH hs AS (
       |  SELECT $idCol AS doc_id,
       |    list_transform($sh, s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)) AS h
       |  FROM $table
       |), wins AS (
       |  SELECT doc_id,
       |    list_transform(generate_series(1, greatest(len(h) - ${WinnowWindow - 1}, 1)),
       |      i -> list_min(h[i:i+${WinnowWindow - 1}])) AS mins
       |  FROM hs
       |)
       |SELECT DISTINCT doc_id, unnest(mins) AS fp FROM wins
       |ORDER BY doc_id, fp""".stripMargin
  }

  /** MOSS-style overlap detection on the winnowed fingerprints: document
    * pairs sharing ≥ `minShared` selected fingerprints, with the shared
    * count (the plagiarism/boilerplate-overlap report the winnowing
    * index exists to serve). Fingerprints appearing in more than `maxDf`
    * docs are dropped BEFORE the pair join — the standard MOSS move: a
    * boilerplate fingerprint shared by 10⁶ docs would otherwise explode
    * the join quadratically, and it carries no overlap signal anyway.
    * With the cap, the join is bucketed by fingerprint and each bucket is
    * ≤ maxDf² pairs — never all-pairs ([[winnowMatchPairsSql]]). */
  def winnowMatchPairs(docs: DataFrame, idCol: String, textCol: String,
                       minShared: Long = 3, maxDf: Long = 64): DataFrame = {
    val fp = winnowFingerprints(docs, idCol, textCol)
    val rare = fp.groupBy("fp").agg(count(lit(1)).as("dfc"))
      .filter(col("dfc") <= maxDf).select("fp")
    val kept = fp.join(rare, "fp")
    kept.select(col("doc_id").as("a"), col("fp"))
      .join(kept.select(col("doc_id").as("b"), col("fp")), "fp")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** DuckDB twin of [[winnowMatchPairs]]. */
  def winnowMatchPairsSql(table: String, idCol: String, textCol: String,
                          minShared: Long = 3, maxDf: Long = 64): String =
    s"""WITH w AS (
       |  SELECT * FROM (${winnowFingerprintsSql(table, idCol, textCol)})
       |), rare AS (
       |  SELECT fp FROM (SELECT fp, count(*) AS dfc FROM w GROUP BY 1)
       |  WHERE dfc <= $maxDf
       |), kept AS (
       |  SELECT doc_id, fp FROM w JOIN rare USING (fp)
       |)
       |SELECT a.doc_id AS a, b.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2
       |HAVING count(*) >= $minShared
       |ORDER BY a, b""".stripMargin

  // -------------------------------------- span-level exact-substring dedup
  /** Window width (tokens) for [[spanDedup]]. Small here so the fixture
    * corpus is non-vacuous; production exact-substring dedup uses ~50
    * tokens (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better") — the shape is identical. */
  val SpanDedupW = 5

  /** Span-level exact-substring dedup TRANSFORM (not just a measure):
    * every `w`-token window whose text occurs verbatim in ≥ 2 DISTINCT
    * documents marks all `w` tokens it covers as duplicated, and the
    * cleaned text is the surviving tokens in original order — the
    * Lee-et-al-style rewrite d_repetition (intra-doc measure) and
    * d_winnow (cross-doc span DETECTION) stop short of. Output per doc:
    * (doc_id, n_tokens, n_kept, clean_text), empty docs included.
    *
    * Scale shape: one token explode; span identity travels as a 60-bit
    * md5 key, so the duplicate-frequency groupBy and the back-join
    * shuffle 8-byte keys, never span text; coverage is one bounded
    * window frame (w-1 preceding) per doc partition — no self-join on
    * positions. The reassembly groupBy is the only place full tokens
    * shuffle, keyed by doc_id exactly like the explode. Reference
    * analog: kinbaku's content-defined node attrs (graph.py:198) have no
    * span semantics; this is pipeline-native. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                w: Int = SpanDedupW): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    spanDedupFrom(base, spanRows(base, w), w)
  }

  /** [[spanDedup]] over precomputed [[spanRowsOf]] rows — callers running
    * several span consumers over the same corpus share ONE cached token
    * explode (the minhashSignaturesFrom discipline). `base` must be the
    * (doc_id, text) frame `spans` came from. */
  def spanDedupFrom(base: DataFrame, spans: DataFrame,
                    w: Int = SpanDedupW): DataFrame = {
    requireSpanW(spans, w)
    val dup = dupKeysOf(spans).withColumn("isdup", lit(1))
    excised(base, spans, dup, w)
  }

  /** The (doc_id, i, tok, h) span-row explode as a PUBLIC builder so a
    * session cache can feed every `From`-variant span consumer. The
    * build width rides as column metadata on `h` so a From-variant
    * called with a DIFFERENT w fails loudly instead of computing
    * plausible-but-wrong coverage (the silent-mismatch trap). */
  def spanRowsOf(docs: DataFrame, idCol: String, textCol: String,
                 w: Int = SpanDedupW): DataFrame = {
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("w", w.toLong).build()
    spanRows(docs.select(col(idCol).as("doc_id"), col(textCol).as("text")), w)
      .withColumn("h", col("h").as("h", md))
  }

  /** Loud guard for the From-variants: spans built at one w must not be
    * consumed at another (metadata-free frames — the internal spanRows
    * path — pass unchecked). */
  private def requireSpanW(spans: DataFrame, w: Int): Unit = {
    val m = spans.schema("h").metadata
    require(!m.contains("w") || m.getLong("w") == w.toLong,
      s"span rows were built at w=${if (m.contains("w")) m.getLong("w") else -1}" +
        s" but the caller asked for w=$w")
  }

  /** The ≥-2-distinct-docs duplicated key set of a span-row frame — the
    * ONE definition [[spanDedup]] and [[dupSpanKeySet]] both use (a
    * mirrored copy would silently break their documented bit-for-bit
    * equivalence). */
  private def dupKeysOf(spans: DataFrame): DataFrame =
    spans.filter(col("h").isNotNull)
      .groupBy("h").agg(countDistinct(col("doc_id")).as("dfd"))
      .filter(col("dfd") >= 2).select("h")

  /** Token rows with the 60-bit span key starting at each position:
    * (doc_id, i, tok, h) — h null for tail positions with < w tokens
    * left. Shared by [[spanDedup]] and [[spanDedupAgainst]]. */
  private def spanRows(base: DataFrame, w: Int): DataFrame = {
    val toks = base.filter(length(trim(col("text"))) > 0)
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("i", "tok")))
    val wOrd = Window.partitionBy("doc_id").orderBy("i")
    // concat_ws silently drops nulls, which would alias tail windows of
    // < w tokens onto shorter spans — guard on the last lead existing
    val spanTxt = concat_ws(" ",
      (0 until w).map(j => lead(col("tok"), j).over(wOrd)): _*)
    toks.withColumn("h",
      when(lead(col("tok"), w - 1).over(wOrd).isNotNull, hash60(spanTxt)))
  }

  /** Coverage + reassembly shared by the span-dedup forms keyed on a
    * span-key set: tokens covered by any span in `dup`(h, isdup) are
    * excised; docs reattach to `base` so empty docs survive with empty
    * output. */
  private def excised(base: DataFrame, spans: DataFrame, dup: DataFrame,
                      w: Int): DataFrame =
    reassemble(base, spans.join(dup, Seq("h"), "left"), w)

  /** Coverage window + ordered reassembly over PRE-MARKED span rows
    * `markedIn`(doc_id, i, tok, isdup nullable) — the shared tail of the
    * key-set forms ([[excised]]) and the position-level intra-doc form
    * ([[spanDedupWithin]], where dup-ness depends on the occurrence's
    * position, not the key alone). */
  private def reassemble(base: DataFrame, markedIn: DataFrame,
                         w: Int): DataFrame = {
    val covW = Window.partitionBy("doc_id").orderBy("i")
      .rowsBetween(-(w - 1), 0)
    val marked = markedIn
      .withColumn("cov", max(coalesce(col("isdup"), lit(0))).over(covW))
    val cleaned = marked.groupBy("doc_id").agg(
      count(lit(1)).cast("int").as("n_tokens"),
      sum(lit(1) - col("cov")).cast("int").as("n_kept"),
      expr("array_join(transform(array_sort(" +
        "collect_list(CASE WHEN cov = 0 THEN struct(i, tok) END))," +
        " x -> x.tok), ' ')").as("clean_text"))
    base.select(col("doc_id"))
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0)).as("n_tokens"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** INTRA-document span dedup: excise every `w`-token span occurring
    * ≥ 2 times within the SAME document — the FIRST occurrence (minimum
    * start position) survives, every later copy's tokens are excised.
    * The transform counterpart of the d_repetition measure, and the
    * within-doc complement of [[spanDedup]] (which only excises spans
    * shared ACROSS documents): run [[spanDedup]] first, then this on
    * the cleaned text, for the full Lee-et-al rewrite.
    *
    * Scale shape: dup-ness here is per OCCURRENCE, not per key — one
    * (doc_id, span-key) window computes the doc's first position (all
    * work stays keyed by doc, no cross-doc shuffle at all), then the
    * same bounded coverage frame and keyed reassembly as [[spanDedup]].
    * Nothing in the plan ever leaves the document partition. */
  def spanDedupWithin(docs: DataFrame, idCol: String, textCol: String,
                      w: Int = SpanDedupW): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    spanDedupWithinFrom(base, spanRows(base, w), w)
  }

  /** [[spanDedupWithin]] over precomputed [[spanRowsOf]] rows. */
  def spanDedupWithinFrom(base: DataFrame, spans: DataFrame,
                          w: Int = SpanDedupW): DataFrame = {
    requireSpanW(spans, w)
    val wKey = Window.partitionBy("doc_id", "h")
    val marked = spans.withColumn("isdup",
      when(col("h").isNotNull &&
        col("i") > min(col("i")).over(wKey), lit(1)))
    reassemble(base, marked, w)
  }

  /** MAXIMAL shared-span runs — the longest-shared-span readout the
    * fixed-w excision forms stop short of: consecutive duplicated
    * w-window START positions within a doc merge into maximal runs
    * (gaps-and-islands: island key = i − row_number over the doc's
    * duplicated starts), so two docs sharing an L-token block (L ≥ w)
    * report ONE run of run_len = L, not L−w+1 separate windows. One row
    * per (doc, run): (doc_id, run_start 1-based, n_spans, run_len =
    * n_spans + w − 1). Docs with no duplicated span contribute no rows.
    * Adjacent duplicated windows merge regardless of WHICH partner doc
    * duplicates them — a run is "every token here is w-window-shared",
    * the document-granularity contract, not a per-pair longest match.
    *
    * Scale shape: same as [[spanDedup]] — one token explode, 8-byte span
    * keys through the duplicate-frequency groupBy and back-join; the
    * islands window and run aggregation stay doc-partitioned. */
  def spanDupRuns(docs: DataFrame, idCol: String, textCol: String,
                  w: Int = SpanDedupW): DataFrame =
    spanDupRunsFrom(spanRowsOf(docs, idCol, textCol, w), w)

  /** Per-document CROSS-CORPUS duplication fraction — the Lee-et-al
    * "fraction of duplicated n-grams" statistic (the MEASURE the
    * [[spanDedup]] transform acts on): per doc the window count, the
    * count whose key is corpus-duplicated (≥ 2 distinct docs), and the
    * integer milli fraction. Docs with < w tokens report (0, 0, 0).
    * Rides the same shared span rows as the transform gates. */
  def spanDupFractionFrom(base: DataFrame, spans: DataFrame,
                          w: Int = SpanDedupW): DataFrame = {
    requireSpanW(spans, w)
    val dup = dupKeysOf(spans).withColumn("isdup", lit(1))
    val per = spans.filter(col("h").isNotNull)
      .join(dup, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(coalesce(col("isdup"), lit(0))).cast("long").as("n_dup"))
    base.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
      .withColumn("dup_milli",
        when(col("n_spans") === 0, lit(0L))
          .otherwise(expr("(1000 * n_dup) div n_spans")))
  }

  /** DuckDB twin of [[spanDupFractionFrom]] on the shared sd* CTEs. */
  def spanDupFractionSql(table: String, idCol: String, textCol: String,
                         w: Int = SpanDedupW): String =
    s"""WITH ${spanKeyCtes(table, idCol, textCol, w)}, sfr AS (
       |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_dup
       |  FROM sdsp s LEFT JOIN sddup d ON d.h = s.h
       |  WHERE s.h IS NOT NULL GROUP BY s.doc_id
       |)
       |SELECT b.doc_id,
       |  CAST(coalesce(sfr.n_spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(sfr.n_dup, 0) AS BIGINT) AS n_dup,
       |  CAST(CASE WHEN coalesce(sfr.n_spans, 0) = 0 THEN 0
       |       ELSE (1000 * sfr.n_dup) // sfr.n_spans END AS BIGINT)
       |    AS dup_milli
       |FROM sdbase b LEFT JOIN sfr ON sfr.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin

  /** [[spanDupRuns]] over precomputed [[spanRowsOf]] rows. */
  def spanDupRunsFrom(spans: DataFrame, w: Int = SpanDedupW): DataFrame = {
    requireSpanW(spans, w)
    val dupStarts = spans.join(dupKeysOf(spans), Seq("h"), "left_semi")
    val wDoc = Window.partitionBy("doc_id").orderBy("i")
    dupStarts
      .withColumn("isl", col("i") - row_number().over(wDoc))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("i")).as("i0"), count(lit(1)).cast("int").as("n_spans"))
      .select(col("doc_id"), (col("i0") + 1).cast("int").as("run_start"),
        col("n_spans"), (col("n_spans") + lit(w - 1)).cast("int").as("run_len"))
  }

  /** INCREMENTAL span dedup: excise from a DELTA batch every w-token
    * span already present in an INDEXED corpus — the daily-crawl form of
    * [[spanDedup]] (and of exact-substring decontamination: seed the
    * index with benchmark text). The index is just the DISTINCT 60-bit
    * span-key set — at 100 TB a persisted/bucketed 8-byte-key table the
    * delta co-shuffles against; the indexed text is never re-scanned per
    * delta and never self-joins. Intra-delta duplication is deliberately
    * out of scope (run [[spanDedup]] on the delta for that). */
  def spanDedupAgainst(indexed: DataFrame, delta: DataFrame,
                       idCol: String, textCol: String,
                       w: Int = SpanDedupW): DataFrame = {
    val dbase = delta.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    val idx = spanKeyIndex(indexed, idCol, textCol, w)
      .withColumn("isdup", lit(1))
    excised(dbase, spanRows(dbase, w), idx, w)
  }

  /** The DISTINCT 60-bit span-key index `(h)` of a corpus — the persisted
    * side [[spanDedupAgainst]] (batch) and the streaming delta form clean
    * against; at 100 TB a bucketed 8-byte-key table. */
  def spanKeyIndex(indexed: DataFrame, idCol: String, textCol: String,
                   w: Int = SpanDedupW): DataFrame = {
    val ibase = indexed.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    spanRows(ibase, w).filter(col("h").isNotNull).select("h").distinct()
  }

  /** The DUPLICATED span-key set `(h)` of a corpus — keys occurring in
    * ≥ 2 distinct documents, i.e. exactly the keys [[spanDedup]] excises.
    * Computed batch-side and persisted, it turns the streaming ingest
    * form into the SELF-dedup semantics: a stream cleaning against this
    * set reproduces [[spanDedup]] over the same corpus bit-for-bit. */
  def dupSpanKeySet(docs: DataFrame, idCol: String, textCol: String,
                    w: Int = SpanDedupW): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"), col(textCol).as("text"))
    dupKeysOf(spanRows(base, w))
  }

  /** [[dupSpanKeySet]] over precomputed [[spanRowsOf]] rows — the
    * session-cached-explode form (the other From-variants' discipline). */
  def dupSpanKeySetFrom(spans: DataFrame): DataFrame = dupKeysOf(spans)

  /** PER-ROW form of [[boilerplateClean]]: each doc's lines filtered
    * against a per-source drop-set ARRAY (from [[boilerplateDropSets]])
    * joined in as one static row per source — no explode, no reassembly
    * aggregation — so a STREAM can strip as a stateless projection ahead
    * of its one stateful operator. Row-for-row equal to the batch form
    * (spec-pinned); the lambda references only the joined attribute. */
  def boilerplateCleanRow(docs: DataFrame, dropSets: DataFrame,
                          idCol: String, srcCol: String,
                          textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        col(textCol).as("text"))
      .join(dropSets, Seq("source"), "left")
      .withColumn("__lines", split(col("text"), "\n"))
      .select(col("doc_id"),
        array_join(filter(col("__lines"), l =>
          !coalesce(array_contains(col("drops"), fingerprint(l)),
            lit(false))), "\n").as("text"))

  /** [[boilerplateDropSet]] collected to one ARRAY row per source — the
    * static join side of [[boilerplateCleanRow]] (membership-only, so
    * collect_list order is irrelevant). Boilerplate-sized per source by
    * definition. */
  def boilerplateDropSets(docs: DataFrame, idCol: String, srcCol: String,
                          textCol: String): DataFrame =
    boilerplateDropSet(docs, idCol, srcCol, textCol)
      .groupBy("source").agg(collect_list(col("lfp")).as("drops"))

  /** The shared sdbase→sdtk→sdsp→sddup CTE chain (no `WITH `): 1-based
    * token rows, per-start span keys, the ≥-2-distinct-docs duplicated
    * key set — the SQL mirror of [[spanRows]]+[[dupKeysOf]], assembled
    * by [[spanDedupSql]] and [[spanDupRunsSql]]. */
  private def spanKeyCtes(table: String, idCol: String, textCol: String,
                          w: Int): String = {
    val wm1 = w - 1
    s"""sdbase AS (
       |  SELECT $idCol AS doc_id, $textCol AS text FROM $table
       |), sdtk AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    unnest(generate_series(1, len(toks))) AS i,
       |    unnest(toks) AS tok
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM sdbase
       |        WHERE length(trim(text)) > 0)
       |), sdsp AS (
       |  SELECT doc_id, i, tok,
       |    CASE WHEN i + $wm1 <= n THEN
       |      ${graft.functions.TextFunctions.hash60Sql(s"array_to_string(toks[i:i+$wm1], ' ')")}
       |    END AS h
       |  FROM sdtk
       |), sddup AS (
       |  SELECT h FROM sdsp WHERE h IS NOT NULL
       |  GROUP BY h HAVING count(DISTINCT doc_id) >= 2
       |)""".stripMargin
  }

  /** DuckDB twin of [[spanDupRuns]]: the shared span-key CTEs, duplicated
    * starts via a 1:1 join on the distinct duplicated-key set, and the
    * identical islands merge (i − row_number per doc). DuckDB's i is
    * already 1-based, matching the Spark side's min(i)+1. */
  def spanDupRunsSql(table: String, idCol: String, textCol: String,
                     w: Int = SpanDedupW): String =
    s"""WITH ${spanKeyCtes(table, idCol, textCol, w)}, srds AS (
       |  SELECT s.doc_id, s.i,
       |    s.i - row_number() OVER (PARTITION BY s.doc_id ORDER BY s.i) AS isl
       |  FROM sdsp s JOIN sddup d ON d.h = s.h
       |)
       |SELECT doc_id, CAST(min(i) AS INT) AS run_start,
       |  CAST(count(*) AS INT) AS n_spans,
       |  CAST(count(*) + ${w - 1} AS INT) AS run_len
       |FROM srds GROUP BY doc_id, isl
       |ORDER BY doc_id, run_start""".stripMargin

  /** DuckDB twin of [[spanDedup]]: spans from 1-based list slices, the
    * same md5-60 span keys, window-frame coverage, ordered string_agg. */
  def spanDedupSql(table: String, idCol: String, textCol: String,
                   w: Int = SpanDedupW): String = {
    val wm1 = w - 1
    s"""WITH ${spanKeyCtes(table, idCol, textCol, w)}, sdmk AS (
       |  SELECT s.doc_id, s.i, s.tok,
       |    max(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY s.doc_id ORDER BY s.i
       |            ROWS BETWEEN $wm1 PRECEDING AND CURRENT ROW) AS cov
       |  FROM sdsp s LEFT JOIN sddup d ON d.h = s.h
       |), sdcl AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    CAST(sum(1 - cov) AS INT) AS n_kept,
       |    coalesce(string_agg(CASE WHEN cov = 0 THEN tok END, ' ' ORDER BY i), '')
       |      AS clean_text
       |  FROM sdmk GROUP BY doc_id
       |)
       |SELECT b.doc_id, coalesce(sdcl.n_tokens, 0) AS n_tokens,
       |  coalesce(sdcl.n_kept, 0) AS n_kept,
       |  coalesce(sdcl.clean_text, '') AS clean_text
       |FROM sdbase b LEFT JOIN sdcl ON sdcl.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  /** DuckDB twin of [[spanDedupAgainst]] with both sides drawn from one
    * `table` via predicates (the fixture split); the index CTE is the
    * distinct span-key set, exactly the persisted-index shape. */
  def spanDedupAgainstSql(table: String, idCol: String, textCol: String,
                          indexPred: String, deltaPred: String,
                          w: Int = SpanDedupW): String = {
    val wm1 = w - 1
    val h60 = graft.functions.TextFunctions.hash60Sql(
      s"array_to_string(toks[i:i+$wm1], ' ')")
    s"""WITH sabase AS (
       |  SELECT $idCol AS doc_id, $textCol AS text FROM $table WHERE $deltaPred
       |), satk AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    unnest(generate_series(1, len(toks))) AS i,
       |    unnest(toks) AS tok
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM sabase
       |        WHERE length(trim(text)) > 0)
       |), sasp AS (
       |  SELECT doc_id, i, tok,
       |    CASE WHEN i + $wm1 <= n THEN $h60 END AS h
       |  FROM satk
       |), saidx AS (
       |  SELECT DISTINCT h FROM (
       |    SELECT CASE WHEN i + $wm1 <= n THEN $h60 END AS h
       |    FROM (
       |      SELECT toks, len(toks) AS n,
       |        unnest(generate_series(1, len(toks))) AS i
       |      FROM (SELECT ${tokensSql(textCol)} AS toks FROM $table
       |            WHERE ($indexPred) AND length(trim($textCol)) > 0)))
       |  WHERE h IS NOT NULL
       |), samk AS (
       |  SELECT s.doc_id, s.i, s.tok,
       |    max(CASE WHEN d.h IS NOT NULL THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY s.doc_id ORDER BY s.i
       |            ROWS BETWEEN $wm1 PRECEDING AND CURRENT ROW) AS cov
       |  FROM sasp s LEFT JOIN saidx d ON d.h = s.h
       |), sacl AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    CAST(sum(1 - cov) AS INT) AS n_kept,
       |    coalesce(string_agg(CASE WHEN cov = 0 THEN tok END, ' ' ORDER BY i), '')
       |      AS clean_text
       |  FROM samk GROUP BY doc_id
       |)
       |SELECT b.doc_id, coalesce(sacl.n_tokens, 0) AS n_tokens,
       |  coalesce(sacl.n_kept, 0) AS n_kept,
       |  coalesce(sacl.clean_text, '') AS clean_text
       |FROM sabase b LEFT JOIN sacl ON sacl.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  /** DuckDB twin of [[spanDedupWithin]]: the same slice/key CTEs as
    * [[spanDedupSql]] with a per-(doc, key) min-position predicate —
    * an occurrence is a dup iff a smaller start position in the SAME doc
    * carries the same span key (first copy wins). */
  def spanDedupWithinSql(table: String, idCol: String, textCol: String,
                         w: Int = SpanDedupW): String = {
    val wm1 = w - 1
    s"""WITH swbase AS (
       |  SELECT $idCol AS doc_id, $textCol AS text FROM $table
       |), swtk AS (
       |  SELECT doc_id, toks, len(toks) AS n,
       |    unnest(generate_series(1, len(toks))) AS i,
       |    unnest(toks) AS tok
       |  FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM swbase
       |        WHERE length(trim(text)) > 0)
       |), swsp AS (
       |  SELECT doc_id, i, tok,
       |    CASE WHEN i + $wm1 <= n THEN
       |      ${graft.functions.TextFunctions.hash60Sql(s"array_to_string(toks[i:i+$wm1], ' ')")}
       |    END AS h
       |  FROM swtk
       |), swdp AS (
       |  SELECT doc_id, i, tok,
       |    CASE WHEN h IS NOT NULL
       |      AND i > min(i) OVER (PARTITION BY doc_id, h) THEN 1 ELSE 0
       |    END AS isdup
       |  FROM swsp
       |), swmk AS (
       |  SELECT doc_id, i, tok,
       |    max(isdup) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN $wm1 PRECEDING AND CURRENT ROW) AS cov
       |  FROM swdp
       |), swcl AS (
       |  SELECT doc_id, CAST(count(*) AS INT) AS n_tokens,
       |    CAST(sum(1 - cov) AS INT) AS n_kept,
       |    coalesce(string_agg(CASE WHEN cov = 0 THEN tok END, ' ' ORDER BY i), '')
       |      AS clean_text
       |  FROM swmk GROUP BY doc_id
       |)
       |SELECT b.doc_id, coalesce(swcl.n_tokens, 0) AS n_tokens,
       |  coalesce(swcl.n_kept, 0) AS n_kept,
       |  coalesce(swcl.clean_text, '') AS clean_text
       |FROM swbase b LEFT JOIN swcl ON swcl.doc_id = b.doc_id
       |ORDER BY b.doc_id""".stripMargin
  }

  // ------------------------------------------------- end-to-end pipeline
  /** Full near-dup dedup pipeline: MinHash-LSH candidates filtered by
    * signature similarity become edges of a duplicate graph; connected
    * components group transitive duplicates; the minimum doc id of each
    * component survives. Returns the surviving rows of `docs`.
    *
    * This is the operator a training-data pipeline actually runs: candidate
    * generation is bucket-join-bounded (no all-pairs), grouping is GraphX
    * CC (iterations bounded by dup-cluster diameter, which is tiny), and
    * survivor selection is one aggregation + semi-join. */
  def nearDupSurvivors(docs: DataFrame, idCol: String, textCol: String,
                       minEstSim: Double = 0.5,
                       candidates: Option[DataFrame] = None): DataFrame = {
    // doc ids round-trip through the duplicate graph's string keys and back
    // via cast(long); a non-integral idCol would cast to null and the final
    // anti-join would silently match nothing (no dedup at all) — fail fast
    // instead of silently skipping the whole operation
    docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"nearDupSurvivors needs an integral id column; '$idCol' is $other " +
          "(map your ids to long first, e.g. via xxhash64 or a dense rank)")
    }
    val sp = docs.sparkSession
    import sp.implicits._
    // materialize the candidate pairs once: the duplicate graph's node
    // derivation, size check and GraphX conversion would otherwise each
    // re-run the LSH candidate join (3x the dominant cost of the pipeline).
    // `candidates` lets callers running several consumers of the same
    // corpus's (a, b, est_sim) table (the driver's d_minhash_* family)
    // pass a shared precomputed one.
    val pairs = candidates.getOrElse(minhashCandidates(docs, idCol, textCol))
      .filter(col("est_sim") >= minEstSim)
    ccMinIdSurvivors(docs, idCol, pairs)
  }

  /** Shared dup-component survivor tail: (a, b) duplicate pairs → GraphX
    * connected components → keep each component's min id; returns the
    * surviving rows of `docs`. The pairs localCheckpoint once — the dup
    * graph's node derivation and GraphX conversion would otherwise each
    * re-run the candidate join that produced them. */
  private[graft] def ccMinIdSurvivors(docs: DataFrame, idCol: String,
                                      dupPairs: DataFrame): DataFrame = {
    // victims = duplicated ids that are NOT their component's min
    val victims = ccComponentRep(dupPairs)
      .filter(col("id") =!= col("rep")).select(col("id").as("__vid"))
    docs.join(victims, docs(idCol) === victims("__vid"), "left_anti")
  }

  /** Duplicate-component REPRESENTATIVE (numeric-min id) per duplicated
    * doc: (id, rep) for every id appearing in `dupPairs`(a, b) — docs in
    * no pair are absent (callers default rep = own id). The group key
    * for leakage-safe operations that must treat a whole near-dup
    * cluster as one unit (cluster-keyed train/test split, per-cluster
    * quotas). */
  private[graft] def ccComponentRep(dupPairs: DataFrame): DataFrame = {
    val pairs = dupPairs
      .select(col("a").cast("string").as("src"), col("b").cast("string").as("dst"))
      .transform(graft.CacheScope.checkpoint)
    val dupGraph = graft.KinGraph.fromEdges(pairs.withColumn("etype", lit(0)))
    val comps = graft.gx.GraphXBridge.connectedComponents(
      graft.gx.GraphXBridge.toGraphX(dupGraph))
    comps.select(col("key").cast("long").as("id"), col("component"))
      .withColumn("rep",
        min(col("id")).over(Window.partitionBy(col("component"))))
      .select(col("id"), col("rep"))
  }

  // ------------------------------------------------------------ line dedup
  /** C4/RefinedWeb-style LINE-level global deduplication: split every doc
    * on newlines, keep only the FIRST occurrence of each normalized line
    * corpus-wide (first = smallest (doc_id, line_no)), and reassemble each
    * doc from its surviving lines. This is the boilerplate-removal pass a
    * web corpus runs before document-level dedup.
    *
    * Output: (doc_id, n_kept, n_dropped, clean_fp = md5 of the reassembled
    * text). The only corpus-wide shuffle is the window over the line
    * fingerprint — the same hash-partitioned shape as exact dedup; the
    * reassembly groups by doc (collect_list over a doc's own lines, never
    * cross-doc). */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("i", "line")))
    val w = Window.partitionBy(fingerprint(col("line")))
      .orderBy(col("doc_id"), col("i"))
    val kept = lines.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val agg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws("\n", transform(
        array_sort(collect_list(struct(col("i"), col("line")))),
        x => x.getField("line"))).as("clean"))
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        md5(coalesce(col("clean"), lit(""))).as("clean_fp"))
  }

  /** DuckDB twin of [[lineDedup]] over `textExpr` (an expression so the
    * caller can plant lines the same way the Spark query does). */
  def lineDedupSql(table: String, idCol: String, textExpr: String): String =
    s"""WITH lined AS (
       |  SELECT $idCol AS doc_id, $textExpr AS text FROM $table
       |), larr AS (
       |  SELECT doc_id, string_split(text, chr(10)) AS lines FROM lined
       |), l AS (
       |  SELECT doc_id, s['i'] AS i, s['line'] AS line FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, len(lines)),
       |      i -> {'i': i, 'line': lines[i]})) AS s
       |    FROM larr)
       |), kept AS (
       |  SELECT doc_id, i, line FROM (
       |    SELECT doc_id, i, line, row_number() OVER (
       |      PARTITION BY ${fingerprintSql("line")} ORDER BY doc_id, i) AS rn
       |    FROM l) WHERE rn = 1
       |), agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY i) AS clean
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT la.doc_id,
       |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(len(la.lines) - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped,
       |  md5(coalesce(a.clean, '')) AS clean_fp
       |FROM larr la LEFT JOIN agg a ON la.doc_id = a.doc_id
       |ORDER BY la.doc_id""".stripMargin

  // ------------------------------------------------------------ boilerplate
  /** CCNet-style boilerplate stripping: drop every line whose document
    * frequency WITHIN its source exceeds a strict majority (2·df > n_docs)
    * — the shared header/footer/nav shape of a web crawl, removed per
    * source group rather than corpus-first-wins (that is [[lineDedup]]'s
    * job). Unlike line dedup, every copy of a boilerplate line is dropped
    * (including the first) and non-majority shared lines survive in place.
    *
    * Scale shape: the line explode aggregates df on (source, line_fp) with
    * map-side combine; the drop set is boilerplate-line-sized (tiny by
    * definition — only majority lines qualify), so the anti-join
    * broadcasts. No corpus-sized shuffle beyond the df aggregation and the
    * per-doc reassembly group. The threshold is an integer cross-multiply
    * (2·df > n), exact in both engines at every SF. */
  def boilerplateStrip(docs: DataFrame, idCol: String, srcCol: String,
                       textCol: String): DataFrame =
    boilerplateCore(docs, idCol, srcCol, textCol)
      .select(col("doc_id"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_lines") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        md5(coalesce(col("clean"), lit(""))).as("clean_fp"))

  /** [[boilerplateStrip]]'s cleaned TEXT per doc — the composable form
    * the end-to-end cleaning pipeline feeds downstream stages. */
  def boilerplateClean(docs: DataFrame, idCol: String, srcCol: String,
                       textCol: String): DataFrame =
    boilerplateCore(docs, idCol, srcCol, textCol)
      .select(col("doc_id"), coalesce(col("clean"), lit("")).as("text"))

  private def boilerplateCore(docs: DataFrame, idCol: String, srcCol: String,
                              textCol: String): DataFrame = {
    // the line explode + fingerprint is the expensive stage and feeds
    // BOTH the df aggregation and the anti join — materialize it once
    // (harness releaseAll frees it per query)
    val lined = graft.CacheScope.cached(
      boilerplateLines(docs, idCol, srcCol, textCol))
    val dropSet = boilerplateDropSetOf(lined,
      docs.groupBy(col(srcCol).as("source")).agg(count(lit(1)).as("n_docs")))
    val kept = lined.join(broadcast(dropSet), Seq("source", "lfp"), "left_anti")
    val agg = kept.groupBy("doc_id").agg(
      count(lit(1)).as("n_kept"),
      concat_ws("\n", transform(
        array_sort(collect_list(struct(col("i"), col("line")))),
        x => x.getField("line"))).as("clean"))
    docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(agg, Seq("doc_id"), "left")
  }

  /** `(doc_id, source, i, line, lfp)` line rows of [[boilerplateStrip]]'s
    * explode — shared by the batch strip and the streaming per-batch
    * form (which rebuilds these rows on the stream side). */
  private[graft] def boilerplateLines(docs: DataFrame, idCol: String,
                                      srcCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"), col(srcCol).as("source"),
        posexplode(split(col(textCol), "\n")).as(Seq("i", "line")))
      .withColumn("lfp", fingerprint(col("line")))

  /** The `(source, lfp)` per-source majority-line DROP SET of
    * [[boilerplateStrip]], exposed so a streaming ingest can clean
    * micro-batches against the corpus-derived set (the persisted-index
    * discipline of [[spanKeyIndex]]): boilerplate-line-sized by
    * definition, so it ships as one static join side. */
  def boilerplateDropSet(docs: DataFrame, idCol: String, srcCol: String,
                         textCol: String): DataFrame =
    boilerplateDropSetOf(boilerplateLines(docs, idCol, srcCol, textCol),
      docs.groupBy(col(srcCol).as("source")).agg(count(lit(1)).as("n_docs")))

  private def boilerplateDropSetOf(lined: DataFrame,
                                   nDocs: DataFrame): DataFrame =
    lined.groupBy("source", "lfp")
      .agg(countDistinct(col("doc_id")).as("df"))
      .join(nDocs, Seq("source"))
      .filter(col("df") * 2 > col("n_docs"))
      .select("source", "lfp")

  /** The COMPOSED end-to-end web-crawl cleaning pipeline — the stages
    * the individual gates pin one at a time, run in the order a real
    * pipeline runs them (the order changes the answer: repetition
    * fractions move once boilerplate is stripped, the quality cut's
    * percentile is taken over the already-cleaned corpus, and span
    * dedup must see scrubbed text so a redacted span dedups against its
    * redacted twin):
    *
    *   1. CCNet boilerplate strip ([[boilerplateClean]]);
    *   2. PII scrub (regex projection, stateless);
    *   3. Gopher repetition DROP (docs failing the paper thresholds);
    *   4. quality cut: token count ≥ the 25th percentile of the
    *      post-strip corpus (data-adaptive, both engines exact);
    *   5. cross-doc span dedup ([[spanDedup]]) on the survivors.
    *
    * Output per surviving doc: (doc_id, n_tokens, n_kept, clean_fp) —
    * the final text pinned by md5. Scale shape: each stage keeps its
    * own gated plan shape (broadcast drop set, map-side gram counts,
    * broadcast scalar cut, 8-byte span keys); the composition adds one
    * semi join and one scalar cross join. */
  def cleanPipeline(docs: DataFrame, idCol: String, srcCol: String,
                    textCol: String): DataFrame = {
    val (withN, cut) = cleanQualityFrame(docs, idCol, srcCol, textCol)
    val survivors = withN.crossJoin(broadcast(cut))
      .filter(col("n_tok") >= col("p25"))
      .select("doc_id", "text")
    spanDedup(survivors, "doc_id", "text")
      .select(col("doc_id"), col("n_tokens"), col("n_kept"),
        md5(col("clean_text")).as("clean_fp"))
  }

  /** The stateless prefix of [[cleanPipeline]] (strip → scrub → Gopher
    * drop → token count): the post-Gopher frame (doc_id, text, n_tok)
    * plus the one-row quality-cut scalar frame. Shared with
    * s_stream_clean's batch static-side derivation so the stage chain
    * exists exactly once. */
  private[graft] def cleanQualityFrame(docs: DataFrame, idCol: String,
                                       srcCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    import graft.functions.TextFunctions
    val stripped = boilerplateClean(docs, idCol, srcCol, textCol)
    val scrubbed = graft.CacheScope.cached(stripped.select(col("doc_id"),
      TextFunctions.scrubPii(col("text")).as("text")))
    val gkeep = TextFunctions.gopherRepetitionStats(scrubbed, "doc_id", "text")
      .filter(col("keep")).select("doc_id")
    val withN = scrubbed.join(gkeep, Seq("doc_id"), "left_semi")
      .withColumn("n_tok", TextFunctions.tokenCount(col("text")))
    (withN, withN.agg(expr("percentile(n_tok, 0.25)").as("p25")))
  }

  /** DuckDB twin of [[cleanPipeline]] over `textExpr`: every stage's
    * existing twin nested as a CTE (the strip chain, the gopher panel
    * and the span-dedup rewrite are the gated builders verbatim), so
    * the composition is pinned with zero re-derived stage logic. */
  def cleanPipelineSql(table: String, idCol: String, srcCol: String,
                       textExpr: String): String = {
    import graft.functions.TextFunctions
    s"""WITH ${boilerplateCleanCtes(table, idCol, srcCol, textExpr)},
       |scr AS MATERIALIZED (
       |  SELECT doc_id, ${TextFunctions.scrubPiiSql("text")} AS text
       |  FROM bclean
       |), gst AS (
       |  ${TextFunctions.gopherRepetitionStatsSql("scr", "doc_id", "text")}
       |), gsv AS (
       |  SELECT s.doc_id, s.text FROM scr s
       |  JOIN gst g ON g.doc_id = s.doc_id AND g.keep
       |), qn AS MATERIALIZED (
       |  SELECT doc_id, text, ${TextFunctions.tokenCountSql("text")} AS n_tok
       |  FROM gsv
       |), qs AS MATERIALIZED (
       |  SELECT doc_id, text FROM qn
       |  WHERE n_tok >= (SELECT quantile_cont(n_tok, 0.25) FROM qn)
       |), fin AS (
       |  ${spanDedupSql("qs", "doc_id", "text")}
       |)
       |SELECT doc_id, n_tokens, n_kept, md5(clean_text) AS clean_fp
       |FROM fin ORDER BY doc_id""".stripMargin
  }

  /** The shared [[boilerplateStripSql]] CTE BODY (no `WITH ` prefix, no
    * final SELECT): `lined` → … → `agg`(doc_id, n_kept, clean), with
    * `larr` still in scope for the callers' base joins — the
    * cteBody/bpeCteBody pattern (both SQL builders assemble from this
    * one chain; no text surgery). */
  private def boilerplateCteBody(table: String, idCol: String,
                                 srcCol: String, textExpr: String): String =
    s"""lined AS (
       |  SELECT $idCol AS doc_id, $srcCol AS source, $textExpr AS text
       |  FROM $table
       |), larr AS (
       |  SELECT doc_id, source, string_split(text, chr(10)) AS lines
       |  FROM lined
       |), l AS (
       |  SELECT doc_id, source, s['i'] AS i, s['line'] AS line,
       |    ${fingerprintSql("s['line']")} AS lfp FROM (
       |    SELECT doc_id, source, unnest(list_transform(
       |      generate_series(1, len(lines)),
       |      i -> {'i': i, 'line': lines[i]})) AS s
       |    FROM larr)
       |), nd AS (
       |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM lined GROUP BY source
       |), dfq AS (
       |  SELECT source, lfp, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM l GROUP BY source, lfp
       |), drop_set AS (
       |  SELECT d.source, d.lfp FROM dfq d
       |  JOIN nd ON d.source = nd.source
       |  WHERE d.df * 2 > nd.n_docs
       |), kept AS (
       |  SELECT l.doc_id, l.i, l.line FROM l
       |  WHERE NOT EXISTS (SELECT 1 FROM drop_set ds
       |                    WHERE ds.source = l.source AND ds.lfp = l.lfp)
       |), agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY i) AS clean
       |  FROM kept GROUP BY doc_id
       |)""".stripMargin

  /** DuckDB twin of [[boilerplateClean]]: the [[boilerplateStripSql]]
    * chain as CTE BODIES (no WITH prefix), ending in `bclean`(doc_id,
    * text) — the composable form the d_clean_e2e oracle builds on. */
  def boilerplateCleanCtes(table: String, idCol: String, srcCol: String,
                           textExpr: String): String =
    boilerplateCteBody(table, idCol, srcCol, textExpr) +
      s""",
         |bclean AS (
         |  SELECT la.doc_id, coalesce(a.clean, '') AS text
         |  FROM larr la LEFT JOIN agg a ON la.doc_id = a.doc_id
         |)""".stripMargin

  /** DuckDB twin of [[boilerplateStrip]] over `textExpr`. */
  def boilerplateStripSql(table: String, idCol: String, srcCol: String,
                          textExpr: String): String =
    s"""WITH ${boilerplateCteBody(table, idCol, srcCol, textExpr)}
       |SELECT la.doc_id,
       |  CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(len(la.lines) - coalesce(a.n_kept, 0) AS BIGINT) AS n_dropped,
       |  md5(coalesce(a.clean, '')) AS clean_fp
       |FROM larr la LEFT JOIN agg a ON la.doc_id = a.doc_id
       |ORDER BY la.doc_id""".stripMargin

  // -------------------------------------------------------- decontamination
  /** Benchmark decontamination sweep: flag every corpus doc sharing at
    * least one shingle with the benchmark set (the n-gram-overlap test-set
    * contamination check every LLM training run performs). The benchmark
    * shingle set is distinct-small and broadcast; the corpus side never
    * does more than its own shingle explode + one semi-shaped join. */
  def contaminationReport(docs: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String): DataFrame = {
    val bsh = shingleRows(benchmark, idCol, textCol)
      .select(hash32(col("shingle")).as("shingle")).distinct()
    val dsh = shingleRows(docs, idCol, textCol)
      .select(col("doc_id"), hash32(col("shingle")).as("shingle")).distinct()
    val hits = dsh.join(broadcast(bsh), "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    docs.select(col(idCol).as("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  def contaminationReportSql(table: String, idCol: String, textCol: String,
                             docsFilter: String, benchFilter: String): String =
    s"""WITH bsh AS (
       |  SELECT DISTINCT ${hash32Sql("s")} AS shingle FROM (
       |    SELECT unnest(${shinglesSql(textCol)}) AS s
       |    FROM $table WHERE $benchFilter)
       |), dsh AS (
       |  SELECT DISTINCT doc_id, shingle FROM (
       |    SELECT $idCol AS doc_id, ${hash32Sql("s")} AS shingle FROM (
       |      SELECT $idCol, unnest(${shinglesSql(textCol)}) AS s
       |      FROM $table WHERE $docsFilter))
       |), hits AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
       |  FROM dsh JOIN bsh USING (shingle) GROUP BY doc_id
       |)
       |SELECT d.$idCol AS doc_id,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  (coalesce(h.n_hits, 0) > 0) AS contaminated
       |FROM (SELECT $idCol FROM $table WHERE $docsFilter) d
       |LEFT JOIN hits h ON d.$idCol = h.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Gopher-style duplicate-n-gram coverage: per doc, the fraction of
    * token positions lying inside at least one WITHIN-DOC duplicated
    * 3-gram — the "fraction of characters in duplicate n-grams" repetition
    * rule, in exact integer milli-units (Rae et al. 2021 filter family;
    * complements d_repetition's distinct-bigram counts). Reuses the shared
    * shingle explode; duplicated shingles are a per-(doc, shingle) count,
    * coverage is a distinct-position count — two map-side-combinable
    * aggregations, no window. Output: (doc_id, n_tokens, n_covered,
    * covered_milli). */
  def dupShingleCoverage(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = shingleRows(docs, idCol, textCol)
    val dup = sh.groupBy(col("doc_id"), col("shingle"))
      .agg(count(lit(1)).as("c")).filter(col("c") >= 2)
      .select(col("doc_id"), col("shingle"))
    val covered = sh.join(dup, Seq("doc_id", "shingle"))
      .select(col("doc_id"),
        explode(array(col("i"), col("i") + 1, col("i") + 2)).as("pos"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("n_covered"))
    docs.select(col(idCol).as("doc_id"), tokenCount(col(textCol)).as("n_tokens"))
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        expr("(1000 * coalesce(n_covered, 0)) div greatest(n_tokens, 1)")
          .as("covered_milli"))
  }

  /** DuckDB twin of [[dupShingleCoverage]]. */
  def dupShingleCoverageSql(table: String, idCol: String, textCol: String): String =
    s"""WITH t AS (
       |  SELECT $idCol AS doc_id, ${graft.functions.TextFunctions.tokensSql(textCol)} AS toks,
       |    ${graft.functions.TextFunctions.tokenCountSql(textCol)} AS n_tokens
       |  FROM $table
       |), g AS (
       |  SELECT doc_id, i, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS gram
       |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i FROM t)
       |), d AS (
       |  SELECT doc_id, gram FROM g GROUP BY doc_id, gram HAVING count(*) >= 2
       |), cov AS (
       |  SELECT DISTINCT g.doc_id, g.i + o.k AS pos
       |  FROM g JOIN d USING (doc_id, gram), (SELECT unnest([0, 1, 2]) AS k) o
       |), nc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_covered FROM cov GROUP BY doc_id
       |)
       |SELECT t.doc_id, CAST(t.n_tokens AS BIGINT) AS n_tokens,
       |  CAST(coalesce(nc.n_covered, 0) AS BIGINT) AS n_covered,
       |  CAST((1000 * coalesce(nc.n_covered, 0)) // greatest(t.n_tokens, 1) AS BIGINT) AS covered_milli
       |FROM t LEFT JOIN nc USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** Exact-substring decontamination — the character-level companion to
    * [[contaminationReport]]'s token shingles (the relational form of the
    * suffix-array substring pass of Lee et al. 2022's training-data dedup,
    * /root/reference has no equivalent; north-star pipeline op). Fixed
    * `windowLen`-char windows: the benchmark side windows at stride 1
    * (every position), the corpus side at stride `corpusStride` — any
    * literal run of at least windowLen + corpusStride − 1 shared chars
    * necessarily aligns one corpus window fully inside the benchmark run,
    * so detection at that substring length is EXACT, not probabilistic.
    *
    * Scale shape: corpus work is len/stride window hashes per doc (the
    * stride is the cost knob), the benchmark's distinct window hashes
    * broadcast (benchmarks are small by deployment), and the match joins
    * 60-bit hashes from the shared md5 family — the oracle replays the
    * same hashes, collisions included. Output: one row per corpus doc
    * (doc_id, n_windows, n_hits, contaminated); docs shorter than
    * windowLen carry n_windows = 0. */
  def substringContamination(corpus: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String,
                             windowLen: Int = 50,
                             corpusStride: Int = 10): DataFrame = {
    require(windowLen > 0, "windowLen > 0")
    require(corpusStride > 0, "corpusStride > 0")
    def windowHashes(df: DataFrame, stride: Int): DataFrame = {
      val t = col(textCol)
      // guard: Spark's sequence throws on stop < start with a + step
      val positions = when(length(t) >= windowLen,
        sequence(lit(1L), (length(t) - (windowLen - 1)).cast("long"),
          lit(stride.toLong)))
        .otherwise(expr("CAST(array() AS array<bigint>)"))
      // explode positions FIRST, hash in the post-Generate projection —
      // a transform() lambda would hash interpreted per element
      df.select(col(idCol).as("doc_id"), t.as("__t"),
          explode(positions).as("p"))
        .select(col("doc_id"),
          hash60(col("__t").substr(col("p").cast("int"), lit(windowLen))).as("h"))
    }
    val bw = windowHashes(benchmark, 1).select("h").distinct()
    val hits = windowHashes(corpus, corpusStride)
      .join(broadcast(bw.withColumn("hit", lit(1L))), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"), count(col("hit")).as("n_hits"))
    corpus.select(col(idCol).as("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** DuckDB twin of [[substringContamination]] with `textExpr` as the
    * (possibly computed) text column on both sides. */
  def substringContaminationSql(table: String, idCol: String, textExpr: String,
                                docsFilter: String, benchFilter: String,
                                windowLen: Int = 50,
                                corpusStride: Int = 10): String =
    s"""WITH bw AS (
       |  SELECT DISTINCT ${hash60Sql(s"substr(t, p, $windowLen)")} AS h FROM (
       |    SELECT t, unnest(generate_series(1, len(t) - ${windowLen - 1})) AS p
       |    FROM (SELECT $textExpr AS t FROM $table WHERE $benchFilter))
       |), cw AS (
       |  SELECT doc_id, ${hash60Sql(s"substr(t, p, $windowLen)")} AS h FROM (
       |    SELECT doc_id, t,
       |      unnest(generate_series(1, len(t) - ${windowLen - 1}, $corpusStride)) AS p
       |    FROM (SELECT $idCol AS doc_id, $textExpr AS t
       |          FROM $table WHERE $docsFilter))
       |), hits AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows,
       |    CAST(count(bw.h) AS BIGINT) AS n_hits
       |  FROM cw LEFT JOIN bw ON cw.h = bw.h GROUP BY doc_id
       |)
       |SELECT d.$idCol AS doc_id,
       |  CAST(coalesce(h.n_windows, 0) AS BIGINT) AS n_windows,
       |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       |  (coalesce(h.n_hits, 0) > 0) AS contaminated
       |FROM (SELECT $idCol FROM $table WHERE $docsFilter) d
       |LEFT JOIN hits h ON d.$idCol = h.doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------- ngram jaccard
  /** Exact shingle-set Jaccard for pairs sharing at least one shingle,
    * thresholded. The shared-shingle join is the candidate generator; at
    * real scale feed it LSH candidates instead (minhashCandidates) — this
    * direct form is the verify stage. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        threshold: Double): DataFrame =
    ngramJaccardPairsFrom(shingleRows(docs, idCol, textCol), threshold)

  def ngramJaccardPairsFrom(sh: DataFrame, threshold: Double): DataFrame = {
    // shingles are joined by their 32-bit hash (longs shuffle ~10x cheaper
    // than shingle strings); the oracle hashes identically, so any
    // (astronomically rare) collision affects both engines the same way
    val ds0 = sh
      .select(col("doc_id"), hash32(col("shingle")).as("shingle")).distinct()
    val ds = graft.CacheScope.cached(ds0) // consumed 3x: counts + both join sides
    val counts = ds.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val a = ds.select(col("shingle"), col("doc_id").as("a"))
    val b = ds.select(col("shingle"), col("doc_id").as("b"))
    val inter = a.join(b, "shingle").filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    // threshold as an exact integer comparison (jaccard >= t  ⇔
    // inter * 1000 >= t*1000 * union) so no float boundary can disagree
    val tMil = math.round(threshold * 1000).toInt
    inter
      .join(counts.toDF("a", "na"), "a")
      .join(counts.toDF("b", "nb"), "b")
      .withColumn("union_size", col("na") + col("nb") - col("inter"))
      .filter(col("inter") * 1000 >= col("union_size") * tMil)
      .select("a", "b", "inter", "union_size")
  }

  /** Asymmetric shingle CONTAINMENT for document pairs sharing any
    * shingle: `c(a⊂b) = |A∩B| / |A|` in integer milli — the signal that
    * catches quote-inclusion and sub-document copies Jaccard structurally
    * misses (a short doc fully embedded in a long one has Jaccard
    * ≈ |A|/|B| → 0 but containment exactly 1000). Pairs survive when
    * EITHER direction reaches `minMilli`; both directions are reported.
    * All integer (milli = (1000·inter) div n), engine-exact.
    *
    * Scale shape: same shingle-hash join as [[ngramJaccardPairsFrom]]
    * (longs, not strings, through the shuffle; candidate volume bounded
    * by shared-shingle pairs, no all-pairs product); at 100 TB feed it
    * the LSH candidate pairs instead of the raw shingle join. */
  def containmentPairsFrom(sh: DataFrame, minMilli: Int): DataFrame = {
    val ds = graft.CacheScope.cached(
      sh.select(col("doc_id"), hash32(col("shingle")).as("shingle")).distinct())
    val counts = ds.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val inter = ds.select(col("shingle"), col("doc_id").as("a"))
      .join(ds.select(col("shingle"), col("doc_id").as("b")), "shingle")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("inter"))
    inter
      .join(counts.toDF("a", "na"), "a")
      .join(counts.toDF("b", "nb"), "b")
      .select(col("a"), col("b"), col("inter"), col("na"), col("nb"),
        expr("(1000 * inter) div na").as("cont_a_milli"),
        expr("(1000 * inter) div nb").as("cont_b_milli"))
      .filter(greatest(col("cont_a_milli"), col("cont_b_milli")) >= minMilli)
  }

  /** DuckDB twin of [[containmentPairsFrom]] over
    * `table`(idCol, textCol). */
  def containmentPairsSql(table: String, idCol: String, textCol: String,
                          minMilli: Int): String =
    s"""WITH sh AS (
       |  SELECT $idCol AS doc_id, unnest(${shinglesSql(textCol)}) AS s
       |  FROM $table
       |), ds AS (
       |  SELECT DISTINCT doc_id, ${hash32Sql("s")} AS shingle FROM sh
       |), cnt AS (
       |  SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id
       |), inter AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, CAST(count(*) AS BIGINT) AS i
       |  FROM ds x JOIN ds y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY x.doc_id, y.doc_id
       |)
       |SELECT a, b, i AS inter,
       |  CAST(ca.n AS BIGINT) AS na, CAST(cb.n AS BIGINT) AS nb,
       |  CAST((1000 * i) // ca.n AS BIGINT) AS cont_a_milli,
       |  CAST((1000 * i) // cb.n AS BIGINT) AS cont_b_milli
       |FROM inter JOIN cnt ca ON a = ca.doc_id JOIN cnt cb ON b = cb.doc_id
       |WHERE greatest((1000 * i) // ca.n, (1000 * i) // cb.n) >= $minMilli
       |ORDER BY a, b""".stripMargin

  def ngramJaccardPairsSql(table: String, idCol: String, textCol: String,
                           threshold: Double): String =
    s"""WITH sh AS (
       |  SELECT $idCol AS doc_id, unnest(${shinglesSql(textCol)}) AS s
       |  FROM $table
       |), ds AS (
       |  SELECT DISTINCT doc_id, ${hash32Sql("s")} AS shingle FROM sh
       |), cnt AS (
       |  SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id
       |), inter AS (
       |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS i
       |  FROM ds x JOIN ds y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
       |  GROUP BY x.doc_id, y.doc_id
       |)
       |SELECT a, b, i AS inter, (ca.n + cb.n - i) AS union_size
       |FROM inter JOIN cnt ca ON a = ca.doc_id JOIN cnt cb ON b = cb.doc_id
       |WHERE i * 1000 >= (ca.n + cb.n - i) * ${math.round(threshold * 1000).toInt}
       |ORDER BY a, b""".stripMargin
}
