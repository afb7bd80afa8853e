package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.TextFunctions.{tokens, tokensSql}

/** BPE-style merge-rule learning over word tokens (collocation / phrase
  * discovery — the vocabulary-construction loop of a tokenizer pipeline,
  * run at the word level where a training corpus discovers its "new york"
  * -> "new york"-as-one-token merges). Each round:
  *
  *   1. count adjacent token pairs corpus-wide (one map-side-combinable
  *      aggregation);
  *   2. pick the most frequent pair (count desc, then lexicographic —
  *      a deterministic total order);
  *   3. re-tokenize every document, replacing non-overlapping occurrences
  *      of the pair GREEDILY left-to-right (the classic BPE application
  *      rule: in `x x x` the merge `(x, x)` applies once, consuming the
  *      first two tokens).
  *
  * The greedy non-overlap subset is relational: candidate positions with
  * consecutive indices form runs (`grp = i - running_cand_count` is
  * constant within a run and distinct across runs, since `i` outpaces the
  * running count between runs), and within a run exactly the even offsets
  * are taken. Everything is integer/string arithmetic — no floats
  * anywhere — so the full training loop replays exactly in SQL
  * ([[mergeRoundsSql]], the d_bpe oracle).
  *
  * Scale shape: one doc_id shuffle up front; every window in every round
  * reuses that partitioning (partition-local sorts only), the pair count
  * is the only other exchange per round, and the per-round driver
  * traffic is ONE row (the argmax pair — the documented tiny-probe
  * pattern). State is checkpointed once per round (referenced by the
  * stats pass, the transform, and the next round). */
object Collocations {

  /** Learn `rounds` merge rules. Output: one row per round —
    * (round, pair, pair_n = corpus count when chosen, n_applied =
    * non-overlapping merges actually applied). */
  def mergeRounds(docs: DataFrame, idCol: String, textCol: String,
                  rounds: Int = 3): DataFrame =
    mergeRoundsWithState(docs, idCol, textCol, rounds)._1

  /** [[mergeRounds]] plus the final re-tokenized corpus state
    * (doc_id, i, t) — the APPLY side of the tokenizer: what the corpus
    * looks like after the learned merges. */
  def mergeRoundsWithState(docs: DataFrame, idCol: String, textCol: String,
                           rounds: Int = 3): (DataFrame, DataFrame) = {
    val (m, st, _) = mergeRoundsFull(docs, idCol, textCol, rounds)
    (m, st)
  }

  /** One greedy non-overlapping merge application over token state with
    * `nxt` attached: candidates matching `cand` merge left-to-right
    * with run parity; returns the re-numbered state and the taken frame
    * (for n_applied accounting). Shared by the learn loop and the
    * dropout apply so the application rule exists once. */
  private def greedyMerge(withNext: DataFrame,
                          cand: Column): (DataFrame, DataFrame) = {
    val w = Window.partitionBy("doc_id").orderBy("i")
    val marked = withNext
      .withColumn("cand", cand)
      .withColumn("rnc", sum(when(col("cand"), 1L).otherwise(0L)).over(w))
      .withColumn("grp", col("i") - col("rnc"))
    val taken = marked
      .withColumn("take", col("cand") &&
        pmod(col("rnc") - min(when(col("cand"), col("rnc")))
          .over(Window.partitionBy("doc_id", "grp")), lit(2L)) === 0)
      .withColumn("consumed",
        coalesce(lag(col("take"), 1).over(w), lit(false)))
      .transform(graft.CacheScope.checkpoint)
    val st = taken.filter(!col("consumed"))
      .select(col("doc_id"), col("i").as("oi"),
        when(col("take"), concat(col("t"), lit(" "), col("nxt")))
          .otherwise(col("t")).as("t"))
      .withColumn("i",
        row_number().over(Window.partitionBy("doc_id").orderBy("oi")) - 1)
      .select("doc_id", "i", "t")
    (st, taken)
  }

  /** [[mergeRoundsWithState]] plus the learned merge PAIRS as (a, b)
    * tuples — the unambiguous form a downstream apply needs (the
    * display `pair` string "a b" cannot be split back once a merged
    * token itself contains spaces). */
  def mergeRoundsFull(docs: DataFrame, idCol: String, textCol: String,
                      rounds: Int = 3)
      : (DataFrame, DataFrame, Seq[(String, String)]) = {
    require(rounds >= 1, "rounds >= 1")
    val sp = docs.sparkSession
    import sp.implicits._
    val w = Window.partitionBy("doc_id").orderBy("i")
    var state = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("i", "t")))
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      state = graft.CacheScope.checkpoint(state)
      val withNext = state.withColumn("nxt", lead("t", 1).over(w))
      val top = withNext.filter(col("nxt").isNotNull)
        .groupBy(col("t").as("a"), col("nxt").as("b"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("a"), col("b")).limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val cand = col("nxt").isNotNull && col("t") === lit(a) && col("nxt") === lit(b)
        val (st, taken) = greedyMerge(withNext, cand)
        val nApplied = taken.filter(col("take")).count()
        state = st
        learned += ((r, s"$a $b", n, nApplied))
        pairs += ((a, b))
        r += 1
      }
    }
    (sp.createDataFrame(learned.toSeq)
      .toDF("round", "pair", "pair_n", "n_applied"), state, pairs.toSeq)
  }

  /** APPLY the learned merges with BPE-DROPOUT (Provilkov et al.,
    * "BPE-Dropout: Simple and Effective Subword Regularization"): each
    * candidate application of merge r at position i is SKIPPED when
    * hash60(doc_id|i|r|bdrop) % `dropMod` == 0 — a deterministic 1/10
    * dropout, reproducible and exactly replayable in SQL (no RNG
    * state, the skip-gram negative-sampling discipline). The surviving
    * candidates then merge under the standard greedy run parity, so
    * dropout composes with the application rule unchanged. Output: the
    * re-tokenized state (doc_id, i, t). */
  def applyMergesWithDropout(docs: DataFrame, idCol: String, textCol: String,
                             merges: Seq[(String, String)],
                             dropMod: Long = 10): DataFrame = {
    import graft.functions.TextFunctions.hash60
    val w = Window.partitionBy("doc_id").orderBy("i")
    var state = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("i", "t")))
    for (((a, b), idx) <- merges.zipWithIndex) {
      // no loop-top checkpoint: unlike the learn loop (which probes the
      // state twice per round), the apply references state exactly once
      // and greedyMerge checkpoints its taken frame
      val withNext = state.withColumn("nxt", lead("t", 1).over(w))
      val cand = col("nxt").isNotNull &&
        col("t") === lit(a) && col("nxt") === lit(b) &&
        pmod(hash60(concat_ws("|", col("doc_id"), col("i"),
          lit((idx + 1).toString), lit("bdrop"))), lit(dropMod)) =!= 0
      state = greedyMerge(withNext, cand)._1
    }
    state
  }

  /** DuckDB twin of [[applyMergesWithDropout]]: b0..bR CTE bodies
    * replaying the learned m$r merges over s0 with the same hash gate —
    * appended after [[cteBody]]'s learn chain in one WITH. */
  def dropoutCteBody(rounds: Int, dropMod: Long = 10): String = {
    import graft.functions.TextFunctions.hash60Sql
    val perRound = (1 to rounds).map { r =>
      val p = r - 1
      val gate = hash60Sql(
        s"CAST(doc_id AS VARCHAR) || '|' || CAST(i AS VARCHAR) || '|$r|bdrop'")
      s"""bx$r AS (
         |  SELECT doc_id, i, t, nxt,
         |    coalesce(nxt IS NOT NULL AND t = a AND nxt = b, FALSE)
         |      AND ($gate) % $dropMod <> 0 AS cand
         |  FROM (
         |    SELECT s.doc_id, s.i, s.t,
         |      lead(s.t) OVER (PARTITION BY s.doc_id ORDER BY s.i) AS nxt
         |    FROM b$p s) LEFT JOIN m$r ON TRUE
         |), by$r AS (
         |  SELECT *, i - rnc AS grp FROM (
         |    SELECT doc_id, i, t, nxt, cand,
         |      sum(CASE WHEN cand THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY i) AS rnc
         |    FROM bx$r)
         |), bz$r AS (
         |  SELECT doc_id, i, t, nxt,
         |    coalesce(cand AND (rnc - min(CASE WHEN cand THEN rnc END)
         |        OVER (PARTITION BY doc_id, grp)) % 2 = 0, FALSE) AS take
         |  FROM by$r
         |), bw$r AS (
         |  SELECT doc_id, i, t, nxt, take,
         |    coalesce(lag(take) OVER (PARTITION BY doc_id ORDER BY i), FALSE)
         |      AS consumed
         |  FROM bz$r
         |), b$r AS MATERIALIZED (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS i,
         |    CASE WHEN take THEN t || ' ' || nxt ELSE t END AS t
         |  FROM bw$r WHERE NOT consumed
         |)""".stripMargin
    }
    ("b0 AS (SELECT doc_id, i, t FROM s0)" +: perRound).mkString(",\n")
  }

  /** DuckDB twin of [[mergeRounds]]: the full unrolled training loop as
    * CTEs over `table`(idCol, textCol) — the same windows, the same run
    * parity, the same argmax order. */
  def mergeRoundsSql(table: String, idCol: String, textCol: String,
                     rounds: Int = 3): String = {
    val finalRows = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS INT) AS round, a || ' ' || b AS pair,
         |  CAST(n AS BIGINT) AS pair_n,
         |  (SELECT CAST(n_applied AS BIGINT) FROM a$r) AS n_applied
         |FROM m$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    "WITH " + cteBody(table, idCol, textCol, rounds) + "\n" + finalRows +
      "\nORDER BY round"
  }

  /** DuckDB twin of the APPLY side: per-doc token counts before and after
    * the learned merges (final state CTE s`rounds`). */
  def applyCountsSql(table: String, idCol: String, textCol: String,
                     rounds: Int = 3): String =
    "WITH " + cteBody(table, idCol, textCol, rounds) +
      s"""
         |SELECT b.doc_id, b.n AS n_before, a.n AS n_after
         |FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM s0 GROUP BY 1) b
         |JOIN (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM s$rounds GROUP BY 1) a
         |  ON a.doc_id = b.doc_id
         |ORDER BY b.doc_id""".stripMargin

  /** PMI collocation ranking — the statistical phrase-discovery
    * complement of the BPE frequency argmax (frequency finds "of the";
    * PMI finds "new york"): score every bigram with count ≥ `minCount` by
    * `ln P(ab) − ln P(a) − ln P(b)` and keep the top `k` under the total
    * order (pmi desc, bigram asc). Each of the six lns rounds to integer
    * micro-nats SEPARATELY before the additive combination (no integer
    * products that could overflow on count·count), so the score is
    * engine-exact ([[pmiTopSql]]).
    *
    * Scale shape: two map-side-combinable counts (bigram, unigram) + two
    * vocabulary-keyed joins; the data-sized frames never join each other.
    * The min-count floor is the standard PMI variance guard — rare pairs
    * otherwise dominate with noise PMIs. */
  def pmiTop(docs: DataFrame, textCol: String, minCount: Long = 5,
             k: Int = 50): DataFrame = {
    import graft.functions.TextFunctions.{bigrams, tokens}
    def lmicro(c: Column): Column = round(log(c) * 1e6, 0).cast("long")
    val cbg = docs.select(explode(bigrams(col(textCol))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("n_ab"))
    val ct = docs.select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("cnt"))
    val totT = ct.agg(sum(col("cnt")).as("n_tok"))
    val totB = cbg.agg(sum(col("n_ab")).as("n_bg"))
    cbg.filter(col("n_ab") >= minCount)
      .withColumn("a", substring_index(col("bg"), " ", 1))
      .withColumn("b", substring_index(col("bg"), " ", -1))
      .join(ct.select(col("t").as("a"), col("cnt").as("cnt_a")), "a")
      .join(ct.select(col("t").as("b"), col("cnt").as("cnt_b")), "b")
      .crossJoin(broadcast(totT)).crossJoin(broadcast(totB))
      .select(col("bg"), col("n_ab"),
        ((lmicro(col("n_ab")) - lmicro(col("n_bg")))
          - (lmicro(col("cnt_a")) - lmicro(col("n_tok")))
          - (lmicro(col("cnt_b")) - lmicro(col("n_tok")))).as("pmi_micro"))
      .orderBy(col("pmi_micro").desc, col("bg")).limit(k)
  }

  /** DuckDB twin of [[pmiTop]]. */
  def pmiTopSql(table: String, textCol: String, minCount: Long = 5,
                k: Int = 50): String = {
    import graft.functions.TextFunctions.{bigramsSql, tokensSql}
    val lm = (x: String) => s"CAST(round(ln($x) * 1000000.0) AS BIGINT)"
    s"""WITH bgr AS (
       |  SELECT unnest(${bigramsSql(textCol)}) AS bg FROM $table
       |), cbg AS (
       |  SELECT bg, count(*) AS n_ab FROM bgr GROUP BY 1
       |), tok AS (
       |  SELECT unnest(${tokensSql(textCol)}) AS t FROM $table
       |), ct AS (
       |  SELECT t, count(*) AS cnt FROM tok GROUP BY 1
       |), tt AS (SELECT sum(cnt) AS n_tok FROM ct),
       |tb AS (SELECT sum(n_ab) AS n_bg FROM cbg)
       |SELECT bg, CAST(n_ab AS BIGINT) AS n_ab,
       |  CAST((${lm("n_ab")} - ${lm("n_bg")})
       |    - (${lm("ca.cnt")} - ${lm("n_tok")})
       |    - (${lm("cb.cnt")} - ${lm("n_tok")}) AS BIGINT) AS pmi_micro
       |FROM cbg
       |JOIN ct ca ON ca.t = split_part(bg, ' ', 1)
       |JOIN ct cb ON cb.t = split_part(bg, ' ', 2), tt, tb
       |WHERE n_ab >= $minCount
       |ORDER BY pmi_micro DESC, bg LIMIT $k""".stripMargin
  }

  /** DuckDB twin of the per-group compression view: token counts
    * before/after the learned merges aggregated by `grpCol` (e.g. lang),
    * with the integer milli-ratio — the "how much does this tokenizer
    * compress each language" diagnostic. */
  def compressionByGroupSql(table: String, idCol: String, textCol: String,
                            grpCol: String, rounds: Int = 3): String =
    "WITH " + cteBody(table, idCol, textCol, rounds) +
      s"""
         |SELECT d.$grpCol,
         |  CAST(sum(b.n) AS BIGINT) AS n_before,
         |  CAST(sum(a.n) AS BIGINT) AS n_after,
         |  CAST((1000 * sum(a.n)) // sum(b.n) AS BIGINT) AS ratio_milli
         |FROM $table d
         |JOIN (SELECT doc_id, count(*) AS n FROM s0 GROUP BY 1) b
         |  ON b.doc_id = d.$idCol
         |JOIN (SELECT doc_id, count(*) AS n FROM s$rounds GROUP BY 1) a
         |  ON a.doc_id = d.$idCol
         |GROUP BY 1 ORDER BY 1""".stripMargin

  /** [[cteBody]] exposed for oracles that append further chains onto
    * the learn CTEs (the d_bpe_dropout apply replay). */
  def bpeCteBody(table: String, idCol: String, textCol: String,
                 rounds: Int): String = cteBody(table, idCol, textCol, rounds)

  private def cteBody(table: String, idCol: String, textCol: String,
                      rounds: Int): String = {
    val s0 =
      s"""s0 AS MATERIALIZED (
         |  SELECT doc_id, s['i'] AS i, s['t'] AS t FROM (
         |    SELECT $idCol AS doc_id, unnest(list_transform(
         |      generate_series(1, len(tk)), j -> {'i': j - 1, 't': tk[j]})) AS s
         |    FROM (SELECT $idCol, ${tokensSql(textCol)} AS tk FROM $table))
         |)""".stripMargin
    val perRound = (1 to rounds).map { r =>
      val p = r - 1
      s"""m$r AS MATERIALIZED (
         |  SELECT t AS a, nxt AS b, count(*) AS n FROM (
         |    SELECT t, lead(t) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
         |    FROM s$p)
         |  WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  ORDER BY n DESC, a, b LIMIT 1
         |), x$r AS (
         |  -- LEFT JOIN, not a cross join: when merges exhaust early m$r is
         |  -- EMPTY, and a cross join would empty every downstream state CTE
         |  -- while the Spark loop keeps the last state; with the left join
         |  -- cand is all-false and s$r passes the state through unchanged
         |  SELECT doc_id, i, t, nxt,
         |    coalesce(nxt IS NOT NULL AND t = a AND nxt = b, FALSE) AS cand
         |  FROM (
         |    SELECT s.doc_id, s.i, s.t,
         |      lead(s.t) OVER (PARTITION BY s.doc_id ORDER BY s.i) AS nxt
         |    FROM s$p s) LEFT JOIN m$r ON TRUE
         |), y$r AS (
         |  SELECT *, i - rnc AS grp FROM (
         |    SELECT doc_id, i, t, nxt, cand,
         |      sum(CASE WHEN cand THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY i) AS rnc
         |    FROM x$r)
         |), z$r AS (
         |  SELECT doc_id, i, t, nxt,
         |    coalesce(cand AND (rnc - min(CASE WHEN cand THEN rnc END)
         |        OVER (PARTITION BY doc_id, grp)) % 2 = 0, FALSE) AS take
         |  FROM y$r
         |), w$r AS (
         |  SELECT doc_id, i, t, nxt, take,
         |    coalesce(lag(take) OVER (PARTITION BY doc_id ORDER BY i), FALSE)
         |      AS consumed
         |  FROM z$r
         |), s$r AS MATERIALIZED (
         |  SELECT doc_id,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS i,
         |    CASE WHEN take THEN t || ' ' || nxt ELSE t END AS t
         |  FROM w$r WHERE NOT consumed
         |), a$r AS (
         |  SELECT count(*) AS n_applied FROM z$r WHERE take
         |)""".stripMargin
    }
    (s0 +: perRound).mkString(",\n")
  }

  // ------------------------- unigram-LM tokenizer (SentencePiece-style EM)
  /** Max piece length — the DP lookback width. */
  val UniMaxPiece = 3
  /** Seed vocabulary: top multi-char substrings kept alongside ALL single
    * chars (coverage guarantee). */
  val UniSeedMulti = 50
  /** Multi-char tokens surviving each EM prune. */
  val UniKeepMulti = 40
  /** EM rounds (E = Viterbi segment, M = usage re-count + prune). */
  val UniRounds = 2
  private val UniSent = -400000000000000L // can never beat a genuine path

  /** Viterbi segmentation of `word` under integer micro-nat piece scores:
    * best[j] = max over piece lengths ℓ ≤ [[UniMaxPiece]] of
    * best[j−ℓ] + score(word[j−ℓ..j]), ties preferring the LONGEST piece —
    * a deterministic integer DP (no floats anywhere), replayed in SQL by
    * [[unigramCtes]]'s recursive dp CTEs carrying the 3-value sliding
    * window. Positions are UTF-16 units == code points for BMP text (the
    * fixtures' scripts, incl. zh, are BMP; both engines then index
    * identically). Every single char is in-vocabulary by construction, so
    * best[j] is always genuine and the sentinel never wins. */
  private def uniViterbi(word: String,
                         sc: collection.Map[String, Long]): (List[String], Long) = {
    val n = word.length
    // BMP guard: the cross-engine position parity above is FALSE for
    // supplementary chars (Scala substring splits surrogate pairs where
    // DuckDB slices code points) — fail loudly instead of silently
    // hash-diverging at whatever SF first plants an emoji
    var g = 0
    while (g < n) {
      if (Character.isSurrogate(word.charAt(g)))
        throw new IllegalArgumentException(
          s"uniViterbi: non-BMP code point in word '$word' — UTF-16 " +
            "positions no longer match DuckDB code-point slicing")
      g += 1
    }
    val best = Array.fill(n + 1)(UniSent)
    val bl = new Array[Int](n + 1)
    best(0) = 0L
    var j = 1
    while (j <= n) {
      var l = 1
      while (l <= math.min(UniMaxPiece, j)) {
        sc.get(word.substring(j - l, j)) match {
          case Some(s) =>
            val c = best(j - l) + s
            if (c > best(j) || (c == best(j) && l > bl(j))) {
              best(j) = c; bl(j) = l
            }
          case None =>
        }
        l += 1
      }
      j += 1
    }
    var pieces = List.empty[String]
    var k = n
    while (k > 0) {
      val l = math.max(bl(k), 1) // bl==0 unreachable when chars covered
      pieces = word.substring(k - l, k) :: pieces
      k -= l
    }
    (pieces, best(n))
  }

  /** Laplace-smoothed integer micro-nat unigram scores over a
    * (tok, cnt) vocabulary: score = lmicro(cnt+1) − lmicro(tot+|V|),
    * each ln micro-rounded separately (the PMI discipline) so both
    * engines compute the identical integers. */
  private def scoredVocab(v: DataFrame): DataFrame = {
    def lm(c: Column) = round(log(c) * 1e6, 0).cast("long")
    val tots = v.agg(sum(col("cnt")).as("tot"), count(lit(1)).as("nv"))
    v.crossJoin(broadcast(tots))
      .select(col("tok"), col("cnt"),
        (lm(col("cnt") + 1) - lm(col("tot") + col("nv"))).as("score_micro"))
  }

  /** The corpus's distinct-word frame (word, wcnt) — the SentencePiece
    * move that makes EM corpus-size-free: every DP below runs once per
    * DISTINCT word, weighted by its count. */
  private def distinctWords(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wcnt"))

  /** Unigram-LM tokenizer training (the SentencePiece-style EM family —
    * the other mainstream tokenizer next to [[mergeRounds]]' BPE):
    *
    *   seed: all substrings of length ≤ [[UniMaxPiece]] of the distinct
    *     words, occurrence-weighted; vocabulary = ALL single chars ∪
    *     top-[[UniSeedMulti]] multi-char by (cnt desc, tok);
    *   per round: E-step Viterbi-segments every distinct word under the
    *     current scores ([[uniViterbi]]); M-step re-counts piece usage,
    *     keeps all single chars (0-usage allowed — Laplace keeps scores
    *     finite) plus the top-[[UniKeepMulti]] used multi-char pieces.
    *
    * Returns the final scored vocabulary (tok, cnt, score_micro).
    *
    * Scale shape: corpus-sized work is ONE word explode + count; the
    * seed explode, DP and usage counts all run on the vocabulary-sized
    * distinct-word frame; the per-round driver traffic is the ≤
    * (alphabet + [[UniSeedMulti]])-row score map (the documented bounded
    * k-sized-frame collect, broadcast into the DP). */
  def unigramVocab(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val words = graft.CacheScope.cached(distinctWords(docs, textCol))
    val seeds = words.select(col("wcnt"), explode(expr(
        s"flatten(transform(sequence(1, length(word)), i -> " +
        s"transform(sequence(1, least($UniMaxPiece, length(word) - i + 1)), " +
        s"l -> substring(word, i, l))))")).as("tok"))
      .groupBy("tok").agg(sum(col("wcnt")).as("cnt"))
    val chars0 = graft.CacheScope.cached(
      seeds.filter(length(col("tok")) === 1))
    val multi0 = seeds.filter(length(col("tok")) > 1)
      .orderBy(col("cnt").desc, col("tok")).limit(UniSeedMulti)
    var vocab = chars0.unionByName(multi0)
    val charSet = chars0.select("tok")
    for (_ <- 1 to UniRounds) {
      val scMap = scoredVocab(vocab).select("tok", "score_micro").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val bc = sp.sparkContext.broadcast(scMap)
      val used = words.select("word", "wcnt").as[(String, Long)]
        .mapPartitions(_.flatMap { case (w, c) =>
          uniViterbi(w, bc.value)._1.map(p => (p, c)) })
        .toDF("tok", "wc").groupBy("tok").agg(sum(col("wc")).as("cnt"))
      val chars = charSet.join(used, Seq("tok"), "left")
        .select(col("tok"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      val multi = used.filter(length(col("tok")) > 1)
        .orderBy(col("cnt").desc, col("tok")).limit(UniKeepMulti)
      vocab = chars.unionByName(multi)
    }
    scoredVocab(vocab)
  }

  /** APPLY side: segment the corpus with a trained scored vocabulary
    * (from [[unigramVocab]]): per doc, the word count, total piece count
    * and summed segmentation log-likelihood in micro-nats — all exact
    * integers. Per-word DP runs once per distinct word; docs join their
    * word stats by an equi join (word-keyed shuffle — never a broadcast
    * assumption on the corpus vocabulary). */
  def unigramApplyFrom(vocabScored: DataFrame, docs: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val sp = docs.sparkSession
    import sp.implicits._
    val scMap = vocabScored.select("tok", "score_micro").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = sp.sparkContext.broadcast(scMap)
    val words = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("word"))
      .filter(length(col("word")) > 0)
    val wstats = words.select("word").distinct().as[String]
      .mapPartitions(_.map { w =>
        val (ps, ll) = uniViterbi(w, bc.value)
        (w, ps.length.toLong, ll)
      }).toDF("word", "np", "ll")
    words.join(wstats, "word").groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"),
        sum(col("ll")).as("ll_micro"))
  }

  /** Per-word-OCCURRENCE segmentation stats (doc_id, np, ll) under a
    * trained scored vocabulary — STATELESS (mapPartitions over a
    * broadcast score map), so a stream runs it ahead of its single
    * per-doc aggregation; summing occurrence rows equals the batch
    * distinct-word-join form exactly. `words` = (doc_id, word) rows. */
  def unigramWordStats(words: DataFrame, vocabScored: DataFrame): DataFrame = {
    val sp = words.sparkSession
    import sp.implicits._
    val scMap = vocabScored.select("tok", "score_micro").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bc = sp.sparkContext.broadcast(scMap)
    words.select(col("doc_id"), col("word")).as[(Long, String)]
      .mapPartitions(_.map { case (id, w) =>
        val (ps, ll) = uniViterbi(w, bc.value)
        (id, ps.length.toLong, ll)
      }).toDF("doc_id", "np", "ll")
  }

  /** DuckDB twin of the unigram-LM train loop: the seed cut, every EM
    * round's Viterbi DP (a recursive CTE per round carrying the 3-value
    * best-score sliding window — bounded lookback == [[UniMaxPiece]]),
    * the backtrack (a second recursive CTE walking j → j − ℓ(j)) and the
    * usage/prune CTEs, all unrolled. Emits CTE bodies only (callers
    * prefix `WITH RECURSIVE ` and append their select). Final scored
    * vocabulary lands in `usc${UniRounds}`; apply DP in `uwstat`. */
  def unigramCtes(table: String, idCol: String, textCol: String): String = {
    val toks = tokensSql(textCol)
    def scoreCte(r: Int): String =
      s"""ut$r AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot,
         |  CAST(count(*) AS BIGINT) AS nv FROM uv$r),
         |usc$r AS MATERIALIZED (
         |  SELECT tok, cnt,
         |    CAST(round(ln(cnt + 1) * 1000000.0) AS BIGINT)
         |      - CAST(round(ln(tot + nv) * 1000000.0) AS BIGINT) AS score_micro
         |  FROM uv$r, ut$r)""".stripMargin
    // dp over positions with the (b0,b1,b2) best-score window; ties
    // prefer the longest piece (c3 >= c2 >= c1 case order); c1 is always
    // genuine because every single char is in-vocabulary
    def dpCte(name: String, sc: String, extra: Boolean): String = {
      val npInit = if (extra) ", 0 AS n0, 0 AS n1, 0 AS n2" else ""
      val npStep = if (extra)
        """,
          |    CASE WHEN c3 >= c2 AND c3 >= c1 THEN n2 + 1
          |         WHEN c2 >= c1 THEN n1 + 1 ELSE n0 + 1 END, n0, n1""".stripMargin
      else ""
      s"""$name AS (
         |  SELECT word, wcnt, wlen, 0 AS j, CAST(0 AS BIGINT) AS b0,
         |    CAST($UniSent AS BIGINT) AS b1, CAST($UniSent AS BIGINT) AS b2,
         |    0 AS l$npInit
         |  FROM uw
         |  UNION ALL
         |  SELECT word, wcnt, wlen, j + 1, greatest(c1, c2, c3), b0, b1,
         |    CASE WHEN c3 >= c2 AND c3 >= c1 THEN 3
         |         WHEN c2 >= c1 THEN 2 ELSE 1 END$npStep
         |  FROM (
         |    SELECT d.*,
         |      d.b0 + s1.score_micro AS c1,
         |      coalesce(d.b1 + s2.score_micro, $UniSent) AS c2,
         |      coalesce(d.b2 + s3.score_micro, $UniSent) AS c3
         |    FROM $name d
         |    LEFT JOIN $sc s1 ON s1.tok = d.word[d.j + 1 : d.j + 1]
         |    LEFT JOIN $sc s2 ON d.j >= 1 AND s2.tok = d.word[d.j : d.j + 1]
         |    LEFT JOIN $sc s3 ON d.j >= 2 AND s3.tok = d.word[d.j - 1 : d.j + 1]
         |  ) WHERE j < wlen
         |)""".stripMargin
    }
    def roundCtes(r: Int): String = {
      val p = r - 1
      s"""${dpCte(s"udp$r", s"usc$p", extra = false)},
         |ubt$r AS (
         |  SELECT word, wcnt, wlen AS j, CAST(NULL AS VARCHAR) AS piece FROM uw
         |  UNION ALL
         |  SELECT b.word, b.wcnt, b.j - d.l,
         |    b.word[b.j - d.l + 1 : b.j]
         |  FROM ubt$r b JOIN udp$r d ON d.word = b.word AND d.j = b.j
         |  WHERE b.j > 0
         |), uu$r AS MATERIALIZED (
         |  SELECT piece AS tok, CAST(sum(wcnt) AS BIGINT) AS cnt
         |  FROM ubt$r WHERE piece IS NOT NULL GROUP BY piece
         |), uv$r AS (
         |  SELECT v.tok, coalesce(u.cnt, 0) AS cnt
         |  FROM (SELECT tok FROM uv$p WHERE len(tok) = 1) v
         |  LEFT JOIN uu$r u ON u.tok = v.tok
         |  UNION ALL
         |  SELECT tok, cnt FROM (
         |    SELECT tok, cnt FROM uu$r WHERE len(tok) > 1
         |    ORDER BY cnt DESC, tok LIMIT $UniKeepMulti)
         |),
         |${scoreCte(r)}""".stripMargin
    }
    val base =
      s"""uw AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS wcnt, len(word) AS wlen
         |  FROM (SELECT unnest($toks) AS word FROM $table)
         |  WHERE word <> '' GROUP BY word
         |), useed AS (
         |  SELECT tok, CAST(sum(wcnt) AS BIGINT) AS cnt FROM (
         |    SELECT wcnt, unnest(flatten(list_transform(
         |      generate_series(1, len(word)),
         |      i -> list_transform(
         |        generate_series(1, least($UniMaxPiece, len(word) - i + 1)),
         |        l -> word[i : i + l - 1])))) AS tok
         |    FROM uw) GROUP BY tok
         |), uv0 AS (
         |  SELECT tok, cnt FROM useed WHERE len(tok) = 1
         |  UNION ALL
         |  SELECT tok, cnt FROM (
         |    SELECT tok, cnt FROM useed WHERE len(tok) > 1
         |    ORDER BY cnt DESC, tok LIMIT $UniSeedMulti)
         |),
         |${scoreCte(0)}""".stripMargin
    val rounds = (1 to UniRounds).map(roundCtes).mkString(",\n")
    val applyDp =
      s"""${dpCte("udpA", s"usc$UniRounds", extra = true)},
         |uwstat AS MATERIALIZED (
         |  SELECT word, b0 AS ll, n0 AS np FROM udpA WHERE j = wlen
         |)""".stripMargin
    Seq(base, rounds, applyDp).mkString(",\n")
  }

  /** DuckDB twin of [[unigramVocab]]'s gate view (final scored vocab). */
  def unigramVocabSql(table: String, idCol: String, textCol: String): String =
    "WITH RECURSIVE " + unigramCtes(table, idCol, textCol) +
      s"""
         |SELECT tok AS token, cnt, score_micro FROM usc$UniRounds
         |ORDER BY token""".stripMargin

  /** DuckDB twin of the per-LANG fertility view (pieces per word, the
    * tokenizer-compression diagnostic d_bpe_compression computes for
    * the merge family): word rows joined to the apply DP, aggregated by
    * the doc's language. */
  def unigramFertilitySql(table: String, idCol: String, textCol: String,
                          grpCol: String): String =
    "WITH RECURSIVE " + unigramCtes(table, idCol, textCol) +
      s"""
         |SELECT dw.$grpCol, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(s.np) AS BIGINT) AS n_pieces,
         |  CAST((1000 * sum(s.np)) // count(*) AS BIGINT) AS fertility_milli
         |FROM (
         |  SELECT $idCol AS doc_id, $grpCol, unnest(${tokensSql(textCol)}) AS word
         |  FROM $table
         |) dw JOIN uwstat s ON s.word = dw.word
         |WHERE dw.word <> ''
         |GROUP BY dw.$grpCol ORDER BY dw.$grpCol""".stripMargin

  /** DuckDB twin of [[unigramApplyFrom]]: per-doc word/piece counts and
    * summed segmentation log-likelihood under the trained vocab. */
  def unigramApplySql(table: String, idCol: String, textCol: String): String =
    "WITH RECURSIVE " + unigramCtes(table, idCol, textCol) +
      s"""
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(s.np) AS BIGINT) AS n_pieces,
         |  CAST(sum(s.ll) AS BIGINT) AS ll_micro
         |FROM (
         |  SELECT $idCol AS doc_id, unnest(${tokensSql(textCol)}) AS word
         |  FROM $table
         |) dw JOIN uwstat s ON s.word = dw.word
         |WHERE dw.word <> ''
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** TextRank keyword extraction — PageRank over the token co-occurrence
    * graph (the graph-centrality complement of PMI's pair statistics and
    * TF-IDF's query-relative ranking: TextRank finds the corpus's
    * structurally central vocabulary with no query and no training):
    *  1. vocabulary = top `vocabN` tokens by (count DESC, token) — the
    *     data-adaptive cut that keeps the graph bounded at any SF;
    *  2. edges = ADJACENT token pairs (window lead, one shuffle) where
    *     both ends are in-vocabulary, undirected with adjacency counts
    *     as weights;
    *  3. `rounds` of weighted PageRank in integer micro-units:
    *     sc' = 150000 + (850000 · Σ_u (w_uv·sc_u div wdeg_u)) div 1e6 —
    *     every term divides to an integer BEFORE the order-free sum
    *     (the gx_pagerank_fp fixed-point discipline), so every iterate
    *     is engine-exact and the ranking replays in SQL ([[textRankSql]]).
    *
    * Scale shape: the corpus-sized work is one token explode + one
    * window lead (one doc_id shuffle, reused by both); everything after
    * runs on vocabN-bounded frames (≤ vocabN² edges), broadcast-joined.
    * i64 headroom: sc ≤ 1e6·(1+vocabN) and w·sc products stay below
    * 2^63 through vocabN ~ 10⁶. */
  def textRank(docs: DataFrame, idCol: String, textCol: String,
               vocabN: Int = 100, rounds: Int = 3, k: Int = 20): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("p", "t")))
    val vocab = toks.groupBy("t").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("t")).limit(vocabN).select("t")
    val wl = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val adj = toks.withColumn("t2", lead(col("t"), 1).over(wl))
      .filter(col("t2").isNotNull && col("t") =!= col("t2"))
      .join(broadcast(vocab), "t")
      .join(broadcast(vocab.select(col("t").as("t2"))), "t2")
    val und = adj.select(least(col("t"), col("t2")).as("u"),
        greatest(col("t"), col("t2")).as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("w"))
    val edges = und.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(und.select(col("v").as("src"), col("u").as("dst"), col("w")))
    val wdeg = edges.groupBy("src").agg(sum(col("w")).as("wd"))
    val ew = graft.CacheScope.cached(broadcast(edges.join(wdeg, "src")))
    var sc = vocab.withColumn("sc", lit(1000000L))
    for (_ <- 1 to rounds) {
      val contrib = ew.join(broadcast(sc.select(col("t").as("src"), col("sc"))), "src")
        .groupBy(col("dst"))
        .agg(sum(expr("(w * sc) div wd")).as("contrib"))
      sc = vocab.join(broadcast(contrib.select(col("dst").as("t"), col("contrib"))),
          Seq("t"), "left")
        .select(col("t"),
          (lit(150000L) + expr("(850000 * coalesce(contrib, 0)) div 1000000"))
            .as("sc"))
    }
    sc.select(col("t").as("token"), col("sc").as("score_micro"))
      .orderBy(col("score_micro").desc, col("token")).limit(k)
  }

  /** DuckDB twin of [[textRank]]: vocabulary cut, window-lead adjacency
    * and every PageRank round unrolled as CTEs. */
  def textRankSql(table: String, idCol: String, textCol: String,
                  vocabN: Int = 100, rounds: Int = 3, k: Int = 20): String = {
    val roundCtes = (1 to rounds).map { r =>
      val p = r - 1
      s"""tc$r AS (
         |  SELECT e.dst AS t, sum((e.w * s.sc) // d.wd) AS contrib
         |  FROM tre e JOIN ts$p s ON s.t = e.src JOIN trd d ON d.src = e.src
         |  GROUP BY 1
         |), ts$r AS (
         |  SELECT v.t,
         |    CAST(150000 + (850000 * coalesce(c.contrib, 0)) // 1000000
         |      AS BIGINT) AS sc
         |  FROM trv v LEFT JOIN tc$r c ON c.t = v.t
         |)""".stripMargin
    }.mkString(",\n")
    s"""WITH trt AS (
       |  SELECT doc_id, s['p'] AS p, s['t'] AS t FROM (
       |    SELECT $idCol AS doc_id, unnest(list_transform(
       |      generate_series(1, len(tk)), j -> {'p': j - 1, 't': tk[j]})) AS s
       |    FROM (SELECT $idCol, ${tokensSql(textCol)} AS tk FROM $table))
       |), trv AS (
       |  SELECT t FROM (SELECT t, count(*) AS c FROM trt GROUP BY 1)
       |  ORDER BY c DESC, t LIMIT $vocabN
       |), tra AS (
       |  SELECT t, t2 FROM (
       |    SELECT t, lead(t) OVER (PARTITION BY doc_id ORDER BY p) AS t2
       |    FROM trt)
       |  WHERE t2 IS NOT NULL AND t <> t2
       |    AND t IN (SELECT t FROM trv) AND t2 IN (SELECT t FROM trv)
       |), tru AS (
       |  SELECT least(t, t2) AS u, greatest(t, t2) AS v,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM tra GROUP BY 1, 2
       |), tre AS (
       |  SELECT u AS src, v AS dst, w FROM tru
       |  UNION ALL SELECT v, u, w FROM tru
       |), trd AS (
       |  SELECT src, CAST(sum(w) AS BIGINT) AS wd FROM tre GROUP BY 1
       |), ts0 AS (
       |  SELECT t, CAST(1000000 AS BIGINT) AS sc FROM trv
       |),
       |$roundCtes
       |SELECT t AS token, sc AS score_micro FROM ts$rounds
       |ORDER BY score_micro DESC, token LIMIT $k""".stripMargin
  }
}
