package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Text-analysis primitives for the training-data pipeline surface:
  * tokenization, token counting, quality scoring, document fingerprinting
  * and a stopword-profile language-ID heuristic.
  *
  * Every function here is pure `org.apache.spark.sql.functions` composition
  * — codegen'd, no UDFs — and each has a DuckDB-SQL twin generated from the
  * same constants (the `*Sql` members) so the driver oracle computes the
  * identical definition. */
object TextFunctions {

  /** Whitespace tokenization after trim (both engines split identically on
    * `\s+` once the string is trimmed). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")
  def tokensSql(c: String): String = s"regexp_split_to_array(trim($c), '\\s+')"

  /** Token count (whitespace tokens; a BPE-ish regex token count is
    * provided separately). */
  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, 0).otherwise(size(tokens(c)))
  def tokenCountSql(c: String): String =
    s"CAST(CASE WHEN length(trim($c)) = 0 THEN 0 ELSE len(${tokensSql(c)}) END AS INT)"

  /** Normalized fingerprint: md5 of lowercased, whitespace-collapsed text
    * (rolling-hash-style document identity). */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(trim(lower(c)), "\\s+", " "))
  def fingerprintSql(c: String): String =
    s"md5(regexp_replace(trim(lower($c)), '\\s+', ' ', 'g'))"

  /** First 15 hex chars of md5 as a positive 60-bit long — the shared
    * deterministic 64-bit-ish hash both engines can compute exactly. */
  def hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")
  def hash60Sql(c: String): String =
    s"CAST('0x' || substring(md5($c), 1, 15) AS BIGINT)"

  /** 32-bit variant used where products must stay in i64 range. */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")
  def hash32Sql(c: String): String =
    s"CAST('0x' || substring(md5($c), 1, 8) AS BIGINT)"

  // ------------------------------------------------------------- quality
  /** Stopword list for quality scoring (tiny, deterministic). */
  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "in", "on", "to", "is")

  def stopwordCount(toks: Column): Column = {
    val sw = array(Stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(sw, t)))
  }
  def stopwordCountSql(toksExpr: String): String = {
    val list = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter($toksExpr, t -> list_contains($list, t)))"
  }

  /** Word 3-grams as "w1 w2 w3" strings ([] when fewer than 3 tokens) —
    * fused native loop ([[WordNgrams]]); the token split is evaluated
    * once per row, not once per element_at as the composed
    * transform/sequence form did (which also needed an explicit empty
    * branch because Spark's `sequence(1, n)` runs backward for n < 1). */
  def trigrams(c: Column): Column =
    NgramExpressions.ngramsNative(tokens(c), 3)
  def trigramsSql(c: String): String = {
    val tk = tokensSql(c)
    s"list_transform(generate_series(1, len($tk) - 2), " +
      s"i -> $tk[i] || ' ' || $tk[i+1] || ' ' || $tk[i+2])"
  }

  /** Punctuation character count. */
  def punctCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[.,!?;:'\"()\\-]", ""))
  def punctCountSql(c: String): String =
    s"""length($c) - length(regexp_replace($c, '[.,!?;:''"()\\-]', '', 'g'))"""

  /** Word 2-grams ([] when fewer than 2 tokens) — fused native loop
    * ([[WordBigrams]]); the token split is evaluated once per row, not once
    * per bigram as the composed transform/slice form would. */
  def bigrams(c: Column): Column =
    NgramExpressions.bigramsNative(tokens(c))
  def bigramsSql(c: String): String = {
    val w = tokensSql(c)
    s"""list_transform(generate_series(1, greatest(len($w) - 1, 0)),
       |  i -> ($w)[i] || ' ' || ($w)[i+1])""".stripMargin
  }

  /** Repetition signal (Gopher-style quality filter): fraction of word
    * 2-grams that are repeats of an earlier 2-gram in the same document.
    * High ratio = boilerplate/spam/looping text. Returned as exact integer
    * counts plus the rounded ratio so thresholds replay across engines. */
  def repetitionCounts(c: Column): (Column, Column) = {
    // total bigram count derives from the token count alone — building the
    // bigram array (an interpreted higher-order transform) only to size it
    // would evaluate the lambda a second time per row
    val n = greatest(size(tokens(c)) - 1, lit(0))
    (n, size(array_distinct(bigrams(c))))
  }

  /** Scale form of [[repetitionCounts]]: (doc_id, n_bigrams, n_distinct)
    * for every document. The column form's `transform`/`array_distinct`
    * run interpreted lambdas per element; this one is explode + window
    * lead + count(distinct) — fully codegen'd relational plan, ~8x faster
    * on a large corpus, identical counts (spec-pinned). Docs with < 2
    * tokens keep (0, 0) via the left join. */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      greatest(size(tokens(col(textCol))) - 1, lit(0)).as("n_bigrams"))
    val tok = docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("i", "t")))
    val w = Window.partitionBy("doc_id").orderBy("i")
    val nd = tok.withColumn("nxt", lead("t", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("doc_id"), concat_ws(" ", col("t"), col("nxt")).as("bg"))
      .groupBy("doc_id")
      .agg(count_distinct(col("bg")).cast("int").as("n_distinct"))
    base.join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_bigrams"),
        coalesce(col("n_distinct"), lit(0)).as("n_distinct"))
  }

  /** Gopher-style repetition panel (Rae et al. 2021, Table A1) — the
    * character-OCCUPANCY repetition rules [[repetitionStats]]'s bigram
    * distinctness cannot see: per doc the duplicate-LINE fraction and the
    * fraction of characters in duplicate lines, in the single most
    * frequent word 2-gram (tie → lexicographically first), and in all
    * word 3-grams occurring ≥ 2 times (the standard non-overlap-adjusted
    * form: Σ count·len over duplicated grams — documented proxy for the
    * paper's overlap-deduped character count). All four signals are
    * integer micro-fractions via `(1e6·a) div b` (pure integer, exact in
    * both engines), and `keep` applies the paper's thresholds (0.30 /
    * 0.20 / 0.20 / 0.18) as integer comparisons.
    *
    * Scale shape: three explode → (doc, gram)-keyed counts → doc-keyed
    * reductions, every aggregation map-side combinable; no joins beyond
    * the doc_id-keyed reassembly of the four panel columns. The top-2gram
    * argmax is a struct-min aggregate, not a ranking window. */
  def gopherRepetitionStats(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("doc_id"),
      greatest(length(col(textCol)), lit(1)).cast("long").as("n_chars"),
      size(split(col(textCol), "\n")).cast("long").as("n_lines"))
    val lineAgg = docs.select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "\n")).as("line"))
      .groupBy("doc_id", "line").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum(col("cnt") - 1).as("dup_lines"),
        sum((col("cnt") - 1) * length(col("line"))).as("dup_line_chars"))
    val bgTop = docs.select(col(idCol).as("doc_id"),
        explode(bigrams(col(textCol))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        min(struct((-col("cnt")).as("nc"), col("g"))).as("m"))
      .select(col("doc_id"),
        (-col("m.nc") * length(col("m.g"))).as("top2_chars"))
    val tgDup = docs.select(col(idCol).as("doc_id"),
        explode(trigrams(col(textCol))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2)
      .groupBy("doc_id").agg(
        sum(col("cnt") * length(col("g"))).as("dup3_chars"))
    base.join(lineAgg, Seq("doc_id"), "left")
      .join(bgTop, Seq("doc_id"), "left")
      .join(tgDup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"),
        expr("(1000000 * coalesce(dup_lines, 0)) div n_lines")
          .as("dup_line_micro"),
        expr("(1000000 * coalesce(dup_line_chars, 0)) div n_chars")
          .as("dup_line_char_micro"),
        expr("(1000000 * coalesce(top2_chars, 0)) div n_chars")
          .as("top2_char_micro"),
        expr("(1000000 * coalesce(dup3_chars, 0)) div n_chars")
          .as("dup3_char_micro"))
      .withColumn("keep",
        col("dup_line_micro") <= 300000L &&
          col("dup_line_char_micro") <= 200000L &&
          col("top2_char_micro") <= 200000L &&
          col("dup3_char_micro") <= 180000L)
  }

  /** PER-ROW form of [[gopherRepetitionStats]]: the identical four
    * occupancy signals and verdict computed as array folds over the
    * row's own line/gram arrays — no explode, no groupBy — so a STREAM
    * can run the Gopher gate as a stateless projection ahead of its one
    * stateful operator (the [[graft.operators.Dedup.withSimhash]]
    * batch-vs-stream duality). Per-doc cost is O(G log G): duplicate
    * char mass uses the identity Σ_distinct (cnt−1)·len =
    * Σ_all len − Σ_distinct len, and the per-gram counts come from ONE
    * run-length scan of the SORTED gram array (a count-via-filter per
    * distinct gram is O(G²) interpreted work — it cost a 7× bench
    * regression before this form). All accumulator math is i64. Each
    * derived array materializes as its own column and lambdas reference
    * the ATTRIBUTES (never a computed array inside a lambda). Batch
    * callers should prefer the codegen'd agg form; row-for-row equality
    * is spec-pinned. Adds the panel columns to `df`. */
  def gopherPanelRow(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    def charSum(arr: String): String =
      s"aggregate($arr, 0L, (a, l) -> a + CAST(length(l) AS BIGINT))"
    // Σ cnt·len over grams with cnt ≥ 2, via a run scan of the sorted
    // array: close each run into the accumulator, finish the last one
    def dupMass(sorted: String): String =
      s"""aggregate($sorted,
         |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'acc', 0L),
         |  (s, g) -> IF(s.prev IS NOT NULL AND g = s.prev,
         |    named_struct('prev', g, 'run', s.run + 1L, 'acc', s.acc),
         |    named_struct('prev', g, 'run', 1L,
         |      'acc', s.acc + IF(s.run >= 2L,
         |        s.run * CAST(length(s.prev) AS BIGINT), 0L))),
         |  s -> s.acc + IF(s.run >= 2L,
         |    s.run * CAST(length(s.prev) AS BIGINT), 0L))""".stripMargin
    // argmax (cnt desc, gram asc) · len, from the same run scan —
    // strictly-greater replacement on ascending grams == the batch
    // min(struct(-cnt, g)) tie-break; NULL on an empty gram array
    def topMass(sorted: String): String =
      s"""aggregate($sorted,
         |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
         |    'bc', 0L, 'bg', CAST(NULL AS STRING)),
         |  (s, g) -> IF(s.prev IS NOT NULL AND g = s.prev,
         |    named_struct('prev', g, 'run', s.run + 1L,
         |      'bc', s.bc, 'bg', s.bg),
         |    named_struct('prev', g, 'run', 1L,
         |      'bc', IF(s.run > s.bc, s.run, s.bc),
         |      'bg', IF(s.run > s.bc, s.prev, s.bg))),
         |  s -> IF(s.run > s.bc, s.run * CAST(length(s.prev) AS BIGINT),
         |    IF(s.bc > 0L, s.bc * CAST(length(s.bg) AS BIGINT),
         |      CAST(NULL AS BIGINT))))""".stripMargin
    df
      .withColumn("__nchars", greatest(length(t), lit(1)).cast("long"))
      .withColumn("__lines", split(t, "\n"))
      .withColumn("__dlines", array_distinct(col("__lines")))
      .withColumn("__sbg", array_sort(bigrams(t)))
      .withColumn("__stg", array_sort(trigrams(t)))
      .withColumn("n_lines", size(col("__lines")).cast("long"))
      .withColumn("__dup_lines",
        (size(col("__lines")) - size(col("__dlines"))).cast("long"))
      .withColumn("__dlc",
        expr(s"${charSum("__lines")} - ${charSum("__dlines")}"))
      .withColumn("__top2", expr(topMass("__sbg")))
      .withColumn("__d3", expr(dupMass("__stg")))
      .withColumn("dup_line_micro",
        expr("(1000000 * coalesce(__dup_lines, 0)) div n_lines"))
      .withColumn("dup_line_char_micro",
        expr("(1000000 * coalesce(__dlc, 0)) div __nchars"))
      .withColumn("top2_char_micro",
        expr("(1000000 * coalesce(__top2, 0)) div __nchars"))
      .withColumn("dup3_char_micro",
        expr("(1000000 * coalesce(__d3, 0)) div __nchars"))
      .withColumn("keep",
        col("dup_line_micro") <= 300000L &&
          col("dup_line_char_micro") <= 200000L &&
          col("top2_char_micro") <= 200000L &&
          col("dup3_char_micro") <= 180000L)
      .drop("__nchars", "__lines", "__dlines", "__sbg", "__stg",
        "__dup_lines", "__dlc", "__top2", "__d3")
  }

  /** DuckDB twin of [[gopherRepetitionStats]] over `textExpr`; the
    * argmax replays as a (cnt DESC, g) ranking window — same total
    * order, different plan. */
  def gopherRepetitionStatsSql(table: String, idCol: String,
                               textExpr: String): String =
    s"""WITH d AS (
       |  SELECT $idCol AS doc_id, $textExpr AS text FROM $table
       |), base AS (
       |  SELECT doc_id,
       |    CAST(greatest(length(text), 1) AS BIGINT) AS n_chars,
       |    CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
       |  FROM d
       |), ln AS (
       |  SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d
       |), lc AS (
       |  SELECT doc_id, line, count(*) AS cnt FROM ln GROUP BY 1, 2
       |), la AS (
       |  SELECT doc_id, CAST(sum(cnt - 1) AS BIGINT) AS dup_lines,
       |    CAST(sum((cnt - 1) * length(line)) AS BIGINT) AS dup_line_chars
       |  FROM lc GROUP BY 1
       |), bgc AS (
       |  SELECT doc_id, g, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(${bigramsSql("text")}) AS g FROM d)
       |  GROUP BY 1, 2
       |), bgt AS (
       |  SELECT doc_id, CAST(cnt * length(g) AS BIGINT) AS top2_chars
       |  FROM (SELECT doc_id, g, cnt, row_number()
       |          OVER (PARTITION BY doc_id ORDER BY cnt DESC, g) AS rn
       |        FROM bgc) WHERE rn = 1
       |), tgc AS (
       |  SELECT doc_id, g, count(*) AS cnt FROM (
       |    SELECT doc_id, unnest(${trigramsSql("text")}) AS g FROM d)
       |  GROUP BY 1, 2
       |), tga AS (
       |  SELECT doc_id, CAST(sum(cnt * length(g)) AS BIGINT) AS dup3_chars
       |  FROM tgc WHERE cnt >= 2 GROUP BY 1
       |), panel AS (
       |  SELECT b.doc_id, b.n_lines,
       |    (1000000 * coalesce(la.dup_lines, 0)) // b.n_lines
       |      AS dup_line_micro,
       |    (1000000 * coalesce(la.dup_line_chars, 0)) // b.n_chars
       |      AS dup_line_char_micro,
       |    (1000000 * coalesce(bgt.top2_chars, 0)) // b.n_chars
       |      AS top2_char_micro,
       |    (1000000 * coalesce(tga.dup3_chars, 0)) // b.n_chars
       |      AS dup3_char_micro
       |  FROM base b
       |  LEFT JOIN la ON b.doc_id = la.doc_id
       |  LEFT JOIN bgt ON b.doc_id = bgt.doc_id
       |  LEFT JOIN tga ON b.doc_id = tga.doc_id
       |)
       |SELECT doc_id, n_lines, dup_line_micro, dup_line_char_micro,
       |  top2_char_micro, dup3_char_micro,
       |  (dup_line_micro <= 300000 AND dup_line_char_micro <= 200000
       |   AND top2_char_micro <= 200000 AND dup3_char_micro <= 180000)
       |    AS keep
       |FROM panel ORDER BY doc_id""".stripMargin

  /** Flesch readability profile — the classic surface-level difficulty
    * signal a quality-filtering pipeline runs next to the Gopher-style
    * counts: per doc the word count (whitespace tokens), sentence count
    * (runs of [.!?]) and the vowel-group syllable proxy (runs of
    * [aeiouy] in the lowercased text — the standard dictionary-free
    * approximation), then Flesch reading-ease and Flesch-Kincaid grade
    * in floor-micro units. The counts are exact integers with identical
    * regex-split semantics in both engines; each score is the fixed tree
    * `c0 ± c1·(w/s) ± c2·(syl/w)` — two IEEE divisions and a
    * left-associated combination of double literals, correctly rounded
    * identically in both engines on identical integer inputs
    * ([[readabilityStatsSql]]). Zero-count guards: s and w floor at 1
    * inside the ratios (identically in the twin), so punct-free or empty
    * docs score rather than NULL out.
    *
    * Scale shape: map-only — three regex splits per row, no shuffle, no
    * joins; the whole profile rides the corpus scan. */
  def readabilityStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val c = col(textCol)
    val base = docs.select(col(idCol).as("doc_id"),
      tokenCount(c).cast("long").as("n_words"),
      (size(split(c, "[.!?]+")) - 1).cast("long").as("n_sentences"),
      (size(split(lower(c), "[aeiouy]+")) - 1).cast("long").as("n_syllables"))
    val ws = base("n_words").cast("double") /
      greatest(base("n_sentences"), lit(1L)).cast("double")
    val sw = base("n_syllables").cast("double") /
      greatest(base("n_words"), lit(1L)).cast("double")
    base.select(col("doc_id"), col("n_words"), col("n_sentences"),
      col("n_syllables"),
      floor(lit(1e6) * (lit(206.835) - lit(1.015) * ws - lit(84.6) * sw))
        .as("ease_micro"),
      floor(lit(1e6) * (lit(0.39) * ws + lit(11.8) * sw - lit(15.59)))
        .as("fk_grade_micro"))
  }

  /** DuckDB twin of [[readabilityStats]]. */
  def readabilityStatsSql(table: String, idCol: String, textCol: String): String = {
    // parenthesized: the caller multiplies these by a constant, and
    // `c * nw / s` associates as `(c*nw)/s` — a DIFFERENT double than
    // Spark's `c * (nw/s)` on non-dyadic ratios
    val ws = "(CAST(nw AS DOUBLE) / CAST(greatest(ns, 1) AS DOUBLE))"
    val sw = "(CAST(sy AS DOUBLE) / CAST(greatest(nw, 1) AS DOUBLE))"
    s"""WITH rb AS (
       |  SELECT $idCol AS doc_id,
       |    CAST(${tokenCountSql(textCol)} AS BIGINT) AS nw,
       |    CAST(len(regexp_split_to_array($textCol, '[.!?]+')) - 1 AS BIGINT) AS ns,
       |    CAST(len(regexp_split_to_array(lower($textCol), '[aeiouy]+')) - 1
       |      AS BIGINT) AS sy
       |  FROM $table
       |)
       |SELECT doc_id, nw AS n_words, ns AS n_sentences, sy AS n_syllables,
       |  CAST(floor(1000000.0 * (CAST(206.835 AS DOUBLE)
       |    - CAST(1.015 AS DOUBLE) * $ws
       |    - CAST(84.6 AS DOUBLE) * $sw)) AS BIGINT) AS ease_micro,
       |  CAST(floor(1000000.0 * (CAST(0.39 AS DOUBLE) * $ws
       |    + CAST(11.8 AS DOUBLE) * $sw
       |    - CAST(15.59 AS DOUBLE))) AS BIGINT) AS fk_grade_micro
       |FROM rb ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- surprisal
  /** Corpus-relative unigram surprisal (the CCNet-style "how unusual is
    * this document against its own corpus" quality signal, with the
    * corpus itself as the language model): per doc,
    * `Σ_t tf(t) · (ln N − ln cnt(t))` — high = rare-token-heavy.
    *
    * Exact-replay form: each ln is rounded to integer MICRO-NATS first
    * (`round(ln(x)·1e6)` — deterministic across engines on identical
    * integer inputs), then summed as plain i64 — an order-free integer
    * sum, so partial-aggregation order can never perturb the result the
    * way a float Σln would. Output: (doc_id, n_tokens, surprisal_micro,
    * mean_micro = surprisal_micro div n_tokens).
    *
    * Scale shape: two map-side-combinable aggregations (tf per (doc,
    * token), corpus counts per token) + one join keyed on token; the
    * token-count side is vocabulary-sized. i64 headroom: terms are
    * ≤ tf · ln(N)·1e6 < 2^63 for any corpus below ~10^13 tokens/doc. */
  def surprisalStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("token"))
    val tf = graft.CacheScope.cached(
      tok.groupBy("doc_id", "token").agg(count(lit(1)).as("tf")))
    val cnt = tf.groupBy("token").agg(sum("tf").as("cnt"))
    val totals = cnt.agg(sum("cnt").as("n_total"))
    def lmicro(c: Column): Column = round(log(c) * 1e6, 0).cast("long")
    tf.join(cnt, "token")
      .crossJoin(broadcast(totals))
      .withColumn("term",
        col("tf") * (lmicro(col("n_total")) - lmicro(col("cnt"))))
      .groupBy("doc_id")
      .agg(sum("tf").as("n_tokens"), sum("term").as("surprisal_micro"))
      .select(col("doc_id"), col("n_tokens"), col("surprisal_micro"),
        expr("surprisal_micro div n_tokens").as("mean_micro"))
  }

  def surprisalStatsSql(table: String, idCol: String, textCol: String): String =
    s"""WITH tok AS (
       |  SELECT $idCol AS doc_id, unnest(${tokensSql(textCol)}) AS token FROM $table
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
       |), cnt AS (
       |  SELECT token, sum(tf) AS cnt FROM tf GROUP BY 1
       |), tot AS (
       |  SELECT sum(cnt) AS n_total FROM cnt
       |), agg AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |    CAST(sum(tf * (CAST(round(ln(n_total) * 1000000.0) AS BIGINT)
       |                 - CAST(round(ln(cnt) * 1000000.0) AS BIGINT))) AS BIGINT)
       |      AS surprisal_micro
       |  FROM tf JOIN cnt USING (token) CROSS JOIN tot
       |  GROUP BY doc_id
       |)
       |SELECT doc_id, n_tokens, surprisal_micro,
       |  CAST(surprisal_micro // n_tokens AS BIGINT) AS mean_micro
       |FROM agg ORDER BY doc_id""".stripMargin

  /** Within-document token entropy — the repetitiveness/diversity quality
    * signal that needs NO corpus statistics (unlike [[surprisalStats]],
    * which scores docs against the corpus LM): per doc,
    * `n·H = Σ_t tf·(ln n − ln tf)` in micro-nats, plus the distinct-type
    * count (type-token ratio numerator). Low entropy = repetitive/
    * boilerplate; high = diverse. Same exact-replay form — every ln is
    * rounded to integer micro-nats BEFORE the order-free i64 sum
    * ([[tokenEntropySql]]).
    *
    * Scale shape: one (doc, token) map-side-combinable aggregation; no
    * join against anything corpus-sized (the per-doc total rides the same
    * groupBy). */
  def tokenEntropyStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    def lmicro(c: Column): Column = round(log(c) * 1e6, 0).cast("long")
    val per = tf.groupBy("doc_id")
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("tf") * lmicro(col("tf"))).as("tl"))
    per.select(col("doc_id"), col("n_tokens"), col("n_types"),
      (col("n_tokens") * lmicro(col("n_tokens")) - col("tl")).as("ent_micro"))
  }

  def tokenEntropySql(table: String, idCol: String, textCol: String): String =
    s"""WITH tok AS (
       |  SELECT $idCol AS doc_id, unnest(${tokensSql(textCol)}) AS token FROM $table
       |), tf AS (
       |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
       |)
       |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |  CAST(count(*) AS BIGINT) AS n_types,
       |  CAST(sum(tf) * CAST(round(ln(sum(tf)) * 1000000.0) AS BIGINT)
       |    - sum(tf * CAST(round(ln(tf) * 1000000.0) AS BIGINT)) AS BIGINT)
       |    AS ent_micro
       |FROM tf GROUP BY doc_id""".stripMargin

  /** Bigram conditional surprisal — the next-word form of
    * [[surprisalStats]]: per doc, `Σ tf(p,c) · (ln cnt(p·) − ln cnt(p,c))`
    * ≈ −Σ ln P(cur|prev) under the corpus bigram LM (cnt(p·) = bigram
    * instances with context p, so probabilities normalize per context).
    * Same exact-replay construction: each ln rounded to integer micro-nats
    * first, then an order-free i64 sum. Docs with < 2 tokens get (0, 0, 0)
    * via the left join. Scale shape mirrors the unigram form: two
    * map-side-combinable counts + one vocabulary-keyed join. */
  def bigramSurprisalStats(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // bigrams form row-side in one codegen'd pass (no posexplode + per-doc
    // window sort — adjacency is already explicit in the token array)
    val bg = docs.select(col(idCol).as("doc_id"),
      explode(bigrams(col(textCol))).as("bg"))
    // no explicit persist: tf and cntBi each appear twice as IDENTICAL
    // subplans, so their shuffle output is shared via ReusedExchange —
    // measured faster than MEMORY_AND_DISK persists at every scale tried
    // (a persist adds serialization + a materialization barrier; reuse is
    // free) and nothing extra to evict on a 1000-executor cluster
    val tf = bg.groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
    val cntBi = tf.groupBy("bg").agg(sum("tf").as("cnt_bi"))
    val cntCtx = cntBi
      .groupBy(substring_index(col("bg"), " ", 1).as("prev"))
      .agg(sum("cnt_bi").as("cnt_ctx"))
    def lmicro(c: Column): Column = round(log(c) * 1e6, 0).cast("long")
    // score per bigram TYPE first (vocabulary-sized joins), then hit the
    // occurrence-level tf frame exactly once — the old shape shuffled the
    // token-level frame twice (on bg, then again on prev)
    val perBg = cntBi
      .withColumn("prev", substring_index(col("bg"), " ", 1))
      .join(cntCtx, "prev")
      .select(col("bg"), (lmicro(col("cnt_ctx")) - lmicro(col("cnt_bi"))).as("s"))
    val scored = tf.join(perBg, "bg")
      .groupBy("doc_id")
      .agg(sum("tf").as("n_bigrams"), sum(col("tf") * col("s")).as("surprisal_micro"))
    docs.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprisal_micro"), lit(0L)).as("surprisal_micro"),
        coalesce(expr("surprisal_micro div n_bigrams"), lit(0L)).as("mean_micro"))
  }

  def bigramSurprisalStatsSql(table: String, idCol: String, textCol: String): String =
    s"""WITH bgr AS (
       |  SELECT $idCol AS doc_id, unnest(${bigramsSql(textCol)}) AS bg FROM $table
       |), tf AS (
       |  SELECT doc_id, bg, count(*) AS tf FROM bgr GROUP BY 1, 2
       |), cntbi AS (
       |  SELECT bg, sum(tf) AS cnt_bi FROM tf GROUP BY 1
       |), cntctx AS (
       |  SELECT split_part(bg, ' ', 1) AS prev, sum(cnt_bi) AS cnt_ctx
       |  FROM cntbi GROUP BY 1
       |), agg AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
       |    CAST(sum(tf * (CAST(round(ln(cnt_ctx) * 1000000.0) AS BIGINT)
       |                 - CAST(round(ln(cnt_bi) * 1000000.0) AS BIGINT))) AS BIGINT)
       |      AS surprisal_micro
       |  FROM tf
       |  JOIN cntbi USING (bg)
       |  JOIN cntctx ON split_part(bg, ' ', 1) = cntctx.prev
       |  GROUP BY doc_id
       |)
       |SELECT d.$idCol AS doc_id,
       |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       |  CAST(coalesce(a.surprisal_micro, 0) AS BIGINT) AS surprisal_micro,
       |  CAST(coalesce(a.surprisal_micro // a.n_bigrams, 0) AS BIGINT) AS mean_micro
       |FROM $table d LEFT JOIN agg a ON d.$idCol = a.doc_id
       |ORDER BY doc_id""".stripMargin

  /** round(ln(0.4)·1e6) as a HARDCODED literal: the stupid-backoff
    * penalty must not be computed by each engine's libm at runtime — ln
    * is the one op family where they can differ by 1 ulp, and a constant
    * sitting on the ½ rounding boundary would flip the integer. */
  val StupidBackoffMicro = -916291L

  /** Held-out trigram LM scoring with STUPID BACKOFF (Brants et al. 2007
    * — the count-based LM that scales to web corpora because it needs no
    * discounting statistics): train counts on `train`, score every doc in
    * `test` as `Σ_tg tf·s(tg)` where s backs off trigram → bigram →
    * unigram → OOV, each level `ln(count/context-count)` plus one backoff
    * penalty per level skipped. Every ln rounds to integer micro-nats
    * before the order-free i64 sum ([[backoffScoresSql]]); chain
    * invariants make the CASE well-defined (an observed trigram implies
    * its context was observed, an observed bigram implies its first word
    * starts a bigram).
    *
    * Scale shape: five map-side-combinable count aggregations over the
    * train corpus (trigram/context/bigram/context/unigram — each
    * vocabulary-sized output), then trigram-TYPE-keyed left joins and one
    * (doc, trigram) tf aggregation on the test side; no data-row joins
    * anywhere. */
  def backoffScores(train: DataFrame, test: DataFrame,
                    idCol: String, textCol: String): DataFrame = {
    def lmicro(c: Column): Column = round(log(c) * 1e6, 0).cast("long")
    val c3 = train.select(explode(trigrams(col(textCol))).as("tg"))
      .groupBy("tg").agg(count(lit(1)).as("c3"))
    val ctx2 = c3.groupBy(substring_index(col("tg"), " ", 2).as("w12"))
      .agg(sum(col("c3")).as("c2ctx"))
    val c2 = train.select(explode(bigrams(col(textCol))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("c2"))
    val ctx1 = c2.groupBy(substring_index(col("bg"), " ", 1).as("w2"))
      .agg(sum(col("c2")).as("c1ctx"))
    val c1 = train.select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c1"))
    val tot = c1.agg(sum(col("c1")).as("tot"))
    val tf = test.select(col(idCol).as("doc_id"),
        explode(trigrams(col(textCol))).as("tg"))
      .groupBy("doc_id", "tg").agg(count(lit(1)).as("tf"))
    val types = tf.select(col("tg")).distinct()
      .withColumn("w12", substring_index(col("tg"), " ", 2))
      .withColumn("w23", substring_index(col("tg"), " ", -2))
      .withColumn("w2", substring_index(col("w23"), " ", 1))
      .withColumn("w3", substring_index(col("tg"), " ", -1))
      .join(c3, Seq("tg"), "left")
      .join(ctx2, Seq("w12"), "left")
      .join(c2.withColumnRenamed("bg", "w23"), Seq("w23"), "left")
      .join(ctx1, Seq("w2"), "left")
      .join(c1.withColumnRenamed("t", "w3"), Seq("w3"), "left")
      .crossJoin(broadcast(tot))
    val b = lit(StupidBackoffMicro)
    val s = when(col("c3").isNotNull, lmicro(col("c3")) - lmicro(col("c2ctx")))
      .when(col("c2").isNotNull, b + lmicro(col("c2")) - lmicro(col("c1ctx")))
      .when(col("c1").isNotNull, b + b + lmicro(col("c1")) - lmicro(col("tot")))
      .otherwise(b + b - lmicro(col("tot"))) // OOV: pseudo-count 1, ln 1 = 0
    val scored = tf.join(types.select(col("tg"), s.as("s")), "tg")
      .groupBy("doc_id")
      .agg(sum(col("tf")).as("n_trigrams"),
        sum(col("tf") * col("s")).as("backoff_micro"))
    test.select(col(idCol).as("doc_id")).join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("backoff_micro"), lit(0L)).as("backoff_micro"))
  }

  /** DuckDB twin of [[backoffScores]]: `trainPred`/`testPred` are row
    * predicates over `table` (may reference the `cut` CTE's column `c`,
    * which callers prepend). */
  def backoffScoresSql(table: String, idCol: String, textCol: String,
                       trainPred: String, testPred: String,
                       testExtraSql: String = ""): String = {
    val b = StupidBackoffMicro
    def lm(x: String) = s"CAST(round(ln($x) * 1000000.0) AS BIGINT)"
    s"""tr AS (
       |  SELECT $idCol AS doc_id, $textCol AS text FROM $table, cut WHERE $trainPred
       |), te AS (
       |  SELECT $idCol AS doc_id, $textCol AS text FROM $table, cut WHERE $testPred
       |  $testExtraSql
       |), c3 AS (
       |  SELECT tg, count(*) AS c3 FROM (
       |    SELECT unnest(${trigramsSql("text")}) AS tg FROM tr) GROUP BY 1
       |), ctx2 AS (
       |  SELECT split_part(tg, ' ', 1) || ' ' || split_part(tg, ' ', 2) AS w12,
       |    sum(c3) AS c2ctx
       |  FROM c3 GROUP BY 1
       |), c2 AS (
       |  SELECT bg, count(*) AS c2 FROM (
       |    SELECT unnest(${bigramsSql("text")}) AS bg FROM tr) GROUP BY 1
       |), ctx1 AS (
       |  SELECT split_part(bg, ' ', 1) AS w2, sum(c2) AS c1ctx FROM c2 GROUP BY 1
       |), c1 AS (
       |  SELECT t, count(*) AS c1 FROM (
       |    SELECT unnest(${tokensSql("text")}) AS t FROM tr) GROUP BY 1
       |), tot AS (SELECT sum(c1) AS tot FROM c1),
       |tf AS (
       |  SELECT doc_id, tg, count(*) AS tf FROM (
       |    SELECT doc_id, unnest(${trigramsSql("text")}) AS tg FROM te)
       |  GROUP BY 1, 2
       |), sc AS (
       |  SELECT ty.tg,
       |    CASE WHEN c3.c3 IS NOT NULL THEN ${lm("c3.c3")} - ${lm("ctx2.c2ctx")}
       |         WHEN c2.c2 IS NOT NULL THEN $b + ${lm("c2.c2")} - ${lm("ctx1.c1ctx")}
       |         WHEN c1.c1 IS NOT NULL THEN ${2 * b} + ${lm("c1.c1")} - ${lm("tot.tot")}
       |         ELSE ${2 * b} - ${lm("tot.tot")} END AS s
       |  FROM (SELECT DISTINCT tg FROM tf) ty
       |  LEFT JOIN c3 ON c3.tg = ty.tg
       |  LEFT JOIN ctx2 ON ctx2.w12 =
       |    split_part(ty.tg, ' ', 1) || ' ' || split_part(ty.tg, ' ', 2)
       |  LEFT JOIN c2 ON c2.bg =
       |    split_part(ty.tg, ' ', 2) || ' ' || split_part(ty.tg, ' ', 3)
       |  LEFT JOIN ctx1 ON ctx1.w2 = split_part(ty.tg, ' ', 2)
       |  LEFT JOIN c1 ON c1.t = split_part(ty.tg, ' ', 3)
       |  CROSS JOIN tot
       |), agg AS (
       |  SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS n_trigrams,
       |    CAST(sum(tf.tf * sc.s) AS BIGINT) AS backoff_micro
       |  FROM tf JOIN sc ON sc.tg = tf.tg GROUP BY 1
       |)
       |SELECT te.doc_id,
       |  CAST(coalesce(agg.n_trigrams, 0) AS BIGINT) AS n_trigrams,
       |  CAST(coalesce(agg.backoff_micro, 0) AS BIGINT) AS backoff_micro
       |FROM te LEFT JOIN agg ON agg.doc_id = te.doc_id
       |ORDER BY te.doc_id""".stripMargin
  }

  // ----------------------------------------------------------- pii scrub
  /** Redaction patterns shared by both engines. Kept to the regex subset
    * where Java regex and DuckDB's RE2 agree exactly (character classes,
    * bounded repetition — no backrefs, no lookaround). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "\\+?[0-9][0-9\\- ]{6,}[0-9]"

  /** Count of email/phone matches (for redaction accounting). */
  def emailCount(c: Column): Column = regexp_count(c, lit(EmailPattern))
  def phoneCount(c: Column): Column = regexp_count(c, lit(PhonePattern))
  def emailCountSql(c: String): String =
    s"CAST(len(regexp_extract_all($c, '$EmailPattern')) AS INT)"
  def phoneCountSql(c: String): String =
    s"CAST(len(regexp_extract_all($c, '$PhonePattern')) AS INT)"

  /** PII scrub: emails then phone numbers replaced with typed redaction
    * tags. Email first — the local part contains digits, so scrubbing
    * phones first could chew into an address. Pure codegen'd
    * regexp_replace, no UDF. */
  def scrubPii(c: Column): Column =
    regexp_replace(
      regexp_replace(c, EmailPattern, "<EMAIL>"),
      PhonePattern, "<PHONE>")
  def scrubPiiSql(c: String): String =
    s"regexp_replace(regexp_replace($c, '$EmailPattern', '<EMAIL>', 'g'), " +
      s"'$PhonePattern', '<PHONE>', 'g')"

  // -------------------------------------------------------------- langid
  /** Stopword profiles per language — a classic n-gram/function-word
    * language-ID heuristic. Scores = profile-hit counts over tokens;
    * prediction = argmax with fixed precedence order for ties. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "an", "and", "of", "to", "is", "in", "that", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "von"),
    "es" -> Seq("el", "la", "los", "las", "es", "y", "de", "que", "un", "una"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不", "这", "人"))

  def langScore(toks: Column, profile: Seq[String]): Column = {
    val sw = array(profile.map(lit): _*)
    size(filter(toks, t => array_contains(sw, t)))
  }

  /** Predicted language: argmax score, ties broken by profile order,
    * "und" (undetermined) when every score is zero. */
  def langId(text: Column): Column = {
    val toks = tokens(text)
    val scores = LangProfiles.map { case (lang, prof) => lang -> langScore(toks, prof) }
    val maxScore = greatest(scores.map(_._2): _*)
    val pick = scores.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(sc === maxScore && maxScore > 0, lit(lang)).otherwise(acc)
    }
    // foldRight gives earlier profiles precedence on ties
    pick
  }

  /** Zipf rank-frequency OLS fit over the top-`topK` vocabulary ranks of a
    * (token, cnt) frame: one row (n, slope_micro, r_micro) with
    * x = ln(rank), y = ln(cnt) each micro-rounded BEFORE the order-free
    * integer sums (the surprisal discipline) and the two float steps
    * using only correctly-rounded IEEE ops off exact i64 sufficient
    * stats (the gx_assort discipline) — both outputs engine-exact.
    * Natural text reads slope ≈ −1; near-uniform (boilerplate or
    * template-degenerate) corpora read near 0, which is the signal this
    * stat exists to expose. i64 headroom: |x|,|y| ≤ ln(topK·maxCnt)·1e6,
    * so Σx² stays exact through topK ≈ 10⁴ at web-corpus counts. */
  def zipfFit(tokenCounts: DataFrame, topK: Int = 200): DataFrame = {
    def lmicro(c: Column): Column = round(log(c) * 1e6, 0).cast("long")
    // cut to the top-K FIRST (distributed TakeOrdered — never a global
    // rank window over the full vocabulary), then rank inside the
    // literal-topK frame: the one unpartitioned window here runs on
    // ≤ topK rows by construction (the gx_pagerank_rank bounded-frame
    // idiom; PlanSpec whitelists limit-bounded windows)
    val top = tokenCounts.orderBy(col("cnt").desc, col("token")).limit(topK)
    val w = Window.orderBy(col("cnt").desc, col("token"))
    val xy = top.withColumn("r", row_number().over(w))
      .select(lmicro(col("r")).as("x"), lmicro(col("cnt")).as("y"))
    val st = xy.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    def d(c: String) = col(c).cast("double")
    st.select(col("n"),
      floor(lit(1000000.0) *
        (d("n") * d("sxy") - d("sx") * d("sy")) /
        (d("n") * d("sxx") - d("sx") * d("sx")))
        .cast("long").as("slope_micro"),
      floor(lit(1000000.0) *
        (d("n") * d("sxy") - d("sx") * d("sy")) /
        sqrt((d("n") * d("sxx") - d("sx") * d("sx")) *
             (d("n") * d("syy") - d("sy") * d("sy"))))
        .cast("long").as("r_micro"))
  }

  def langIdSql(c: String): String = {
    val toks = tokensSql(c)
    def scoreSql(prof: Seq[String]): String = {
      val list = prof.map(w => s"'$w'").mkString("[", ", ", "]")
      s"len(list_filter($toks, t -> list_contains($list, t)))"
    }
    val scores = LangProfiles.map { case (lang, prof) => lang -> scoreSql(prof) }
    val maxExpr = scores.map(_._2).mkString("greatest(", ", ", ")")
    val cases = scores.map { case (lang, sc) =>
      s"WHEN $sc = $maxExpr AND $maxExpr > 0 THEN '$lang'"
    }.mkString(" ")
    s"(CASE $cases ELSE 'und' END)"
  }
}
