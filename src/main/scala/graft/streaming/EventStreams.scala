package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming pipeline over the `events` table: watermarked
  * tumbling/sliding/session windows plus a mapGroupsWithState running
  * aggregate. The reference has no streaming surface (SURVEY §2.9); this is
  * the north-star event extension, built so the batch queries
  * (AnalyticsQueries.s_events_*) and the streaming queries share semantics.
  *
  * At scale: state is keyed by (window, event_type) or user_id — both
  * high-cardinality, so state distributes; the watermark bounds state size;
  * parquet source streaming gives per-file micro-batches. */
object EventStreams {

  /** Schema of events.parquet; `ts` is patched at read time to the
    * file's actual physical type (see [[readEvents]]). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Streaming source over a testdata dir (parquet micro-batches).
    *
    * events.ts has shipped as TIMESTAMP(NANOS) (readable only as long via
    * the legacy flag, then truncated to micros) and as TIMESTAMP(MICROS)
    * (surfaces as TIMESTAMP_NTZ). The streaming source needs a
    * user-supplied schema, so peek at the batch footer for the actual
    * type — a fixed LongType schema over a micros file would silently
    * read raw micros and truncate them 1000×. Sessions run UTC, so the
    * NTZ → LTZ cast is value-exact, and both layouts surface the same
    * micros TIMESTAMP column. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType =
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val schema = StructType(eventSchema.map(f =>
      if (f.name == "ts") StructField("ts", tsType) else f))
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    tsType match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** Tumbling 1-hour counts per event type with a 2-hour watermark —
    * identical grouping to the batch s_events_window query. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding 1-hour window every 15 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Session windows (30-minute gap) per user — the built-in operator form
    * of the batch sessionization query. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("session_value"))

  /** Stream-stream interval join: purchases attributed to a click by the
    * same user within the preceding hour. Both sides watermarked so state
    * on each side is bounded; the range condition gives Spark the interval
    * for state eviction. */
  def purchaseAfterClick(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("click_ts"), col("purchase_value"))
  }

  /** LEFT OUTER form of [[purchaseAfterClick]]: purchases with NO click in
    * the preceding hour still emit, null-padded — but only once the query
    * watermark guarantees no future click can match. The emission cutoff
    * is deterministic and REPLAYABLE: the query watermark after a bounded
    * drain is min(max click_ts, max purchase_ts) − delay (one no-data
    * batch finalizes it), and a purchase row is safe to null-emit exactly
    * when purchase_ts < watermark (future clicks all have click_ts above
    * it, and a match needs click_ts ≤ purchase_ts). Unmatched purchases
    * inside the final watermark window stay in state forever on a bounded
    * input — the oracle twin replays that cutoff, which is the honest
    * semantics of outer stream joins, not an artifact. */
  def purchaseAfterClickOuter(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("p_user").as("user_id"), col("purchase_ts"),
        col("click_ts"), col("purchase_value"))
  }

  /** FULL OUTER form of [[purchaseAfterClick]]: BOTH unmatched sides
    * null-emit once the query watermark proves no future partner can
    * arrive. The cutoffs differ per side, each derived from the join
    * condition: an unmatched purchase emits when purchase_ts < W (future
    * clicks all arrive ≥ W and a match needs click_ts ≤ purchase_ts); an
    * unmatched click emits when click_ts < W − 1h (a future purchase at
    * ts ≥ W can still reach clicks back to W − 1h). Both cutoffs are
    * deterministic after a bounded drain (W = min-side max event time − 2h
    * delay, ms-floored) and the oracle twin replays them row for row. */
  def purchaseAfterClickFull(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("value").as("purchase_value"))
      .withWatermark("purchase_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR"),
      "full_outer")
      .select(coalesce(col("p_user"), col("c_user")).as("user_id"),
        col("purchase_ts"), col("click_ts"), col("purchase_value"))
  }

  /** Streaming exact dedup — the streaming face of the batch pipeline's
    * exact-dedup operator: drop events whose content fingerprint was seen
    * before, with state bounded by the watermark
    * (dropDuplicatesWithinWatermark keys state on the dedup columns and
    * evicts entries older than the watermark — without it, dedup state
    * grows without bound on an infinite stream). */
  def dedupedEvents(events: DataFrame, fingerprintCols: Seq[String]): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(fingerprintCols)

  /** Streaming graph ingest: the event stream read as user → event_type
    * edges, aggregated to per-tumbling-window out-degrees. Duplicate edges
    * within a window collapse first (dropDuplicatesWithinWatermark keyed on
    * user, type and window start — state is edge-typed and watermark-
    * evicted), then the windowed count of surviving edges is the node's
    * per-window distinct-neighbor degree. This dedup → windowed-count
    * composition is the streaming twin of
    * `count(DISTINCT event_type) GROUP BY window, user` — which streaming
    * aggregation cannot express directly. */
  def windowedDegrees(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .withColumn("wstart", date_trunc("hour", col("ts")))
      .dropDuplicatesWithinWatermark(Seq("user_id", "event_type", "wstart"))
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("degree"))
      .select(col("window.start").as("window_start"), col("user_id"),
        col("degree"))

  /** Stream-static enrichment join: each micro-batch of the stream joined
    * against a STATIC batch dimension (stateless — no watermark, no join
    * state; Spark re-plans the static side per micro-batch, broadcasting
    * it when small). The canonical "enrich the event stream with a
    * dimension table" shape. */
  def enrichWithStatic(stream: DataFrame, staticDim: DataFrame,
                       on: Seq[String]): DataFrame =
    stream.join(staticDim, on, "left")

  /** Schema of documents.parquet (for streaming-ingest pipelines). */
  val documentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming source over a testdata dir's documents (parquet micro-batches). */
  def readDocuments(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(documentSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)

  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Streaming source over a testdata dir's embeddings (the query-vector
    * stream of the online-serving gates). */
  def readEmbeddings(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(embeddingSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)

  /** Streaming decontamination filter — the ingest-time face of
    * `Dedup.contaminationReport`: drop any streamed doc sharing a shingle
    * with the benchmark set. The benchmark's hashed shingles are shipped as
    * a REAL `SparkContext.broadcast` variable probed inside the filter
    * function (the standard decontamination deployment: the benchmark side
    * is small and static — millions of n-grams at most — while the doc
    * stream is unbounded). The logical plan carries only the broadcast
    * handle, so a multi-million-entry benchmark never bloats plan
    * serialization or per-micro-batch planning (a `lit(array)` literal of
    * that size would); executors fetch the sorted hash array once via
    * torrent broadcast and binary-search it per shingle. The filter stays
    * a stateless per-row operation: no join state, no watermark, works in
    * append mode.
    *
    * The shingle lambda runs interpreted per element (streams cannot take
    * the window-based `shingleRows` path — a per-doc window is stateful);
    * that is the right trade at ingest: per-doc work is O(tokens), and the
    * corpus-wide relational sweep stays available in batch. */
  def decontaminatedDocs(docsStream: DataFrame, benchmark: DataFrame,
                         idCol: String, textCol: String): DataFrame = {
    val sp = benchmark.sparkSession
    import sp.implicits._
    val benchHashes = graft.operators.Dedup
      .shingleRows(benchmark, idCol, textCol)
      .select(graft.functions.TextFunctions.hash32(col("shingle")))
      .distinct().as[Long].collect().sorted
    val bc = sp.sparkContext.broadcast(benchHashes)
    // a null text has no shingles and nothing in common with the
    // benchmark — such docs SURVIVE, same verdict as the anti-join form
    // (whose null condition simply never matches). The explicit isNull
    // branch matters: shingles(null) is [null], whose null HASH would
    // null the UDF verdict and silently drop the row
    val clean = udf { hs: Seq[Long] =>
      hs == null || !hs.exists(h =>
        java.util.Arrays.binarySearch(bc.value, h) >= 0)
    }
    docsStream.filter(col(textCol).isNull || clean(
      transform(graft.operators.Dedup.shingles(col(textCol)),
        s => graft.functions.TextFunctions.hash32(s))))
  }

  /** Stream-static JOIN variant of [[decontaminatedDocs]]: the benchmark's
    * hashed shingles stay a DataFrame and the filter is a stream-static
    * LEFT ANTI join (`array_contains(doc_hashes, bench_h)`) — a streamed
    * doc survives iff NO benchmark hash appears among its shingle hashes,
    * exactly the broadcast form's semantics, still stateless (no join
    * state, no watermark, append mode).
    *
    * Trade vs [[decontaminatedDocs]]: no driver-side `collect()` — the
    * static side is planned per micro-batch and shipped as a per-batch
    * broadcast relation, so nothing pins a giant sorted array in the
    * driver session for the stream's lifetime, and benchmark refreshes
    * are picked up per batch (the collect form freezes the benchmark at
    * stream start). The cost: the non-equi condition plans as a
    * broadcast nested-loop anti join — contaminated docs short-circuit
    * at the first matching hash, clean docs scan the full benchmark per
    * doc — so the broadcast form's binary search is faster when the
    * benchmark fits comfortably in the driver; past broadcast size,
    * decontamination belongs in the batch relational sweep
    * (Dedup.contaminationReport / substringContamination). */
  def decontaminatedDocsJoin(docsStream: DataFrame, benchmark: DataFrame,
                             idCol: String, textCol: String): DataFrame = {
    val bh = graft.operators.Dedup.shingleRows(benchmark, idCol, textCol)
      .select(graft.functions.TextFunctions.hash32(col("shingle")).as("__bench_h"))
      .distinct()
    docsStream
      .withColumn("__hashes",
        transform(graft.operators.Dedup.shingles(col(textCol)),
          s => graft.functions.TextFunctions.hash32(s)))
      .join(bh, array_contains(col("__hashes"), col("__bench_h")), "left_anti")
      .drop("__hashes")
  }

  /** The per-user loyalty-tier TIMELINE as half-open validity intervals
    * [from_us, to_us): the user's i-th purchase (ts, event_id order)
    * opens era i at its timestamp, era 0 runs from -inf to the first
    * purchase, the last era to +inf. Built ONCE in batch; one row per
    * PURCHASE EVENT (fact-scaled, not user-scaled), so whether it
    * broadcasts is the planner's size call, never a hint
    * ([[asOfTier]]). Equal-ts purchases produce
    * an empty [t, t) era — harmless, the intervals still partition the
    * timeline, so every event matches exactly one row. One user-keyed
    * window, no corpus-sized shuffle. */
  def tierIntervals(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("tier", row_number().over(w))
      .withColumn("from_us", unix_micros(col("ts")))
      .withColumn("to_us",
        lead(unix_micros(col("ts")), 1, Long.MaxValue).over(w))
    p.select(col("user_id"), col("tier"), col("from_us"), col("to_us"))
      .unionByName(p.filter(col("tier") === 1)
        .select(col("user_id"), lit(0).as("tier"),
          lit(Long.MinValue).as("from_us"), col("from_us").as("to_us")))
  }

  /** STREAMING AS-OF enrichment — the streaming counterpart of the
    * batch as-of family (s_asof_join): each event picks up the user's
    * loyalty tier AT EVENT TIME. Streams cannot run the window-replay
    * trick batch as-of uses, so the "latest version at-or-before" is
    * re-expressed as an equi+range stream-static LEFT join against the
    * [[tierIntervals]] dimension — stateless, append-mode, no state
    * store. The dimension is purchase-event-SCALED (it grows with the
    * fact table), so no broadcast hint: the planner broadcasts it while
    * small and falls back to a shuffled per-batch join past the
    * threshold — a forced broadcast would collect every purchase
    * interval to the driver at scale. Users with no purchase history
    * keep their events (tier 0). */
  def asOfTier(eventsStream: DataFrame, tiers: DataFrame): DataFrame =
    eventsStream.as("e")
      .join(tiers.as("d"),
        col("e.user_id") === col("d.user_id") &&
          unix_micros(col("e.ts")) >= col("d.from_us") &&
          unix_micros(col("e.ts")) < col("d.to_us"), "left")
      .select(col("e.event_id").as("event_id"),
        col("e.user_id").as("user_id"), col("e.ts").as("ts"),
        col("e.event_type").as("event_type"),
        coalesce(col("d.tier"), lit(0)).as("tier"))

  /** STREAMING incremental span dedup —
    * [[graft.operators.Dedup.spanDedupAgainst]]'s daily-crawl form with
    * the delta arriving as micro-batches: every w-token span of a
    * streamed doc already present in the PERSISTED span-key index
    * (`indexKeys`(h) — [[graft.operators.Dedup.spanKeyIndex]]) is
    * excised. No driver collect: the index joins as the static side per
    * batch (the [[decontaminatedDocsJoin]] discipline), here on the
    * 8-byte EQUI key, so the plan is a stateless stream-static hash
    * join, not an NLJ.
    *
    * Window functions don't exist on streams, so the span keys build
    * per-ROW from the token array (slice + hash60 — byte-identical span
    * strings to the batch lead() form), the (i, tok, key) rows explode
    * from a zip (the token array never rides along per token row),
    * and the per-doc coverage + reassembly is ONE streaming aggregation
    * (update mode) whose post-agg projection replays the batch coverage
    * window with higher-order array functions over the collected rows.
    * A doc is atomic within its micro-batch (one source row), so each
    * group reaches its final state in the batch it arrives — the memory
    * sink sees exactly one update per doc. Empty/whitespace docs have no
    * token rows and drop here; callers reattach them from the static
    * delta frame (the batch form's base-join contract). */
  /** The stateless STREAM form of the span-row explode — (doc_id, i,
    * tok, h) with per-start 60-bit span keys built from per-row array
    * functions (streams can't run the batch lead() window), shared by
    * [[spanDedupStream]] and [[spanDupFractionStream]]. Empty/whitespace
    * docs produce no rows (callers reattach them). */
  private def spanRowStream(docsStream: DataFrame, idCol: String,
                            textCol: String, w: Int): DataFrame = {
    import graft.functions.TextFunctions.{tokens, hash60}
    val wm1 = w - 1
    val toked = docsStream
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("toks",
        when(length(trim(col("text"))) > 0, tokens(col("text")))
          .otherwise(array().cast("array<string>")))
    // span keys per start position, padded with nulls to token length so
    // the zip aligns key-at-start with its first token
    val hs = when(size(col("toks")) >= w,
        transform(sequence(lit(0), size(col("toks")) - w),
          i => hash60(array_join(slice(col("toks"), i + lit(1), lit(w)), " "))))
      .otherwise(array().cast("array<long>"))
    toked
      .withColumn("hs", concat(hs, array_repeat(lit(null).cast("long"),
        least(size(col("toks")), lit(wm1)))))
      .select(col("doc_id"),
        posexplode(arrays_zip(col("toks"), col("hs"))).as(Seq("i", "z")))
      .select(col("doc_id"), col("i"),
        col("z.toks").as("tok"), col("z.hs").as("h"))
  }

  /** STREAMING per-doc duplication fraction at ingest — the
    * [[graft.operators.Dedup.spanDupFractionFrom]] measure with docs
    * arriving as micro-batches, cleaned against a PERSISTED duplicated
    * span-key set (dupSpanKeySet batch-side → the stream reproduces the
    * corpus SELF fractions bit-for-bit, the s_stream_clean argument):
    * stateless span rows + one stateless equi join on the 8-byte key,
    * then ONE update-mode per-doc count aggregation. Docs with no
    * windows (< w tokens, empty) produce no row — callers reattach
    * zeros from the static frame. */
  def spanDupFractionStream(docsStream: DataFrame, dupKeys: DataFrame,
                            idCol: String, textCol: String,
                            w: Int = graft.operators.Dedup.SpanDedupW)
      : DataFrame =
    spanRowStream(docsStream, idCol, textCol, w)
      .filter(col("h").isNotNull)
      .join(dupKeys.select(col("h"), lit(1).as("isdup")), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_spans"),
        sum(coalesce(col("isdup"), lit(0))).cast("long").as("n_dup"))

  def spanDedupStream(docsStream: DataFrame, indexKeys: DataFrame,
                      idCol: String, textCol: String,
                      w: Int = graft.operators.Dedup.SpanDedupW): DataFrame = {
    val wm1 = w - 1
    val rows = spanRowStream(docsStream, idCol, textCol, w)
    val marked = rows.join(
      indexKeys.select(col("h"), lit(1).as("isdup")), Seq("h"), "left")
    marked.groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_tokens"),
        sort_array(collect_list(struct(col("i"), col("tok"),
          coalesce(col("isdup"), lit(0)).as("d")))).as("rows"))
      // kept = tokens with no duplicated span STARTING in the trailing
      // w-1 window; `rows` is the agg attribute itself, so nothing here
      // re-evaluates a derived array per element
      .withColumn("kept", expr(
        s"filter(rows, r -> !exists(rows, s -> s.d = 1 AND s.i >= r.i - $wm1 AND s.i <= r.i))"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("int").as("n_kept"),
        expr("array_join(transform(kept, r -> r.tok), ' ')").as("clean_text"))
  }

  /** STREAMING incremental MinHash dedup, CROSS stage — each arriving
    * doc's near-dup verdict against the PERSISTED banded signature index
    * ([[graft.operators.Dedup.minhashBandIndex]], computed once batch-
    * side over the already-indexed corpus). The whole detection chain is
    * stateless: the doc's signature is a ROW-LOCAL projection
    * ([[graft.operators.Dedup.minhashSigArray]] — a minhash is a pure
    * function of the doc's own text, so no per-doc aggregation), the
    * Bands band rows explode from it, the (band, band_val) stream-static
    * equi join buckets candidates exactly like the batch form (never
    * all-pairs), and the signature-agreement verify is one zip_with fold
    * against the psig array the index row carries. The ONE stateful
    * operator is the per-doc partner-set aggregation (update mode,
    * collect_set dedups the per-band candidate repeats — the
    * s_stream_phash idiom). Emits (doc_id, ps) for docs with ≥ 1 partner
    * at est_sim ≥ minEstSim; hit-free docs produce no row (callers
    * reattach from the static delta frame). est_sim replays the batch
    * round(agree/k, 6) bit-for-bit, so the stream's hit set IS
    * incrementalSurvivors' crossHit set (spec-pinned). */
  def minhashHitsStream(docsStream: DataFrame, bandIndex: DataFrame,
                        idCol: String, textCol: String,
                        minEstSim: Double = 0.5): DataFrame = {
    import graft.operators.Dedup
    val k = Dedup.NumHashes
    val sigged = docsStream
      .select(col(idCol).as("doc_id"), col(textCol).as("text"))
      .withColumn("__sh", transform(Dedup.shingles(col("text")),
        sh => graft.functions.TextFunctions.hash32(sh)))
      .withColumn("__sig", Dedup.minhashSigArray(col("__sh")))
    val banded = sigged
      .select(col("doc_id"), col("__sig"),
        explode(Dedup.lshBandArray(col("__sig"))).as("bv"))
      .select(col("doc_id"), col("__sig"),
        col("bv.band").as("band"), col("bv.band_val").as("band_val"))
    val agree = aggregate(
      zip_with(col("__sig"), col("psig"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (a, x) => a + x)
    banded.join(bandIndex, Seq("band", "band_val"))
      .filter(col("doc_id") =!= col("partner"))
      .withColumn("est_sim", round(agree.cast("double") / k, 6))
      .filter(col("est_sim") >= minEstSim)
      .groupBy(col("doc_id"))
      .agg(collect_set(col("partner")).as("ps"))
  }

  /** STREAMING HLL register maintenance at ingest —
    * [[graft.operators.Sketches.hllRegisters]] with the per-register max
    * AS the streaming aggregation state: the (register, rho) projection
    * is stateless per item ([[graft.operators.Sketches.hllRhoRows]],
    * shared code), so the whole sketch is ONE update-mode aggregation
    * holding 64 rows of state however large the stream. Re-emissions
    * only grow (max is monotone) — callers collapse by max post-drain
    * and reattach absent registers as rho 0. This is the point of
    * carrying the sketch at 100 TB: distinct-cardinality stays current
    * per micro-batch with no rescan anywhere. */
  def hllRegisterStream(itemsStream: DataFrame, itemCol: String): DataFrame =
    graft.operators.Sketches.hllRhoRows(itemsStream, itemCol)
      .groupBy("register").agg(max(col("rho")).as("rho_max"))

  /** STREAMING windowed-HLL cardinality at ingest: per-1-hour-window
    * distinct-user registers — the production replacement for the
    * windowed count(DISTINCT) streams cannot run exactly at scale
    * ([[windowedDegrees]] keeps every dedup key in state; this keeps 64
    * integers per window however many users arrive). The (ts, register,
    * rho) rows are the batch sketch's stateless projection
    * ([[graft.operators.Sketches.hllRhoRows]] carrying ts), and the
    * per-(window, register) max is the ONE stateful aggregation (update
    * mode, 2 h watermark for state eviction — update mode never drops
    * late input, so drained totals stay complete). */
  def windowedHllRegisters(events: DataFrame): DataFrame =
    graft.operators.Sketches.hllRhoRows(
        events.withWatermark("ts", "2 hours")
          .select(col("ts"), col("user_id").cast("string").as("item")),
        "item", carry = Seq("ts"))
      .groupBy(window(col("ts"), "1 hour"), col("register"))
      .agg(max(col("rho")).as("rho_max"))
      .select(col("window.start").as("window_start"),
        col("register"), col("rho_max"))

  /** STREAMING count-min cell maintenance at ingest —
    * [[graft.operators.Sketches.cmsBuild]] with the per-cell COUNT as
    * the streaming aggregation state: depth bucket rows per item explode
    * stateless ([[graft.operators.Sketches.cmsBucketRows]], shared
    * code), and the engine applies the sketch's additive-merge law per
    * micro-batch. ≤ depth·width rows of state; counts only grow, so the
    * drain collapses by max. */
  def cmsCellStream(itemsStream: DataFrame, itemCol: String): DataFrame =
    graft.operators.Sketches.cmsBucketRows(itemsStream, itemCol)
      .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))

  /** STREAMING hash-sampled quantile sketch maintenance at ingest —
    * [[graft.operators.Sketches.sampledQuantiles]]' sample kept current
    * per micro-batch: membership is a ROW-LOCAL hash predicate of the
    * sampling key ([[graft.operators.Sampling.hashSample]], shared
    * code), so the sketch state is the sample VALUE HISTOGRAM — ONE
    * update-mode aggregation holding one row per distinct sampled value
    * (bounded by the value domain, not the stream). Counts only grow;
    * the drain collapses by max and the post-drain interpolation
    * ([[graft.operators.Sketches.sampledQuantilesFrom]]) replays the
    * batch estimate over the reconstructed multiset bit-for-bit. */
  def quantileSampleHistStream(rows: DataFrame, keyCol: Column,
                               valCol: Column, rate: Double,
                               salt: String = "pct"): DataFrame =
    graft.operators.Sampling.hashSample(
        rows.select(keyCol.as("k"), valCol.as("v")), col("k"), rate, salt)
      .groupBy("v").agg(count(lit(1)).as("cnt"))

  /** STREAMING boilerplate strip at ingest —
    * [[graft.operators.Dedup.boilerplateStrip]]'s per-batch form: each
    * streamed doc's lines are cleaned against the PERSISTED per-source
    * majority-line drop set ([[graft.operators.Dedup.boilerplateDropSet]],
    * computed once in batch over the corpus — the [[spanDedupStream]]
    * index discipline). Stateless stream-static EQUI join on
    * (source, lfp) (the drop set is boilerplate-sized, so the static side
    * hash-joins per micro-batch), then ONE update-mode per-doc
    * aggregation reassembles the kept lines — a doc is atomic within its
    * micro-batch, so the memory sink sees exactly one update per doc.
    * Output is column-identical to the batch strip (doc_id, n_kept,
    * n_dropped, clean_fp), so the two forms share an oracle. */
  def boilerplateStripStream(docsStream: DataFrame, dropSet: DataFrame,
                             idCol: String, srcCol: String,
                             textCol: String): DataFrame = {
    val lined = graft.operators.Dedup
      .boilerplateLines(docsStream, idCol, srcCol, textCol)
    val marked = lined.join(
      broadcast(dropSet.select(col("source"), col("lfp"),
        lit(1).as("isdrop"))),
      Seq("source", "lfp"), "left")
    marked.groupBy("doc_id").agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("isdrop").isNull, 1L).otherwise(0L)).as("n_kept"),
        sort_array(collect_list(struct(col("i"), col("line"),
          coalesce(col("isdrop"), lit(0)).as("d")))).as("rows"))
      .withColumn("keptRows", expr("filter(rows, r -> r.d = 0)"))
      .select(col("doc_id"), col("n_kept"),
        (col("n_lines") - col("n_kept")).as("n_dropped"),
        md5(array_join(expr("transform(keptRows, r -> r.line)"), "\n"))
          .as("clean_fp"))
  }

  /** STREAMING Gopher repetition panel —
    * [[graft.functions.TextFunctions.gopherRepetitionStats]]'s
    * quality-gate-at-ingest form: per streamed doc the same four
    * character-occupancy micro-fractions and keep verdict, column- and
    * value-identical to the batch panel (shared oracle). Streams can't
    * run the batch form's three explode→(doc, gram) groupBy chains
    * (chained streaming aggregations are unsupported), so the doc's
    * lines/bigrams/trigrams explode into ONE tagged row stream
    * (stateless union of three projections of the same source) and the
    * single stateful operator is a (doc, kind, gram)-keyed COUNT
    * aggregation — linear in doc length, where an array-expression
    * formulation (count-by-filter inside transform) is O(G²) per doc and
    * one long document stalls its whole micro-batch. A doc is atomic
    * within its micro-batch, so every (doc, kind, gram) group finalizes
    * in the batch it arrives and the memory sink sees exactly one update
    * per group; [[gopherPanelOfCounts]] reduces the drained counts to
    * the panel on the batch side. */
  def gopherGramCountsStream(docsStream: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    import graft.functions.TextFunctions.{bigrams, trigrams}
    val base = docsStream.select(col(idCol).as("doc_id"),
      col(textCol).as("text"))
    def tagged(kind: String, arr: org.apache.spark.sql.Column) =
      base.select(col("doc_id"),
        greatest(length(col("text")), lit(1)).cast("long").as("n_chars"),
        lit(kind).as("kind"), explode(arr).as("val"))
    val rows = tagged("L", split(col("text"), "\n"))
      .unionByName(tagged("B", bigrams(col("text"))))
      .unionByName(tagged("T", trigrams(col("text"))))
    rows.groupBy("doc_id", "kind", "val")
      .agg(count(lit(1)).as("cnt"), max(col("n_chars")).as("n_chars"))
  }

  /** Batch-side finish of [[gopherGramCountsStream]]: the drained
    * (doc, kind, gram, cnt) frame reduces to exactly the batch panel —
    * dup lines = Σ(cnt−1), char occupancy via length(gram), the
    * top-2gram argmax as the same struct-min aggregate as the batch op,
    * dup-3grams filtered at cnt ≥ 2. Every aggregation here is
    * map-side combinable and gram-count-sized. */
  def gopherPanelOfCounts(counts: DataFrame): DataFrame = {
    val isL = col("kind") === "L"
    val isT = col("kind") === "T"
    val byDoc = counts.groupBy("doc_id").agg(
      max(col("n_chars")).as("n_chars"),
      sum(when(isL, col("cnt")).otherwise(0L)).as("n_lines"),
      sum(when(isL, col("cnt") - 1).otherwise(0L)).as("dup_lines"),
      sum(when(isL, (col("cnt") - 1) * length(col("val"))).otherwise(0L))
        .as("dup_line_chars"),
      min(when(col("kind") === "B",
        struct((-col("cnt")).as("nc"), col("val").as("g")))).as("m"),
      sum(when(isT && col("cnt") >= 2, col("cnt") * length(col("val")))
        .otherwise(0L)).as("dup3_chars"))
    byDoc.select(col("doc_id"), col("n_lines"),
        expr("(1000000 * dup_lines) div n_lines").as("dup_line_micro"),
        expr("(1000000 * dup_line_chars) div n_chars")
          .as("dup_line_char_micro"),
        expr("(1000000 * coalesce(-m.nc * length(m.g), 0L)) div n_chars")
          .as("top2_char_micro"),
        expr("(1000000 * dup3_chars) div n_chars").as("dup3_char_micro"))
      .withColumn("keep",
        col("dup_line_micro") <= 300000L &&
          col("dup_line_char_micro") <= 200000L &&
          col("top2_char_micro") <= 200000L &&
          col("dup3_char_micro") <= 180000L)
  }

  /** Streaming near-duplicate suppression: keep the first-arriving doc per
    * 60-bit SimHash signature (exact and trivially-near duplicates share
    * the signature; banded Hamming matching stays a batch sweep). The
    * signature is the per-row projection form ([[graft.operators.Dedup.withSimhash]])
    * so the whole operator is projection + streaming dedup. State is keyed
    * by the 8-byte signature; on a source with event time, swap
    * `dropDuplicates` for `dropDuplicatesWithinWatermark` to bound it —
    * the documents fixture carries none, so this form's state grows with
    * the distinct-signature count (honest trade, documented).
    *
    * Null text bypasses the dedup untouched (same verdict as
    * [[decontaminatedDocs]]'s isNull branch): the per-row signature of a
    * null text degenerates to 0, so without the bypass every null-text
    * doc after the first would be silently dropped as a "near-dup" of an
    * unrelated signature-0 doc — while the batch explode+groupBy form
    * drops no null rows at all. */
  def nearDupFreeDocs(docsStream: DataFrame, textCol: String): DataFrame = {
    val sig = graft.operators.Dedup.withSimhash(docsStream, textCol, "__sig")
    sig.filter(col(textCol).isNotNull)
      .dropDuplicates("__sig")
      .unionByName(sig.filter(col(textCol).isNull))
      .drop("__sig")
  }

  // ---------------------------------------------------- custom state
  case class UserEvent(user_id: Long, value: Double)
  case class UserTotals(user_id: Long, n: Long, total_micro: Long)

  /** Custom stateful aggregation: running per-user totals via
    * mapGroupsWithState (the KeyValueGroupedDataset state API). The value
    * total accumulates in integer micro-units, each term floored BEFORE
    * the sum (`floor(1e6·value)` is one correctly-rounded IEEE multiply +
    * an exact floor) — the iterator's row order inside a group is
    * partition-arrival order, so a float running sum would be
    * order-dependent; the integer sum is not, which is what makes the
    * final state hash-checkable against a batch oracle. */
  def runningUserTotals(events: DataFrame): Dataset[UserTotals] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0L))
          val (n, tot) = rows.foldLeft((prev.n, prev.total_micro)) {
            case ((c, t), e) => (c + 1, t + math.floor(1000000.0 * e.value).toLong)
          }
          val next = UserTotals(uid, n, tot)
          state.update(next)
          next
      }
  }

  /** [[runningUserTotals]] on the transformWithState API (the arbitrary-
    * stateful-processing v2 that supersedes mapGroupsWithState in Spark
    * 4.x): an explicit `ValueState` handle instead of the implicit
    * GroupState, composable with ListState/MapState/timers for richer
    * state machines. Semantics are identical — same integer micro-unit
    * accumulation, same per-key re-emit in update mode. Requires the
    * RocksDB state store provider (the only provider transformWithState
    * supports); [[runToMemoryRocksDB]] pins it for the drain. */
  class UserTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserTotals] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var totals: ValueState[UserTotals] = _
    override def init(outputMode: OM, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        org.apache.spark.sql.Encoders.product[UserTotals], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 timerValues: TimerValues): Iterator[UserTotals] = {
      val prev = if (totals.exists()) totals.get() else UserTotals(key, 0L, 0L)
      val (n, tot) = rows.foldLeft((prev.n, prev.total_micro)) {
        case ((c, t), e) => (c + 1, t + math.floor(1000000.0 * e.value).toLong)
      }
      val next = UserTotals(key, n, tot)
      totals.update(next)
      Iterator.single(next)
    }
  }

  def runningUserTotalsTws(events: DataFrame): Dataset[UserTotals] = {
    val sp = events.sparkSession
    import sp.implicits._
    events.select(col("user_id"), col("value")).as[UserEvent]
      .groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor,
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  /** [[runToMemory]] with the RocksDB state store provider pinned for the
    * query (transformWithState refuses the default HDFS-backed provider);
    * the session conf is restored after the drain. */
  def runToMemoryRocksDB(stream: DataFrame, name: String,
                         mode: OutputMode = OutputMode.Update(),
                         shufflePartitions: Option[Int] = None): DataFrame = {
    val sp = stream.sparkSession
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = sp.conf.getOption(key)
    sp.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runToMemory(stream, name, mode, shufflePartitions)
    finally prev match {
      case Some(v) => sp.conf.set(key, v)
      case None => sp.conf.unset(key)
    }
  }

  /** Production-shaped sink: the NATIVE parquet file sink (the sink a real
    * deployment of tumblingCounts would use). The file-sink commit log
    * makes replayed batches idempotent — true exactly-once output. (A
    * foreachBatch with a blind `mode("append")` parquet write is only
    * at-least-once: a batch replayed after a failure between write and
    * checkpoint commit lands twice.) Returns after the bounded source
    * drains. */
  def runToParquet(stream: DataFrame, outDir: String, checkpointDir: String): Unit = {
    val q = stream.writeStream
      .format("parquet")
      .option("path", outDir)
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** CDC upsert sink — the change-data-capture deployment shape: each
    * micro-batch MERGEs into a parquet target (matched keys take the
    * batch value, everything else carries over) via read → full-outer
    * coalesce → write-to-temp → ATOMIC directory swap. The swap is what
    * makes read-modify-write safe: parquet cannot be overwritten while
    * being read, and a crash mid-swap leaves either the old or the new
    * complete version, never a torn one. Within one batch a key may
    * arrive several times; the LAST-WRITER-WINS pick is the max
    * (monotonic batch offset stand-in: here the payload struct itself
    * under a deterministic total order via max(struct(payload)) — callers
    * streaming true CDC feeds carry an explicit version column).
    * Blocks until the bounded source drains.
    *
    * Scale notes: each merge is one keyed full-outer join of target ×
    * batch — the target re-shuffles per batch in this plain-parquet
    * form; a real deployment buckets the target by key so the join is
    * shuffle-free on the target side, or uses a table format whose
    * MERGE does file-level skipping. The swap discipline is identical
    * either way. */
  /** Recursive delete that CHECKS every unlink: a silently-failed delete
    * of `_old` would make the next swap's rename throw
    * FileAlreadyExistsException one batch later, far from the cause. */
  private def rmStrict(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmStrict))
    if (!f.delete() && f.exists())
      throw new java.io.IOException(s"cdc swap: could not delete $f")
  }

  /** Repair the swap directories after a crash, making [[cdcMergeRun]]'s
    * "old version recoverable" claim operational rather than manual:
    * - `_old` present AND target present → a finished swap's stale
    *   leftover (crash after rename 2, before the delete): remove it.
    * - `_old` present, target ABSENT → crash BETWEEN the two renames:
    *   `_old` IS the current version — rename it back.
    * - a stale `_tmp` is always removed (half-written batch output).
    * Idempotent; called before every merge so a crashed run never needs
    * hand cleanup. */
  private[graft] def recoverSwap(targetDir: String): Unit = {
    val tgt = java.nio.file.Paths.get(targetDir)
    val old = java.nio.file.Paths.get(targetDir + "_old")
    val tmp = java.nio.file.Paths.get(targetDir + "_tmp")
    if (java.nio.file.Files.exists(old)) {
      if (java.nio.file.Files.exists(tgt)) rmStrict(old.toFile)
      else java.nio.file.Files.move(old, tgt)
    }
    if (java.nio.file.Files.exists(tmp)) rmStrict(tmp.toFile)
  }

  def cdcMergeRun(source: DataFrame, targetDir: String, keyCol: String,
                  payloadCol: String, checkpointDir: String): Unit = {
    val sp = source.sparkSession
    val q = source.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        // heal any prior crash's leftovers BEFORE reading the target, so
        // the between-renames window (target missing, _old = current)
        // restores rather than failing the read
        recoverSwap(targetDir)
        val b = batch
          .groupBy(col(keyCol))
          .agg(max(col(payloadCol)).as(payloadCol)) // last-writer-wins pick
          .select(col(keyCol).as("k"), col(payloadCol).as("sv"))
        val tgt = sp.read.parquet(targetDir)
          .select(col(keyCol).as("k"), col(payloadCol).as("tv"))
        val merged = tgt.join(b, Seq("k"), "full_outer")
          .select(col("k").as(keyCol),
            coalesce(col("sv"), col("tv")).as(payloadCol))
        val tmp = targetDir + "_tmp"
        merged.write.mode("overwrite").parquet(tmp)
        // swap = two atomic renames: old steps aside, new steps in, old
        // is deleted last. A crash between the renames leaves the
        // previous version intact at _old, which the next merge's
        // recoverSwap renames back — never a torn directory. The
        // plain-filesystem version of a table format's snapshot commit.
        val tgtPath = java.nio.file.Paths.get(targetDir)
        val oldPath = java.nio.file.Paths.get(targetDir + "_old")
        java.nio.file.Files.move(tgtPath, oldPath)
        java.nio.file.Files.move(java.nio.file.Paths.get(tmp), tgtPath)
        rmStrict(oldPath.toFile)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
  }

  /** Run any of the above to completion against a bounded source and
    * return the final result from a memory sink (used by tests and the
    * batch-parity check).
    *
    * `shufflePartitions`: stateful operators open one state store PER
    * shuffle partition PER operator instance (a stream-stream join keeps
    * FOUR per partition per side), and every micro-batch commits every
    * store — so for a bounded drain the session default (sized for big
    * batch shuffles) is pure per-batch commit overhead. Passing a small
    * value pins the query's state partitioning at start (the count is
    * frozen into the checkpoint anyway, so this is a per-query property,
    * not a session one); the session conf is restored after the drain.
    * Results are partition-count-invariant — this trades nothing. */
  def runToMemory(stream: DataFrame, name: String,
                  mode: OutputMode = OutputMode.Complete(),
                  shufflePartitions: Option[Int] = None): DataFrame =
    runToMemoryCounted(stream, name, mode, shufflePartitions)._1

  /** [[runToMemory]] returning ALSO the drain's state-operator count
    * (from the final StreamingQueryProgress; -1 when the drain produced
    * no progress) — spec support for mechanically pinning the "exactly
    * ONE stateful operator" claims the streaming gates document. A
    * per-call return, not a process global: concurrent drains (parallel
    * test execution, a future concurrent bench) each read their own
    * query's count. */
  def runToMemoryCounted(stream: DataFrame, name: String,
                         mode: OutputMode = OutputMode.Complete(),
                         shufflePartitions: Option[Int] = None)
      : (DataFrame, Int) = {
    val sp = stream.sparkSession
    val prev = sp.conf.get("spark.sql.shuffle.partitions")
    // A/B hook for the state-store provider (SPARK_GRAFT_ROCKSDB=1):
    // measures whether the update-mode drain floor is store-bound
    // (RocksDB column families vs the default HDFS-backed map) without
    // touching per-gate code; the provider is frozen per query at start
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = sp.conf.getOption(provKey)
    val forceRocks = sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1")
    if (forceRocks) sp.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    var nStateOps = -1
    shufflePartitions.foreach(n => sp.conf.set("spark.sql.shuffle.partitions", n))
    try {
      val q = stream.writeStream
        .format("memory").queryName(name).outputMode(mode).start()
      q.processAllAvailable()
      nStateOps =
        Option(q.lastProgress).map(_.stateOperators.length).getOrElse(-1)
      q.stop()
    } finally {
      sp.conf.set("spark.sql.shuffle.partitions", prev)
      if (forceRocks) prevProv match {
        case Some(v) => sp.conf.set(provKey, v)
        case None => sp.conf.unset(provKey)
      }
    }
    (sp.table(name), nStateOps)
  }
}
