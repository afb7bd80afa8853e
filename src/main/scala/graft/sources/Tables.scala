package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.KinGraph

/** Readers for the driver-generated parquet fixtures (TESTDATA.md) and the
  * derived graphs used by the graph-operator surface (FIXTURES.md §2).
  *
  * All readers are plain `spark.read.parquet` scans — Catalyst pushes
  * filters and prunes columns into them, which is the 100 TB scan story. */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  /** events.parquet has shipped in two layouts across fixture
    * generations: TIMESTAMP(NANOS) — which Spark's vectorized reader
    * rejects, so it is read as long via the legacy flag and truncated to
    * micros (exactly DuckDB's TIMESTAMP_NS → TIMESTAMP cast) — and plain
    * TIMESTAMP(MICROS), which surfaces as TIMESTAMP_NTZ. Adapt to the
    * file's actual type so both layouts yield the same session-TZ
    * TIMESTAMP column (sessions run UTC, so NTZ → LTZ is value-exact
    * and matches DuckDB's naive TIMESTAMP). */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** Trade graph (FIXTURES.md): supplier -> customer edges derived from
    * lineitem ⋈ orders on orderkey. Keys "S<l_suppkey>" / "C<o_custkey>".
    * The join key is orders' primary key, so at scale orders is the
    * (broadcastable-per-partition) dimension only at tiny SF; the shuffle
    * join on l_orderkey is the right plan at 100 TB, and AQE picks
    * broadcast automatically when orders fits. */
  def tradeEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir).select("l_orderkey", "l_suppkey")
    val o = orders(spark, dir).select("o_orderkey", "o_custkey")
    // dedup on the int key pair BEFORE concatenating: the distinct
    // shuffle moves (int, int) rows instead of built strings, and the
    // prefix-concat is bijective so the edge set is identical
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select(col("l_suppkey").as("sk"), col("o_custkey").as("ck"))
      .distinct()
      .select(
        concat(lit("S"), col("sk")).as("src"),
        concat(lit("C"), col("ck")).as("dst"))
      .withColumn("etype", lit(0))
  }

  def tradeGraph(spark: SparkSession, dir: String): KinGraph =
    KinGraph.fromEdges(
      graft.CacheScope.session("trade", spark, dir)(tradeEdges(spark, dir)))

  /** Part graph: supplier -> part edges with aggregated attrs
    * {quantity, extendedprice} (FIXTURES.md derived graphs). */
  def partEdges(spark: SparkSession, dir: String): DataFrame =
    // aggregate on the int key pair BEFORE concatenating (same trick as
    // tradeEdges): the groupBy shuffle moves (int, int, double, double)
    // rows instead of built strings, and the prefix-concat is bijective so
    // the edge set is identical. Key type does not perturb the float sum:
    // map-side partials accumulate in encounter order and merge in map-id
    // order either way.
    lineitem(spark, dir)
      .groupBy(col("l_suppkey").as("sk"), col("l_partkey").as("pk"))
      .agg(
        sum(col("l_quantity")).as("quantity"),
        round(sum(col("l_extendedprice")), 2).as("extendedprice"))
      .select(
        concat(lit("S"), col("sk")).as("src"),
        concat(lit("P"), col("pk")).as("dst"),
        col("quantity"), col("extendedprice"))
      .withColumn("etype", lit(0))

  /** Geo graph: customer/supplier -> nation -> region membership edges. */
  def geoEdges(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir).select(
      concat(lit("C"), col("c_custkey")).as("src"),
      concat(lit("N"), col("c_nationkey")).as("dst"))
    val s = supplier(spark, dir).select(
      concat(lit("S"), col("s_suppkey")).as("src"),
      concat(lit("N"), col("s_nationkey")).as("dst"))
    val n = nation(spark, dir).select(
      concat(lit("N"), col("n_nationkey")).as("src"),
      concat(lit("R"), col("n_regionkey")).as("dst"))
    c.union(s).union(n).withColumn("etype", lit(0))
  }

  /** The DuckDB-oracle CTE prefix that mirrors tradeEdges/fromEdges, shared
    * by every graph-operator oracle query so Spark and DuckDB agree on the
    * graph being queried. */
  val TradeSqlCte: String =
    """WITH e AS (
      |  SELECT DISTINCT 'S' || CAST(l_suppkey AS VARCHAR) AS src,
      |                  'C' || CAST(o_custkey AS VARCHAR) AS dst,
      |                  0 AS etype
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |), n AS (
      |  SELECT src AS key FROM e UNION SELECT dst AS key FROM e
      |)""".stripMargin
}
