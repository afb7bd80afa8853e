package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{AnalyticsQueries, GraphQueries, GxQueries, PipelineQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the three operator surfaces:
  *  - GraphQueries: the reference's full public graph API (SURVEY §2.0)
  *    exercised over the derived trade graph;
  *  - AnalyticsQueries: relational agg/join/window/set/scalar + event-time
  *    windows (SURVEY §2.2-2.9);
  *  - PipelineQueries: training-data pipeline ops (dedup, similarity,
  *    text analysis) over documents/embeddings.
  * `oracleSql` carries a DuckDB twin for every SQL-expressible query. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the trade graph's top-degree hubs — exercises the derived-graph build
    * (join), the degree aggregation, and ordering in one plan. */
  def entry(spark: SparkSession): DataFrame = {
    val g = graft.sources.Tables.tradeGraph(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions._
    g.outDegrees.orderBy(col("out_degree").desc, col("key")).limit(20)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    GraphQueries.queries ++ AnalyticsQueries.queries ++ PipelineQueries.queries ++
      GxQueries.queries

  /** Named session-shared cache builds in dependency order — Bench times
    * each as a `cache:<name>` entry before the query loop, so per-query
    * timings measure the query plan, not whichever shared build its
    * alphabetical position happened to first-touch. */
  def cacheBuilds: Seq[(String, (SparkSession, String) => DataFrame)] =
    GxQueries.sharedCacheBuilds ++ PipelineQueries.sharedCacheBuilds

  /** Drop one named session-shared cache (unpersist + forget) so Bench's
    * outlier re-time pass can rebuild it with first-pass semantics —
    * dependencies built earlier in [[cacheBuilds]] order stay cached. */
  def dropCacheEntry(name: String, s: SparkSession, dir: String): Boolean =
    CacheScope.drop(name, s, dir)

  def oracleSql: Map[String, String] =
    GraphQueries.oracles ++ AnalyticsQueries.oracles ++ PipelineQueries.oracles ++
      GxQueries.oracles
}
