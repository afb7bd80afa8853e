package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.{CacheScope, SparkEntry}

/** Order-independent 64-bit fingerprint of a result: the wrapping sum of a
  * mixed FNV-1a hash of each row's canonical text. */
object Fingerprint {
  private def canon(v: Any): String = v match {
    case null => "\u0000"
    case r: Row => r.toSeq.map(canon).mkString("(", "\u0001", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("{", "\u0001", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case t: java.sql.Timestamp => s"ts${t.getTime}.${t.getNanos}"
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.math.BigDecimal => d.toPlainString
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def rowHash(r: Row): Long = {
    var h = 0xcbf29ce484222325L
    canon(r).getBytes("UTF-8").foreach { b => h ^= (b & 0xff); h *= 0x100000001b3L }
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^ (h >>> 33)
  }

  def of(rows: Array[Row]): String = f"${rows.iterator.map(rowHash).sum}%016x"
}

/** Expected (row count, fingerprint) per query, for each pinned input
  * variant, read from `pins.json` in the benchmark directory. */
final class Pins(byVariant: Map[Int, Map[String, (Long, String)]]) {
  def apply(variant: Int, query: String): Option[(Long, String)] =
    byVariant.get(variant).flatMap(_.get(query))
}

object Pins {
  /** The seed picks one of this many input variants for the analytics
    * workload, whose answers are pinned rather than modelled. */
  val Variants = 4

  def load(path: String): Pins = {
    val f = new java.io.File(path)
    if (!f.isFile) new Pins(Map.empty)
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f).get("pins")
      new Pins(root.fields().asScala.map { v =>
        v.getKey.stripPrefix("v").toInt -> v.getValue.fields().asScala.map { q =>
          q.getKey -> (q.getValue.get("rows").asLong, q.getValue.get("fingerprint").asText)
        }.toMap
      }.toMap)
    }
  }
}

/** Graph analytics and the dedup pipeline over one seeded star schema with
  * documents and events. Set-up builds the session-shared
  * caches through `SparkEntry.cacheBuilds` (dropping them first, so each
  * repetition builds them again); after one untimed warm-up pass, each
  * timed pass runs the queries through `SparkEntry.queries` over those
  * caches, every result fully collected and checked against its pin
  * afterwards. */
final class Analytics(val name: String, caches: Seq[String], queries: Seq[String])
    extends Workload {
  import Analytics._

  def cacheNames: Seq[String] = caches
  def queryNames: Seq[String] = queries

  def writeInputs(spark: SparkSession, dir: String, variant: Int): Unit = {
    new Fixtures.Tpch(Sf, variant).write(spark, dir,
      Set("lineitem", "orders", "customer", "supplier", "nation"))
    Fixtures.writeText(spark, dir, Sf, variant)
  }

  /** Drops and rebuilds the caches, in `SparkEntry.cacheBuilds` order. */
  def buildCaches(spark: SparkSession, dir: String, tracer: Tracer): Unit = {
    caches.foreach(n => SparkEntry.dropCacheEntry(n, spark, dir))
    CacheScope.releaseAll()
    SparkEntry.cacheBuilds.filter(b => caches.contains(b._1)).foreach { case (n, build) =>
      val before = if (tracer.enabled) storageBytes(spark) else 0L
      tracer.span("Tables", s"cache.$n",
        Map("mem_bytes" -> (storageBytes(spark) - before).toDouble)) {
        try build(spark, dir).write.format("noop").mode("overwrite").save()
        finally CacheScope.releaseAll()
      }
    }
  }

  /** Runs every query once, each call timed on its own by `out.timed`,
    * and returns its collected result or error with its latency in ms. */
  def pass(spark: SparkSession, dir: String, tracer: Tracer, out: Outcome)
      : Seq[(String, Either[Throwable, Result], Double)] =
    queries.map { q =>
      val (got, ms) = out.timed(tracer.span("queries", q)(Workload.attempt {
        try {
          val df = SparkEntry.queries(q)(spark, dir)
          Result(df.collect(), df.schema)
        } finally CacheScope.releaseAll()
      }))
      (q, got, ms)
    }

  def check(c: Ctx, out: Outcome, variant: Int,
            results: Seq[(String, Either[Throwable, Result], Double)]): Unit =
    results.foreach { case (q, got, _) =>
      val want = c.pins(variant, q)
      val have = got.map(r => (r.rows.length.toLong, Fingerprint.of(r.rows)))
      out.check(want.nonEmpty && have == Right(want.get),
        s"$q on input v$variant: got ${have.fold(e => e.toString, identity)}, pinned $want")
    }

  def run(c: Ctx, out: Outcome): Unit = {
    val variant = Math.floorMod(c.seed, Pins.Variants.toLong).toInt
    val dir = c.path("data")
    c.tracer.span("fixture", "tables")(writeInputs(c.spark, dir, variant))
    (1 to Workload.SetUps).foreach(_ => out.setUp(buildCaches(c.spark, dir, c.tracer)))
    // one untimed pass compiles the queries' plans, so every timed pass is warm
    val w0 = System.nanoTime()
    check(c, out, variant, pass(c.spark, dir, c.tracer, out))
    out.warmupS = (System.nanoTime() - w0) / 1e9
    c.timedLoop(out) { _ =>
      val results = pass(c.spark, dir, c.tracer, out)
      results.foreach { case (q, _, ms) => out.kind(q).add(ms) }
      out.ops.add(results.map(_._3).sum)
      check(c, out, variant, results)
    }
  }

  /** A pass's latency as the sum of each query's median call: every
    * query contributes its typical time even when a run holds only two or
    * three passes. */
  override def opP50(out: Outcome): Double = out.kinds.values.map(_.p50).sum
}

object Analytics {
  final case class Result(rows: Array[Row], schema: StructType)

  /** Input scale of the analytics workload (sf 1 = 1.5M orders). */
  val Sf = 0.01

  def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  val workload = new Analytics("analytics",
    Seq("trade", "gx_union", "gx_graphx", "minhash_shingles", "minhash_cands"),
    Seq("gx_cc", "g_salted_hubs", "d_minhash_lsh", "d_dedup_pipeline", "s_stream_tumbling"))

  /** Writes every input variant, builds the caches and runs the queries on
    * it once, and stores each result (as parquet, for the DuckDB
    * oracle compare) with its row count and fingerprint in `pins.json`. */
  def pin(spark: SparkSession, root: String): Unit = {
    val tracer = new Tracer(spark, enabled = false)
    val entries = (0 until Pins.Variants).map { v =>
      val data = s"$root/v$v/data"
      val outDir = s"$root/v$v/out"
      workload.writeInputs(spark, data, v)
      workload.buildCaches(spark, data, tracer)
      val fields = workload.pass(spark, data, tracer, new Outcome).map {
        case (q, Right(Result(rows, schema)), _) =>
          spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$q")
          q -> Json.obj(Seq("rows" -> Json.num(rows.length.toDouble),
            "fingerprint" -> Json.str(Fingerprint.of(rows))))
        case (q, Left(e), _) => throw new IllegalStateException(s"$q failed on v$v", e)
      }
      val oracle = workload.queryNames.map(q => q -> Json.str(SparkEntry.oracleSql(q)))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
        Json.obj(oracle))
      s"v$v" -> Json.obj(fields)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$root/pins.json"),
      Json.obj(Seq("sf" -> Json.num(Sf), "pins" -> Json.obj(entries))) + "\n")
  }
}
