package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded inputs. Every generator draws from its own stream derived from
  * the run seed, so one seed always yields the same tables, and the tables
  * have the schemas of the repository's fixtures (FIXTURES.md §2). */
object Fixtures {
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  /** Writes one table as a single parquet file at `path`, the layout of the
    * repository's fixtures (the event stream reader matches that file name). */
  def write(spark: SparkSession, rows: java.util.List[Row], schema: StructType,
            path: String): Unit = {
    val tmp = new java.io.File(path + ".tmp")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val part = tmp.listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath, new java.io.File(path).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    tmp.listFiles().foreach(_.delete())
    tmp.delete()
  }

  private val Day = 86400000L
  private def day(y: Int, m: Int, d: Int): Long =
    java.time.LocalDate.of(y, m, d).toEpochDay * Day

  /** TPC-H-shaped star schema at scale factor `sf` (sf 1 = 1.5M orders).
    * The (l_orderkey, l_suppkey) and (o_orderkey, o_custkey) columns are
    * kept so the benchmark can derive the trade graph without Spark. */
  final class Tpch(sf: Double, seed: Long) {
    val nCust: Int = math.max(50, math.round(150000 * sf).toInt)
    val nSupp: Int = math.max(10, math.round(10000 * sf).toInt)
    val nPart: Int = math.max(50, math.round(200000 * sf).toInt)
    val nOrders: Int = math.max(100, math.round(1500000 * sf).toInt)

    val orderCust: Array[Long] = {
      val r = rng(seed, 1)
      Array.fill(nOrders)(r.nextInt(nCust).toLong)
    }
    private val orderDay: Array[Long] = {
      val r = rng(seed, 2)
      val lo = day(1995, 1, 1)
      val span = ((day(2001, 8, 1) - lo) / Day).toInt
      Array.fill(nOrders)(lo + r.nextInt(span + 1) * Day)
    }
    /** Lineitems as (orderkey, suppkey, partkey) triples, 1 to 7 per order. */
    val lines: Array[(Long, Long, Long)] = {
      val r = rng(seed, 3)
      (0 until nOrders).iterator.flatMap { o =>
        Iterator.fill(1 + r.nextInt(7))(
          (o.toLong, r.nextInt(nSupp).toLong, r.nextInt(nPart).toLong))
      }.toArray
    }

    /** Distinct (supplier, customer) trade pairs, as Tables.tradeEdges
      * derives them. */
    def tradePairs: Array[(Long, Long)] =
      lines.iterator.map { case (o, s, _) => (s, orderCust(o.toInt)) }.toSet.toArray

    /** Writes those of nation, customer, supplier, orders and lineitem that
      * `tables` names. */
    def write(spark: SparkSession, dir: String, tables: Set[String]): Unit = {
      def put(rows: java.util.List[Row], schema: StructType, table: String): Unit =
        if (tables(table)) Fixtures.write(spark, rows, schema, s"$dir/$table.parquet")
      val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
      val prios = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      def money(r: SplittableRandom, lo: Double, hi: Double): Double =
        math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

      val nation = new java.util.ArrayList[Row]()
      (0 until 25).foreach(i => nation.add(Row(i, s"NATION_$i", i % 5)))
      put(nation, StructType(Seq(StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType), StructField("n_regionkey", IntegerType))),
        "nation")

      val rc = rng(seed, 4)
      val customer = new java.util.ArrayList[Row]()
      (0 until nCust).foreach(i => customer.add(Row(i.toLong, f"Customer#$i%09d",
        rc.nextInt(25), money(rc, -999, 9999), segments(rc.nextInt(5)))))
      put(customer, StructType(Seq(StructField("c_custkey", LongType),
        StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
        StructField("c_acctbal", DoubleType), StructField("c_mktsegment", StringType))),
        "customer")

      val rs = rng(seed, 5)
      val supplier = new java.util.ArrayList[Row]()
      (0 until nSupp).foreach(i => supplier.add(Row(i.toLong, f"Supplier#$i%09d",
        rs.nextInt(25), money(rs, -999, 9999))))
      put(supplier, StructType(Seq(StructField("s_suppkey", LongType),
        StructField("s_name", StringType), StructField("s_nationkey", IntegerType),
        StructField("s_acctbal", DoubleType))), "supplier")

      val ro = rng(seed, 7)
      val orders = new java.util.ArrayList[Row]()
      (0 until nOrders).foreach(o => orders.add(Row(o.toLong, orderCust(o),
        "FOP".charAt(ro.nextInt(3)).toString, money(ro, 1000, 500000),
        new Timestamp(orderDay(o)), prios(ro.nextInt(5)))))
      put(orders, StructType(Seq(StructField("o_orderkey", LongType),
        StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType), StructField("o_orderdate", TimestampType),
        StructField("o_orderpriority", StringType))), "orders")

      val rl = rng(seed, 8)
      val lineitem = new java.util.ArrayList[Row](lines.length)
      var lineNo = 0
      var prev = -1L
      lines.foreach { case (o, s, p) =>
        lineNo = if (o == prev) lineNo + 1 else 1
        prev = o
        val qty = (1 + rl.nextInt(50)).toDouble
        lineitem.add(Row(o, p, s, lineNo, qty, math.round(qty * (900 + p % 1000 / 10.0) * 100) / 100.0,
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0, "ANR".charAt(rl.nextInt(3)).toString,
          "FO".charAt(rl.nextInt(2)).toString,
          new Timestamp(orderDay(o.toInt) + (1 + rl.nextInt(90)) * Day)))
      }
      put(lineitem, StructType(Seq(StructField("l_orderkey", LongType),
        StructField("l_partkey", LongType), StructField("l_suppkey", LongType),
        StructField("l_linenumber", IntegerType), StructField("l_quantity", DoubleType),
        StructField("l_extendedprice", DoubleType), StructField("l_discount", DoubleType),
        StructField("l_tax", DoubleType), StructField("l_returnflag", StringType),
        StructField("l_linestatus", StringType), StructField("l_shipdate", TimestampType))),
        "lineitem")
    }
  }

  private val Vocab = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** Documents (with planted near-duplicates) and a month of user events. */
  def writeText(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val nDocs = math.max(100, math.round(50000 * sf).toInt)
    val nEvents = math.max(1000, math.round(1000000 * sf).toInt)

    val rd = rng(seed, 11)
    val texts = new Array[String](nDocs)
    val docs = new java.util.ArrayList[Row]()
    val langs = Array("en", "es", "zh", "de", "fr")
    (0 until nDocs).foreach { i =>
      texts(i) =
        if (i > 10 && rd.nextInt(50) == 0) {
          // near-duplicate of an earlier document: a couple of words edited
          val w = texts(rd.nextInt(i)).split(' ')
          (0 until 1 + rd.nextInt(2)).foreach(_ => w(rd.nextInt(w.length)) = "dup")
          w.mkString(" ")
        } else Array.fill(10 + rd.nextInt(91))(Vocab(rd.nextInt(Vocab.length))).mkString(" ")
      docs.add(Row(i.toLong, texts(i), if (rd.nextInt(5) == 0) langs(rd.nextInt(5)) else "en",
        s"src${rd.nextInt(20)}", texts(i).length.toLong))
    }
    write(spark, docs, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))),
      s"$dir/documents.parquet")

    val re = rng(seed, 13)
    val start = day(2024, 1, 1)
    val kinds = Array("click", "error", "purchase", "signup", "view")
    val events = new java.util.ArrayList[Row]()
    (0 until nEvents).foreach { i =>
      events.add(Row(i.toLong, new Timestamp(start + (re.nextDouble() * 30 * Day).toLong),
        re.nextInt(150).toLong, kinds(re.nextInt(5)), math.round(re.nextDouble() * 2000) / 100.0,
        s"""{"k": ${re.nextInt(100)}}"""))
    }
    write(spark, events, StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType))), s"$dir/events.parquet")
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double, r: SplittableRandom) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Seeded permutation, so the hottest Zipf ranks are not the smallest ids. */
  def shuffled[T](xs: Array[T], r: SplittableRandom): Array[T] = {
    val a = xs.clone()
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def edgeFrame(spark: SparkSession, edges: Iterable[(String, String)]): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    edges.foreach { case (s, d) => rows.add(Row(s, d, 0)) }
    spark.createDataFrame(rows, StructType(Seq(StructField("src", StringType),
      StructField("dst", StringType), StructField("etype", IntegerType))))
  }

  def nodeFrame(spark: SparkSession, keys: Iterable[String]): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    keys.foreach(k => rows.add(Row(k)))
    spark.createDataFrame(rows, StructType(Seq(StructField("key", StringType))))
  }
}
