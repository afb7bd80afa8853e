package perfbench

/** Minimal JSON writer: the result line and the trace file are flat enough
  * that a string builder is all they need. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Finite numbers with all their digits; integers without a fraction. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")
}

/** Latency samples of one kind of operation. */
final class Samples {
  private val ms = scala.collection.mutable.ArrayBuffer.empty[Double]
  def add(v: Double): Unit = ms += v
  def n: Int = ms.size
  def isEmpty: Boolean = ms.isEmpty

  /** Nearest-rank percentile; 0 when there are no samples. */
  def pct(p: Double): Double =
    if (ms.isEmpty) 0.0
    else {
      val s = ms.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  /** Median, the mean of the middle two for an even count. */
  def p50: Double = Stats.median(ms.toSeq)
  def values: Seq[Double] = ms.toSeq
  def mean: Double = if (ms.isEmpty) 0.0 else ms.sum / ms.size

  /** The highest of p50/p75/p90/p95/p99 that has at least ten samples
    * beyond it, as (label, value); None below 20 samples. */
  def tail: Option[(String, Double)] =
    Seq(0.99 -> "p99", 0.95 -> "p95", 0.9 -> "p90", 0.75 -> "p75", 0.5 -> "p50")
      .find { case (p, _) => n * (1 - p) >= 10 - 1e-9 }
      .map { case (p, l) => l -> pct(p) }
}

/** The speed of the machine at the moment, from a fixed single-thread job
  * that allocates nothing: sort a copy of 128k longs, then make 100k
  * dependent random reads over a 32 MB table (more than a core's own
  * caches hold, so the reads go to the cache the host's tenants share).
  * The host's other tenants slow the program under test and this job
  * alike, so a time divided by the median sample of its own run is
  * comparable across runs (see README, "Machine-speed calibration"). */
object Calibration {
  /** The median sample, in ms, that the reported times are scaled to. */
  val RefMs = 30.0
  private val table = {
    val r = new java.util.SplittableRandom(42)
    Array.fill(1 << 22)(r.nextLong())
  }
  private val scratch = new Array[Long](1 << 17)
  @volatile private var sink = 0L

  /** One sample: the job's wall time in ms. */
  def sample(): Double = {
    val t0 = System.nanoTime()
    System.arraycopy(table, 0, scratch, 0, scratch.length)
    java.util.Arrays.sort(scratch)
    var i = 0
    var x = scratch(scratch.length / 2)
    val mask = table.length - 1
    while (i < 100000) {
      x = table(((x ^ i) & mask).toInt) + x
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e6
  }

  // the first samples run before the JIT has compiled the job
  (0 until 5).foreach(_ => sample())
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Peak resident set size of this process, from the kernel's high-water
    * mark. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def loadavg: String = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.mkString.trim finally src.close()
  }

  /** CPU time so far of each live Java thread of this process, by thread
    * id, in ms: the driver, Spark's executor task threads and its service
    * threads. JIT compiler and GC threads are not among them. Unlike wall
    * time, it does not grow while the process waits for a CPU. */
  def javaThreadCpuMs: Map[Long, Double] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.iterator.map(id => id -> mx.getThreadCpuTime(id) / 1e6)
      .filter(_._2 >= 0).toMap
  }

  /** CPU time the Java threads took since `before` was read, in ms; a
    * thread that ended in between is not counted. */
  def javaThreadCpuMsSince(before: Map[Long, Double]): Double =
    javaThreadCpuMs.iterator.map { case (id, ms) => ms - before.getOrElse(id, 0.0) }.sum

  /** CPU time of the calling thread, in ms. */
  def threadCpuMs: Double =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e6

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
  }
}
