package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work attributed to one span (its own work, not its children's). */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var bytesWritten = 0L
  var recordsWritten = 0L
  var gcMs = 0L
  var queries = 0L
  var planMs = 0.0
  var exchanges = 0L

  def fields: Seq[(String, Double)] = Seq[(String, Double)](
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble, "spill_bytes" -> spillBytes.toDouble,
    "bytes_written" -> bytesWritten.toDouble, "records_written" -> recordsWritten.toDouble,
    "gc_ms" -> gcMs.toDouble, "queries" -> queries.toDouble, "plan_ms" -> planMs,
    "exchanges" -> exchanges.toDouble)
}

/** One traced call into a layer. `op` is the id of the timed operation the
  * span belongs to (0 for set-up work); `attrs` holds facts the benchmark
  * measured around the call, such as files written by an upsert. */
final case class Span(id: Int, parent: Int, layer: String, name: String, op: Int,
                      startNs: Long, endNs: Long, counters: Counters,
                      attrs: Map[String, Double]) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder for the traced run. With tracing off, [[span]] only runs
  * its body. With tracing on, it drains the listener bus at both span
  * boundaries, so every job, stage, task and query event that the span's
  * body posts is attributed to the innermost open span. Spans are kept in
  * memory and written out once, when the run ends. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val t0 = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val counters = mutable.HashMap.empty[Int, Counters]
  private var nextId = 1
  private var op = 0
  @volatile private var current = 0

  private def at(id: Int): Counters = counters.synchronized {
    counters.getOrElseUpdate(id, new Counters)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = at(current).jobs += 1
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      at(current).stages += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = at(current)
        c.tasks += 1
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.bytesWritten += m.outputMetrics.bytesWritten
        c.recordsWritten += m.outputMetrics.recordsWritten
        c.gcMs += m.jvmGCTime
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = at(current)
      c.queries += 1
      c.planMs += qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      c.exchanges += Tracer.exchanges(qe.executedPlan)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  private def drain(): Unit =
    org.apache.spark.perfbench.ListenerDrain.drain(spark.sparkContext)

  /** Starts the next timed operation; spans opened until the next call
    * carry its id. */
  def nextOp(): Unit = op += 1

  def span[T](layer: String, name: String, attrs: => Map[String, Double] = Map.empty)
             (body: => T): T =
    if (!enabled) body
    else {
      drain()
      val id = nextId
      nextId += 1
      val parent = if (stack.isEmpty) 0 else stack.top
      val start = System.nanoTime()
      stack.push(id)
      current = id
      try body
      finally {
        drain()
        val end = System.nanoTime()
        stack.pop()
        current = parent
        done += Span(id, parent, layer, name, op, start, end, at(id), attrs)
      }
    }

  /** Spans in start order. */
  def spans: Seq[Span] = done.sortBy(_.startNs).toSeq

  /** Self time of each span: its duration minus the time its children
    * cover (the client is single-threaded, so children never overlap). */
  def selfMs: Map[Int, Double] = {
    val childMs = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    done.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  def writeJsonl(file: java.io.File): Unit = {
    val self = selfMs
    val lines = spans.map { s =>
      val fields = Seq(
        "id" -> Json.num(s.id), "parent" -> Json.num(s.parent),
        "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "op" -> Json.num(s.op),
        "start_ms" -> Json.num((s.startNs - t0) / 1e6),
        "end_ms" -> Json.num((s.endNs - t0) / 1e6),
        "self_ms" -> Json.num(self(s.id)),
        "counters" -> Json.obj(s.counters.fields.map { case (k, v) => k -> Json.num(v) }),
        "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }))
      Json.obj(fields)
    }
    java.nio.file.Files.writeString(file.toPath, lines.mkString("", "\n", "\n"))
  }

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Tracer {
  /** Shuffle exchanges in the plan as executed (adaptive stages unwrapped;
    * scans of cached relations count nothing, their build was counted). */
  def exchanges(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: ShuffleExchangeLike => 1L + e.children.map(exchanges).sum
    case other => other.children.map(exchanges).sum + other.subqueries.map(exchanges).sum
  }
}
