package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.CheckpointBridge
import org.apache.spark.storage.StorageLevel
import scala.util.chaining._

/** The one owner of persisted Spark state, and the one materialization
  * rule: every frame it hands out is materialized before it is returned
  * and reports its materialized size. Three verbs, none with an option:
  *
  * [[cached]] (query scope): operator-local intermediates (LSH signature
  * tables, shingle sets, …) that feed several branches of ONE query plan.
  * Persisted MEMORY_AND_DISK and counted at once, so consumers plan
  * against a loaded cache: its stats are the cached bytes, and under AQE
  * its partitioning is the finished plan's, so a join or aggregate keyed
  * on a `repartition` column reuses that shuffle instead of re-exchanging
  * the same data on the same key. The harness (Verify / Bench / specs)
  * calls [[releaseAll]] after each query, so none of these blocks outlive
  * the query that created them.
  *
  * [[session]] (session scope): derived inputs that MANY queries of one
  * driver run share — the trade and union edge tables, the GraphX union
  * graph, iterative-pass outputs, the BPE merge loop. Materialized inside
  * the build, so the first query to touch an entry plans against loaded
  * blocks exactly as every later one does. [[sessionOf]] holds a value of
  * any kind (the IVF index) with its release function. One registry keyed
  * `(name, dir, session)` holds every entry; [[drop]] releases one so
  * Bench can rebuild it cold, and [[releaseAll]] never touches them.
  * Stale-session rule: an entry is never served to another SparkSession
  * (the session object is part of the key), and entries whose
  * SparkContext has stopped are forgotten on the next insert, so a
  * long-lived JVM (sbt test suites) does not pin dead sessions' state.
  *
  * [[checkpoint]] (lineage cut): `localCheckpoint(true)` whose scan
  * reports its blocks' stored bytes instead of the origin plan's
  * estimate. Iterative loops checkpoint their state every few rounds;
  * with the origin estimate a loop that self-joins that state squares
  * the estimate per round (a doubling chain hung the planner for
  * minutes), and an unknown size would broadcast the wrong join side. It
  * runs the same one job as `localCheckpoint(true)`. No partitioning is
  * claimed: under AQE a local checkpoint reports UnknownPartitioning. */
object CacheScope {
  private val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  private[graft] def cached(df: DataFrame): DataFrame =
    materialized(df).tap(p => synchronized { live += p })

  private[graft] def checkpoint(df: DataFrame): DataFrame =
    CheckpointBridge.sized(df.localCheckpoint(true))

  private def materialized(df: DataFrame): DataFrame =
    df.persist(StorageLevel.MEMORY_AND_DISK).tap(_.count())

  /** Unpersist every registered operator-local cache. Blocking=false: the
    * blocks are dropped asynchronously, the plans remain valid (they just
    * recompute if re-used). */
  def releaseAll(): Unit = synchronized {
    live.foreach(_.unpersist(false))
    live.clear()
  }

  private final case class Key(name: String, dir: String, session: SparkSession)
  private final case class Entry(value: AnyRef, release: Boolean => Unit)
  private val registry = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

  /** Session-shared derived frame under `name` for this dataset `dir`,
    * materialized by the build. */
  private[graft] def session(name: String, spark: SparkSession, dir: String)
                            (build: => DataFrame): DataFrame =
    sessionOf(name, spark, dir)(materialized(build))(
      (df, blocking) => df.unpersist(blocking))

  /** Session-shared value of any kind; `release(value, blocking)` frees
    * what it holds. get/putIfAbsent rather than computeIfAbsent: builds
    * NEST (gx_und → gx_union → trade, gx_graphx → gx_union), and a nested
    * computeIfAbsent on the same map throws "Recursive update". The race
    * (two threads building the same entry) is benign — the loser's copy is
    * released and discarded. */
  private[graft] def sessionOf[T <: AnyRef](name: String, spark: SparkSession, dir: String)
                                           (build: => T)(release: (T, Boolean) => Unit): T = {
    val key = Key(name, dir, spark)
    val hit = registry.get(key)
    if (hit != null) hit.value.asInstanceOf[T]
    else {
      val built = build
      registry.keySet.removeIf(_.session.sparkContext.isStopped)
      val prev = registry.putIfAbsent(key, Entry(built, release(built, _)))
      if (prev != null) { release(built, false); prev.value.asInstanceOf[T] } else built
    }
  }

  /** Drop one session entry (unpersist, blocking, + forget) so Bench's
    * outlier re-time pass can rebuild it cold with first-pass semantics —
    * nested dependencies stay cached, exactly as in the original timed
    * build. Dependents holding their own persisted copies are unaffected. */
  private[graft] def drop(name: String, spark: SparkSession, dir: String): Boolean =
    Option(registry.remove(Key(name, dir, spark))) match {
      case Some(e) => e.release(true); true
      case None => false
    }
}
