package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one owner of persisted Spark state, in two scopes.
  *
  * Query scope ([[cached]]): operator-local intermediates (LSH signature
  * tables, shingle sets, …) that feed multiple branches of ONE query plan.
  * The harness (Verify / Bench / specs) calls [[releaseAll]] after
  * materializing each query, so none of their MEMORY_AND_DISK blocks
  * outlive the query that created them.
  *
  * Session scope ([[session]], [[sessionOf]]): derived inputs that MANY
  * queries of one driver run share — the trade and union edge tables, the
  * GraphX union graph, iterative-pass outputs, the memoized IVF index, the
  * BPE merge loop. One registry keyed `(name, dir, session)` holds each
  * entry with its release function; [[drop]] unpersists one entry so
  * Bench can rebuild it cold, and [[releaseAll]] never touches them.
  * Stale-session rule: an entry is never served to another SparkSession
  * (the session object is part of the key), and entries whose
  * SparkContext has stopped are forgotten on the next insert, so a
  * long-lived JVM (sbt test suites) does not pin dead sessions' state. */
object CacheScope {
  private val live = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  private[graft] def cached(df: DataFrame): DataFrame = synchronized {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    live += p
    p
  }

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

  /** Session-shared derived frame: persisted MEMORY_AND_DISK (lazily — the
    * first action materializes it) under `name` for this dataset `dir`. */
  private[graft] def session(name: String, spark: SparkSession, dir: String)
                            (build: => DataFrame): DataFrame =
    sessionOf(name, spark, dir)(build.persist(StorageLevel.MEMORY_AND_DISK))(
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
