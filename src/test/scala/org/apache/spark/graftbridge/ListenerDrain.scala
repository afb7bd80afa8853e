package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener, so a
  * test's job counter is final when it reads it. The listener bus is
  * `private[spark]`; this shim re-exports its drain. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
