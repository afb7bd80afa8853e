package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener.
  * The listener bus is `private[spark]`; the tracer drains it at each span
  * boundary so that counters land on the span whose work produced them. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
