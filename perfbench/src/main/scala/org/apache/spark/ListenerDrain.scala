package org.apache.spark

/** Waits until every queued listener event has been delivered, so counts
  * read after an action include that action (the bus is asynchronous). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
