package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener counts are complete when a span is read. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
