package org.apache.spark

import org.apache.spark.scheduler.SparkListenerEvent

/** The engine's way onto a context's listener bus, which is
  * `private[spark]`: [[graft.GraftDecision]] events are posted here, and a
  * reader that must see every event posted so far flushes first.
  */
object GraftListenerBus {
  def post(sc: SparkContext, event: SparkListenerEvent): Unit = sc.listenerBus.post(event)

  /** Blocks until every event posted so far has reached every listener. */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
