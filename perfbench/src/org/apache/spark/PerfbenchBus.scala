package org.apache.spark

/** Lives in `org.apache.spark` to reach the `private[spark]` listener bus:
  * the benchmark reads its listener's totals only after every posted event
  * has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
