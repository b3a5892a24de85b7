package org.apache.spark

/** Lives in `org.apache.spark` to reach the `private[spark]` listener bus:
  * a spec reads its listener's records only after every event posted so far
  * has been delivered.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
