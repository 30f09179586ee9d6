package org.apache.spark

/** Waits for Spark's listener bus to deliver every posted event, so a
  * traced run reads complete job and task records. Lives in the
  * org.apache.spark namespace only to reach the `private[spark]` bus. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
