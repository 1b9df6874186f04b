package org.apache.spark

/** Test hook: listener events are delivered asynchronously, so a spec that
  * counts jobs drains the bus before and after the work it measures.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
