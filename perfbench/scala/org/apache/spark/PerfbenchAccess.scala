package org.apache.spark

/** The one Spark-private hook the benchmark needs: listener events are
  * delivered asynchronously, so counts are read only after the bus has
  * drained.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
