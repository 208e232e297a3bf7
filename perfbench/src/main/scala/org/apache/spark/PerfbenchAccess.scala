package org.apache.spark

/** The one Spark-internal hook the benchmark needs: listener events are
  * delivered asynchronously, so the traced run drains the bus before it
  * reads its listener's totals. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
