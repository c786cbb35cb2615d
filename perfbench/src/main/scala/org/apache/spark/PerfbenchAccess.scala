package org.apache.spark

/** The one Spark-internal hook the traced run needs: listener events are
  * delivered asynchronously, so per-operation counters are read only
  * after the listener bus has drained. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
