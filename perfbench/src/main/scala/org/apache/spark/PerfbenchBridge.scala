package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the
  * listener bus has delivered every posted event, so counters read
  * after an action include all of that action's tasks. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
