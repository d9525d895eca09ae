package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until the listener
  * bus has delivered every event posted so far, so per-op listener counts
  * are complete before they are read.
  */
object PjBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
