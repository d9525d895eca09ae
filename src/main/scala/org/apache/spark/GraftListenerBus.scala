package org.apache.spark

/** The listener bus is `private[spark]`: this waits until it has delivered
  * every event posted so far, so listener counts are complete before they
  * are read.
  */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
