package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is package-private to Spark; this
  * forwarder lets the benchmark wait for listener delivery.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
