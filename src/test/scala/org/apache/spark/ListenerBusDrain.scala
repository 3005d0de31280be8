package org.apache.spark

/** `LiveListenerBus.waitUntilEmpty` is package-private to Spark; this
  * forwarder lets specs wait until their listeners saw every event.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
