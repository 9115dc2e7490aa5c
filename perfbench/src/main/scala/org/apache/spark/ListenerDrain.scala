package org.apache.spark

/** The listener bus is asynchronous; a layer's stage metrics are complete
  * only once every event posted before the layer returned is delivered.
  * `waitUntilEmpty` is package-private, hence this one-line bridge.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
