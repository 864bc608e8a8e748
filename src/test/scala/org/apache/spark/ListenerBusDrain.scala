package org.apache.spark

/** Blocks until every event already posted to the context's listener bus
  * has been delivered. The bus is `private[spark]`, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
