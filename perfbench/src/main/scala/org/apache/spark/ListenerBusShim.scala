package org.apache.spark

/** `SparkContext.listenerBus` is `private[spark]`; the traced run needs
  * to wait until every queued event has reached its listeners before it
  * reads them. Nothing else belongs here. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
