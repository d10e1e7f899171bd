package org.apache.spark

/** Listener-bus access for `graft.obs.Collector`. `SparkContext.listenerBus`
  * is `private[spark]`, so the shim lives in this package. Draining the bus
  * before a listener is read and detached keeps late stage and task events.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
