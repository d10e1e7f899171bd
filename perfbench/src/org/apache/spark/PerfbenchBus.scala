package org.apache.spark

/** Listener-bus access for the benchmark harness. `SparkContext.listenerBus`
  * is `private[spark]`, so the shim lives in this package. Draining the bus
  * before a span's counters are read is what keeps late stage and task
  * events from being dropped.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
