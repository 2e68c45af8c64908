package org.apache.spark

/** Access to the listener bus drain, which is `private[spark]`: the
  * traced run must see every task-end event before it reads counters.
  */
object PerfbenchInternals {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
