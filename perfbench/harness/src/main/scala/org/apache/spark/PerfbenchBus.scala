package org.apache.spark

/** The listener bus is `private[spark]`; the trace drains it at scope edges
  * so every event of a scope is counted before the next scope starts. A
  * stopped context has drained its bus already. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = if (!sc.isStopped) sc.listenerBus.waitUntilEmpty()
}
