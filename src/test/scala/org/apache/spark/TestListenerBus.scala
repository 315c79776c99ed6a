package org.apache.spark

/** The listener bus is `private[spark]`; specs that count listener events
  * drain it after an action so every event of that action has arrived. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
