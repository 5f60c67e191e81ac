package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * census read right after an action sees all of that action's events.
  * Lives in this package because the bus is `private[spark]`. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
