package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * listener read right after an action has seen all of its events. Lives
  * in this package because the bus is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
