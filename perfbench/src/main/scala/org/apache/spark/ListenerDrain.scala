package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * measurement read right after an action sees all of that action's task
  * events. The listener bus is `private[spark]`, hence this package. */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
