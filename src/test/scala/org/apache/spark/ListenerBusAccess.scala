package org.apache.spark

/** Test access to the `private[spark]` listener bus: how many
  * listeners are registered on it, and a drain so asynchronously
  * delivered events are all seen before a test reads them. */
object ListenerBusAccess {
  def listenerCount(sc: SparkContext): Int = sc.listenerBus.listeners.size

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(10000L)
}
