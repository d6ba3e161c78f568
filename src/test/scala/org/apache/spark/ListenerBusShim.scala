package org.apache.spark

/** Test access to the `private[spark]` listener-bus barrier: returns once
  * every event posted so far has been delivered to the listeners.
  */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
