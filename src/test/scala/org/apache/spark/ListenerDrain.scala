package org.apache.spark

/** Test access to the listener bus (`private[spark]`): returns once
  * every event posted so far has reached the listeners.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
