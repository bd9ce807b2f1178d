package org.apache.spark

/** Test access to the listener bus: returns once every event posted so
  * far has reached every listener. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
