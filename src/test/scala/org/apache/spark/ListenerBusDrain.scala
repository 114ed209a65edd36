package org.apache.spark

/** Waits until the context's listener bus has delivered every event
  * posted so far: listener delivery is asynchronous, and the bus itself
  * is private to Spark. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
