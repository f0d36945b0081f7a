package org.apache.spark

/** Test access to the listener bus, which is private to Spark: draining
  * it means every event of a finished job has reached the listeners, so a
  * count taken afterwards is complete.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
