package org.apache.spark

/** Access to the listener bus, which is private to Spark: the benchmark
  * drains it before reading what its listener recorded, so no event of a
  * finished job is still queued when a run's spans are summarised.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
