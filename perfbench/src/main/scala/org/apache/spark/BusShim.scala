package org.apache.spark

/** Access to the listener bus, which is private to Spark: listener events
  * are delivered asynchronously, so counters are read only after the bus
  * has delivered everything posted so far. */
object BusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
