package org.apache.spark

/** Lets the benchmark wait for Spark's listener bus to deliver every event
  * posted so far (the bus is package-private to Spark). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
