package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every event posted so
  * far, so listener counts read right after an action are exact rather
  * than polled. The bus is `private[spark]`, hence this shim package. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
