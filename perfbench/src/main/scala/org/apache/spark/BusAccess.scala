package org.apache.spark

/** The listener bus is private to Spark; the tracer drains it so every
  * event of a traced pass is delivered before its listener is removed. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
