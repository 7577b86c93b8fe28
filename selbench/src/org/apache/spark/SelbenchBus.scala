package org.apache.spark

/** The listener bus is private to Spark; the benchmark's tracer needs to
  * wait for it to deliver every event before reading its records. */
object SelbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
