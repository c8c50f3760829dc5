package org.apache.spark

/** The listener bus is private to Spark; the traced run must wait until
  * every queued job, task, block and progress event has reached its
  * listeners before it reads them. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
