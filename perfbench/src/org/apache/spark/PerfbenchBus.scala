package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so the
  * traced run's listener holds all jobs and tasks before it is read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
