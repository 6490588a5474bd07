package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run reads its listener counters only after every queued
  * task, stage and streaming event has been delivered.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
