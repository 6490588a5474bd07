package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the listener bus, whose drain is private to Spark: a
  * spec that counts jobs with a SparkListener drains the bus before it
  * reads the count.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
