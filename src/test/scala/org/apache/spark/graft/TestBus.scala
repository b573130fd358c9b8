package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is package-private in Spark. A test that counts jobs
  * with a SparkListener drains it before reading its count. */
object TestBus {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
