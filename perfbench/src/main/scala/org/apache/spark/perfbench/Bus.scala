package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark keeps the listener bus package-private. The tracer drains it at
  * every span boundary, so each counter delta is complete when it is read
  * (no sleep-and-poll settling).
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
