package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private; the benchmark's tracer needs to
  * wait until every queued event has reached its listener before it
  * reads what the listener saw.
  */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
