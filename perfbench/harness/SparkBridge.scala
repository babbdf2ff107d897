package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is package-private; the tracer must drain it before
  * reading its counters, or events of the call just timed are still queued.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
