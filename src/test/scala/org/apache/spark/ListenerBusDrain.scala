package org.apache.spark

/** The listener bus is package-private: a test that counts Spark jobs
  * drains it before reading its listener, or the events of the call just
  * counted may still be queued.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
