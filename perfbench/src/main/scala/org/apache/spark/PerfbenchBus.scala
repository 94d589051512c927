package org.apache.spark

/** Listener events reach listeners asynchronously. Tracing reads its
  * counts only after every event posted so far has been delivered, and
  * the bus's drain call is package-private to Spark. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
