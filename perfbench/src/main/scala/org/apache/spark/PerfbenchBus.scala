package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * The listener bus is package-private to Spark, hence this bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
