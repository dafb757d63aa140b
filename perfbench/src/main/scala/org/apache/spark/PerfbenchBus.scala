package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so the
  * benchmark can attribute Spark's events to the call that caused them.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
