package org.apache.spark

/** The one Spark-internal the benchmark needs: block until every event
  * posted so far has reached the listeners, so a span's counter delta
  * is complete when the span closes.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
