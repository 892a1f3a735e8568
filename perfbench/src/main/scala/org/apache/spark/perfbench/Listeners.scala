package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerEvent

/** The benchmark's access to Spark's listener bus, which is internal to
  * Spark. */
object Listeners {
  /** Deliver `e` to every listener after the events posted before it. */
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = sc.listenerBus.post(e)

  /** Block until every event posted so far has reached every listener,
    * the query-execution listeners included. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
