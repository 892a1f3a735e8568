package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Test access to Spark's listener bus, which delivers events to
  * listeners asynchronously. */
object ListenerBus {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
