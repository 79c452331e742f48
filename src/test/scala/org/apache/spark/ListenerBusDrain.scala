package org.apache.spark

/** Test access to the listener bus drain: blocks until every event posted
  * so far (query-execution callbacks included) has been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
