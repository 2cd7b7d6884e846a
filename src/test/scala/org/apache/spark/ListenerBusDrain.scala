package org.apache.spark

/** Test access to Spark's asynchronous listener bus: blocks until every
  * event posted so far (including QueryExecutionListener callbacks) has
  * been delivered. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
