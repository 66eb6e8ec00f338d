package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Shim for `private[spark]` access: block until every event posted so
  * far (job ends, SQL execution ends and the QueryExecutionListener
  * callbacks they drive) has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
