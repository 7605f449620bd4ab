package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test access to the private[spark] listener bus: wait until every event
  * posted so far has reached the listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
