package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus drain is private to Spark; traced runs need it so that
  * every counter of a call is in before the call's numbers are read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
