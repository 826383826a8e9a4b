package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; a test that counts what a
  * listener saw drains the bus first. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
