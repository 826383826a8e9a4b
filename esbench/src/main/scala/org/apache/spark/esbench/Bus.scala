package org.apache.spark.esbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the benchmark drains the bus
  * before it reads what its listeners counted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
