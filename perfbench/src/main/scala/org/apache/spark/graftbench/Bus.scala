package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; counters read before the bus
  * drains would miss the tail of the last job. The drain hook is
  * package-private to Spark, hence this shim.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
