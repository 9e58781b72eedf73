package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark delivers listener events on an asynchronous bus; the traced run
  * drains it before reading its listeners, so every event of a finished
  * call is counted. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
