package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener-bus access for the traced run. Spark delivers listener events
  * asynchronously; counts read before the bus drains would miss the tail
  * of the last job. `waitUntilEmpty` is Spark-internal, hence this shim in
  * Spark's package namespace. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
