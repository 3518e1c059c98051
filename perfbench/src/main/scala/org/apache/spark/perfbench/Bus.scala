package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered on Spark's bus thread; the traced run
  * reads its counters only after the bus has delivered every event
  * posted so far. The bus is private to Spark, hence this package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
