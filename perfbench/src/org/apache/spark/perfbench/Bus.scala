package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events are delivered on Spark's bus thread; the traced run waits
  * for the bus to empty at op boundaries so each event lands on its op. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
