package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Listener events are delivered on Spark's bus thread; a harness that reads
  * a listener's counters waits for the bus to empty first, so every event of
  * the work just finished is counted and none spills into the next reading. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
