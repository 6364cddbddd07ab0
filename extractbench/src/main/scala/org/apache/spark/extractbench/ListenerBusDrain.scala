package org.apache.spark.extractbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * listener's view of a finished job is complete. The bus is private to
  * Spark; this is the one call the benchmark needs from inside it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
