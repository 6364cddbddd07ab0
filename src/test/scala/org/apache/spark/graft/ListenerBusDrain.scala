package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * listener's view of the jobs run so far is complete. The bus is private
  * to Spark; specs that count jobs or capture plans need this one call. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
