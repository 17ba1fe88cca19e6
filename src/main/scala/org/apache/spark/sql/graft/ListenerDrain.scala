package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Blocks until every queued listener event has been delivered, so
  * counts a `SparkListener` keeps are complete when read. The listener
  * bus is `private[spark]`, hence the accessor lives inside that
  * package (the [[Bridge]] pattern).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
