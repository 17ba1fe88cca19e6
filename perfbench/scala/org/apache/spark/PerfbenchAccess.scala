package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until every
  * queued listener event has been delivered, so the per-span job and
  * task counts are complete before they are read.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
