package org.apache.spark

/** The one `private[spark]` hook the harness needs: block until every
  * listener event posted so far has been delivered, so the traced
  * counters are complete when they are read. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
