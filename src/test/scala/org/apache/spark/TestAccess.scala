package org.apache.spark

/** The one `private[spark]` hook the build-job count in QueriesSpec
  * needs: block until every listener event posted so far has been
  * delivered, so the counts are complete when they are read. */
object TestAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
