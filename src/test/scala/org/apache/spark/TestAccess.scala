package org.apache.spark

/** The `private[spark]` hooks the tests need. */
object TestAccess {
  /** Blocks until every listener event posted so far has been
    * delivered, so QueriesSpec's build-job counts are complete when
    * they are read. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Unsets the context's checkpoint dir — `SparkContext` can set one
    * but offers no public way back to "none". */
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None
}
