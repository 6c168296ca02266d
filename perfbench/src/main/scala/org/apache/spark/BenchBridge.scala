package org.apache.spark

/** Waits until every posted listener event has been delivered, so that the
  * traced phase's job and stage totals are complete when they are read.
  */
object BenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
