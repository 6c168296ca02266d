package org.apache.spark

/** Test access to Spark-private hooks. */
object GraftTestBridge {
  /** Block until every event posted so far reached every listener, so a
    * test can count jobs without sleeping.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
