package org.apache.spark

/** Test access to the listener bus, which is package-private to Spark. */
object ListenerBusDrain {
  /** Waits until every event already posted has been delivered, so a
    * listener's totals are complete when they are read. */
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
