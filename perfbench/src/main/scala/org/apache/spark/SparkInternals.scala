package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark internals the benchmark's listener needs; both are
  * package-private to Spark, hence this file's package. */
object SparkInternals {
  /** Waits until every event already posted to the listener bus has been
    * delivered, so a listener's totals are complete when they are read. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether the stage writes shuffle output (else it is a result stage). */
  def isShuffleMap(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
