package org.apache.spark

/** The two scheduler details the benchmark's tracing needs that Spark
  * keeps package-private. */
object WarmbenchBus {
  /** Drains the listener bus, so a listener has seen every event of the
    * actions that already returned. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** True for a shuffle map stage (one that writes shuffle output). */
  def isShuffleMap(i: scheduler.StageInfo): Boolean = i.shuffleDepId.isDefined
}
