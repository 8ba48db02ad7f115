package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** Two `private[spark]` members the benchmark's listener needs. */
object BusBridge {
  /** Waits until every queued listener event has been delivered, so the
    * counters of a pass are complete before they are read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** Whether the stage writes shuffle output (a map stage). */
  def isShuffleMap(s: StageInfo): Boolean = s.shuffleDepId.nonEmpty
}
