package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two `private[spark]` members the benchmark reads, hence this
  * file's package. */
object SparkInternals {
  /** Blocks until every queued listener event has been delivered, so the
    * task metrics of a finished job are complete before they are summed. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** True for a stage that writes shuffle output: one exchange that ran. */
  def isShuffleMap(s: StageInfo): Boolean = s.shuffleDepId.isDefined
}
