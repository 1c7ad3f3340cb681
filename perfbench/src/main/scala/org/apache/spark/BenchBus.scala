package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Two Spark internals the benchmark's listeners need: waiting on the
  * listener bus, so a traced run reads its counters only after every event
  * is delivered, and whether a stage is a shuffle map stage (an exchange). */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMap(si: StageInfo): Boolean = si.shuffleDepId.isDefined
}
