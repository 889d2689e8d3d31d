package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two Spark-private reads the benchmark needs. `drain` runs
  * between passes, so that every task, job, stage and query-execution
  * event of a finished pass has been delivered before the pass's
  * numbers are read; `isShuffleMap` marks the stages that write an
  * exchange. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMap(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
