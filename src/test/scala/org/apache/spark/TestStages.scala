package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** Whether a submitted stage is a shuffle-map stage (it writes shuffle
  * output for a later stage) rather than a job's result stage. The
  * stage's shuffle id is internal to Spark, hence this accessor in
  * Spark's package.
  */
object TestStages {
  def isShuffleMap(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
