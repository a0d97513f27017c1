package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so
  * span attribution reads complete job/stage/task records. The bus is
  * internal to Spark, hence this accessor in Spark's package.
  */
object MembenchBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
