package org.apache.spark

import scala.util.Try

import org.apache.spark.storage.BroadcastBlockId

/** Ids of the broadcast values the driver's block manager holds, task
  * binaries (byte arrays the scheduler broadcasts per stage) excluded:
  * what a driver-side call broadcast and has not destroyed, until the
  * context cleaner reclaims it. The block manager is internal to Spark,
  * hence this accessor in Spark's package.
  */
object TestBroadcasts {
  def live(sc: SparkContext): Set[Long] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.collect { case b: BroadcastBlockId => b }
      .filter { b =>
        Try(bm.memoryStore.getValues(b)).toOption.flatten
          .exists(vs => vs.hasNext && !vs.next().isInstanceOf[Array[Byte]])
      }
      .map(_.broadcastId).toSet
  }
}
