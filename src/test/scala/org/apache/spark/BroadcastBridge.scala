package org.apache.spark

import scala.util.Try

import org.apache.spark.storage.BroadcastBlockId

/** The driver's live broadcasts: id → class name of the value its block
  * manager holds (blocks stored serialized or spilled are left out). */
object BroadcastBridge {
  def values(): Map[Long, String] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap {
      case id @ BroadcastBlockId(bid, _) =>
        Try(bm.memoryStore.getValues(id)).toOption.flatten
          .flatMap(_.toSeq.headOption).map(v => bid -> v.getClass.getName)
      case _ => None
    }.toMap
  }
}
