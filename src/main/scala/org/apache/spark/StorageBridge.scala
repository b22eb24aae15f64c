package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/** Access to `private[spark]` storage accounting. A cached value that
  * mixes in [[StorageBridge.Sized]] reports its own `estimatedSize`
  * (off-heap bytes included) instead of having its fields walked;
  * [[memoryBytes]] reads what the block manager holds for given RDDs,
  * and [[cachedHere]] / [[cachedAnywhere]] whether one partition's
  * block is cached. */
object StorageBridge {
  trait Sized extends util.KnownSizeEstimation

  /** Memory bytes of each listed RDD's cached blocks on every block
    * manager, as the master records them (an RDD with none is absent). */
  def memoryBytes(sc: SparkContext, rddIds: Set[Int]): Map[Int, Long] =
    sc.env.blockManager.master.getStorageStatus.toSeq.flatMap(_.rddBlocks).collect {
      case (RDDBlockId(id, _), s) if rddIds(id) => id -> s.memSize
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** Whether this JVM's memory store holds `rdd`'s block of `split`. */
  def cachedHere(rdd: RDD[_], split: Int): Boolean =
    SparkEnv.get.blockManager.memoryStore.contains(RDDBlockId(rdd.id, split))

  /** Whether any block manager holds it, as the master records. */
  def cachedAnywhere(rdd: RDD[_], split: Int): Boolean =
    SparkEnv.get.blockManager.master.getLocations(RDDBlockId(rdd.id, split)).nonEmpty
}
