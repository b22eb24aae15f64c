package org.apache.spark

import org.apache.spark.memory.MemoryMode
import org.apache.spark.storage.TestBlockId

/** Access to the `private[spark]` block manager master and memory
  * manager: to drop an RDD's cached blocks the way an eviction does (the
  * RDD keeps its storage level, so its next job rebuilds and caches them
  * again), and to run code while no new block fits in storage memory. */
object BlockManagerBridge {
  def removeRdd(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)

  /** Runs `f` while all but 1 KB of this JVM's on-heap storage memory is
    * taken: every other cached block is evicted first, and a new block
    * put in that time is not cached. A block that another thread holds
    * locked (a killed task still reading it, the context cleaner removing
    * it) cannot be evicted, and then none is; the memory is asked for
    * again, for up to 10 s, until such locks are released. */
  def withStorageFull[T](sc: SparkContext)(f: => T): T = {
    val mm = sc.env.memoryManager
    val deadline = System.nanoTime() + 10000000000L
    def take(): Long = {
      val held = mm.maxOnHeapStorageMemory - 1024
      if (mm.acquireStorageMemory(TestBlockId("storage-full"), held, MemoryMode.ON_HEAP)) held
      else {
        require(System.nanoTime() < deadline, s"could not take $held bytes of storage memory: " +
          s"storage used ${mm.onHeapStorageMemoryUsed}, execution used ${mm.onHeapExecutionMemoryUsed}, " +
          s"unroll ${sc.env.blockManager.memoryStore.currentUnrollMemory}, " +
          s"active stages ${sc.statusTracker.getActiveStageIds().mkString(",")}")
        Thread.sleep(50)
        take()
      }
    }
    val held = take()
    try f finally mm.releaseStorageMemory(held, MemoryMode.ON_HEAP)
  }
}
