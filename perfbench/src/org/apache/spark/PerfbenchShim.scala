package org.apache.spark

import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** Package hops into `private[spark]` state the benchmark only reads. */
object PerfbenchShim {

  /** Block until every listener event posted so far has been delivered. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** (RDD blocks, distinct broadcasts) the driver's block manager holds. */
  def heldBlocks(): (Int, Int) = {
    val ids = SparkEnv.get.blockManager.getMatchingBlockIds(_ => true)
    (ids.count(_.isInstanceOf[RDDBlockId]),
      ids.collect { case b: BroadcastBlockId => b.broadcastId }.distinct.size)
  }
}
