package org.apache.spark.graftbench

import org.apache.spark.{SparkContext, SparkEnv}

/** Reaches two `private[spark]` members: the listener bus, so the benchmark
  * can wait until every queued event reached its listener before it reads
  * the counts of a span, and the block manager's status, so it can wait
  * until unpersisted blocks are really gone before it starts a pass. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMillis: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)

  /** RDD blocks the block manager still holds. */
  def rddBlocks(): Int =
    SparkEnv.get.blockManager.master.getStorageStatus.map(_.rddBlocks.size).sum
}
