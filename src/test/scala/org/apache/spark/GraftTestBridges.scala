package org.apache.spark

/** Test-only bridge into Spark package-private API (the main-source
  * analog is `org.apache.spark.sql.GraftColumnBridge`): the listener
  * bus flush lets HofGuardSpec assert on asynchronously-delivered
  * QueryExecutionListener events without sleeping; the block count
  * sees cached RDD blocks that outlive their RDD object until the
  * ContextCleaner gets to them. */
object GraftTestBridges {
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Ids of the RDDs that hold at least one block in any block manager. */
  def rddsWithBlocks(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master.getStorageStatus
      .flatMap(_.rddBlocks.keys.collect { case b: storage.RDDBlockId => b.rddId }).toSet
}
