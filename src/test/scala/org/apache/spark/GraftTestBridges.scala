package org.apache.spark

/** Test-only bridge into Spark package-private API (the main-source
  * analog is `org.apache.spark.sql.GraftColumnBridge`): the listener
  * bus flush lets HofGuardSpec assert on asynchronously-delivered
  * QueryExecutionListener events without sleeping; the block count
  * sees cached RDD blocks that outlive their RDD object until the
  * ContextCleaner gets to them; a dropped block stands in for one lost
  * with its executor. */
object GraftTestBridges {
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** Ids of the RDDs that hold at least one block in any block manager. */
  def rddsWithBlocks(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master.getStorageStatus
      .flatMap(_.rddBlocks.keys.collect { case b: storage.RDDBlockId => b.rddId }).toSet

  /** Remove one block of RDD `rddId` from the block manager holding it
    * and tell the master, as the loss of its executor would. */
  def dropBlock(sc: SparkContext, rddId: Int): Unit = {
    val bm = sc.env.blockManager
    val block = bm.master.getStorageStatus.iterator.flatMap(_.rddBlocks.keys)
      .collectFirst { case b: storage.RDDBlockId if b.rddId == rddId => b }
      .getOrElse(throw new IllegalArgumentException(s"RDD $rddId holds no block"))
    bm.removeBlock(block, tellMaster = true)
  }
}
