package org.apache.spark

/** Main-source bridge into Spark's package-private listener bus (the
  * test twin is `GraftTestBridges`; the SQL twin is
  * `org.apache.spark.sql.GraftColumnBridge`). CkptDrill and QueryProf
  * read listener-fed counters after a run; a fixed sleep races a
  * backlogged bus (late ExecutorRemoved/TaskEnd delivery made the
  * drill flakily claim no kill landed; the drill's recovery contract
  * is BENCH_NOTES "r17: the durability contract drilled under a REAL
  * executor death"), while a bus drain is exact. */
object GraftListenerBridge {
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** [[waitUntilListenerBusEmpty]] for callers that must keep what
    * they already computed: false on timeout instead of a
    * `TimeoutException`. */
  def drained(sc: SparkContext, timeoutMs: Long): Boolean =
    try { waitUntilListenerBusEmpty(sc, timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
