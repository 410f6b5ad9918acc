package org.apache.spark.sql

import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.StorageLevel

/** An in-memory columnar copy of a DataFrame that the session's
  * CacheManager never sees (same bridging stance as
  * [[GraftColumnBridge]]: `InMemoryRelation` and `classic.Dataset.ofRows`
  * are `private[sql]`).
  *
  * `Dataset.cache()` registers its plan with the CacheManager, which
  * then substitutes the cached data into every later query whose plan
  * is canonically equal — and a parquet scan's file index compares by
  * root paths only, so a cached directory read would also answer later
  * reads of the same directory after its files changed. The relation
  * built here is referenced only by the frame returned, so only scans
  * of that frame use it. The copy fills lazily, inside the first job
  * that scans it.
  */
object GraftResidentBridge {

  final class Resident private[GraftResidentBridge] (
      val frame: DataFrame, relation: InMemoryRelation) {
    /** Drop the copy's blocks; a later scan of `frame` would rebuild
      * them from the source plan. */
    def free(): Unit = relation.cacheBuilder.clearCache(blocking = false)
  }

  def resident(df: DataFrame, level: StorageLevel): Resident = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val relation = InMemoryRelation(level, ds.queryExecution, None)
    new Resident(classic.Dataset.ofRows(ds.sparkSession, relation), relation)
  }
}
