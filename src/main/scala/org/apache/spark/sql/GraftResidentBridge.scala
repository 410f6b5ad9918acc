package org.apache.spark.sql

import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.storage.{BlockId, RDDBlockId, StorageLevel}

/** In-memory copies of a DataFrame that the session's CacheManager
  * never sees (same bridging stance as [[GraftColumnBridge]]:
  * `InMemoryRelation`, `classic.Dataset.ofRows` and
  * `internalCreateDataFrame` are `private[sql]`).
  *
  * `Dataset.cache()` registers its plan with the CacheManager, which
  * then substitutes the cached data into every later query whose plan
  * is canonically equal — and a parquet scan's file index compares by
  * root paths only, so a cached directory read would also answer later
  * reads of the same directory after its files changed. The copies
  * built here are referenced only by the frame returned, so only scans
  * of that frame use them. Both fill lazily, inside the first job that
  * scans them.
  */
object GraftResidentBridge {

  final class Resident private[GraftResidentBridge] (
      val frame: DataFrame, release: () => Unit, missing: () => Boolean) {
    /** Drop the copy's blocks. */
    def free(): Unit = release()

    /** Whether the copy has lost a block that it cannot recompute. */
    def lost: Boolean = missing()
  }

  /** A columnar copy of `df`; after [[Resident.free]] a later scan of
    * `frame` would rebuild it from the source plan. */
  def resident(df: DataFrame, level: StorageLevel): Resident = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val relation = InMemoryRelation(level, ds.queryExecution, None)
    // a lost block is recomputed from the source plan
    new Resident(classic.Dataset.ofRows(ds.sparkSession, relation),
      () => relation.cacheBuilder.clearCache(blocking = false), () => false)
  }

  /** A row copy of `df` as a lazy local checkpoint: the first job that
    * scans `frame` stores its rows and then cuts its lineage, so a copy
    * built from another copy's rows holds no reference to that copy's
    * plan. `replaces` is the copy this one was built from: its blocks
    * are freed once the cut has made them unneeded — on the driver,
    * inside the action whose job filled this copy — or when this copy
    * is freed first. After [[Resident.free]] the frame cannot be
    * scanned again. Once filled, the copy has no lineage to recompute a
    * block from: [[Resident.lost]] reports a block that no block
    * manager holds any more (its executor was lost).
    */
  def checkpointed(df: DataFrame, replaces: Option[Resident]): Resident = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val pending = new AtomicReference(replaces)
    val releaseReplaced = () => pending.getAndSet(None).foreach(_.free())
    val rdd = new CutRDD(ds.queryExecution.toRdd, releaseReplaced).localCheckpoint()
    val missing = () => rdd.isCheckpointed && {
      val blocks = Array.tabulate[BlockId](rdd.getNumPartitions)(RDDBlockId(rdd.id, _))
      rdd.sparkContext.env.blockManager.master.getLocations(blocks).exists(_.isEmpty)
    }
    // the SparkContext call, not `rdd.unpersist`, which warns on every
    // locally checkpointed RDD that it cannot be recomputed
    new Resident(ds.sparkSession.internalCreateDataFrame(rdd, ds.schema),
      () => { releaseReplaced(); rdd.sparkContext.unpersistRDD(rdd.id, blocking = false) },
      missing)
  }

  /** `df` as a lazy RELIABLE checkpoint whose rows are computed once.
    * `Dataset.checkpoint(eager = false)` computes them in the frame's
    * first action and again in the checkpoint write Spark runs after
    * that action. Here the first action also stores them (memory, then
    * disk), the write reads the stored blocks, and the blocks are
    * dropped once the written files have cut the lineage. The frame
    * keeps the source plan's statistics and partitioning, as
    * `checkpoint` does. Needs the context's checkpoint directory. */
  def storedCheckpoint(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    var rdd: RDD[InternalRow] = null
    rdd = new CutRDD(ds.queryExecution.toRdd, () => rdd.unpersist(blocking = false))
    rdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }

  /** `first`'s rows then `second`'s as one frame, partition i of it
    * reading partition i of each: `second` adds rows to `first`'s
    * tasks, and tasks only where it has more partitions. The planner
    * sizes the frame at `sizeInBytes`, as it sizes a file scan at its
    * files' bytes, so a join picks its strategy as it would on the
    * files (a frame with no statistics counts as unbounded). */
  def concatenated(first: DataFrame, second: DataFrame, sizeInBytes: Long): DataFrame = {
    val a = first.asInstanceOf[classic.Dataset[Row]]
    val b = second.asInstanceOf[classic.Dataset[Row]]
    require(a.schema == b.schema, s"concatenated frames differ: ${a.schema} vs ${b.schema}")
    val session = a.sparkSession
    classic.Dataset.ofRows(session, LogicalRDD(DataTypeUtils.toAttributes(a.schema),
      new ConcatRDD(a.queryExecution.toRdd, b.queryExecution.toRdd))(
      session, Some(Statistics(sizeInBytes))))
  }

  private final class ConcatRDD(first: RDD[InternalRow], second: RDD[InternalRow])
    extends RDD[InternalRow](first.sparkContext, Seq(first, second).map(parent =>
      new NarrowDependency(parent) {
        override def getParents(i: Int): Seq[Int] =
          if (i < parent.getNumPartitions) Seq(i) else Nil
      })) {

    override protected def getPartitions: Array[Partition] =
      Array.tabulate(first.getNumPartitions max second.getNumPartitions)(i =>
        ConcatPartition(i, first.partitions.lift(i), second.partitions.lift(i)))

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val p = split.asInstanceOf[ConcatPartition]
      p.first.fold(Iterator.empty[InternalRow])(first.iterator(_, context)) ++
        p.second.fold(Iterator.empty[InternalRow])(second.iterator(_, context))
    }
  }

  private final case class ConcatPartition(
      index: Int, first: Option[Partition], second: Option[Partition]) extends Partition

  /** `prev`'s rows, copied (a scan reuses its row objects). `onCut` runs
    * once the checkpoint has cut this RDD's lineage. */
  private final class CutRDD(
      private var prev: RDD[InternalRow], @transient private var onCut: () => Unit)
    extends RDD[InternalRow](prev) {

    override protected def getPartitions: Array[Partition] = prev.partitions

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
      prev.iterator(split, context).map(_.copy())

    override protected def clearDependencies(): Unit = {
      super.clearDependencies()
      prev = null
      val f = onCut
      onCut = null
      if (f != null) f()
    }
  }
}
