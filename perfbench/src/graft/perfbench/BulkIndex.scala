package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.api.{CollectionConfig, VectorCollection}
import graft.index.Ingest
import graft.streaming.IncrementalIndex

/** The write path. One cycle builds a text collection from a corpus
  * through `Ingest.buildPoints` and fixed-size synchronous `upsert`
  * batches (the reference's per-batch `wait=True` upsert), replaces an
  * edited 1% slice, streams a fresh slice into a streaming collection
  * through `IncrementalIndex.run`, compacts, then loads precomputed
  * float32 vectors into a second collection and builds its IVF index.
  * Cycles repeat on fresh directories until the run's time is up.
  * Search does no work here. */
final class BulkIndex(ctx: Ctx) extends Workload {
  import BulkIndex._

  val name = "bulk_index"
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private val copies = Gen.copies(ctx.rng, DocCopies + 2)
  private val vecCopies = Gen.copies(ctx.rng, VecCopies)
  private val editSalt = ctx.rng.nextInt(1000)

  private var in: Inputs = _
  private var cycleNo = 0
  private var last: Option[Built] = None

  private case class Inputs(
      corpus: String, edited: String, freshDir: String, vectors: String,
      batches: Seq[(Long, Long, Long)], points: Long, editedIds: Seq[Long],
      freshRows: Long, vectorRows: Long, inputBytes: Long,
      corpusRows: Long, corpusBytes: Long, vectorBytes: Long)

  private case class Built(text: VectorCollection, stream: VectorCollection,
      vec: VectorCollection, ivf: String)

  def setup(dir: String): Unit = {
    val base = Gen.baseDocs(spark, BaseDocs)
    val corpus = Gen.docsCopies(base, copies.take(DocCopies))
    val (corpusRows, corpusBytes) = Gen.write(corpus, s"$dir/corpus", 4)
    // the edited slice: same ids (so the same point ids), new text
    val edited = spark.read.parquet(s"$dir/corpus")
      .filter(pmod(hash(col("doc_id"), lit(editSalt)), lit(100)) === 0 &&
        col("doc_id") % 97 =!= 0)
      .withColumn("text", concat(col("text"), lit(" edited")))
    val (_, editedBytes) = Gen.write(edited, s"$dir/edited", 1)
    val editedIds = spark.read.parquet(s"$dir/edited").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    // the fresh slice arrives on the stream: a copy index of its own
    val fresh = graft.ScaleData.docsCopy(base.orderBy("doc_id").limit(FreshDocs),
      copies(DocCopies))
    val freshBytes = Gen.writeSingle(fresh, s"$dir/fresh")
    val vectors = Gen.vectorCopies(Gen.baseVectors(spark, BaseVectors), vecCopies)
    val (vectorRows, vectorBytes) = Gen.write(vectors, s"$dir/vectors", 4)
    // fixed-size batches over the decodable ids, in id order
    val ids = spark.read.parquet(s"$dir/corpus")
      .filter(col("doc_id") % 97 =!= 0).select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val batches = ids.grouped(BatchRows).map(g => (g.head, g.last, g.length.toLong)).toSeq
    in = Inputs(s"$dir/corpus", s"$dir/edited", s"$dir/fresh", s"$dir/vectors",
      batches, ids.length.toLong, editedIds, FreshDocs.toLong, vectorRows,
      corpusBytes + editedBytes + freshBytes + vectorBytes,
      corpusRows, corpusBytes, vectorBytes)
  }

  /** One cycle over the first batch only. */
  override def warm(): Unit = {
    cycle(ctx.dir("warm"), in.batches.take(1), timed = false)
    Disk.delete(ctx.dir("warm"))
  }

  def sizes: Map[String, Any] = Map(
    "corpus_rows" -> in.corpusRows, "corpus_bytes" -> in.corpusBytes,
    "points" -> in.points, "upsert_batch_rows" -> BatchRows,
    "upsert_batches" -> in.batches.size, "edited_rows" -> in.editedIds.size,
    "stream_rows" -> in.freshRows, "vector_rows" -> in.vectorRows,
    "vector_bytes" -> in.vectorBytes, "ivf_clusters" -> IvfClusters,
    "ivf_lloyd_iters" -> IvfIters, "input_bytes" -> in.inputBytes)

  def measure(): Unit = {
    while (cycleNo == 0 || ctx.timeLeft) {
      cycleNo += 1
      val dir = ctx.dir(s"cycle$cycleNo")
      last.foreach(b => Disk.delete(new java.io.File(b.text.path).getParent))
      last = cycle(dir, in.batches, timed = true)
    }
    ctx.info("cycles") = cycleNo
    ctx.info("space_amp") = spaceAmp
  }

  /** Build the text collection and everything after it under `dir`. */
  private def cycle(dir: String, batches: Seq[(Long, Long, Long)],
      timed: Boolean): Option[Built] = {
    def op[T](kind: String, units: Long)(body: => T): Option[T] =
      if (timed) ctx.op(kind, units)(body)() else Some(body)
    def countCheck(c: VectorCollection, want: Long, when: String): Unit =
      op("count", 1) {
        val n = tr.call("api", "count")(c.count)
        ctx.check("count.parity", n == want, s"count $n != $want $when")
      }
    val docs = spark.read.parquet(in.corpus)
    val points = op("buildPoints", in.points) {
      tr.query("index", "buildPoints")(
        Ingest.buildPoints(Ingest.tolerantDecode(Ingest.withPaths(docs)))
          .select(PointCols.map(col): _*).cache()) { df =>
        val n = df.count()
        ctx.check("buildPoints.rows", n == in.points, s"$n points, expected ${in.points}")
        df
      }
    }.getOrElse(return None)
    val text = VectorCollection.ensure(spark, s"$dir/text", points,
      CollectionConfig(idCol = "point_id", vectorCol = "embedding", dim = Gen.Dim,
        multiVector = false))
    var expected = 0L
    batches.foreach { case (lo, hi, rows) =>
      op("upsert", rows) {
        val wrote = tr.call("index", "upsert")(
          text.upsert(points.filter(col("doc_id").between(lo, hi))))
        ctx.check("upsert.rows", wrote == rows, s"wrote $wrote of $rows")
        expected += wrote
      }
    }
    countCheck(text, expected, "after upsert batches")
    points.unpersist()
    val edited = Ingest.buildPoints(Ingest.tolerantDecode(Ingest.withPaths(
      spark.read.parquet(in.edited)))).select(PointCols.map(col): _*)
    val nEdited = in.editedIds.size.toLong
    op("upsertReplace", nEdited) {
      val n = tr.call("index", "upsertReplace")(text.upsertReplace(edited))
      tr.last.counts("rows") = nEdited.toDouble
      ctx.check("upsertReplace.rows", n == nEdited, s"replaced $n of $nEdited")
    }
    // replaced ids keep the count; edited ids outside the upserted
    // batches are new points
    val appended = in.editedIds.count(id =>
      !batches.exists { case (lo, hi, _) => id >= lo && id <= hi }).toLong
    countCheck(text, expected + appended, "after upsertReplace")
    val stream = VectorCollection.ensure(spark, s"$dir/stream", streamLike(spark),
      CollectionConfig(idCol = "point_id", vectorCol = "embedding", dim = Gen.Dim,
        multiVector = false))
    op("stream", in.freshRows) {
      val b = tr.call("streaming", "IncrementalIndex.run")(
        IncrementalIndex.run(spark, in.freshDir, stream, s"$dir/stream_ckpt"))
      tr.last.counts("batches") = b.toDouble
    }
    countCheck(stream, in.freshRows, "after IncrementalIndex.run")
    op("compact", expected) {
      tr.call("index", "compact")(text.compact(CompactRows))
    }
    countCheck(text, expected + appended, "after compact")
    val vecs = spark.read.parquet(in.vectors)
    val vec = VectorCollection.ensure(spark, s"$dir/vectors", vecs,
      CollectionConfig(idCol = "vec_id", vectorCol = "embedding", dim = Gen.Dim,
        multiVector = false))
    op("upsertVectors", in.vectorRows) {
      val n = tr.call("index", "upsertVectors")(vec.upsert(vecs))
      ctx.check("upsertVectors.rows", n == in.vectorRows, s"wrote $n of ${in.vectorRows}")
    }
    countCheck(vec, in.vectorRows, "after vector load")
    val ivf = op("buildIvfIndex", in.vectorRows) {
      val p = tr.call("api", "buildIvfIndex")(vec.buildIvfIndex(IvfClusters, IvfIters))
      val s = tr.last
      s.counts("points") = in.vectorRows.toDouble
      s.counts("clusters") = IvfClusters.toDouble
      s.counts("iters") = IvfIters.toDouble
      p
    }.getOrElse("")
    op("count", 1) {
      val n = spark.read.parquet(ivf).count()
      ctx.check("ivf.rows", n == in.vectorRows, s"index holds $n of ${in.vectorRows}")
    }
    Some(Built(text, stream, vec, ivf))
  }

  /** Bytes on disk per input byte: collections plus the IVF index. */
  private def spaceAmp: Double = last.map { b =>
    (Seq(b.text.path, b.stream.path, b.vec.path).map(Disk.bytes).sum +
      Disk.bytes(b.ivf)).toDouble / in.inputBytes
  }.getOrElse(0.0)

  /** Build an IVF index on the `buildPoints` collection, as a user
    * would. Runs after the timed phase so neither its time nor its
    * eventual success moves a timed metric. */
  override def probe(): Seq[(String, Option[String])] = last.toSeq.map { b =>
    val err =
      try {
        tr.call("api", "buildIvfIndex.onBuildPoints")(
          b.text.buildIvfIndex(IvfClusters, IvfIters))
        None
      } catch { case e: Exception => Some(Tracer.describe(e)) }
    "buildIvfIndex on the Ingest.buildPoints collection" -> err
  }
}

object BulkIndex {
  val BaseDocs = 5000L
  val DocCopies = 1
  val BatchRows = 500
  val FreshDocs = 500
  val BaseVectors = 2000
  val VecCopies = 1
  val IvfClusters = 8
  val IvfIters = 1
  val CompactRows = 4096L

  /** The payload a text point keeps: the reference's text-indexer
    * payload (filename, folder, content) plus ids. */
  val PointCols = Seq("point_id", "embedding", "doc_id", "text", "lang",
    "folder", "filename", "indexed_at")

  /** An empty frame with the streaming indexer's point schema. */
  def streamLike(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.range(0).select(col("id").as("point_id"),
      typedlit(Seq.empty[Float]).as("embedding"), col("id").as("doc_id"),
      lit("").as("folder"))
}
