package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.VectorCollection
import graft.index.Embedder

/** The reference's incremental indexing loop as a stream: new
  * documents arrive → embed → upsert-if-absent into a collection
  * (`index_folders` re-run on a schedule,
  * `with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:204-286`,
  * minus its duplicate-on-reindex bug).
  *
  * Implementation: file-source readStream → embedding projection →
  * `foreachBatch` calling [[VectorCollection.upsertIncremental]].
  * foreachBatch is the idiomatic sink when the write needs batch-side
  * semantics (here: the anti-join dedup); at scale each micro-batch is
  * one bounded append with exactly-once via the streaming checkpoint +
  * idempotent ids. A collection with an IVF index
  * ([[VectorCollection.buildIvfIndex]]) stays indexed: each appended
  * point is assigned its cluster as it is written, so the stream is
  * also the live ANN indexer — Qdrant's background indexing of fresh
  * upserts, which the reference approximates by re-running its indexer
  * on a schedule.
  */
object IncrementalIndex {

  /** Run the stream to completion over the bounded documents fixture,
    * upserting embedded points into `collection`. Returns micro-batch
    * count processed. */
  def run(
      spark: SparkSession,
      sfDir: String,
      collection: VectorCollection,
      checkpoint: String): Long =
    runWith(spark, sfDir, checkpoint, b => { collection.upsertIncremental(b); () })

  /** Same stream with true Qdrant REPLACE semantics per micro-batch
    * (`client.upsert` overwrites by id): an edited document re-arriving
    * on the stream replaces its stale point instead of being skipped.
    * Each batch is one file-granular MERGE
    * ([[graft.index.Sink.upsertReplace]]); the streaming checkpoint
    * plus by-id idempotence give exactly-once effective state. */
  def runReplacing(
      spark: SparkSession,
      sfDir: String,
      collection: VectorCollection,
      checkpoint: String): Long =
    runWith(spark, sfDir, checkpoint, b => { collection.upsertReplace(b); () })

  private def runWith(
      spark: SparkSession,
      sfDir: String,
      checkpoint: String,
      sink: DataFrame => Unit): Long = {
    val schema = spark.read.parquet(s"$sfDir/documents.parquet").schema
    var batches = 0L
    val stream = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(sfDir)
      .withColumn("_th", Embedder.tokenHashes(col("text")))
      .select(
        Embedder.stringHash64(col("text")).as("point_id"),
        Embedder.embedRaw(col("_th")).cast("array<float>").as("embedding"),
        col("doc_id"), col("source").as("folder"))
    val q = stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(batch)
        batches += 1
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    batches
  }
}
