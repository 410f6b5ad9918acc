package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.{CollectionConfig, VectorCollection}
import graft.index.{Embedder, FeatureHashModel, Ingest}
import graft.search.{Filter, MatchAnyOf, TopK}

/** The reference lifecycle, end to end, as one readable walkthrough —
  * the artifact a new user runs first. Every stage below is the exact
  * operator the correctness suite gates; nothing here is demo-only
  * code. The flow mirrors the reference scripts stage for stage:
  *
  *  1. scan       — folder fan-out + case-insensitive image-suffix
  *                  filter (`shared/get_all_folder_details.py:57-78`,
  *                  `with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:143-163`)
  *  2. decode     — fault-tolerant: corrupt files flagged + counted,
  *                  never thrown (`...py:165-173,212`)
  *  3. embed      — token-matrix embedding through the [[ModelEmbedder]]
  *                  inference seam (executor-side batches, the
  *                  DataLoader shape; the deterministic
  *                  [[FeatureHashModel]] stands in for ColPali — a real
  *                  backend swaps in behind the same trait)
  *  4. index      — ensure-collection + INCREMENTAL upsert
  *                  (`...py:116-141,191-202`; the second upsert writes
  *                  0 rows — the duplicate-on-reindex fix, SURVEY §7.6)
  *  5. search     — query embedded through the SAME seam, payload
  *                  filter, MaxSim late-interaction top-5, and the
  *                  reference's result projection with 'Unknown'
  *                  defaults (`with_colpali_v1.3/qdrant_query_with_colpali.py:86-138`)
  *
  * Run:
  * {{{
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *   sbt "runMain graft.Demo"
  * }}}
  * Prints the searcher's output shape (score | file | path per hit),
  * like the reference's `__main__` walkthrough. */
/** What one [[Demo.run]] did — returned so DemoSpec can pin the
  * lifecycle invariants the walkthrough prints. */
final case class DemoSummary(
    listed: Long,
    scanned: Long,
    processed: Long,
    failed: Long,
    wrote: Long,
    reWrote: Long,
    /** per query: (query, top hits as (filename, score)). */
    results: Seq[(String, Seq[(String, Double)])])

object Demo {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local()
    try run(spark, sfDir)
    finally spark.stop()
  }

  def run(spark: SparkSession, sfDir: String): DemoSummary = {
    // ---- 1. scan: folder fan-out, recursive listing semantics, the
    // case-insensitive {jpg, jpeg, png} suffix filter
    val docs = Tables.t(spark, sfDir, "documents")
    val pathed = Ingest.withPaths(docs)
    val scanned = Ingest.imageScanFilter(pathed)
    // each count once — printed here, reused in the summary (the
    // r17 review caught the walkthrough re-running its scans)
    val listedN = pathed.count()
    val scannedN = scanned.count()
    val folderN = docs.select("source").distinct().count()
    println(s"[demo] scan: $scannedN image files " +
      s"(of $listedN listed) under $folderN folders")

    // ---- 2. fault-tolerant decode + run counters (the reference's
    // stats dict: processed / failed)
    val decoded = Ingest.tolerantDecode(scanned)
    val statRows = Ingest.decodeStats(decoded).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val stats = statRows.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(", ")
    println(s"[demo] decode: $stats (corrupt files flagged and counted, never thrown)")

    // ---- 3. embed through the inference seam: executor-side batches,
    // one token MATRIX per document (16-token chunks — the ColPali
    // multi-vector shape). A real model backend replaces this case
    // class; everything downstream is untouched.
    val model = FeatureHashModel(dim = Embedder.DefaultDim, chunkTokens = Some(16))
    val points = Ingest.buildPointsWith(decoded, model)
      .select("point_id", "mv", "filename", "relative_path", "full_path", "folder",
        "indexed_at")
    println(s"[demo] embed: model=${model.name} dim=${model.dim} (multi-vector, 16-token chunks)")

    // ---- 4. ensure + incremental upsert
    val colPath = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_demo_${System.nanoTime()}").toString
    val coll = VectorCollection.ensure(spark, colPath, points,
      CollectionConfig(idCol = "point_id", vectorCol = "mv",
        dim = model.dim, multiVector = true))
    val wrote = coll.upsertIncremental(points)
    val again = coll.upsertIncremental(points)
    println(s"[demo] index: upserted $wrote points into $colPath; " +
      s"re-index wrote $again (incremental — the reference's duplicate-on-reindex, fixed)")
    require(again == 0L, "re-index must be a no-op")

    // ---- 5. search: embed the query through the SAME seam (B5),
    // filter the payload (E4), MaxSim top-5 (D2), 'Unknown' defaults (D3)
    // one query from the corpus itself (retrieves its own page — the
    // source doc must be an indexed one, i.e. an image that decoded)
    // plus the reference's own example phrasing
    val selfRow = decoded.filter(col("decode_ok")).orderBy("doc_id")
      .select("text", "source").head
    val selfQuery = selfRow.getString(0).split(" ").take(12).mkString(" ")
    // the filter set always contains the self-document's folder BY
    // CONSTRUCTION — the r17 review caught the old take(4) admitting
    // it only by string-sort luck (a fixture rename would silently
    // filter the demo's own headline document out of its search)
    val sources = (docs.select("source").distinct().orderBy("source")
      .collect().map(_.getString(0)).take(3).toSeq :+ selfRow.getString(1)).distinct
    val payloadFilter = Filter(must = Seq(MatchAnyOf("folder", sources)))
    println(s"[demo] search filter: folder ∈ {${sources.mkString(", ")}} " +
      "(Qdrant-style payload filter, pushed to the parquet scan)")
    val queries = Seq(selfQuery, "What was the total revenue in 2023?")
    val results = queries.map { q =>
      val t0 = System.nanoTime()
      println(s"\nSearch query: '${q.take(60)}'")
      val qMatrix: Seq[Seq[Float]] =
        model.embedBatch(Seq(q)).head.map(_.toSeq).toSeq
      val qFrame = spark.range(1).select(typedlit(qMatrix).as("q"))
      // a collection IS a parquet dataset — the open composition
      // surface for anything the facade doesn't wrap
      val indexed = spark.read.parquet(colPath)
      val hits = TopK.maxSim(
        indexed.filter(payloadFilter.toColumn),
        qFrame, "point_id", "mv", k = 5)
      val shown = TopK.formatResults(
        hits.join(indexed.select("point_id", "filename", "relative_path", "full_path"),
          Seq("point_id")),
        keep = Seq("point_id", "score"),
        payloadCols = Seq("filename", "relative_path", "full_path"))
        .orderBy(col("score").desc, col("point_id").asc)
        .collect()
      println(s"Found ${shown.length} results:")
      shown.zipWithIndex.foreach { case (r, i) =>
        println(f"${i + 1}. Score: ${r.getDouble(1)}%.3f | File: ${r.getString(2)}")
        println(s"   Path: ${r.getString(4)}")
      }
      println(f"Execution time: ${(System.nanoTime() - t0) / 1e9}%.4f seconds")
      q -> shown.map(r => (r.getString(2), r.getDouble(1))).toSeq
    }
    DemoSummary(
      listed = listedN, scanned = scannedN,
      processed = statRows.getOrElse("processed", 0L),
      failed = statRows.getOrElse("failed", 0L),
      wrote = wrote, reWrote = again, results = results)
  }
}

// Spec hook: DemoSpec runs Demo.run end to end on sf0.001 and asserts
// the lifecycle invariants (scan counts, zero re-index rows, five
// hits, the self-query retrieving its own document).
