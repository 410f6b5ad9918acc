package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.vector.{HitHeap, Kernels}

/** Query-side operators (SURVEY.md §2 D1–D3): filtered top-k similarity
  * search over a vector table, reproducing the reference's
  * `client.query_points(collection, query=vec, limit=top_k)` call
  * (`with_vdr-2b-multi-v1/query_vdr_2b_multi_v1.py:78-83`,
  * `with_colpali_v1.3/qdrant_query_with_colpali.py:106-116`).
  *
  * Scale design: the query vector is a plan literal (no shuffle, no
  * broadcast job — the frame-query forms cross-join a one-row
  * broadcast and delegate to the same body); scoring is a codegen'd
  * projection over the scan; `ORDER BY score DESC LIMIT k` is
  * planned by Catalyst as TakeOrderedAndProject —
  * per-partition top-k heaps merged on the driver, so no global sort
  * and no shuffle of the scored table even at 10^9 rows. Payload
  * filters (E4) sit below the projection and push down to parquet.
  *
  * This object is the one ranking rule of the query APIs: [[metricFn]]
  * fixes each metric's score and direction, [[dense]] ranks a single
  * query (search, searchAnn, recommend, recommend with lookup) and
  * [[batch]] ranks every vector-request batch that needs its request
  * frame (query_batch, recommend_batch, filtered search_batch, the
  * k-NN join), broadcast onto the scan with a heap aggregate per
  * request. [[literalBatch]] ranks search_batch, whose request vectors
  * are literals: one job, per-partition heaps merged on the driver,
  * the same rows as [[dense]] per request. Scores round at 6dp and
  * ties break id ASC in all three.
  */
object TopK {

  /** The ONE Qdrant `Distance` → (score expression, ranks-ascending)
    * mapping, shared by every metric-aware operator so the metric
    * semantics cannot drift between them: `cosine`/`dot` are
    * similarities ranked DESC, `euclid`/`manhattan` are distances
    * ranked ASC. */
  private[graft] def metricFn(
      metric: String): ((Column, Column) => Column, Boolean) = metric match {
    case "cosine" => (Kernels.cosine, false)
    case "dot" => (Kernels.dot, false)
    case "euclid" => (Kernels.euclidean, true)
    case "manhattan" => (Kernels.manhattan, true)
    case other => throw new IllegalArgumentException(
      s"unknown distance metric '$other' (cosine|dot|euclid|manhattan)")
  }

  /** Dense top-k (D1): score every row of `points` against the query
    * vector `query` — a literal (`typedlit(vec)`) or a column of
    * `points` — and return the best k. Deterministic total order:
    * score DESC, id ASC tiebreak.
    *
    * `metric` selects the Qdrant Distance: `cosine` / `dot` rank
    * similarity DESC; `euclid` / `manhattan` are distances and rank
    * ASC (smaller = closer), with `scoreThreshold` flipping to a
    * ceiling — Qdrant's own threshold semantics per metric. Every
    * metric shares the same plan shape: codegen'd scoring projection
    * over the scan, TakeOrderedAndProject cut.
    */
  def dense(
      points: DataFrame,
      query: Column,
      idCol: String,
      vecCol: String,
      k: Int,
      payloadFilter: Column,
      scoreThreshold: Option[Double],
      metric: String): DataFrame = {
    val (scoreOf, asc) = metricFn(metric)
    val scored = points
      .filter(payloadFilter)
      .select(
        col(idCol),
        round(scoreOf(col(vecCol), query), 6).as("score"))
    // Qdrant score_threshold: drop hits past the floor (similarity) /
    // ceiling (distance) BEFORE the cut — fewer than k rows may
    // return. The filter sits inside the same projection stage, so it
    // costs nothing and SHRINKS the per-partition top-k heaps.
    scoreThreshold.fold(scored)(t =>
        scored.filter(if (asc) col("score") <= t else col("score") >= t))
      .orderBy(if (asc) col("score").asc else col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[dense]] against the single query vector in the one-row `query`
    * frame: the frame broadcasts onto the filtered scan and its
    * `queryVecCol` is the query column. */
  def dense(
      points: DataFrame,
      query: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      queryVecCol: String = "q",
      payloadFilter: Column = lit(true),
      scoreThreshold: Option[Double] = None,
      metric: String = "cosine"): DataFrame =
    dense(points.filter(payloadFilter).crossJoin(broadcast(query)),
      col(queryVecCol), idCol, vecCol, k, lit(true), scoreThreshold, metric)

  /** Vector-batch top-k: each request row of `reqs` — its id in
    * `keyCol`, its query vector in `qvCol` — broadcasts onto the scan
    * of `points` (vec_id, embedding, …), pairs failing `keep` drop, each
    * pair scores under `metric` as in [[dense]], and the per-request
    * top k rank through the bounded heap of
    * [[graft.ops.Similarity.rankHits]]: map-side partial, O(k) per
    * request through the shuffle, never Q copies of the corpus.
    * Output (`keyCol`, vec_id, score, rnk). */
  private[graft] def batch(
      points: DataFrame,
      reqs: DataFrame,
      keyCol: String,
      qvCol: String,
      k: Int,
      metric: String,
      keep: Option[Column] = None): DataFrame = {
    val (scoreOf, asc) = metricFn(metric)
    val crossed = points.crossJoin(broadcast(reqs))
    val scored = keep.fold(crossed)(crossed.filter)
      .select(col(keyCol), col("vec_id"),
        round(scoreOf(col("embedding"), col(qvCol)), 6).as("score"))
    graft.ops.Similarity.rankHits(scored, keyCol, k, ascending = asc)
  }

  /** Vector-batch top-k against literal request vectors, in ONE Spark
    * job over `points`: every row scores against every request in one
    * `transform` over the request matrix literal (scores rounded at 6dp
    * as in [[dense]]), each partition keeps a bounded
    * [[graft.vector.HitHeap]] per request, and the driver merges them —
    * TakeOrderedAndProject's per-partition heaps and driver merge,
    * once per request. No request frame broadcasts and nothing
    * shuffles. Each request ranks on its own, score DESC (ASC for
    * distance metrics) with id ASC on ties, so its rows equal [[dense]]
    * on its vector.
    *
    * The job runs when this is called; the result is a local frame
    * (q_id, `idCol`, score, rnk), empty with the same columns when
    * there are no requests.
    */
  private[graft] def literalBatch(
      points: DataFrame,
      requests: Seq[(Long, Seq[Float])],
      idCol: String,
      vecCol: String,
      k: Int,
      metric: String): DataFrame = {
    require(k > 0, s"batch top-k needs k > 0, got $k")
    val (scoreOf, asc) = metricFn(metric)
    // heaps rank DESC; a distance ranks ASC through its negation, which
    // is exact in doubles
    val sign = if (asc) -1.0 else 1.0
    val n = requests.size
    val heaps = Array.fill(n)(new HitHeap(k))
    if (n > 0) {
      val scores = transform(typedlit(requests.map(_._2)), q => round(scoreOf(col(vecCol), q), 6))
      points.select(col(idCol).cast("long"), scores).queryExecution.toRdd
        .mapPartitions { rows =>
          val local = Array.fill(n)(new HitHeap(k))
          rows.foreach { r =>
            if (!r.isNullAt(0)) {
              val id = r.getLong(0)
              val s = r.getArray(1)
              var j = 0
              while (j < n) {
                if (!s.isNullAt(j)) local(j).offer(sign * s.getDouble(j), id)
                j += 1
              }
            }
          }
          Iterator.single(local.map(_.best))
        }
        .collect()
        .foreach(_.zip(heaps).foreach { case (part, h) => h.offerAll(part) })
    }
    val rows = requests.zip(heaps).flatMap { case ((qid, _), h) =>
      h.best.toSeq.zipWithIndex.map { case ((s, id), i) => Row(qid, id, sign * s, i + 1L) }
    }
    val schema = StructType(Seq(
      StructField("q_id", LongType, nullable = false),
      StructField(idCol, LongType, nullable = false),
      StructField("score", DoubleType, nullable = false),
      StructField("rnk", LongType, nullable = false)))
    points.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** Multi-vector top-k (D2): MaxSim late interaction against the query
    * token-matrix `query` — a literal or a column of `docs`. */
  def maxSim(
      docs: DataFrame,
      query: Column,
      idCol: String,
      vecsCol: String,
      k: Int): DataFrame =
    docs
      .select(
        col(idCol),
        round(Kernels.maxsim(query, col(vecsCol)), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)

  /** [[maxSim]] against the one-row broadcast frame holding the query
    * token-matrix in `queryVecsCol`. */
  def maxSim(
      docs: DataFrame,
      query: DataFrame,
      idCol: String,
      vecsCol: String,
      k: Int,
      queryVecsCol: String = "q"): DataFrame =
    maxSim(docs.crossJoin(broadcast(query)), col(queryVecsCol), idCol, vecsCol, k)

  /** Result projection (D3): per-hit output with 'Unknown' defaults for
    * missing payload keys, mirroring `format_results`
    * (`with_colpali_v1.3/qdrant_query_with_colpali.py:123-138`:
    * `payload.get('filename', 'Unknown')` etc.). */
  def formatResults(
      hits: DataFrame,
      keep: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    val kept = keep.map(col)
    val projected = payloadCols.map(c =>
      coalesce(col(c).cast("string"), lit("Unknown")).as(c))
    hits.select(kept ++ projected: _*)
  }
}
