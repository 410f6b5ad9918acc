package graft.api

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, GraftResidentBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import graft.search.TopK
import graft.index.Sink

/** User-facing collection API — the surface a user of the reference
  * actually programs against, mapped 1:1 from the Qdrant client calls:
  *
  *  - `VectorCollection.ensure(...)`  ↔ `ensure_collection_exists`
  *    (`with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:116-141`)
  *  - `upsert(points)`               ↔ `client.upsert(collection, points, wait=True)`
  *    (`...py:191-202`; job completion is the wait)
  *  - `count`                        ↔ `client.get_collection().points_count` (`...py:284`)
  *  - `search(vec, k, filter)`       ↔ `client.query_points(collection, query, limit, ...)`
  *    (`with_vdr-2b-multi-v1/query_vdr_2b_multi_v1.py:78-83`) + payload filter (E4)
  *  - `searchMaxSim(vecs, k)`        ↔ same with MAX_SIM comparator
  *    (`with_colpali_v1.3/qdrant_query_with_colpali.py:106-116`)
  *
  * A collection is a parquet dataset directory with a fixed schema:
  * id column, vector column (dense `array<float>`/`array<double>` or
  * multi-vector `array<array<...>>`), payload columns. Config is
  * declared once at [[VectorCollection.ensure]] like Qdrant's
  * VectorParams and persisted in `_graft_meta.json`.
  *
  * Scale: `upsert` appends (or anti-join dedups when `incremental`).
  */
final case class CollectionConfig(
    idCol: String,
    vectorCol: String,
    dim: Int,
    multiVector: Boolean,
    /** Qdrant custom sharding (`shard_key_selector`): when set, writes
      * partition the collection directory by this payload column and
      * shard-routed searches prune to the shard's subtree. */
    shardCol: Option[String] = None,
    /** Qdrant named vectors (`vectors_config` as a name→VectorParams
      * map): each name maps to (column, dim). The Spark-native layout
      * is ONE COLUMN PER NAME, not a map column — a search `using` one
      * name column-prunes to that vector's bytes at the scan, so a
      * point carrying five embeddings pays for one (plan-asserted in
      * VectorCollectionSpec). `vectorCol`/`dim` stay the default
      * (unnamed) vector; named vectors are additive. */
    namedVectors: Map[String, (String, Int)] = Map.empty,
    /** Qdrant `Distance` for the default vector: `cosine` (default),
      * `dot`, `euclid`, or `manhattan`. Distance metrics rank ASC and
      * flip score_threshold to a ceiling — see [[TopK.dense]]. */
    distance: String = "cosine",
    /** Qdrant sparse named vectors (`sparse_vectors_config`): name →
      * (indicesCol, valuesCol). The Spark-native layout is two
      * parallel array columns per name — `array<int>` dimension ids
      * and `array<float>` weights — so sparse bytes are scanned only
      * by sparse searches (column pruning), and a point's dense and
      * sparse representations coexist like Qdrant's named-vector map.
      * Scoring is always DOT (Qdrant fixes sparse distance to Dot). */
    sparseVectors: Map[String, (String, String)] = Map.empty)

/** Qdrant `get_collection` result: live counters + declared config. */
final case class CollectionInfo(
    pointsCount: Long,
    segmentsCount: Int,
    config: CollectionConfig)

/** Qdrant `with_payload` response selector: all payload columns, none,
  * or a named subset (unknown names rejected by name — not silently
  * dropped). Payload columns are everything in the collection schema
  * that is not the id, the default vector, or a named vector. */
sealed trait PayloadSelector
object PayloadSelector {
  /** `with_payload=True`: every payload column. */
  case object All extends PayloadSelector
  /** `with_payload=False`: ids/scores only. */
  case object NoPayload extends PayloadSelector
  /** `with_payload=["a","b"]`: the named subset, in the given order. */
  final case class Subset(cols: Seq[String]) extends PayloadSelector
}

/** One operation of a Qdrant `batch_update_points` call. */
sealed trait PointsOp
final case class UpsertOp(points: DataFrame) extends PointsOp
final case class UpsertReplaceOp(points: DataFrame) extends PointsOp
final case class DeleteOp(ids: Seq[Long]) extends PointsOp
final case class SetPayloadOp(
    filter: Column, payloadCol: String, key: String, value: String) extends PointsOp
final case class DeletePayloadOp(
    filter: Column, payloadCol: String, key: String) extends PointsOp
final case class ClearPayloadOp(filter: Column, payloadCol: String) extends PointsOp
final case class UpdateVectorsOp(vecs: Map[Long, Seq[Float]]) extends PointsOp

class VectorCollection private (
    val spark: SparkSession,
    val path: String,
    val config: CollectionConfig) {
  import VectorCollection.{CentroidsFile, ClusterCol}

  // Read path. The collection's schema is resolved once per handle
  // (parquet schema inference is a Spark job on every bare
  // `spark.read.parquet`); an append through this handle keeps it when
  // it writes the same columns, every rewrite through it drops it, and
  // a schema change made through another handle is seen after reopen.
  //
  // `search` (every filter form), `searchMaxSim`, `searchBatch`,
  // `searchAnn` and the id side of `upsertIncremental` on an unsharded
  // collection scan the handle's resident copy: the data files decoded
  // once into memory, so a repeat request skips the parquet decode that
  // dominated its cost.
  // Each request still lists the files. An append — this handle's,
  // another handle's or a stream's — only adds files: the copy keeps its
  // base and decodes just the new files into its delta. Any other change
  // (a rewrite anywhere, a schema change) or a delta grown past the base
  // rebuilds the copy from exactly the listed files; a delta that lost a
  // block with its executor decodes its files again. Either way the
  // decode runs inside that request's one job (see SchemaMemo). The copy
  // leaves out named vectors, so a filter naming one reads parquet.
  //
  // Every other read stays on parquet (`table`): sharded collections
  // and `searchShard` (the shard predicate prunes directories),
  // `searchUsing` (column-pruned to one named vector),
  // `count`/`retrieve`/`scroll` (pushed filters and metadata counts),
  // `buildIvfIndex`, the other batch APIs and `asPoints` readers, and
  // every write and rewrite. The copy is not a `Dataset.cache()`: the
  // CacheManager would substitute it into those parquet reads of the
  // same directory (a file index compares by root path), handing them
  // rows that a rewrite has since retired.
  private val data = new SchemaMemo(spark, path,
    config.namedVectors.values.map(_._1).toSet - config.vectorCol)

  private[api] def table: DataFrame = data.read

  /** The rows `search`, `searchMaxSim`, `searchBatch` and `searchAnn`
    * score and `upsertIncremental` checks ids against: the resident
    * copy, unless the collection is partitioned or `filter` names a
    * column the copy leaves out. */
  private def scanned(filter: Column): DataFrame =
    if (config.shardCol.nonEmpty ||
        GraftColumnBridge.referencedNames(spark, filter).exists(data.leavesOut)) table
    else data.resident.getOrElse(table)

  /** C2: synchronous batch upsert. Returns the number of rows written
    * by this call; the reference's `processed == points_count` parity
    * check is `count` (kept separate so per-batch writes don't pay an
    * O(collection) scan). */
  def upsert(points: DataFrame): Long = appendRows(points)

  /** Incremental upsert: skip ids already present (fixes the
    * reference's duplicate-on-reindex; SURVEY.md §7.6). Returns rows
    * actually written (0 when everything already existed). The present
    * ids come from the resident copy, as a search's rows do (parquet on
    * a sharded collection), so a handle that only ingests also holds
    * the copy in memory (MEMORY_AND_DISK) once it has called this. The
    * anti-join plans from the copy's size: a small collection's ids
    * broadcast, a large one's shuffle. */
  def upsertIncremental(points: DataFrame): Long =
    appendRows(Sink.incremental(points, scanned(lit(true)), config.idCol))

  private def appendRows(points: DataFrame): Long = Sink.withPathLock(path) {
    val rows = withClusters(points)
    val n = Sink.append(rows, path, config.shardCol.toSeq)
    data.keepIfSame(rows.schema, config.shardCol.toSeq)
    n
  }

  /** True Qdrant upsert: REPLACE points whose id already exists, append
    * the rest (`client.upsert` overwrites by id — the semantics a
    * re-index-after-edit needs). File-level MERGE; see
    * [[graft.index.Sink.upsertReplace]]. */
  def upsertReplace(points: DataFrame): Long = {
    // the file-granular MERGE appends unpartitioned survivors, which
    // would corrupt a directory-partitioned shard layout — fail loudly
    // rather than quietly flatten the collection
    require(config.shardCol.isEmpty,
      "upsertReplace on a sharded collection is not supported; " +
        "delete+upsert within the shard instead")
    data.rewrite(Sink.withPathLock(path)(
      Sink.upsertReplace(spark, withClusters(points), path, config.idCol)))
  }

  /** points_count. */
  def count: Long = table.count()

  /** D1+E4: dense top-k cosine search with optional payload filter and
    * Qdrant's `score_threshold` (hits below the floor drop before the
    * cut — fewer than k rows may return). */
  def search(
      queryVec: Seq[Float], k: Int = 5, filter: Column = lit(true),
      scoreThreshold: Option[Double] = None): DataFrame = {
    require(!config.multiVector, "dense search on a multi-vector collection")
    requireDim(queryVec)
    TopK.dense(scanned(filter), typedlit(queryVec), config.idCol, config.vectorCol, k,
      filter, scoreThreshold, config.distance)
  }

  /** D2: MaxSim late-interaction top-k for multi-vector collections. */
  def searchMaxSim(queryVecs: Seq[Seq[Float]], k: Int = 5): DataFrame = {
    require(config.multiVector, "maxsim search on a dense collection")
    requireTokenDims(queryVecs)
    TopK.maxSim(scanned(lit(true)), typedlit(queryVecs), config.idCol, config.vectorCol, k)
  }

  /** [[searchMaxSim]] for N query matrices in ONE collection pass —
    * `query_batch_points` over a multi-vector collection. The request
    * frame (id, token matrix) broadcasts; each document's MaxSim
    * against every request evaluates in one scan, and per-request
    * ranking is the bounded heap. The per-request plan is identical to
    * [[searchMaxSim]] minus the N−1 extra corpus scans. */
  def searchMaxSimBatch(
      requests: Seq[(Long, Seq[Seq[Float]])], k: Int = 5): DataFrame = {
    require(config.multiVector, "batch maxsim search on a dense collection")
    requests.foreach { case (qid, m) => requireTokenDims(m, s"request $qid") }
    import spark.implicits._
    val reqs = requests.toDF("_g_qid", "_g_qm")
    val scored = table
      .select(col(config.idCol).as("vec_id"), col(config.vectorCol).as("_g_vecs"))
      .crossJoin(broadcast(reqs))
      .select(col("_g_qid").as("q_id"), col("vec_id"),
        round(graft.vector.Kernels.maxsim(col("_g_qm"), col("_g_vecs")), 6).as("score"))
    graft.ops.Similarity.rankHits(scored, "q_id", k)
      .withColumnRenamed("vec_id", config.idCol)
  }

  /** D1 search selecting a NAMED vector (Qdrant `query_points(...,
    * using="name")`): identical plan to [[search]] but scored against
    * the name's column — the other named vectors' bytes never leave
    * the scan (column pruning). */
  def searchUsing(
      name: String, queryVec: Seq[Float], k: Int = 5,
      filter: Column = lit(true), scoreThreshold: Option[Double] = None): DataFrame = {
    val (vecCol, dim) = config.namedVectors.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown vector name '$name'; configured: " +
          config.namedVectors.keys.toSeq.sorted.mkString(", ")))
    require(queryVec.length == dim,
      s"query dim ${queryVec.length} != '$name' vector dim $dim")
    TopK.dense(table, typedlit(queryVec), config.idCol, vecCol, k,
      filter, scoreThreshold, config.distance)
  }

  /** Qdrant Universal Query API's by-id form
    * (`query_points(query=<point_id>)`): the k points nearest to a
    * STORED point's vector, the point itself excluded — "more like
    * this one" without re-supplying the embedding. The vector fetch is
    * a driver-side point lookup (the reference's own driver-side query
    * embedding shape); the search is the ordinary broadcast top-k. */
  def queryByPointId(
      id: Long, k: Int = 5, filter: Column = lit(true),
      scoreThreshold: Option[Double] = None): DataFrame = {
    val rows = table.filter(col(config.idCol) === id)
      .select(col(config.vectorCol)).take(1)
    require(rows.nonEmpty, s"point $id not found in the collection")
    val v = rows.head.getSeq[Number](0).map(_.floatValue).toSeq
    search(v, k + 1, filter, scoreThreshold)
      .filter(col(config.idCol) =!= id)
      .limit(k)
  }

  /** Hybrid search over a collection whose payload carries the source
    * text: dense (embedded query vs stored vectors is approximated by
    * re-embedding the text payload — same encoder both sides) fused
    * with BM25 by reciprocal rank, Qdrant's hybrid-query API shape.
    * `textCol` names the payload column holding the document text. */
  def searchHybrid(textCol: String, queryText: String, k: Int = 5, n: Int = 100): DataFrame = {
    val d = table.select(col(config.idCol).as("doc_id"), col(textCol).as("text"))
    graft.ops.Retrieval.hybridRrf(d, queryText, n, k)
      .withColumnRenamed("doc_id", config.idCol)
  }

  /** Qdrant sparse-vector search (`query_points` with
    * `using=<sparse name>` and a SparseVector query): score = dot
    * product over the intersection of query and stored dimension ids;
    * points sharing no dimension with the query are skipped before
    * scoring (`arrays_overlap` — the poor man's posting-list cut; the
    * corpus-scale inverted-postings formulation lives in
    * `ops/Retrieval.sparseTopK`). The query lands as a broadcast map
    * literal, the lookup-multiply-sum runs per row inside codegen, and
    * the cut is TakeOrderedAndProject — no shuffle. Sparse distance is
    * always DOT, as in Qdrant. */
  def searchSparse(name: String, query: Seq[(Int, Double)], k: Int = 5): DataFrame = {
    val (idxCol, valCol) = config.sparseVectors.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown sparse vector '$name' (have: ${config.sparseVectors.keys.toSeq.sorted.mkString(", ")})"))
    require(query.nonEmpty, "empty sparse query")
    require(query.map(_._1).distinct.length == query.length,
      "sparse query has duplicate dimension ids")
    val qMap = typedlit(query.toMap)
    val qDims = typedlit(query.map(_._1))
    val score = aggregate(
      zip_with(col(idxCol), col(valCol),
        (i, v) => coalesce(element_at(qMap, i), lit(0.0)) * v.cast("double")),
      lit(0.0), (a, x) => a + x)
    table
      .filter(arrays_overlap(col(idxCol), qDims))
      .select(col(config.idCol), round(score, 6).as("score"))
      .orderBy(col("score").desc, col(config.idCol).asc)
      .limit(k)
  }

  /** Qdrant's canonical hybrid query (`query_points` with
    * `prefetch=[sparse, dense]` and `FusionQuery(RRF)`): the stored
    * sparse vector and the default dense vector each produce a top-`n`
    * list, fused by reciprocal-rank — rrf = Σ 1/(60 + rank), a point
    * absent from one list contributing 0 there. Both prefetch lists
    * are TakeOrderedAndProject cuts over column-pruned scans (each
    * branch reads ONLY its vector's bytes); the rank windows and the
    * full-outer fusion join touch ≤ n rows each. */
  def queryHybrid(
      sparseName: String, sparseQuery: Seq[(Int, Double)],
      denseQuery: Seq[Float], k: Int = 5, n: Int = 20): DataFrame = {
    val sHits = searchSparse(sparseName, sparseQuery, n)
      .withColumnRenamed(config.idCol, "pid")
    val dHits = search(denseQuery, n).select(col(config.idCol).as("pid"),
      col("score"))
    // Rank direction mirrors each branch's score semantics: sparse is
    // always DOT (similarity, DESC), dense follows the collection's
    // metric — euclid/manhattan are distances whose top-n list from
    // search() is ranked ASC (smallest first); ranking it DESC here
    // would hand the WORST prefetch survivor rank 1 in the fusion.
    def ranked(hits: DataFrame, rankName: String, asc: Boolean): DataFrame = {
      val s = if (asc) col("score").asc else col("score").desc
      val w = org.apache.spark.sql.expressions.Window.orderBy(s, col("pid").asc)
      hits.withColumn(rankName, row_number().over(w).cast("long"))
        .select(col("pid"), col(rankName))
    }
    val denseAsc = TopK.metricFn(config.distance)._2
    ranked(sHits, "rs", asc = false)
      .join(ranked(dHits, "rd", asc = denseAsc), Seq("pid"), "full_outer")
      .select(col("pid").as(config.idCol),
        round(coalesce(lit(1.0) / (lit(60) + col("rs")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rd")), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col(config.idCol).asc)
      .limit(k)
  }

  /** query_points with a `formula` rescoring stage (Qdrant 1.14 score
    * boosting): prefetch `prefetchN` by the collection's similarity,
    * re-rank with an arithmetic formula over `$score` and payload
    * fields ([[graft.search.FormulaExpr]]), cut to `k`. `carry` names
    * payload columns the formula reads. */
  def queryFormula(queryVec: Seq[Float], formula: graft.search.FormulaExpr,
      carry: Seq[String] = Nil, prefetchN: Int = 50, k: Int = 5): DataFrame = {
    require(!config.multiVector, "formula query on a multi-vector collection")
    requireDim(queryVec)
    graft.search.Formula.formulaQuery(table, typedlit(queryVec), config.idCol,
      config.vectorCol, formula, carry, prefetchN, k, config.distance)
  }

  /** points_count with a payload filter (Qdrant `client.count` with
    * `count_filter`) — the predicate pushes to the parquet scan. */
  def count(filter: Column): Long = table.filter(filter).count()

  /** `client.count` with `exact=false`: a deterministic sampled
    * estimate — the counted row set shrinks to `permille`/1000 of the
    * filtered scan; see [[graft.search.QueryApis.countApprox]]. */
  def countApprox(filter: Column = lit(true), permille: Int = 500): Long =
    graft.search.QueryApis.countApprox(table, config.idCol, filter, permille)
      .head.getLong(0)

  /** Qdrant `client.retrieve`: fetch points by id. The IN-list reaches
    * the scan as a pushed filter. */
  def retrieve(ids: Seq[Long]): DataFrame =
    table.filter(col(config.idCol).isInCollection(ids))

  /** Qdrant `client.scroll`: deterministic id-ordered page. Driven by
    * an exclusive start id (not a row offset), so each page is an
    * indexable range scan — O(page), not O(offset), at any collection
    * size. Returns `limit` rows with id > `afterId`; chain pages by
    * passing the previous page's max id. */
  def scroll(afterId: Long, limit: Int): DataFrame =
    table.filter(col(config.idCol) > afterId)
      .orderBy(col(config.idCol)).limit(limit)

  /** The file-granular rewrite operators (delete, payload mutation)
    * re-read touched files by leaf path, which loses a shard layout's
    * directory-encoded partition column — refuse rather than fail
    * mid-rewrite or flatten the layout (same stance as
    * [[upsertReplace]]). */
  private def requireUnsharded(op: String): Unit =
    require(config.shardCol.isEmpty,
      s"$op on a sharded collection is not supported; operate per shard")

  /** A query vector must have the collection's dim; `what` names it in
    * the refusal (a batch names the request id). */
  private def requireDim(v: Seq[_], what: => String = "query"): Unit =
    require(v.length == config.dim, s"$what dim ${v.length} != collection dim ${config.dim}")

  /** Every token vector of a MaxSim query matrix must have the
    * collection's dim; `what` names the matrix in the refusal. */
  private def requireTokenDims(m: Seq[Seq[Float]], what: => String = "query"): Unit =
    require(m.forall(_.length == config.dim),
      s"$what has a token vector whose dim != ${config.dim}")

  /** Qdrant `client.delete` with a points selector: delete by id set.
    * File-granular rewrite; see [[graft.index.Sink.deleteMatching]]. */
  def delete(ids: Seq[Long]): Long = {
    requireUnsharded("delete")
    data.rewrite(Sink.deleteMatching(spark, path, col(config.idCol).isInCollection(ids)))
  }

  /** Qdrant `client.delete` with a payload filter. */
  def deleteByFilter(filter: Column): Long = {
    requireUnsharded("deleteByFilter")
    data.rewrite(Sink.deleteMatching(spark, path, filter))
  }

  /** Collection rows under the (vec_id, embedding) names the query-API
    * operators use, payload columns untouched. */
  private def asPoints: DataFrame = {
    val others = table.columns
      .filterNot(c => c == config.idCol || c == config.vectorCol)
    // the rename would collide with a payload column already holding
    // the operator-internal name — fail with the cause, not a later
    // AMBIGUOUS_REFERENCE deep inside the query
    val clash = others.filter(c => c == "vec_id" || c == "embedding")
    require(clash.isEmpty,
      s"payload column(s) ${clash.mkString(", ")} collide with the internal " +
        s"(vec_id, embedding) names; rename them or use them as idCol/vectorCol")
    table.select(Seq(col(config.idCol).as("vec_id"),
      col(config.vectorCol).as("embedding")) ++ others.map(col).toSeq: _*)
  }

  /** Qdrant `client.recommend` (average_vector strategy): search by
    * 2·avg(positives) − avg(negatives), example points excluded.
    * Metric-aware — the strategy only builds a query vector; scoring
    * and ranking follow the collection's configured Distance
    * (euclid/manhattan rank ASC), exactly like [[search]]. */
  def recommend(posIds: Seq[Long], negIds: Seq[Long] = Nil, k: Int = 5): DataFrame =
    graft.search.QueryApis.recommend(asPoints, posIds, negIds, k, config.distance)
      .withColumnRenamed("vec_id", config.idCol)

  /** Qdrant `client.recommend` with `strategy=sum_scores`: score =
    * Σ_pos sim − Σ_neg sim, examples excluded — the third strategy
    * beside average_vector ([[recommend]]) and best_score.
    * Metric-aware: distances enter the fold negated (similarity
    * space), and the formula score ranks DESC on every metric — it is
    * not the metric's distance (Qdrant's own caveat). */
  def recommendSum(posIds: Seq[Long], negIds: Seq[Long] = Nil, k: Int = 5): DataFrame =
    graft.search.QueryApis.recommendSumScores(
        asPoints, posIds, negIds, k, config.distance)
      .withColumnRenamed("vec_id", config.idCol)

  /** Qdrant `client.recommend` with `strategy=best_score`: a
    * candidate scores its best positive similarity unless its best
    * negative beats it, in which case the best negative returns sign-
    * flipped — points nearer a negative than any positive sink below
    * every in-context point. Metric-aware: "best" is max over
    * similarities = MIN over distances (distances enter negated), and
    * the formula score ranks DESC on every metric. */
  def recommendBest(posIds: Seq[Long], negIds: Seq[Long] = Nil, k: Int = 5): DataFrame =
    graft.search.QueryApis.recommendBestScore(
        asPoints, posIds, negIds, k, config.distance)
      .withColumnRenamed("vec_id", config.idCol)

  /** Qdrant `client.recommend` with `lookup_from`: the example ids
    * resolve in `lookup` (another collection of the same vector
    * dimensionality) and the search runs over THIS collection; no
    * example exclusion — the id spaces differ. */
  def recommendFrom(
      lookup: VectorCollection,
      posIds: Seq[Long], negIds: Seq[Long] = Nil, k: Int = 5): DataFrame = {
    // validate the cross-collection contract up front — a mismatch
    // would otherwise surface as an opaque kernel error mid-execution
    require(lookup.config.dim == config.dim,
      s"lookup collection dim ${lookup.config.dim} != this collection's dim ${config.dim}")
    require(!lookup.config.multiVector && !config.multiVector,
      "recommend with lookup_from needs dense (single-vector) collections on both sides")
    // metric-aware like [[recommend]] — THIS collection's Distance
    // drives the ranking (the lookup side only supplies the examples)
    graft.search.QueryApis.recommendLookup(
      asPoints, lookup.asPoints, posIds, negIds, k, config.distance)
      .withColumnRenamed("vec_id", config.idCol)
  }

  /** Qdrant `recommend_batch`: N recommend requests, one collection
    * pass (broadcast request frame + bounded-heap per-request
    * ranking). Metric-aware like [[recommend]]. */
  def recommendBatch(
      requests: Seq[(Long, Seq[Long], Seq[Long])], k: Int = 5): DataFrame =
    graft.search.QueryApis.recommendBatch(asPoints, requests, k, config.distance)
      .withColumnRenamed("vec_id", config.idCol)

  /** Qdrant discovery search: rank by satisfied (positive, negative)
    * context pairs, then similarity to the target point. Metric-aware:
    * a pair satisfies when the candidate is at least as CLOSE to the
    * positive (d_pos ≤ d_neg on distance metrics), `sim` stays in the
    * metric's own space and its tiebreak ordering flips with it. */
  def discover(targetId: Long, contextPairs: Seq[(Long, Long)], k: Int = 5): DataFrame =
    graft.search.QueryApis.discover(
        asPoints, targetId, contextPairs, k, config.distance)
      .withColumnRenamed("vec_id", config.idCol)

  /** Qdrant `search_groups`: top `limit` groups by best hit, each with
    * its top `groupSize` hits. Metric-aware: a group's best is MIN
    * distance on euclid/manhattan, and group order + hit ranking flip
    * with the metric, matching [[search]]. */
  def searchGroups(
      queryVec: Seq[Float], groupCol: String,
      groupSize: Int = 3, limit: Int = 5): DataFrame = {
    requireDim(queryVec)
    graft.search.QueryApis.searchGroups(
        asPoints, queryVec.map(_.toDouble), groupCol, groupSize, limit,
        config.distance)
      .withColumnRenamed("vec_id", config.idCol)
  }

  /** Qdrant `discover_batch`: N discovery requests, one collection
    * pass (broadcast request frame, bounded-heap ranking on the
    * composite (ctx_hits, sim) key). Metric-aware like [[discover]]. */
  def discoverBatch(
      requests: Seq[(Long, Long, Seq[(Long, Long)])], k: Int = 5): DataFrame =
    graft.search.QueryApis.discoverBatch(asPoints, requests, k, config.distance)
      .withColumnRenamed("vec_id", config.idCol)

  /** Qdrant `query_batch_points`: a HETEROGENEOUS batch of universal
    * queries — [[graft.search.NearestBatchQuery]] (plain vector),
    * [[graft.search.ByIdBatchQuery]] (nearest to a stored point, self
    * excluded), [[graft.search.RecommendBatchQuery]] (average_vector
    * recommend, examples excluded) — answered in ONE collection pass:
    * all referenced point ids resolve with a single pushed IN-list
    * scan, the request frame broadcasts, ranking is the bounded-heap
    * aggregate keyed by request. Spec-asserted equal per kind to
    * [[search]]/[[queryByPointId]]/[[recommend]]. Metric-aware: every
    * kind resolves to (query vector, exclusions) then ranks with plain
    * TopK semantics under the collection's Distance. */
  def queryBatch(requests: Seq[graft.search.BatchQuery], k: Int = 5): DataFrame = {
    require(!config.multiVector, "batch query on a multi-vector collection")
    requests.foreach {
      case graft.search.NearestBatchQuery(qid, v) => requireDim(v, s"query $qid")
      case _ => ()
    }
    graft.search.QueryApis.queryBatch(asPoints, requests, k, config.distance)
      .withColumnRenamed("vec_id", config.idCol)
  }

  /** Qdrant `recommend_groups`: recommendation scoring with grouped
    * results, example points excluded. */
  def recommendGroups(
      posIds: Seq[Long], negIds: Seq[Long], groupCol: String,
      groupSize: Int = 3, limit: Int = 5): DataFrame =
    graft.search.QueryApis.recommendGroups(
        asPoints, posIds, negIds, groupCol, groupSize, limit, config.distance)
      .withColumnRenamed("vec_id", config.idCol)

  /** Qdrant `search_groups` with `with_lookup`: each group carries the
    * matching record of `lookup` (another collection), joined on group
    * key = lookup id, `lk_`-prefixed. See
    * [[graft.search.QueryApis.searchGroupsWithLookup]] for the
    * two-broadcast plan. */
  def searchGroupsWithLookup(
      queryVec: Seq[Float], groupCol: String,
      lookup: VectorCollection, lookupCols: Seq[String],
      groupSize: Int = 3, limit: Int = 5): DataFrame = {
    requireDim(queryVec)
    graft.search.QueryApis.searchGroupsWithLookup(
        asPoints, queryVec.map(_.toDouble), groupCol, groupSize, limit,
        lookup.table, lookup.config.idCol, lookupCols, config.distance)
      .withColumnRenamed("vec_id", config.idCol)
  }

  /** Qdrant facet API: value counts for a payload key under a filter.
    * `exact=false` estimates each value's count with a HyperLogLog++
    * sketch over the point id (column `n_approx` instead of `n`) —
    * fixed-size commutative aggregation state per value, the Qdrant
    * speed-over-precision trade; see [[graft.search.QueryApis.facetApprox]]. */
  def facet(key: String, filter: Column = lit(true), limit: Int = 10,
      exact: Boolean = true): DataFrame =
    if (exact) graft.search.QueryApis.facet(table, key, filter, limit)
    else graft.search.QueryApis.facetApprox(table, key, config.idCol, filter, limit)

  /** Qdrant `search_batch`: N query vectors scored in ONE Spark job
    * over the rows [[search]] scans (the resident copy on an unsharded
    * collection), each request ranked by its own bounded heap — see
    * [[TopK.literalBatch]]. Scores and ranks under the collection's
    * Distance: each request's rows equal [[search]] on its vector.
    *
    * The job runs when this is called, and the result (q_id, id,
    * score, rnk) is a local frame; no requests give it empty. */
  def searchBatch(queries: Seq[(Long, Seq[Float])], k: Int = 5): DataFrame = {
    require(!config.multiVector, "batch search on a multi-vector collection")
    queries.foreach { case (qid, v) => requireDim(v, s"query $qid") }
    TopK.literalBatch(scanned(lit(true)), queries, config.idCol, config.vectorCol, k,
      config.distance)
  }

  /** [[searchBatch]] with PER-REQUEST payload filters — Qdrant's
    * `search_batch` takes a full SearchRequest per entry, filter
    * included. Each request optionally pins `filterCol` to a value
    * (None = unfiltered) as a one-clause must [[graft.search.MatchValue]]
    * filter of the [[graft.search.Filter]] form below, so all requests
    * share its ONE collection pass. Filtering BEFORE the heap shrinks
    * per-request candidate streams — a filtered request costs less,
    * not more. Scoring honors the collection's configured Distance
    * (cosine/dot DESC; euclid/manhattan ASC), matching [[search]]
    * exactly. */
  def searchBatchFiltered(
      requests: Seq[(Long, Seq[Float], Option[Long])],
      filterCol: String,
      k: Int = 5): DataFrame =
    searchBatchFiltered(requests.map { case (id, v, f) =>
      (id, v, graft.search.QueryApis.matchOrAll(filterCol, f)) }, k)

  /** [[searchBatchFiltered]] with a FULL per-request
    * [[graft.search.Filter]] — Qdrant's actual SearchRequest shape:
    * every request carries its own must/should/must_not clause lists,
    * compiled by the one E4 DSL, all through the same single
    * collection pass. Use [[graft.search.Filter]]`()` (empty) for an
    * unfiltered request. */
  def searchBatchFiltered(
      requests: Seq[(Long, Seq[Float], graft.search.Filter)],
      k: Int): DataFrame = {
    require(!config.multiVector, "batch search on a multi-vector collection")
    requests.foreach { case (qid, v, _) => requireDim(v, s"query $qid") }
    graft.search.QueryApis.searchBatchFiltered(
        asPoints,
        requests.map { case (id, v, f) => (id, v.map(_.toDouble), f) },
        k, config.distance)
      .withColumnRenamed("vec_id", config.idCol)
  }

  /** D1 search routed to one shard (Qdrant `shard_key_selector`): on a
    * sharded collection the shard predicate is a directory-partition
    * filter, so the scan reads only the selected shard's subtree —
    * per-shard latency independent of collection size (asserted in
    * VectorCollectionSpec). */
  def searchShard(
      queryVec: Seq[Float], shardKey: Any, k: Int = 5,
      filter: Column = lit(true)): DataFrame = {
    require(config.shardCol.nonEmpty,
      "searchShard on a collection without a configured shardCol")
    search(queryVec, k, col(config.shardCol.get) === lit(shardKey) && filter)
  }

  /** Qdrant MMR diversity search (`query` with an mmr object): top-k
    * balancing similarity against redundancy with the already-picked
    * set. `fetchN` bounds the candidate pool (Qdrant's
    * `candidates_limit`). Metric-aware (r16): non-cosine metrics
    * enter the tradeoff through the discoverBatch monotone squash —
    * see [[graft.search.QueryApis.mmr]]; `score` stays the raw
    * collection-metric value. */
  def searchMmr(
      queryVec: Seq[Float], k: Int = 5,
      lambda: Double = 0.5, fetchN: Int = 20): DataFrame = {
    require(!config.multiVector, "mmr search on a multi-vector collection")
    requireDim(queryVec)
    graft.search.QueryApis.mmr(
        asPoints, queryVec.map(_.toDouble), fetchN, k, lambda,
        config.distance)
      .withColumnRenamed("vec_id", config.idCol)
  }

  /** Qdrant distance-matrix API (`search_matrix_pairs`) over a
    * deterministic `sample`-point draw (Qdrant's absolute-count
    * `sample` parameter — broadcast-safe by construction).
    * Metric-aware (r16): scores and neighbor order follow the
    * collection's configured Distance. */
  def matrixPairs(sample: Int, k: Int = 3): DataFrame =
    graft.search.QueryApis.matrixPairs(asPoints, sample, k, config.distance)

  /** Qdrant random sampling (`query=sample(random)`): reproducible
    * hash-ordered draw of `k` point ids. */
  def randomSample(k: Int): DataFrame =
    graft.search.QueryApis.randomSample(asPoints, k)
      .withColumnRenamed("vec_id", config.idCol)

  /** D1+E4 with the composed [[graft.search.Filter]] DSL (Qdrant
    * models.Filter: must / should / must_not clause lists). */
  def search(queryVec: Seq[Float], k: Int, filter: graft.search.Filter): DataFrame =
    search(queryVec, k, filter.toColumn)

  private def centroidsPath = s"$path/$CentroidsFile"

  /** Build (or rebuild) the IVF index — Qdrant's background ANN
    * indexing past `indexing_threshold`. Seeds are drawn by
    * content-stable hash, refined with `lloydIters` rounds of Lloyd's
    * algorithm, and the index is a layout of the collection itself
    * ([[graft.index.Sink.indexClusters]]): each point's `cluster_id` is
    * its nearest centroid, the rows range-cluster on (`cluster_id`, id),
    * and the centroids commit with them in the `_graft_centroids.txt`
    * sidecar, which reopen, snapshot, restore and drop carry with the
    * data. Every later write keeps it current ([[withClusters]];
    * survivors of a delete or payload update keep theirs). Refused on a
    * sharded collection and over a payload column named `cluster_id`.
    * Returns the collection path. */
  def buildIvfIndex(nClusters: Int, lloydIters: Int = 2): String = Sink.withPathLock(path) {
    require(!config.multiVector, "IVF index on a multi-vector collection")
    requireUnsharded("buildIvfIndex")
    require(nClusters > 0, s"buildIvfIndex needs nClusters > 0, got $nClusters")
    // a pending build's commit holds its centroids: finish it before
    // asking whose cluster_id column this is
    Sink.repairPayloadUpdate(spark, path)
    require(centroids().nonEmpty || !table.columns.contains(ClusterCol),
      s"buildIvfIndex on $path would overwrite its payload column '$ClusterCol'; " +
        "rename that column first")
    val pts = asPoints
    val seeds = pts
      .select(col("vec_id"), col("embedding"),
        graft.index.Embedder.stringHash64(
          concat(lit("ivf:"), col("vec_id"))).as("_h"))
      .orderBy(col("_h").asc, col("vec_id").asc)
      .limit(nClusters)
      .collect().zipWithIndex
      .map { case (r, i) => (i.toLong, r.getSeq[Number](1).map(_.floatValue).toArray) }
      .toSeq
    // the empty-aggregate class: zero seeds would fail deep inside the
    // centroid argmax with an opaque error instead of naming the cause
    require(seeds.nonEmpty,
      "buildIvfIndex on an empty collection — no vectors to seed " +
        "centroids from; upsert points first")
    val trained = graft.ops.Similarity.ivfRefineCentroids(pts, seeds, lloydIters)
    val sidecar = trained
      .map { case (id, v) => s"$id,${v.mkString(",")}" }
      .mkString("\n")
    data.rewrite(Sink.indexClusters(spark, path, ClusterCol,
      clusterOf(col(config.vectorCol), trained), config.idCol,
      Map(CentroidsFile -> sidecar)))
    path
  }

  /** The IVF centroids, or None while the collection has no index: one
    * sidecar read, no Spark job. */
  private def centroids(): Option[Seq[(Long, Array[Float])]] =
    if (!Sink.sidecarExists(centroidsPath)) None
    else Some(Sink.readSidecar(centroidsPath).split("\n").toSeq
      .filter(_.nonEmpty)
      .map { line =>
        val parts = line.split(",")
        (parts.head.toLong, parts.tail.map(_.toFloat))
      })

  /** The nearest of `cents` to vector `v` (argmax cosine, lowest id on
    * a tie), as a per-row expression. */
  private def clusterOf(v: Column, cents: Seq[(Long, Array[Float])]): Column =
    graft.ops.Similarity.ivfClusterId(v,
      cents.map { case (id, c) => (id, typedlit(c.toSeq): Column) })

  /** `points` with `cluster_id` set to each vector's nearest centroid
    * while the collection has an IVF index, unchanged otherwise: every
    * write calls it on its incoming rows under the collection's lock,
    * so no row lands with an assignment from other centroids. */
  private def withClusters(points: DataFrame): DataFrame =
    centroids().fold(points)(cs =>
      points.withColumn(ClusterCol, clusterOf(col(config.vectorCol), cs)))

  /** ANN top-k through the IVF index: centroids rank driver-side, and
    * the rows [[search]] scans are scored only where `cluster_id` is one
    * of the best `nprobe` — a predicate below the scoring that in-memory
    * batch (or parquet row-group) statistics prune on. `filter`
    * composes as in [[search]]. Raise `nprobe` to trade latency for
    * recall (x_ann_recall measures the curve); at the cluster count or
    * above there is no cluster predicate, and the answer is exactly
    * [[search]]'s. */
  def searchAnn(
      queryVec: Seq[Float], k: Int = 5, nprobe: Int = 1,
      filter: Column = lit(true)): DataFrame = {
    require(!config.multiVector, "ANN search on a multi-vector collection")
    requireDim(queryVec)
    val cents = centroids().getOrElse(throw new IllegalArgumentException(
      s"no IVF index for $path — call buildIvfIndex first"))
    // probes rank and candidates score under the collection's metric,
    // as search() does; the clustering itself is cosine-trained
    val probed =
      if (nprobe >= cents.size) filter
      else col(ClusterCol).isInCollection(graft.ops.Similarity
        .rankCentroids(cents, queryVec.toArray, config.distance).take(nprobe)) && filter
    TopK.dense(scanned(probed), typedlit(queryVec), config.idCol, config.vectorCol, k,
      probed, None, config.distance)
  }

  /** Qdrant `set_payload`: set one key on every point matching the
    * filter (map-typed payload column). File-granular rewrite. A NULL
    * stored payload coalesces to an empty map first — Qdrant creates
    * the payload on set; without the coalesce map_concat(NULL, …)
    * would silently no-op while still reporting the row as updated. */
  def setPayload(filter: Column, payloadCol: String, key: String, value: String): Long = {
    requireUnsharded("setPayload")
    data.rewrite(Sink.updatePayload(spark, path, filter, payloadCol,
      p => map_concat(
        map_filter(coalesce(p, map().cast("map<string,string>")), (k, _) => k =!= key),
        map(lit(key), lit(value)))))
  }

  /** Qdrant `delete_payload`: drop one key from matching points. */
  def deletePayloadKey(filter: Column, payloadCol: String, key: String): Long = {
    requireUnsharded("deletePayloadKey")
    data.rewrite(Sink.updatePayload(spark, path, filter, payloadCol,
      p => map_filter(coalesce(p, map().cast("map<string,string>")), (k, _) => k =!= key)))
  }

  /** Qdrant `clear_payload`: empty the payload of matching points. */
  def clearPayload(filter: Column, payloadCol: String): Long = {
    requireUnsharded("clearPayload")
    data.rewrite(Sink.updatePayload(spark, path, filter, payloadCol,
      _ => map().cast("map<string,string>")))
  }

  /** Qdrant `update_vectors`: replace the stored vector of each named
    * point (payload and ids untouched) — the re-embed-in-place call a
    * model upgrade uses when only SOME points change (full re-index is
    * [[upsertReplace]]). Rides the same staged file-granular rewrite
    * as payload mutation: only parquet files containing an updated id
    * are rewritten, crash-safe behind the commit marker, O(touched
    * files) not O(collection). Returns points updated. */
  def updateVectors(newVecs: Map[Long, Seq[Float]]): Long = {
    requireUnsharded("updateVectors")
    require(newVecs.nonEmpty, "update_vectors needs at least one point")
    newVecs.foreach { case (id, v) =>
      require(v.length == config.dim,
        s"vector for point $id has dim ${v.length}, collection is ${config.dim}")
    }
    val ids = newVecs.keys.toSeq
    // the column's stored type (float or double layout): another would
    // drift the rewritten files' schema from the untouched ones
    val dt = table.schema(config.vectorCol).dataType.catalogString
    // one flat map literal probed per row (a when-chain per point grows
    // the plan with the batch); it ships with the plan, so bound it
    require(newVecs.size <= 65536,
      s"update_vectors with ${newVecs.size} points exceeds the 65536 " +
        "plan-literal bound; use upsertReplace for corpus-scale re-embeds")
    val lookup = typedlit(newVecs)
    val replacement = coalesce(
      try_element_at(lookup, col(config.idCol)).cast(dt),
      col(config.vectorCol))
    // an indexed point moves to its new vector's cluster in the merge
    data.rewrite(Sink.withPathLock(path)(Sink.updateColumns(spark, path,
      col(config.idCol).isInCollection(ids),
      Map(config.vectorCol -> ((_: Column) => replacement)) ++
        centroids().map(cs => ClusterCol -> ((_: Column) => clusterOf(replacement, cs))))))
  }

  /** Qdrant `get_collection`: declared config + live counters. Cheap
    * on a columnar store: points_count is a metadata-only parquet
    * count, segments_count is the file count (a parquet file is the
    * closest analog of a Qdrant segment — the unit compaction and
    * payload indexing rewrite). */
  def info: CollectionInfo = {
    // Hadoop FileSystem, not java.io.File — the same API every other
    // maintenance op (compact/snapshot/updatePayload) goes through, so
    // segments_count works on HDFS/S3 paths too instead of silently
    // reporting 0 off an empty local-disk lookup. Data files by Spark's
    // hidden-name rule: a sharded layout's live in its visible shard=…
    // subtrees, never in rewrite staging
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    CollectionInfo(count, Sink.visibleFiles(fs, root).size, config)
  }

  /** Qdrant `delete_vectors`: clear ONE NAMED vector from the given
    * points — payload, id, and every other vector stay (deleting the
    * point is [[delete]]). Same file-granular crash-safe rewrite as
    * payload mutation: only files containing a named id are touched.
    * Returns points updated. */
  def deleteVectors(name: String, ids: Seq[Long]): Long = {
    requireUnsharded("deleteVectors")
    val (vecCol, _) = config.namedVectors.getOrElse(name,
      throw new IllegalArgumentException(
        s"unknown vector name '$name'; configured: " +
          config.namedVectors.keys.toSeq.sorted.mkString(", ")))
    require(ids.nonEmpty, "delete_vectors needs at least one point id")
    // null in the COLUMN'S stored type — see the updateVectors note
    val dt = table.schema(vecCol).dataType.catalogString
    data.rewrite(Sink.updatePayload(spark, path, col(config.idCol).isInCollection(ids),
      vecCol, _ => lit(null).cast(dt)))
  }

  /** Qdrant `batch_update_points`: a SEQUENCE of mutations applied in
    * order (upserts, deletes, payload ops) — one client call, ordered
    * visibility. Returns one count per operation, in order. Each step
    * is individually crash-safe (they ride the staged single-op
    * writers); the batch itself is not transactional across steps,
    * matching Qdrant's per-operation acknowledgement. */
  def batchUpdate(ops: Seq[PointsOp]): Seq[Long] = ops.map {
    case UpsertOp(points) => upsert(points)
    case UpsertReplaceOp(points) => upsertReplace(points)
    case DeleteOp(ids) => delete(ids)
    case SetPayloadOp(filter, payloadCol, key, value) =>
      setPayload(filter, payloadCol, key, value)
    case DeletePayloadOp(filter, payloadCol, key) =>
      deletePayloadKey(filter, payloadCol, key)
    case ClearPayloadOp(filter, payloadCol) => clearPayload(filter, payloadCol)
    case UpdateVectorsOp(vecs) => updateVectors(vecs)
  }

  /** Qdrant `create_payload_index(field)`: make filtered searches on
    * `field` cheap. Here that is a LAYOUT property, not a tree —
    * the collection's files are rewritten range-clustered + sorted on
    * the field, so parquet min/max footer stats prune every file a
    * pushed filter cannot match (see [[Sink.indexPayload]]; per-file
    * range disjointness spec-asserted). Returns files written. */
  def createPayloadIndex(field: String, targetRowsPerFile: Long = 1L << 20): Int = {
    requireUnsharded("createPayloadIndex")
    data.rewrite(Sink.indexPayload(spark, path, field, targetRowsPerFile))
  }

  /** `create_payload_index` over TWO fields: Z-order (Morton) layout so
    * selective filters on EITHER field skip files; see
    * [[graft.index.Sink.indexPayloadZ]]. */
  def createPayloadIndexZ(
      fieldA: String, fieldB: String,
      targetRowsPerFile: Long = 1L << 20): Int = {
    requireUnsharded("createPayloadIndexZ")
    data.rewrite(Sink.indexPayloadZ(spark, path, fieldA, fieldB, targetRowsPerFile))
  }

  /** Maintenance: compact accumulated small part files into
    * `targetRowsPerFile`-sized ones (Qdrant's segment optimizer).
    * Unsharded collections rewrite the whole directory; sharded ones
    * compact each shard subtree independently, preserving the
    * directory-encoded shard column and its routed-search pruning. */
  def compact(targetRowsPerFile: Long = 1L << 20): Int = data.rewrite {
    if (config.shardCol.isDefined) Sink.compactShards(spark, path, targetRowsPerFile)
    else Sink.compact(spark, path, targetRowsPerFile)
  }

  /** Qdrant `create_snapshot`: point-in-time file-level copy, the IVF
    * centroids with it. Returns files copied. */
  def snapshot(snapPath: String): Int = Sink.snapshot(spark, path, snapPath)

  /** Qdrant `recover_snapshot`: replace contents from a snapshot, IVF
    * centroids included — a snapshot without them leaves the collection
    * without an index (crash-safe: see
    * [[graft.index.Sink.restoreSnapshot]]). */
  def restoreSnapshot(snapPath: String): Unit =
    data.rewrite(Sink.restoreSnapshot(spark, snapPath, path))

  /** D3: hit projection with 'Unknown' defaults. */
  def formatResults(hits: DataFrame, payloadCols: Seq[String]): DataFrame =
    TopK.formatResults(hits, Seq(config.idCol, "score"), payloadCols)

  /** Payload columns: the schema minus id, default vector, and named
    * vectors. */
  private def payloadColumns: Seq[String] = {
    val vecCols = config.namedVectors.values.map(_._1).toSet + config.vectorCol
    table.columns.toSeq.filterNot(c => c == config.idCol || vecCols(c))
  }

  private def resolvePayload(sel: PayloadSelector): Seq[String] = sel match {
    case PayloadSelector.All => payloadColumns
    case PayloadSelector.NoPayload => Nil
    case PayloadSelector.Subset(cols) =>
      val known = payloadColumns.toSet
      val unknown = cols.filterNot(known)
      require(unknown.isEmpty,
        s"unknown payload column(s): ${unknown.mkString(", ")}; " +
          s"payload columns: ${payloadColumns.sorted.mkString(", ")}")
      cols
  }

  /** Qdrant `with_payload` / `with_vectors` response shaping over a hit
    * frame holding (idCol, score): attach the selected payload columns
    * and optionally the stored vector. The k-row hit list BROADCASTS
    * back onto the collection scan (the search_groups with_lookup
    * shape), so the fetch is one column-pruned pass that reads only the
    * selected columns' bytes — the token matrices / unselected payload
    * never leave the scan. Hit order (score per the collection metric,
    * id tiebreak) is restored after the join. */
  def shapeResponse(
      hits: DataFrame,
      withPayload: PayloadSelector,
      withVectors: Boolean): DataFrame = {
    val distanceAsc =
      config.distance == "euclid" || config.distance == "manhattan"
    attachSelected(hits, withPayload, withVectors,
      Seq(if (distanceAsc) col("score").asc else col("score").desc,
        col(config.idCol).asc))
  }

  /** The general form of [[shapeResponse]]: attach the selected
    * payload/vector columns to ANY bounded hit frame carrying the id
    * column — grouped hits keep their group columns, batch hits their
    * request key — and restore `order` (a broadcast join returns rows
    * in scan order). Same plan as [[shapeResponse]]: the hit list
    * broadcasts back onto a column-pruned collection scan, so only the
    * selected columns' bytes are read. */
  private def attachSelected(
      hits: DataFrame,
      withPayload: PayloadSelector,
      withVectors: Boolean,
      order: Seq[Column]): DataFrame = {
    val extra = resolvePayload(withPayload) ++
      (if (withVectors) Seq(config.vectorCol) else Nil)
    val clash = extra.filter(hits.columns.contains)
    require(clash.isEmpty,
      s"hit frame already carries column(s) ${clash.mkString(", ")}; " +
        "select a payload subset that does not collide")
    if (extra.isEmpty) hits
    else table.select((config.idCol +: extra).map(col): _*)
      .join(broadcast(hits), Seq(config.idCol))
      .select((hits.columns.toSeq ++ extra).map(col): _*)
      .orderBy(order: _*)
  }

  /** [[recommend]] with Qdrant response-shaping flags. */
  def recommend(
      posIds: Seq[Long], negIds: Seq[Long], k: Int,
      withPayload: PayloadSelector, withVectors: Boolean): DataFrame =
    shapeResponse(recommend(posIds, negIds, k), withPayload, withVectors)

  /** [[discover]] with Qdrant response-shaping flags. */
  def discover(
      targetId: Long, contextPairs: Seq[(Long, Long)], k: Int,
      withPayload: PayloadSelector, withVectors: Boolean): DataFrame =
    attachSelected(discover(targetId, contextPairs, k),
      withPayload, withVectors,
      // discovery ranks by (context pairs satisfied, then similarity)
      Seq(col("ctx_hits").desc, col("sim").desc, col(config.idCol).asc))

  /** [[queryByPointId]] (`query_points(query=<id>)`) with Qdrant
    * response-shaping flags. */
  def queryByPointId(
      id: Long, k: Int, filter: Column,
      scoreThreshold: Option[Double],
      withPayload: PayloadSelector, withVectors: Boolean): DataFrame =
    shapeResponse(queryByPointId(id, k, filter, scoreThreshold),
      withPayload, withVectors)

  /** [[searchGroups]] with Qdrant response-shaping flags: every hit row
    * keeps its (grp_rank, grp, best, hit_rank) group context and the
    * group-then-hit-rank order. */
  def searchGroups(
      queryVec: Seq[Float], groupCol: String, groupSize: Int, limit: Int,
      withPayload: PayloadSelector, withVectors: Boolean): DataFrame =
    attachSelected(searchGroups(queryVec, groupCol, groupSize, limit),
      withPayload, withVectors,
      Seq(col("grp_rank").asc, col("hit_rank").asc))

  /** [[search]] with Qdrant response-shaping flags. */
  def search(
      queryVec: Seq[Float], k: Int, filter: Column,
      scoreThreshold: Option[Double],
      withPayload: PayloadSelector,
      withVectors: Boolean): DataFrame =
    shapeResponse(search(queryVec, k, filter, scoreThreshold),
      withPayload, withVectors)

  /** [[scroll]] with Qdrant response-shaping flags (`with_payload` /
    * `with_vectors` on `client.scroll`). The projection happens BEFORE
    * the page cut, so unselected columns — above all the vector — are
    * pruned at the scan, not carried through the sort. */
  def scroll(
      afterId: Long, limit: Int,
      withPayload: PayloadSelector,
      withVectors: Boolean): DataFrame = {
    val cols = Seq(config.idCol) ++ resolvePayload(withPayload) ++
      (if (withVectors) Seq(config.vectorCol) else Nil)
    table.select(cols.map(col): _*)
      .filter(col(config.idCol) > afterId)
      .orderBy(col(config.idCol)).limit(limit)
  }
}

object VectorCollection {

  private def metaPath(path: String) = s"$path/_graft_meta.json"

  /** The IVF index's column and centroid sidecar
    * ([[VectorCollection.buildIvfIndex]]). */
  private val ClusterCol = "cluster_id"
  private val CentroidsFile = "_graft_centroids.txt"

  /** C1: create-if-absent with declared vector config (the Qdrant
    * VectorParams + MultiVectorComparator declaration), then open. */
  def ensure(
      spark: SparkSession,
      path: String,
      like: DataFrame,
      config: CollectionConfig): VectorCollection = {
    // The flat meta format borrows ';' ':' '=' as delimiters and '"'
    // as the JSON quote — a name or column containing one would write
    // a sidecar that open() mis-parses. Refuse BEFORE creating the
    // collection directory, so a rejected config leaves nothing behind.
    // ',' '{' '}' are open()'s field terminators (split("[,}]")) —
    // a name containing one parses truncated even though the JSON
    // itself would be well-formed
    val metaDelims = Seq(';', ':', '=', '"', '\\', ',', '{', '}')
    def checkName(what: String, s: String): Unit =
      require(!s.exists(metaDelims.contains),
        s"$what '$s' contains a meta-delimiter character " +
          s"(${metaDelims.mkString(" ")}) and cannot be serialized")
    (Seq("idCol" -> config.idCol, "vectorCol" -> config.vectorCol) ++
      config.shardCol.map("shardCol" -> _) ++
      config.namedVectors.flatMap { case (n, (c, _)) =>
        Seq("named vector" -> n, "named vector column" -> c) } ++
      config.sparseVectors.flatMap { case (n, (ic, vc)) =>
        Seq("sparse vector" -> n, "sparse index column" -> ic,
          "sparse value column" -> vc) })
      .foreach { case (what, s) => checkName(what, s) }
    val created = Sink.ensureCollection(spark, path, like)
    if (created) {
      val shard = config.shardCol
        .map(c => s""","shardCol":"$c"""").getOrElse("")
      // named vectors serialize as "n1=col1:dim1;n2=col2:dim2" — flat
      // enough for the split-based reader in [[open]]
      val named =
        if (config.namedVectors.isEmpty) ""
        else config.namedVectors.toSeq.sortBy(_._1)
          .map { case (n, (c, d)) => s"$n=$c:$d" }
          .mkString(""","namedVectors":"""", ";", "\"")
      val dist =
        if (config.distance == "cosine") ""
        else s""","distance":"${config.distance}""""
      // sparse vectors serialize like named ones: "n=idxCol:valCol;…"
      val sparse =
        if (config.sparseVectors.isEmpty) ""
        else config.sparseVectors.toSeq.sortBy(_._1)
          .map { case (n, (ic, vc)) => s"$n=$ic:$vc" }
          .mkString(""","sparseVectors":"""", ";", "\"")
      val json =
        s"""{"idCol":"${config.idCol}","vectorCol":"${config.vectorCol}",""" +
          s""""dim":${config.dim},"multiVector":${config.multiVector}$shard$named$dist$sparse}"""
      // Hadoop-FS sidecar IO, matching ensureCollection/exists — a
      // java.nio write would crash on the hdfs://-s3a:// paths the
      // rest of the surface supports
      Sink.writeSidecar(metaPath(path), json)
    }
    new VectorCollection(spark, path, config)
  }

  /** Open a collection through an alias (Qdrant reads via alias names
    * transparently): resolve the pointer, then [[open]] the target. */
  def openAlias(spark: SparkSession, root: String, alias: String): VectorCollection =
    open(spark, Sink.resolveAlias(spark, root, alias))

  /** Qdrant `collection_exists` / the `get_collections()` membership
    * probe the reference runs before every create
    * (`with_jina_text_v4/jina_v4_text_indexer.py:58-66`): a collection
    * exists where its meta sidecar does. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(metaPath(path))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Qdrant `get_collections`: the collection names under a root — any
    * child directory carrying the meta sidecar (alias pointers are not
    * collections and are skipped). One file-status listing; no data
    * files are opened. */
  def listCollections(spark: SparkSession, root: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val r = new org.apache.hadoop.fs.Path(root)
    val fs = r.getFileSystem(conf)
    if (!fs.exists(r)) Nil
    else fs.globStatus(new org.apache.hadoop.fs.Path(r, "*/_graft_meta.json"))
      .toSeq.map(_.getPath.getParent.getName).sorted
  }

  /** Qdrant `delete_collection`: remove the collection directory. The
    * IVF index lives inside it (the `cluster_id` column and centroid
    * sidecar), and every rewrite stages inside it
    * ([[graft.index.Sink]]'s rewrite protocol), so deleting the root
    * takes the index and any pending staging and commit marker with it
    * — nothing outside it can be resurrected into a collection later
    * created at the same path. Does NOT touch alias pointers — Qdrant
    * aliases dangle too, and [[openAlias]] of a dangling alias fails
    * loudly at open, not silently at query. */
  def drop(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val existed = fs.exists(p)
    fs.delete(p, true)
    existed
  }

  /** Open an existing collection with its persisted config. */
  def open(spark: SparkSession, path: String): VectorCollection = {
    val json = Sink.readSidecar(metaPath(path))
    def field(k: String): String =
      json.split(s""""$k":""")(1).split("[,}]")(0).replaceAll("\"", "")
    val shard =
      if (json.contains("\"shardCol\":")) Some(field("shardCol")) else None
    val named =
      if (!json.contains("\"namedVectors\":")) Map.empty[String, (String, Int)]
      else field("namedVectors").split(";").map { ent =>
        val Array(n, cd) = ent.split("=", 2)
        val Array(c, d) = cd.split(":", 2)
        n -> (c, d.toInt)
      }.toMap
    val dist =
      if (json.contains("\"distance\":")) field("distance") else "cosine"
    val sparse =
      if (!json.contains("\"sparseVectors\":")) Map.empty[String, (String, String)]
      else field("sparseVectors").split(";").map { ent =>
        val Array(n, cd) = ent.split("=", 2)
        val Array(ic, vc) = cd.split(":", 2)
        n -> (ic, vc)
      }.toMap
    val cfg = CollectionConfig(field("idCol"), field("vectorCol"),
      field("dim").toInt, field("multiVector").toBoolean, shard, named, dist,
      sparse)
    new VectorCollection(spark, path, cfg)
  }
}

/** A parquet directory read with its schema resolved once: the first
  * read infers it (one Spark job), later reads pass it to
  * `spark.read.schema(...)` and only list files.
  *
  * It also holds the handle's resident copy of the directory: the data
  * files minus the `leftOut` columns, decoded into memory through
  * [[GraftResidentBridge]] so the session's CacheManager never
  * substitutes it into another read of the same directory. The copy has
  * at most two parts: a base, an in-memory columnar copy of the files
  * listed when it was built, and a delta holding the rows of the files
  * appended since. Every [[resident]] call lists the data files and
  * compares the (path, length) set with the one the copy holds:
  *
  *  - equal: the copy is scanned as it is;
  *  - only new files, every held file still listed at its length, the
  *    same schema: the base stays, and one new delta is built from the
  *    old delta's rows in memory plus only the new files — a lazy local
  *    checkpoint, so its lineage never grows with the appends, and the
  *    old delta's blocks are freed once the new one is filled;
  *  - anything else (a file removed or resized, a schema change), or a
  *    delta whose file bytes would pass the base's: everything is freed
  *    and a new base is built from exactly the listed files. Folding at
  *    the base's size keeps the decode cost of a stream of appends
  *    linear and the copy under twice the collection.
  *
  * Each part fills inside the scanning request's own job (a base read
  * from fewer files than cores is spread by a shuffle, whose map side
  * is one more job of that request). The base has a partition per
  * core, and the delta as few partitions as keep each within a base
  * partition's share of bytes — one for a small delta.
  * The scanned frame is base ∪ delta with partition i of each read by
  * the same task, so a delta adds rows to the base's tasks, not tasks
  * (a plain union ran one more task and measured ~5 ms slower per
  * dense search at 4k rows), sized for the planner at the two parts'
  * file bytes. A filled delta has no lineage: if it lost a block with
  * its executor, the next call drops it and decodes its files again as
  * new files.
  * [[rewrite]] frees the copy too. MEMORY_AND_DISK: a copy too large
  * for the block manager's memory spills instead of failing.
  */
private final class SchemaMemo(
    spark: SparkSession, path: String, leftOut: Set[String]) {
  import SchemaMemo.{Copy, Part}

  @volatile private var schema: Option[StructType] = None
  private var copy: Option[Copy] = None
  private val leftOutLower = leftOut.map(_.toLowerCase)

  /** Whether the resident copy lacks column `name` (matched without
    * case, as Spark resolves names). */
  def leavesOut(name: String): Boolean = leftOutLower(name.toLowerCase)

  def read: DataFrame = schema match {
    case Some(s) => spark.read.schema(s).parquet(path)
    case None =>
      val df = spark.read.parquet(path)
      schema = Some(df.schema)
      df
  }

  /** The resident copy of the listed data files, or None when a
    * visible subdirectory (a partitioned layout) leaves the directory
    * to partition-pruned parquet reads. */
  def resident: Option[DataFrame] = synchronized {
    // a filled delta cannot recompute a lost block: decode its files
    // again, as if they had just been appended to the base
    copy = copy.map(c => if (c.delta.exists(_.r.lost)) c.withoutDelta else c)
    dataFiles().map { files =>
      val listed = files.map(f => f.getPath.toString -> f.getLen).toMap
      copy match {
        case Some(c) if c.files == listed => c.frame
        case held =>
          val s = schema.getOrElse(read.schema)
          val appendedTo = held.filter(c => c.schema == s &&
            c.files.forall { case (f, n) => listed.get(f).contains(n) })
          val next = appendedTo.map(c => c -> (listed -- c.files.keys)) match {
            case Some((c, added)) if c.deltaBytes + added.values.sum <= c.base.bytes =>
              withDelta(c, added)
            case _ => rebuilt(s, listed)
          }
          copy = Some(next)
          next.frame
      }
    }
  }

  /** The listed `files` under schema `s` minus the left-out columns;
    * with the schema given, no file reads as an empty collection. */
  private def columns(s: StructType, files: Iterable[String]): DataFrame =
    spark.read.schema(s).parquet(files.toSeq: _*).drop(s.fieldNames.filter(leavesOut): _*)

  private def rebuilt(s: StructType, listed: Map[String, Long]): Copy = {
    free()
    // one partition per core, not per file, so a scan of the copy runs
    // as many tasks as there are cores: more scan partitions merge
    // (keeping a clustered layout's runs together), fewer — a compacted
    // collection of fewer files than cores — spread by a shuffle
    val cores = spark.sparkContext.defaultParallelism
    val scan = columns(s, listed.keys)
    val base = Part(listed, GraftResidentBridge.resident(
      if (scan.queryExecution.toRdd.getNumPartitions >= cores) scan.coalesce(cores)
      else scan.repartition(cores),
      StorageLevel.MEMORY_AND_DISK))
    Copy(s, base, None, base.r.frame)
  }

  private def withDelta(c: Copy, added: Map[String, Long]): Copy = {
    val fresh = columns(c.schema, added.keys)
    val files = c.delta.fold(added)(_.files ++ added)
    // no delta partition holds more than a base partition's share of
    // bytes; a small delta is one partition
    val parts = math.ceil(spark.sparkContext.defaultParallelism.toDouble *
      files.values.sum / c.base.bytes).toInt.max(1)
    val delta = Part(files, GraftResidentBridge.checkpointed(
      c.delta.fold(fresh)(_.r.frame.union(fresh)).coalesce(parts), c.delta.map(_.r)))
    Copy(c.schema, c.base, Some(delta),
      GraftResidentBridge.concatenated(c.base.r.frame, delta.r.frame, c.base.bytes + delta.bytes))
  }

  /** The directory's data files by Spark's hidden-name rule
    * ([[Sink.isVisible]]); None if a visible entry is a directory. */
  private def dataFiles(): Option[Seq[FileStatus]] = {
    val root = new Path(path)
    val visible = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(root).toSeq.filter(st => Sink.isVisible(st.getPath.getName))
    if (visible.exists(_.isDirectory)) None else Some(visible)
  }

  private def free(): Unit = synchronized {
    copy.foreach { c => c.base.r.free(); c.delta.foreach(_.r.free()) }
    copy = None
  }

  /** Run a rewrite of the directory's files; the next read resolves
    * the schema afresh and the resident copy is freed. */
  def rewrite[T](body: => T): T =
    try body finally { schema = None; free() }

  /** After appending `written` (partitioned by `partitionCols`): keep
    * the schema only if the append wrote the same data columns.
    * Partition column types are inferred from directory names, so they
    * are left out of the comparison. */
  def keepIfSame(written: StructType, partitionCols: Seq[String]): Unit = {
    def cols(st: StructType) = st.fields.collect {
      case f if !partitionCols.contains(f.name) => f.name -> f.dataType.catalogString
    }.toSet
    if (schema.exists(s => cols(s) != cols(written))) schema = None
  }
}

private object SchemaMemo {
  /** A part of the resident copy: the files it holds (path → length). */
  final case class Part(files: Map[String, Long], r: GraftResidentBridge.Resident) {
    def bytes: Long = files.values.sum
  }

  /** The resident copy: built under `schema`, scanned as `frame`. */
  final case class Copy(schema: StructType, base: Part, delta: Option[Part], frame: DataFrame) {
    val files: Map[String, Long] = base.files ++ delta.fold(Map.empty[String, Long])(_.files)
    def deltaBytes: Long = delta.fold(0L)(_.bytes)

    /** The base alone, the delta's blocks freed. */
    def withoutDelta: Copy = {
      delta.foreach(_.r.free())
      Copy(schema, base, None, base.r.frame)
    }
  }
}
