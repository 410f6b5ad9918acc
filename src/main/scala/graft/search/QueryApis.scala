package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.t
import graft.vector.Kernels

/** The rest of Qdrant's query-API surface beyond plain top-k search —
  * recommendation, discovery, grouped search, facet counts, and
  * order-by scroll. The reference drives only `query_points`
  * (`with_vdr-2b-multi-v1/query_vdr_2b_multi_v1.py:78-83`), but these
  * are the sibling calls on the same client object a reference user
  * would reach for next; implementing them closes the "switch
  * libraries and keep your queries" gap.
  *
  * Scale design, shared across all five:
  *  - Example/query vectors are driver-side constants (a handful of id
  *    lookups — B5 semantics, same as the reference embedding its query
  *    on the driver) broadcast into codegen'd projections; no shuffle
  *    touches the corpus for scoring.
  *  - Every top-k cut is `ORDER BY … LIMIT k` → TakeOrderedAndProject
  *    (per-partition heaps, no global sort).
  *  - Grouped search aggregates per group FIRST (map-side combinable
  *    shuffle keyed on the group), cuts to the top `limit` groups, and
  *    only then joins the tiny group list (broadcast) back to rank
  *    hits — the per-hit window never sees groups that lost the cut.
  *  - Facet is one aggregation with the payload filter pushed to the
  *    scan. Order-by scroll is a keyset page: the (value, id) cursor
  *    predicate prunes at the scan, O(page) not O(offset).
  */
/** One MMR selection (public top-level: Dataset encoder codegen —
  * CLAUDE.md Spark-4 rule). */
case class MmrHit(rank: Long, vec_id: Long, score: Double, mmr: Double)

/** One request of the universal `query_batch_points` API
  * ([[QueryApis.queryBatch]]): Qdrant's batch endpoint accepts a
  * heterogeneous list — each entry a plain vector query, a stored
  * point id ("more like this one"), or a recommend request — and this
  * ADT is that union. `qid` labels the request in the result frame. */
sealed trait BatchQuery { def qid: Long }

/** Nearest to a supplied query vector. */
final case class NearestBatchQuery(qid: Long, vector: Seq[Double]) extends BatchQuery

/** Nearest to a STORED point's vector, the point itself excluded. */
final case class ByIdBatchQuery(qid: Long, pointId: Long) extends BatchQuery

/** average_vector recommendation: 2·avg(pos) − avg(neg) (avg(pos)
  * alone with no negatives), example points excluded. */
final case class RecommendBatchQuery(
    qid: Long, positives: Seq[Long], negatives: Seq[Long] = Nil) extends BatchQuery

object QueryApis {

  /** Similarity-space metric value against the current row's
    * `embedding`: LARGER always means CLOSER — the similarity itself
    * for cosine/dot, the NEGATED distance for euclid/manhattan. The
    * metric value rounds at 6dp BEFORE any negation (sign flips are
    * exact in doubles, so the cross-engine rounding pin survives).
    * This is what lets the best_score / sum_scores / context formula
    * family run on every Qdrant Distance with ONE formula text. */
  private def simOf(metric: String): Column => Column = {
    val (scoreOf, asc) = TopK.metricFn(metric)
    (q: Column) => {
      val r = round(scoreOf(col("embedding"), q), 6)
      if (asc) -r else r
    }
  }

  /** Fetch embedding vectors for `ids` as driver-side double arrays,
    * keyed by id (tiny: recommendation examples, not data). Fails with
    * the missing ids by name — the actionable validation error Qdrant
    * returns for an unknown example point. */
  private def fetchVecs(e: DataFrame, ids: Seq[Long]): Map[Long, Array[Double]] = {
    val found = e.filter(col("vec_id").isInCollection(ids))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Number](1).map(_.doubleValue()).toArray)
      .toMap
    val missing = ids.distinct.filterNot(found.contains)
    require(missing.isEmpty,
      s"example point id(s) not in the collection: ${missing.mkString(", ")}")
    found
  }

  /** Component-wise mean in the WRITTEN id order (left-to-right fold,
    * the association the DuckDB oracle writes down too). */
  private def meanVec(vecs: Seq[Array[Double]]): Array[Double] = {
    val dim = vecs.head.length
    Array.tabulate(dim) { i =>
      vecs.map(_(i)).reduceLeft(_ + _) / vecs.length.toDouble
    }
  }

  /** Qdrant `client.recommend`, `average_vector` strategy: the search
    * vector is avg(positives) + (avg(positives) − avg(negatives)) =
    * 2·avg_pos − avg_neg (avg_pos alone when no negatives), and the
    * example points are excluded from the result. One narrow scoring
    * pass + TakeOrderedAndProject, exactly the D1 plan.
    *
    * Metric-aware: average_vector only BUILDS a query vector — the
    * scoring/ranking that follows is plain [[TopK.dense]] semantics,
    * unambiguous under any Qdrant Distance (distance metrics rank
    * ASC). The formula strategies (best_score / sum_scores), whose
    * sign conventions genuinely differ per metric, stay cosine-only. */
  def recommend(
      points: DataFrame,
      posIds: Seq[Long],
      negIds: Seq[Long],
      k: Int,
      metric: String = "cosine"): DataFrame = {
    require(posIds.nonEmpty, "recommend needs at least one positive example")
    val qv = averageVector(fetchVecs(points, posIds ++ negIds), posIds, negIds)
    TopK.dense(points, typedlit(qv.toSeq), "vec_id", "embedding", k,
      !col("vec_id").isInCollection(posIds ++ negIds), None, metric)
  }

  /** average_vector strategy query: 2·avg_pos − avg_neg (avg_pos alone
    * with no negatives), component folds in written id order. */
  private def averageVector(
      vecs: Map[Long, Array[Double]],
      posIds: Seq[Long],
      negIds: Seq[Long]): Array[Double] = {
    val avgPos = meanVec(posIds.map(vecs))
    if (negIds.isEmpty) avgPos
    else {
      val avgNeg = meanVec(negIds.map(vecs))
      Array.tabulate(avgPos.length)(i => avgPos(i) * 2.0 - avgNeg(i))
    }
  }

  /** Qdrant `recommend` with `lookup_from`: the positive/negative
    * example ids name points in a DIFFERENT collection (same vector
    * dimensionality), the recommendation query is built from THAT
    * collection's vectors, and the search still runs over `points`.
    * The canonical use is a user-profile collection steering search
    * over an item collection. Examples are NOT excluded from the
    * results — exclusion only applies when the example ids live in
    * the searched collection itself (the id spaces differ here),
    * which is Qdrant's behavior too. Same plan as [[recommend]]: the
    * lookup fetch is a tiny driver-side constant (B5 semantics), the
    * corpus is scanned once, TakeOrderedAndProject cut. */
  def recommendLookup(
      points: DataFrame,
      lookup: DataFrame,
      posIds: Seq[Long],
      negIds: Seq[Long],
      k: Int,
      metric: String = "cosine"): DataFrame = {
    require(posIds.nonEmpty, "recommend needs at least one positive example")
    val qv = averageVector(fetchVecs(lookup, posIds ++ negIds), posIds, negIds)
    TopK.dense(points, typedlit(qv.toSeq), "vec_id", "embedding", k,
      lit(true), None, metric)
  }

  /** Qdrant `recommend_batch`: N average_vector recommendation
    * requests (id, positives, negatives), each a [[RecommendBatchQuery]]
    * of the one [[queryBatch]] pass. */
  def recommendBatch(
      points: DataFrame,
      requests: Seq[(Long, Seq[Long], Seq[Long])],
      k: Int,
      metric: String = "cosine"): DataFrame =
    queryBatch(points,
      requests.map { case (rid, pos, neg) => RecommendBatchQuery(rid, pos, neg) },
      k, metric)

  /** Qdrant `query_batch_points`: N UNIVERSAL-query requests — plain
    * nearest-by-vector, nearest-to-a-stored-point (self-excluded), or
    * recommend (average_vector, examples excluded) — answered in ONE
    * pass over the collection. Every request resolves driver-side to
    * (query vector, exclusion list): the referenced point ids across
    * ALL requests are fetched with a single pushed IN-list scan, the
    * resolved request frame broadcasts, and ranking is the
    * [[TopK.batch]] pass keyed by request, whatever mix of query kinds
    * the batch carries. Per-kind parity with the singleton APIs is
    * spec-asserted. */
  def queryBatch(
      points: DataFrame, requests: Seq[BatchQuery], k: Int,
      metric: String = "cosine"): DataFrame = {
    require(requests.nonEmpty, "queryBatch needs at least one request")
    require(requests.map(_.qid).distinct.size == requests.size,
      "duplicate request ids in query batch")
    requests.foreach {
      case RecommendBatchQuery(rid, pos, _) =>
        require(pos.nonEmpty, s"request $rid needs at least one positive example")
      case _ => ()
    }
    // every kind in the union resolves to (query vector, exclusions)
    // then ranks with plain TopK semantics — metric-unambiguous, like
    // [[recommend]]; distance metrics rank ASC through the heap
    val refIds = requests.flatMap {
      case ByIdBatchQuery(_, p) => Seq(p)
      case RecommendBatchQuery(_, pos, neg) => pos ++ neg
      case _: NearestBatchQuery => Nil
    }.distinct
    val vecs =
      if (refIds.isEmpty) Map.empty[Long, Array[Double]]
      else fetchVecs(points, refIds)
    import points.sparkSession.implicits._
    val reqRows = requests.map {
      case NearestBatchQuery(rid, v) => (rid, v, Seq.empty[Long])
      case ByIdBatchQuery(rid, p) => (rid, vecs(p).toSeq, Seq(p))
      case RecommendBatchQuery(rid, pos, neg) =>
        (rid, averageVector(vecs, pos, neg).toSeq, (pos ++ neg).distinct)
    }
    TopK.batch(points, reqRows.toDF("req_id", "qv", "excl"), "req_id", "qv", k,
      metric, Some(!array_contains(col("excl"), col("vec_id"))))
  }

  /** Qdrant discovery search: rank by how many (positive, negative)
    * context pairs a candidate satisfies — `round6(cos(v, pos)) ≥
    * round6(cos(v, neg))` — then by similarity to the target, then id.
    * The 6-dp rounding inside the comparison is the portability pin:
    * both engines round identically, so a near-tie can never order
    * differently. All example vectors ride the plan as literals; the
    * corpus is scanned once. */
  def discover(
      points: DataFrame,
      targetId: Long,
      contextPairs: Seq[(Long, Long)],
      k: Int,
      metric: String = "cosine"): DataFrame = {
    require(contextPairs.nonEmpty, "discover needs at least one context pair")
    val ids = (targetId +: contextPairs.flatMap(p => Seq(p._1, p._2))).distinct
    val vecs = fetchVecs(points, ids)
    // metric-aware: a pair is satisfied when the candidate is at least
    // as CLOSE to the positive as to the negative — sim_pos ≥ sim_neg
    // for similarities, d_pos ≤ d_neg for distances (ties satisfy on
    // both). `sim` stays in the metric's own space (a distance on
    // euclid/manhattan collections, like search()) and the tiebreak
    // ordering flips with it.
    val (scoreOf, asc) = TopK.metricFn(metric)
    def to(id: Long): Column =
      round(scoreOf(col("embedding"), typedlit(vecs(id).toSeq)), 6)
    val ctxHits = contextPairs.map { case (p, n) =>
      when(if (asc) to(p) <= to(n) else to(p) >= to(n), 1L).otherwise(0L)
    }.reduce(_ + _)
    points
      .filter(!col("vec_id").isInCollection(ids))
      .select(col("vec_id"), ctxHits.as("ctx_hits"), to(targetId).as("sim"))
      .orderBy(col("ctx_hits").desc,
        if (asc) col("sim").asc else col("sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Qdrant `discover_batch`: N discovery requests in ONE collection
    * pass. Example vectors resolve driver-side (tiny, like B5 query
    * embedding) and broadcast as one request frame carrying the target
    * vector, the context-pair vectors, and the exclusion list; each
    * candidate folds its context hits over the pair array and ranks
    * through the bounded heap on the composite key
    * `4·ctx_hits + keySim` — keySim ∈ (−1, 1) (raw cosine; dot and the
    * distance metrics enter through the monotone squash s/(1+|s|)) and
    * hits step by 1, so the composite is monotone in [[discover]]'s
    * (ctx_hits DESC, sim DESC, id ASC) order and one heap ranks both
    * criteria (spec-pinned equal to per-request [[discover]] on
    * cosine, euclid, AND dot-with-norms>2). Per-pair cosines are intrinsic
    * work, not re-evaluation: each pair is scored once per candidate,
    * exactly as N separate discover scans would — minus the N−1 extra
    * scans. */
  def discoverBatch(
      points: DataFrame,
      requests: Seq[(Long, Long, Seq[(Long, Long)])],
      k: Int,
      metric: String = "cosine"): DataFrame = {
    require(requests.nonEmpty, "discoverBatch needs at least one request")
    require(requests.map(_._1).distinct.size == requests.size,
      "duplicate request ids in discover batch")
    requests.foreach { case (rid, _, ps) =>
      require(ps.nonEmpty, s"discover request $rid needs at least one context pair") }
    val ids = requests
      .flatMap { case (_, t, ps) => t +: ps.flatMap(p => Seq(p._1, p._2)) }.distinct
    val vecs = fetchVecs(points, ids)
    val reqRows = requests.map { case (rid, t, ps) =>
      (rid, vecs(t).toSeq,
        ps.map(p => (vecs(p._1).toSeq, vecs(p._2).toSeq)),
        (t +: ps.flatMap(p => Seq(p._1, p._2))).distinct)
    }
    import points.sparkSession.implicits._
    val reqs = reqRows.toDF("req_id", "qv", "pairs", "excl")
    // metric-aware: pair satisfaction flips to d_pos ≤ d_neg on
    // distance metrics (as in [[discover]]); the composite heap key
    // needs a tiebreak term BOUNDED in (−1, 1) — only cosine is by
    // definition. Distances are unbounded and enter through the
    // strictly MONOTONE squash −d/(1+d) ∈ (−1, 0], and raw DOT is
    // unbounded too (magnitude-sensitive on unnormalized vectors, the
    // d1_topk_dot contract), so it takes the same squash s/(1+|s|) —
    // a dot spread > 4 would otherwise swamp the 4·ctx_hits term and
    // silently diverge from per-request [[discover]]. Monotone means
    // rank parity with per-request [[discover]] is exact; cosine keeps
    // the raw similarity so the q_discover_batch oracle can state the
    // identical composite. Magnitude bound: the squash collapses
    // distinct rounded values past ~1e5 (differences ~1e−6/s² fall
    // below double epsilon near ±1), where ties fall to vec_id — see
    // the parity specs' norm ranges.
    val (scoreOf, asc) = TopK.metricFn(metric)
    def to(v: Column): Column = round(scoreOf(col("embedding"), v), 6)
    def hit(p: Column, n: Column): Column =
      when(if (asc) to(p) <= to(n) else to(p) >= to(n), 1L).otherwise(0L)
    def squash(s: Column): Column = s / (lit(1.0) + abs(s))
    val keySim =
      if (asc) squash(-to(col("qv")))
      else if (metric == "dot") squash(to(col("qv")))
      else to(col("qv"))
    val scored = points.crossJoin(broadcast(reqs))
      .filter(!array_contains(col("excl"), col("vec_id")))
      .select(col("req_id"), col("vec_id"),
        (aggregate(col("pairs"), lit(0L), (acc, p) =>
          acc + hit(p.getField("_1"), p.getField("_2"))).cast("double") * 4.0 +
          keySim).as("score"))
    graft.ops.Similarity.rankHits(scored, "req_id", k)
  }

  /** Qdrant `search_batch` with a FULL per-request [[Filter]] — each
    * SearchRequest carries its own must/should/must_not clause lists
    * (Qdrant's SearchRequest.filter), compiled by the one E4 DSL
    * ([[Filter.toColumn]]) so batch filtering can never drift from
    * standalone filtered search. All requests still share ONE
    * collection pass: the request VECTORS broadcast as a frame, the
    * per-request predicates compile into a single request-id-dispatched
    * boolean inside the same codegen'd scoring stage (requests are a
    * driver-side handful, like the example vectors), and ranking is
    * the bounded-heap aggregate — a filtered request SHRINKS its
    * candidate stream, costing less, not more. The OR of every
    * request's filter additionally prefilters the scan side BEFORE the
    * request fan-out (a row no request keeps never multiplies; with
    * any unfiltered request it constant-folds away). Scoring and
    * ranking are the [[TopK.batch]] pass under the metric. Internal
    * names are `_g`-prefixed so payload names never collide with the
    * request frame; the final projection keeps the scan pruned to
    * (vec_id, embedding, filter-referenced cols). */
  def searchBatchFiltered(
      points: DataFrame,
      requests: Seq[(Long, Seq[Double], Filter)],
      k: Int,
      metric: String): DataFrame = {
    require(requests.nonEmpty, "searchBatchFiltered needs at least one request")
    require(requests.map(_._1).distinct.size == requests.size,
      "duplicate request ids in search batch")
    import points.sparkSession.implicits._
    val reqs = requests.map { case (id, v, _) => (id, v) }.toDF("_g_qid", "_g_qv")
    // superset prefilter: NULL filter results drop in standalone
    // filtered search too, so coalesce-to-false keeps it a superset
    val prefilter = requests
      .map { case (_, _, f) => coalesce(f.toColumn, lit(false)) }
      .reduce(_ || _)
    val pred = requests
      .map { case (id, _, f) => col("_g_qid") === lit(id) && f.toColumn }
      .reduce(_ || _)
    TopK.batch(points.filter(prefilter), reqs, "_g_qid", "_g_qv", k, metric, Some(pred))
      .withColumnRenamed("_g_qid", "q_id")
  }

  /** [[searchBatchFiltered]] with the single-column long-equality
    * shorthand (None = unfiltered) — the q_search_batch_filtered
    * oracle's shape; each request compiles to a one-clause must
    * [[MatchValue]] Filter through the same shared pass. */
  def searchBatchFiltered(
      points: DataFrame,
      requests: Seq[(Long, Seq[Double], Option[Long])],
      filterCol: String,
      k: Int,
      metric: String = "cosine"): DataFrame =
    searchBatchFiltered(points,
      requests.map { case (id, v, f) => (id, v, matchOrAll(filterCol, f)) }, k, metric)

  /** The one-clause must [[MatchValue]] filter pinning `filterCol` to
    * `value`, or the empty (unfiltered) [[Filter]] for None. */
  private[graft] def matchOrAll(filterCol: String, value: Option[Long]): Filter =
    value.fold(Filter())(v => Filter(must = Seq(MatchValue(filterCol, v))))

  /** Qdrant `recommend` with `strategy=best_score` (the non-default
    * strategy beside [[recommend]]'s average_vector): every candidate
    * is scored against EVERY example; its positive score is the max
    * over positives, and if the best negative beats it the candidate
    * is penalized — on cosine/dot it scores −(best negative) (the
    * pinned oracle formula); on euclid/manhattan, where that flip
    * would invert the ranking, penalized candidates take a squashed
    * key in [−2, −1) strictly below every rewarded one, ordered
    * farthest-from-negative first. Scores round at 6dp BEFORE the
    * max/compare (the portability pin, as in [[discover]]).
    * Still the D1 plan: example vectors are literals in one codegen'd
    * projection, TakeOrderedAndProject cut. */
  def recommendBestScore(
      points: DataFrame,
      posIds: Seq[Long],
      negIds: Seq[Long],
      k: Int,
      metric: String = "cosine"): DataFrame = {
    require(posIds.nonEmpty, "recommend needs at least one positive example")
    val vecs = fetchVecs(points, posIds ++ negIds)
    // Similarity-space scoring on EVERY metric: cosine/dot enter as-is,
    // euclid/manhattan enter NEGATED, so "best example" is uniformly the
    // max (max of −d = min distance). Metric values round at 6dp BEFORE
    // negation (sign flips are exact in doubles). The strategy score is
    // a FORMULA value, not the metric's distance, and ranks DESC on
    // every metric — Qdrant's own caveat that best_score/sum_scores
    // scores are not distances (score_threshold is discouraged on them).
    //
    // The penalized branch is metric-split. On cosine/dot the score is
    // −bestNeg — the pinned q_recommend_best oracle formula. On
    // euclid/manhattan that sign flip INVERTS: sims are negated
    // distances (all ≤ 0), so −bestNeg = +d_neg ≥ 0 would outrank every
    // rewarded bestPos ≤ 0 — candidates nearest a negative would rank
    // FIRST. Distances instead take a two-zone key: rewarded candidates
    // squash into (−1, 0] (nearest positive first), penalized into
    // [−2, −1) (farthest from its best negative first), so every
    // penalized candidate ranks strictly below every rewarded one —
    // the documented "sink below" contract, literally true here. Both
    // squashes are strictly monotone, so within-zone order is exact.
    val sim = simOf(metric)
    val (_, asc) = TopK.metricFn(metric)
    def sims(ids: Seq[Long]): Seq[Column] =
      ids.map(id => sim(typedlit(vecs(id).toSeq)))
    val bestPos = sims(posIds).reduce((a, b) => greatest(a, b))
    val score =
      if (negIds.isEmpty) bestPos
      else {
        val bestNeg = sims(negIds).reduce((a, b) => greatest(a, b))
        if (!asc) when(bestPos > bestNeg, bestPos).otherwise(-bestNeg)
        else {
          val dNeg = -bestNeg // distance to the nearest negative, ≥ 0
          when(bestPos > bestNeg, bestPos / (lit(1.0) - bestPos))
            .otherwise(lit(-2.0) + dNeg / (lit(1.0) + dNeg))
        }
      }
    points
      .filter(!col("vec_id").isInCollection(posIds ++ negIds))
      .select(col("vec_id"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Qdrant recommend `strategy=sum_scores` — the third strategy
    * beside average_vector and best_score: score = Σ_pos sim(v, p) −
    * Σ_neg sim(v, n), examples excluded. Unlike best_score's
    * winner-takes-all, every example pulls proportionally; unlike
    * average_vector, a candidate near ONE positive is not washed out
    * by the mean. Example vectors ride the plan as literals (one scan,
    * TakeOrderedAndProject cut); per-example similarities round to 6dp
    * BEFORE the fold, in written order, so both engines sum identical
    * values. */
  def recommendSumScores(
      points: DataFrame,
      posIds: Seq[Long],
      negIds: Seq[Long],
      k: Int,
      metric: String = "cosine"): DataFrame = {
    require(posIds.nonEmpty, "recommend needs at least one positive example")
    val vecs = fetchVecs(points, posIds ++ negIds)
    // similarity space on every metric (distances enter negated, 6dp
    // round before the sign flip); formula scores rank DESC always —
    // see [[recommendBestScore]] for the contract
    val sim = simOf(metric)
    def sims(ids: Seq[Long]): Seq[Column] =
      ids.map(id => sim(typedlit(vecs(id).toSeq)))
    val posSum = sims(posIds).reduce(_ + _)
    val score =
      if (negIds.isEmpty) posSum
      else posSum - sims(negIds).reduce(_ + _)
    points
      .filter(!col("vec_id").isInCollection(posIds ++ negIds))
      .select(col("vec_id"), round(score, 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Qdrant context search (`query=ContextQuery(pairs)` — discovery's
    * sibling with NO target): score = Σ_pairs min(0, sim(pos_i) −
    * sim(neg_i)), so a point on the positive side of every pair scores
    * exactly 0 ("inside the context") and violations subtract their
    * margin. Qdrant breaks ties among in-context points randomly; this
    * engine pins id ASC for determinism. Same scan-shaped plan as
    * [[discover]]. */
  def contextSearch(
      points: DataFrame,
      contextPairs: Seq[(Long, Long)],
      k: Int,
      metric: String = "cosine"): DataFrame = {
    require(contextPairs.nonEmpty, "context search needs at least one pair")
    val ids = contextPairs.flatMap(p => Seq(p._1, p._2)).distinct
    val vecs = fetchVecs(points, ids)
    // similarity space on every metric (sim_pos − sim_neg = d_neg −
    // d_pos after negation: positive margin = nearer the positive);
    // the loss formula and its DESC ranking are metric-invariant
    val sim = simOf(metric)
    val loss = contextPairs.map { case (p, n) =>
      least(lit(0.0),
        sim(typedlit(vecs(p).toSeq)) - sim(typedlit(vecs(n).toSeq)))
    }.reduce(_ + _)
    points
      .filter(!col("vec_id").isInCollection(ids))
      .select(col("vec_id"), round(loss, 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Qdrant `search_groups`: the top `limit` groups (by their best
    * hit's score), each with its top `groupSize` hits. Group selection
    * is an aggregate + TakeOrdered cut over ONE row per group; per-hit
    * ranking within surviving groups (broadcast semi-join) is the
    * bounded-heap topk_hits aggregate — map-side partial, O(groupSize)
    * per group through the shuffle, so even a pathologically large
    * single group never buffers its full row set the way a ranking
    * window would. */
  def searchGroups(
      points: DataFrame,
      queryVec: Seq[Double],
      groupCol: String,
      groupSize: Int,
      limit: Int,
      metric: String = "cosine"): DataFrame = {
    // metric-aware end to end: scores stay in the metric's own space
    // (distances on euclid/manhattan, like search()), so a group's
    // "best" hit is max(score) on similarities and MIN(score) on
    // distances, group order and hit ranking flip with it, and the
    // bounded heap ranks ASC via the exact-negation trick rankHits uses
    val (scoreOf, asc) = TopK.metricFn(metric)
    val scored = points.select(
      col("vec_id"), col(groupCol).cast("long").as("grp"),
      round(scoreOf(col("embedding"), typedlit(queryVec)), 6).as("score"))
    def bestOrd = if (asc) col("best").asc else col("best").desc
    val gtop = scored.groupBy(col("grp"))
      .agg((if (asc) min(col("score")) else max(col("score"))).as("best"))
      .orderBy(bestOrd, col("grp").asc)
      .limit(limit)
      // ≤ limit rows survive the cut — the global window ranks a
      // handful of group headers, not data
      .withColumn("grp_rank",
        row_number().over(Window.orderBy(bestOrd, col("grp").asc))
          .cast("long"))
    scored
      .join(broadcast(gtop), Seq("grp"))
      .groupBy(col("grp"), col("grp_rank"), col("best"))
      .agg(Kernels.topKHits(
        if (asc) -col("score") else col("score"),
        col("vec_id"), groupSize).as("hits"))
      .select(col("grp"), col("grp_rank"), col("best"), posexplode(col("hits")))
      .select(col("grp_rank"), col("grp"), col("best"),
        col("col.vec_id").as("vec_id"),
        (if (asc) -col("col.score") else col("col.score")).as("score"),
        (col("pos") + 1).cast("long").as("hit_rank"))
  }

  /** Qdrant `recommend_groups`: recommendation scoring
    * (average_vector strategy, example points excluded) with grouped
    * results — the composition of [[recommend]]'s driver-side query
    * construction and [[searchGroups]]'s group-headers-first plan. The
    * 2·avg_pos − avg_neg vector becomes a plan literal exactly as in
    * [[recommend]]; the exclusion filter sits in the scan below the
    * group-header aggregate, so excluded examples never reach any
    * ranking state. */
  def recommendGroups(
      points: DataFrame,
      posIds: Seq[Long],
      negIds: Seq[Long],
      groupCol: String,
      groupSize: Int,
      limit: Int,
      metric: String = "cosine"): DataFrame = {
    require(posIds.nonEmpty, "recommend needs at least one positive example")
    val qv = averageVector(fetchVecs(points, posIds ++ negIds), posIds, negIds)
    searchGroups(
      points.filter(!col("vec_id").isInCollection(posIds ++ negIds)),
      qv.toSeq, groupCol, groupSize, limit, metric)
  }

  /** [[searchGroups]] with Qdrant's `with_lookup`: attach columns of a
    * SECOND collection's record whose id equals the group key (the
    * canonical use: chunks grouped by document id, lookup fetches the
    * document). Two broadcast joins, no lookup shuffle:
    *  1. the ≤`limit` surviving group keys broadcast INTO the lookup
    *     collection's scan (map-side semi-join — the 100 TB lookup
    *     table is never exchanged, and only matching rows survive);
    *  2. the fetched ≤`limit` lookup rows broadcast back onto the
    *     group hits as a LEFT join — Qdrant returns a group with a
    *     null lookup when the id is missing, so groups never drop.
    * Lookup columns come back `lk_`-prefixed to keep the hit schema
    * collision-free. Plan-asserted in ScaleDesignSpec. */
  def searchGroupsWithLookup(
      points: DataFrame,
      queryVec: Seq[Double],
      groupCol: String,
      groupSize: Int,
      limit: Int,
      lookup: DataFrame,
      lookupIdCol: String,
      lookupCols: Seq[String],
      metric: String = "cosine"): DataFrame = {
    // materialize the group hits ONCE: the frame is bounded (limit ×
    // groupSize rows) but its plan scores the corpus, and it is
    // referenced twice below (key fetch + outer join) — an
    // unmaterialized plan would run the whole corpus scoring once per
    // reference. Collected to a LOCAL frame rather than
    // localCheckpoint()ed: the rows are response-sized, and checkpoint
    // blocks have no release point here — repeated calls would
    // accumulate block-manager storage for the session's lifetime.
    // The downstream broadcast joins stay in the returned plan
    // (ScaleDesignSpec pins them).
    val spark = points.sparkSession
    val ghits = searchGroups(points, queryVec, groupCol, groupSize, limit, metric)
    val groups = spark.createDataFrame(
      java.util.Arrays.asList(ghits.collect(): _*), ghits.schema)
    val lk = lookup.select(
      col(lookupIdCol).cast("long").as("_lk_id") +:
        lookupCols.map(c => col(c).as(s"lk_$c")): _*)
    val fetched = lk.join(
      broadcast(groups.select(col("grp")).distinct()),
      col("_lk_id") === col("grp")).drop("grp")
    groups.join(broadcast(fetched), col("grp") === col("_lk_id"), "left")
      .drop("_lk_id")
  }

  /** Qdrant facet API: value counts for one payload key under a
    * filter. The filter pushes to the scan; the count is one map-side
    * combinable aggregation; the top cut is TakeOrderedAndProject. */
  def facet(
      points: DataFrame,
      key: String,
      filter: Column,
      limit: Int): DataFrame =
    points.filter(filter)
      .groupBy(col(key).as("value"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("value").asc)
      .limit(limit)

  /** Qdrant facet with `exact=false`: per-value hit counts estimated
    * by a HyperLogLog++ sketch over the (unique) point id instead of
    * an exact counter. Identical plan shape to [[facet]] — pushed
    * filter, map-side combinable aggregate, TakeOrderedAndProject
    * cut — but the per-value aggregation state is a fixed-size sketch
    * whose partials merge commutatively, the trade Qdrant's own
    * exact=false makes for speed on large collections. `rsd` is the
    * estimate's relative STANDARD DEVIATION, not a bound — individual
    * estimates routinely land past 1×rsd — so q_facet_approx runs the
    * sketch at 1% and gates at 5% (≈5σ): tight enough that silent
    * drift fails the gate, loose enough that in-spec HLL++ noise
    * passes it.
    *
    * When to use which approx path: HLL counts DISTINCT points, so it
    * is the right estimator when the facet input has duplicated point
    * rows — a multi-vector layout (one row per token vector) or a
    * post-join fan-out — where a plain count would over-count and a
    * count(distinct) would shuffle every id. On a one-row-per-point
    * frame its sketch buys nothing over an exact count (count state is
    * 8 bytes; the scan cost is identical) — there [[facetSampled]] is
    * the bounded-WORK path: it shrinks the aggregate's input, not just
    * its state. */
  def facetApprox(
      points: DataFrame,
      key: String,
      idCol: String,
      filter: Column,
      limit: Int,
      rsd: Double = 0.01): DataFrame =
    points.filter(filter)
      .groupBy(col(key).as("value"))
      .agg(approx_count_distinct(col(idCol), rsd).as("n_approx"))
      .orderBy(col("n_approx").desc, col("value").asc)
      .limit(limit)

  /** Facet `exact=false` as bounded WORK (not just bounded state): a
    * deterministic `permille`-per-mille sample keyed on the stable
    * content hash of the point id — the same draw as
    * `x_stratified_sample` — counted per value and scaled back up by
    * the exact integer factor 1000/permille. The aggregate consumes
    * `permille/1000` of the filtered rows; everything upstream of the
    * sample filter is the same pushed scan as [[facet]].
    *
    * Because the draw is a pure function of the id (no rand()), BOTH
    * engines compute the SAME sample: the estimate is hash-exact
    * across Spark and DuckDB and needs no tolerance gate — drift in
    * either engine's hash, filter, or scale-up fails the oracle
    * outright. Estimator error vs the true count is the usual
    * binomial sigma ~ sqrt(n·(1000-permille)/permille); at 100 TB the
    * sample rate is the accuracy/cost knob and the draw stays
    * shuffle-free (FacetSpec asserts the observed error). */
  def facetSampled(
      points: DataFrame,
      key: String,
      idCol: String,
      filter: Column,
      limit: Int,
      permille: Int = 500): DataFrame = {
    require(permille > 0 && 1000 % permille == 0,
      s"permille must divide 1000 for exact integer scale-up, got $permille")
    points.filter(filter)
      .filter(graft.index.Embedder.permilleDraw("facet:", col(idCol)) < permille)
      .groupBy(col(key).as("value"))
      .agg((count(lit(1)) * (1000L / permille)).as("n_est"))
      .orderBy(col("n_est").desc, col("value").asc)
      .limit(limit)
  }

  /** Qdrant `client.count` with `exact=false`: estimate the filtered
    * point count from the same deterministic per-mille draw as
    * [[facetSampled]] — the aggregate consumes `permille/1000` of the
    * filtered rows and scales back up exactly. Qdrant's own
    * exact=false trades precision for skipping full postings
    * traversal; the Spark analog is shrinking the counted row set. The
    * draw is a pure function of the id, so the estimate is hash-exact
    * across engines (q_count_approx has no tolerance gate). */
  def countApprox(
      points: DataFrame,
      idCol: String,
      filter: Column,
      permille: Int = 500): DataFrame = {
    require(permille > 0 && 1000 % permille == 0,
      s"permille must divide 1000 for exact integer scale-up, got $permille")
    points.filter(filter)
      .filter(graft.index.Embedder.permilleDraw("count:", col(idCol)) < permille)
      .agg((count(lit(1)) * (1000L / permille)).as("n_est"))
  }

  /** Qdrant formula-based score boosting (`query` with a formula
    * object): the final rank key is an arithmetic combination of the
    * similarity score and payload-derived terms — e.g. boost exact
    * label matches or recency. `boost` is any deterministic Column
    * over the point's payload; the formula stays inside the same
    * codegen'd projection as the cosine, so boosting is free at scan
    * time — no second pass, no shuffle, same TakeOrderedAndProject
    * top-k as plain search. */
  def searchBoosted(
      points: DataFrame,
      queryVec: Seq[Double],
      boost: Column,
      k: Int): DataFrame =
    points
      .select(col("vec_id"),
        round(Kernels.cosine(col("embedding"), typedlit(queryVec)), 6).as("sim"),
        round(boost, 6).as("boost"))
      .select(col("vec_id"), col("sim"), col("boost"),
        round(col("sim") + col("boost"), 6).as("score"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)

  /** Qdrant MMR (maximal marginal relevance) diversity reranking: fetch
    * `fetchN` candidates by plain similarity, then greedily select `k`
    * maximizing λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s).
    *
    * Scale split mirrors Qdrant's own execution: candidate retrieval is
    * the distributed part (scan → codegen'd cosine →
    * TakeOrderedAndProject); the greedy pass is O(k·fetchN) over the
    * collected candidate set — driver-side by design, like the
    * reference's driver-side query embedding (B5), because each pick
    * depends on all previous picks (inherently sequential) and fetchN
    * is a bounded API parameter, never corpus-sized.
    *
    * Determinism pins (both engines): candidate scores and pairwise
    * penalties ROUND(...,6) before the arithmetic, mmr ROUND(...,6),
    * ties broken by id; the first pick's mmr is its similarity.
    *
    * Metric-aware (r15 verdict gap — Qdrant runs MMR under any
    * Distance): the tradeoff needs relevance and redundancy on one
    * BOUNDED shared scale, which cosine has by definition and the
    * others do not — so non-cosine metrics enter through the
    * discoverBatch monotone squash: distances as −d/(1+d) ∈ (−1, 0]
    * (closer ⇒ larger — both terms keep MMR's 'big = relevant/
    * redundant' orientation), unbounded dot as s/(1+|s|) ∈ (−1, 1).
    * The squash is strictly monotone, so candidate ORDER per term is
    * exactly the metric's own ranking; `score` in the output stays
    * the RAW metric score (what [[TopK.dense]] reports), only the
    * mmr composite uses squashed terms. Cosine keeps the r11 raw
    * formula verbatim (the frozen q_search_mmr oracle). */
  def mmr(
      points: DataFrame,
      queryVec: Seq[Double],
      fetchN: Int,
      k: Int,
      lambda: Double,
      metric: String = "cosine"): DataFrame = {
    val spark = points.sparkSession
    val (scoreOf, asc) = TopK.metricFn(metric)
    val cand = points
      .select(col("vec_id"), col("embedding"),
        round(scoreOf(col("embedding"), typedlit(queryVec)), 6).as("score"))
      .orderBy(if (asc) col("score").asc else col("score").desc, col("vec_id").asc)
      .limit(fetchN)
      .collect()
      // Seq[Number], not Seq[Float]: a collection whose vector column
      // is array<double> would ClassCastException on the unbox (the
      // fetchVecs pattern)
      .map(r => (r.getLong(0),
        r.getSeq[Number](1).map(_.doubleValue()).toArray, r.getDouble(2)))
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // driver-side twins of the Kernels fold shapes (same summation
    // order as the codegen'd expressions, so rounded values agree)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def dotP(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }; s
    }
    def euclid(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      math.sqrt(s)
    }
    def manhattan(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }; s
    }
    val pairScore: (Array[Double], Array[Double]) => Double = metric match {
      case "cosine" => cos
      case "dot" => dotP
      case "euclid" => euclid
      case "manhattan" => manhattan
    }
    // the bounded MMR terms: raw for cosine (r11 contract), squashed
    // otherwise — distances flip sign FIRST so closer is larger
    def squash(s: Double): Double = s / (1.0 + math.abs(s))
    def term(raw: Double): Double =
      if (metric == "cosine") raw
      else if (asc) squash(-raw)
      else squash(raw)
    val selected = scala.collection.mutable.ArrayBuffer.empty[MmrHit]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    while (selected.length < math.min(k, cand.length)) {
      val remaining = cand.filterNot(c => chosen.exists(_._1 == c._1))
      val scoredRem = remaining.map { case (id, vec, score) =>
        val m =
          if (chosen.isEmpty) round6(term(score))
          else {
            val penalty = chosen.map(s => round6(term(round6(pairScore(vec, s._2))))).max
            round6(lambda * round6(term(score)) - (1.0 - lambda) * penalty)
          }
        (id, vec, score, m)
      }
      val best = scoredRem.minBy { case (id, _, _, m) => (-m, id) }
      selected += MmrHit(selected.length + 1L, best._1, best._3, best._4)
      chosen += ((best._1, best._2))
    }
    spark.createDataFrame(selected.toSeq)
      .orderBy(col("rank"))
  }

  /** The distance-matrix sample: Qdrant's ABSOLUTE-count `sample`
    * parameter, drawn as the first `n` points in content-stable hash
    * order (the [[randomSample]] draw under a distinct salt) —
    * reproducible across runs and engines, uncorrelated with ingest
    * order, and a TakeOrderedAndProject cut (per-partition n-heaps, no
    * shuffle, no rand()). `limit(n)` makes the matrix's broadcast
    * bound TRUE BY CONSTRUCTION — no guard count, no extra action. */
  private[graft] def matrixSample(points: DataFrame, n: Int): DataFrame =
    points
      .select(col("vec_id"), col("embedding"),
        graft.index.Embedder.stringHash64(
          concat(lit("matrix:"), col("vec_id"))).as("_h"))
      .orderBy(col("_h").asc, col("vec_id").asc)
      .limit(n)
      .select(col("vec_id"), col("embedding"))

  /** Qdrant distance-matrix API (`search_matrix_pairs`): pairwise
    * nearest neighbors within a deterministic sample — each sampled
    * point's top `k` most-similar other sampled points. `sample` is
    * Qdrant's own absolute-count parameter ([[matrixSample]]): the
    * sample is `limit(sample)`-defined, so the all-pairs side is
    * broadcast-safe structurally — the pre-r10 corpus-fraction
    * formulation needed an eager guard count per call (an extra
    * corpus scan) to keep a silent corpus-fraction broadcast out. */
  def matrixPairs(points: DataFrame, sample: Int, k: Int,
      metric: String = "cosine"): DataFrame = {
    val maxSample = 100000
    require(sample > 0 && sample <= maxSample,
      s"matrixPairs sample=$sample out of (0, $maxSample] — the matrix is " +
        "all-pairs within the sample, so it must stay broadcast-sized")
    // metric-aware (r15 verdict gap — Qdrant's search_matrix runs
    // under the collection's Distance): `score` is the RAW metric
    // value and the per-point neighbor ranking follows the metric's
    // own order (similarities DESC, distances ASC), the one
    // TopK.metricFn mapping — no squash needed here, the matrix
    // never mixes terms across scales.
    val (scoreOf, asc) = TopK.metricFn(metric)
    val s = matrixSample(points, sample)
    val a = s.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = s.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val w = Window.partitionBy(col("id_a"))
      .orderBy(if (asc) col("score").asc else col("score").desc, col("id_b").asc)
    a.join(broadcast(b), col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(scoreOf(col("va"), col("vb")), 6).as("score"))
      .withColumn("r", row_number().over(w).cast("long"))
      .filter(col("r") <= k)
  }

  /** Qdrant random sampling (`query=sample(random)`): `k` points drawn
    * by a content-stable hash order — reproducible across runs and
    * engines (no rand()), yet uncorrelated with ingest order. The cut
    * is TakeOrderedAndProject over a narrow projection: no shuffle, no
    * full sort, scales as a scan. */
  def randomSample(points: DataFrame, k: Int): DataFrame =
    points
      .select(col("vec_id"),
        graft.index.Embedder.stringHash64(
          concat(lit("sample:"), col("vec_id"))).as("h"))
      .orderBy(col("h").asc, col("vec_id").asc)
      .limit(k)

  /** Qdrant scroll with `order_by`: one page ordered by a payload
    * field, driven by a (value, id) keyset cursor — the predicate is
    * scan-prunable, so a page costs O(page) at any offset depth (a row
    * offset would cost O(offset)). `descending` is order_by
    * direction=desc: the cursor comparison flips on the VALUE while
    * the id tiebreak stays ascending (the pinned total order both
    * engines share), so pages chain by passing the previous page's
    * last (value, id). */
  def scrollSorted(
      points: DataFrame,
      orderCol: String,
      idCol: String,
      afterValue: Long,
      afterId: Long,
      limit: Int,
      filter: Column = lit(true),
      descending: Boolean = false): DataFrame = {
    val cursor =
      if (descending)
        col(orderCol) < afterValue ||
          (col(orderCol) === afterValue && col(idCol) > afterId)
      else
        col(orderCol) > afterValue ||
          (col(orderCol) === afterValue && col(idCol) > afterId)
    points
      .filter(filter)
      .filter(cursor)
      .select(col(idCol), col(orderCol))
      .orderBy(if (descending) col(orderCol).desc else col(orderCol).asc,
        col(idCol).asc)
      .limit(limit)
  }

  /** Qdrant Universal Query API multi-stage search (`query_points`
    * with `prefetch=[Prefetch(query=dense, limit=N)]` and a rescoring
    * `query`): stage 1 ranks a CHEAP dense representation (e.g. the
    * mean-pooled token matrix — the documented ColBERT/ColPali serving
    * pattern) and keeps `prefetchN` candidates; stage 2 rescores ONLY
    * those with full MaxSim late interaction.
    *
    * Scale design: stage 1 is the D1 plan over the dense column alone
    * (the token matrices never leave the parquet scan — column
    * pruning), TakeOrderedAndProject cut to N rows on the driver side
    * of the plan; stage 2 re-reads matrices for the N survivors via a
    * BROADCAST join on the candidate ids (N ≈ 10–100 rows), so the
    * expensive MaxSim touches N rows, not the corpus. At 100 TB the
    * matrix column is ~10× the dense column; this is the difference
    * between scanning both and scanning one. */
  def prefetchRescore(
      docs: DataFrame,
      qDense: DataFrame,
      qMulti: DataFrame,
      idCol: String,
      denseCol: String,
      vecsCol: String,
      prefetchN: Int,
      k: Int): DataFrame = {
    val cands = docs
      .crossJoin(broadcast(qDense))
      .select(col(idCol),
        round(Kernels.cosine(col(denseCol), col("qd")), 6).as("prefetch_score"))
      .orderBy(col("prefetch_score").desc, col(idCol).asc)
      .limit(prefetchN)
    docs
      .join(broadcast(cands.select(col(idCol))), Seq(idCol))
      .crossJoin(broadcast(qMulti))
      .select(col(idCol),
        round(Kernels.maxsim(col("qm"), col(vecsCol)), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  // -- query/oracle registry ---------------------------------------

  private val RecPos = Seq(1L, 2L)
  private val RecNeg = Seq(3L)
  private val DiscTarget = 0L
  private val DiscPairs = Seq((1L, 2L), (3L, 4L))
  private val MmrFetch = 10
  private val MmrK = 5
  private val MmrLambda = 0.5
  private val MatrixN = 50
  private val MatrixK = 3
  private val LookupPos = Seq(3L, 11L)
  private val LookupNeg = Seq(7L)
  // batch-API gate fixtures: three requests each, heterogeneous where
  // the API is (q_query_batch mixes all three BatchQuery kinds)
  private val BatchK = 5
  private val SearchBatchSrc = Seq((1L, 0L), (2L, 5L), (3L, 9L))
  private val BatchRecReqs = Seq(
    (1L, Seq(1L, 2L), Seq(3L)),
    (2L, Seq(5L, 6L), Seq.empty[Long]),
    (3L, Seq(9L), Seq(10L)))
  // discover_batch gate: request 2 exercises the multi-pair fold
  private val DiscBatchReqs = Seq(
    (1L, 0L, Seq((1L, 2L))),
    (2L, 5L, Seq((6L, 7L), (8L, 9L))),
    (3L, 9L, Seq((10L, 11L))))
  // filtered search_batch gate: (req id, stored-point query, label pin);
  // request 2 exercises the unfiltered branch through the same pass
  private val SbfReqs = Seq(
    (1L, 0L, Some(3L)),
    (2L, 5L, None),
    (3L, 9L, Some(7L)))

  /** The ex/q CTE pair building the average_vector query literal
    * (DuckDB disallows subqueries inside lambdas, so the example
    * vectors land in `ex` first and the lambda reads its columns; the
    * component formula is the same left-to-right fold the Scala side
    * computes), plus the exclusion id list — shared by q_recommend
    * and q_recommend_groups. */
  private def duckAvgVectorCtes: (String, String) =
    duckAvgVectorCtes(RecPos, RecNeg, duckVec)

  /** Parameterized form — ONE copy of the average_vector oracle
    * formula, shared by q_recommend/q_recommend_groups (embeddings
    * examples), q_recommend_lookup (document-collection examples), and
    * the per-request CTEs of the batch oracles (`suffix` keeps the CTE
    * names request-unique): inline copies could silently drift apart.
    * No negatives → the query vector is avg(positives) alone, the same
    * branch [[averageVector]] takes. */
  private def duckAvgVectorCtes(
      pos: Seq[Long], neg: Seq[Long], vecOf: Long => String,
      suffix: String = ""): (String, String) = {
    val exCols =
      (pos.zipWithIndex.map { case (id, i) => s"${vecOf(id)} AS p$i" } ++
        neg.zipWithIndex.map { case (id, i) => s"${vecOf(id)} AS n$i" })
        .mkString(",\n  ")
    val posSum = pos.indices.map(i => s"p$i[i]::DOUBLE").mkString(" + ")
    val negSum = neg.indices.map(i => s"n$i[i]::DOUBLE").mkString(" + ")
    val avgPos = s"(($posSum) / ${pos.length}.0)"
    val component =
      if (neg.isEmpty) avgPos
      else s"$avgPos * 2.0 - (($negSum) / ${neg.length}.0)"
    val ctes =
      s"""ex$suffix AS (SELECT $exCols),
         |q$suffix AS (SELECT list_transform(range(1, 65), i -> $component) AS qv FROM ex$suffix)""".stripMargin
    (ctes, (pos ++ neg).mkString(", "))
  }

  /** documents embedded as a second collection in (vec_id, embedding)
    * shape — the `lookup_from` fixture (ids are DOC ids). */
  private def docLookup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").select(
      col("doc_id").as("vec_id"),
      graft.index.Embedder.embedRaw(
        graft.index.Embedder.tokenHashes(col("text"))).as("embedding"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_recommend" -> ((s, dir) =>
      recommend(t(s, dir, "embeddings"), RecPos, RecNeg, 10)),
    "q_recommend_lookup" -> ((s, dir) =>
      recommendLookup(
        t(s, dir, "embeddings"), docLookup(s, dir), LookupPos, LookupNeg, 10)),
    "q_discover" -> ((s, dir) =>
      discover(t(s, dir, "embeddings"), DiscTarget, DiscPairs, 10)),
    "q_recommend_best" -> ((s, dir) =>
      recommendBestScore(t(s, dir, "embeddings"), RecPos, RecNeg, 10)),
    "q_recommend_sum" -> ((s, dir) =>
      recommendSumScores(t(s, dir, "embeddings"), RecPos, RecNeg, 10)),
    // Qdrant search_batch: N query vectors (stored points 0/5/9 as the
    // deterministic fixtures), ONE corpus pass, bounded-heap ranking —
    // the composite-key heap path the per-request gates never touch
    "q_search_batch" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val vecs = fetchVecs(e, SearchBatchSrc.map(_._2))
      import s.implicits._
      val q = SearchBatchSrc.map { case (qid, p) => (qid, vecs(p).toSeq) }
        .toDF("q_id", "qv")
      graft.ops.Similarity.knnJoin(e, q, BatchK)
        .orderBy(col("q_id"), col("rnk"))
    }),
    // recommend_batch: 3 average_vector requests (one with NO
    // negatives — the avg_pos-alone formula branch) with per-request
    // exclusion lists through the one-pass ranking
    "q_recommend_batch" -> ((s, dir) =>
      recommendBatch(t(s, dir, "embeddings"), BatchRecReqs, BatchK)
        .orderBy(col("req_id"), col("rnk"))),
    // query_batch_points: the heterogeneous universal batch — plain
    // vector (no exclusion), by-stored-point (self-excluded), and
    // recommend (examples excluded) in ONE list, one corpus pass
    "q_query_batch" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val v0 = fetchVecs(e, Seq(0L))(0L).toSeq
      queryBatch(e, Seq(
        NearestBatchQuery(1L, v0),
        ByIdBatchQuery(2L, 5L),
        RecommendBatchQuery(3L, RecPos, RecNeg)), BatchK)
        .orderBy(col("req_id"), col("rnk"))
    }),
    // discover_batch: N discovery requests through the one-pass
    // composite-key ranking (4·ctx_hits + sim)
    "q_discover_batch" -> ((s, dir) =>
      discoverBatch(t(s, dir, "embeddings"), DiscBatchReqs, BatchK)
        .orderBy(col("req_id"), col("rnk"))),
    // search_batch with PER-REQUEST payload filters: the filter value
    // rides the broadcast request frame into the one scoring pass
    "q_search_batch_filtered" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val vecs = fetchVecs(e, SbfReqs.map(_._2))
      searchBatchFiltered(e,
        SbfReqs.map { case (qid, p, f) => (qid, vecs(p).toSeq, f) },
        "label", BatchK)
        .orderBy(col("q_id"), col("rnk"))
    }),
    // recommend_groups: recommend scoring, grouped results, examples out
    "q_recommend_groups" -> ((s, dir) =>
      recommendGroups(t(s, dir, "embeddings"), RecPos, RecNeg,
          "label", groupSize = 2, limit = 5)
        .orderBy(col("grp_rank"), col("hit_rank"))),
    "q_context_search" -> ((s, dir) =>
      contextSearch(t(s, dir, "embeddings"), DiscPairs, 10)),
    "q_search_groups" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qRow = e.filter(col("vec_id") === 0).head
      val qv = qRow.getSeq[Float](qRow.fieldIndex("embedding")).map(_.toDouble)
      searchGroups(e, qv, "label", groupSize = 2, limit = 5)
        .orderBy(col("grp_rank"), col("hit_rank"))
    }),
    // search_groups with_lookup: embeddings group by label, the label
    // doubles as a document id into the lookup collection (Qdrant's
    // chunks→document shape).
    "q_groups_lookup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qRow = e.filter(col("vec_id") === 0).head
      val qv = qRow.getSeq[Float](qRow.fieldIndex("embedding")).map(_.toDouble)
      searchGroupsWithLookup(e, qv, "label", groupSize = 2, limit = 5,
        lookup = t(s, dir, "documents"), lookupIdCol = "doc_id",
        lookupCols = Seq("lang", "n_chars"))
        .orderBy(col("grp_rank"), col("hit_rank"))
    }),
    "q_facet" -> ((s, dir) =>
      facet(t(s, dir, "documents"), "lang", col("n_chars") >= 300, 10)),
    // facet exact=false, gated like the ANN recall queries: the HLL++
    // estimate must sit within the declared rsd of the exact count for
    // every value — a vacuous-pass-proof check both engines can state
    "q_facet_approx" -> ((s, dir) => {
      val d = t(s, dir, "documents").filter(col("n_chars") >= 300)
      // the gate needs EVERY facet value (cut first-10 BY VALUE after
      // the join — the oracle's exact semantics; two top-10-BY-COUNT
      // cuts joined silently diverge past 10 distinct values), so the
      // exact and HLL++ sides are plain uncut aggregations — not
      // facet() with an absurd top-k limit
      val exact = d.groupBy(col("lang").as("value")).agg(count(lit(1)).as("n"))
      val approx = d.groupBy(col("lang").as("value"))
        .agg(approx_count_distinct(col("doc_id"), 0.01).as("n_approx"))
      exact.join(approx, Seq("value"))
        .select(col("value"),
          (abs(col("n_approx") - col("n")) <= col("n") * 0.05).as("within_rsd"))
        .orderBy(col("value")).limit(10)
    }),
    // facet exact=false, bounded-work formulation: both engines draw
    // the SAME deterministic sample, so the estimates hash-match
    // exactly — no tolerance gate to hide behind
    "q_facet_sampled" -> ((s, dir) =>
      facetSampled(t(s, dir, "documents"), "lang", "doc_id",
        col("n_chars") >= 300, 10)),
    "q_scroll_sorted" -> ((s, dir) =>
      scrollSorted(t(s, dir, "documents"), "n_chars", "doc_id",
        afterValue = 300L, afterId = 0L, limit = 20)),
    // Qdrant scroll with scroll_filter: the payload predicate AND the
    // keyset cursor both push to the scan — a filtered page is still
    // O(page)
    "q_scroll_filtered" -> ((s, dir) =>
      scrollSorted(t(s, dir, "documents"), "n_chars", "doc_id",
        afterValue = 300L, afterId = 0L, limit = 20,
        filter = col("lang") === "en")),
    // order_by direction=desc: same keyset plan with the value
    // comparison flipped, id tiebreak still ascending
    "q_scroll_desc" -> ((s, dir) =>
      scrollSorted(t(s, dir, "documents"), "n_chars", "doc_id",
        afterValue = 300L, afterId = 0L, limit = 20, descending = true)),
    "q_mmr" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qRow = e.filter(col("vec_id") === 0).head
      val qv = qRow.getSeq[Float](qRow.fieldIndex("embedding")).map(_.toDouble)
      mmr(e, qv, MmrFetch, MmrK, MmrLambda)
    }),
    "q_matrix_pairs" -> ((s, dir) =>
      matrixPairs(t(s, dir, "embeddings"), MatrixN, MatrixK)
        .orderBy(col("id_a"), col("r"))),

    // Qdrant's SECOND distance-matrix response form
    // (`search_matrix_offsets`): the same pairs flattened to CSR-style
    // parallel arrays — offsets index into the sorted sample `ids`
    // list. One result row; the arrays are (id_a, rank)-ordered so
    // both engines emit bit-identical lists. Each CSR array is emitted
    // as ONE comma-joined string column (scores at fixed %.6f) so the
    // compared output holds only scalar cells — array-typed compared
    // columns are un-sortable by the gate's pandas compare. The sample
    // index is a tiny window over sample-sized rows, not the corpus.
    "q_matrix_offsets" -> ((s, dir) => {
      val pr = matrixPairs(t(s, dir, "embeddings"), MatrixN, MatrixK)
      val ids = matrixSample(t(s, dir, "embeddings"), MatrixN)
        .select(col("vec_id"))
      val idx = ids.select(col("vec_id"),
        (row_number().over(Window.orderBy(col("vec_id"))) - 1)
          .cast("long").as("ix"))
      val j = pr
        .join(idx.select(col("vec_id").as("id_a"), col("ix").as("row_ix")), Seq("id_a"))
        .join(idx.select(col("vec_id").as("id_b"), col("ix").as("col_ix")), Seq("id_b"))
        .select(struct(col("id_a"), col("r"), col("row_ix"),
          col("col_ix"), col("score")).as("t"))
        .agg(sort_array(collect_list(col("t"))).as("l"))
        .select(
          array_join(transform(col("l"),
            x => x.getField("row_ix").cast("string")), ",").as("offsets_row"),
          array_join(transform(col("l"),
            x => x.getField("col_ix").cast("string")), ",").as("offsets_col"),
          array_join(transform(col("l"),
            x => format_string("%.6f", x.getField("score"))), ",").as("scores"))
      val idArr = idx.agg(
        array_join(transform(sort_array(collect_list(col("vec_id"))),
          _.cast("string")), ",").as("ids"))
      j.crossJoin(broadcast(idArr))
    }),
    "q_random_sample" -> ((s, dir) =>
      randomSample(t(s, dir, "embeddings"), 20)),
    // payload-boosted ranking: +0.1 for the preferred label, a small
    // deterministic recency-style bonus from the id
    "q_boost_formula" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qRow = e.filter(col("vec_id") === 0).head
      val qv = qRow.getSeq[Float](qRow.fieldIndex("embedding")).map(_.toDouble)
      val boost = when(col("label") === 3, 0.1).otherwise(0.0) +
        (col("vec_id") % 7).cast("double") * 0.01
      searchBoosted(e, qv, boost, 10)
    }),
    // Qdrant client.count with count_filter: one pushed-down predicate
    // + a map-side-combinable count
    "q_count_filtered" -> ((s, dir) =>
      t(s, dir, "embeddings").filter(col("label") === 3)
        .agg(count(lit(1)).as("n"))),

    // count exact=false: both engines draw the same sample, so the
    // estimate hash-matches outright
    "q_count_approx" -> ((s, dir) =>
      countApprox(t(s, dir, "embeddings"), "vec_id", col("label") === 3)),

    // Qdrant named vectors: one column per name (v_full 64-dim,
    // v_head = its 32-dim prefix), search `using` the head vector and
    // report both names' scores for the hits — per-point multi-vector
    // coexistence with per-name scoring, the data model feature the
    // reference's five separate collections stand in for.
    "q_named_vectors" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val pts = e.select(col("vec_id"), col("embedding").as("v_full"),
        slice(col("embedding"), 1, 32).as("v_head"))
      val q = e.filter(col("vec_id") === 0)
        .select(slice(col("embedding"), 1, 32).as("qh"), col("embedding").as("qf"))
      pts.crossJoin(broadcast(q))
        .select(col("vec_id"),
          round(Kernels.cosine(col("v_head"), col("qh")), 6).as("score"),
          round(Kernels.cosine(col("v_full"), col("qf")), 6).as("score_full"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
    }),

    // Matryoshka (MRL) staged search (Kusupati et al., NeurIPS 2022;
    // Qdrant's recommended pattern with named vectors): stage 1 ranks
    // on the 16-dim PREFIX of the embedding — MRL models front-load
    // information, and a prefix scan reads/multiplies 1/4 of the
    // floats — stage 2 rescores only the top-50 survivors at full
    // dimension. The dimension-truncation sibling of the int8/PQ
    // rerank family: same two-cut plan (both TakeOrderedAndProject),
    // different compression axis.
    "q_mrl_rescore" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      val stage1 = e.crossJoin(broadcast(q))
        .select(col("vec_id"), col("embedding"), col("qv"),
          round(Kernels.cosine(
            slice(col("embedding"), 1, 16), slice(col("qv"), 1, 16)), 6).as("s1"))
        .orderBy(col("s1").desc, col("vec_id").asc)
        .limit(50)
      stage1
        .select(col("vec_id"), col("s1"),
          round(Kernels.cosine(col("embedding"), col("qv")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
    }),

    // Universal Query API multi-stage search: mean-pooled dense
    // prefetch (top-20) → full MaxSim rescore (top-5) — the
    // ColBERT/ColPali serving pattern.
    "q_prefetch_rescore" -> ((s, dir) => {
      val docs = graft.Tables.multiVectorDocs(t(s, dir, "embeddings"))
        .withColumn("dense", Kernels.meanPool(col("vecs"), 64))
      val qd = docs.filter(col("doc_id") === 0).select(col("dense").as("qd"))
      val qm = docs.filter(col("doc_id") === 0).select(col("vecs").as("qm"))
      prefetchRescore(docs, qd, qm, "doc_id", "dense", "vecs",
        prefetchN = 20, k = 5)
    })
  )

  private def duckVec(id: Long): String =
    s"(SELECT embedding FROM embeddings WHERE vec_id = $id)"

  private val duckCos =
    (a: String, b: String) => s"list_cosine_similarity(($a)::DOUBLE[], ($b)::DOUBLE[])"

  /** DuckDB twin of [[matrixSample]]: the same content-stable
    * hash-ordered absolute-count draw. */
  private def duckMatrixSample: String =
    s"""SELECT vec_id, embedding FROM embeddings
       |  ORDER BY ${graft.index.Embedder.duckStringHash64("'matrix:' || vec_id")} ASC, vec_id ASC
       |  LIMIT $MatrixN""".stripMargin

  /** The rank half of the batch-oracle tail alone — for batch oracles
    * whose scoring is not the plain request-frame cosine (discover's
    * composite key) but whose per-request row_number ranking must stay
    * the ONE shared text. Expects a `scored` CTE already in scope. */
  private def duckRankTail(idName: String, k: Int): String =
    s"""ranked AS (SELECT *, row_number() OVER (PARTITION BY $idName
       |    ORDER BY score DESC, vec_id ASC) AS rnk FROM scored)
       |SELECT $idName, vec_id, score, rnk FROM ranked WHERE rnk <= $k
       |ORDER BY $idName, rnk""".stripMargin

  /** The shared batch-oracle ranking tail: a `reqs` CTE carrying
    * (req_id, qv, excl) — exactly the broadcast request frame the
    * Spark batch operators build — scored against every non-excluded
    * point and ranked per request, the row_number twin of the
    * bounded-heap rankHits. */
  private def duckBatchRanked(
      idName: String, reqsCte: String, k: Int, extraWhere: String = ""): String =
    // `+ 0` after the ROUND: DuckDB's double ROUND keeps −0.0 where
    // Spark's round normalizes to +0.0 (the CLAUDE.md pin) — a filtered
    // request can shrink its pool until a score in (−5e−7, 0) survives
    // the rnk cut and would hash as "-0.000000" vs "0.000000"
    s"""scored AS (SELECT $idName, e.vec_id,
       |    ROUND(${duckCos("e.embedding", "qv")}, 6) + 0 AS score
       |  FROM embeddings e, reqs
       |  WHERE NOT list_contains(excl, e.vec_id)$extraWhere),
       |${duckRankTail(idName, k)}""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_mrl_rescore" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |s1 AS (SELECT vec_id, embedding, qv,
         |    ROUND(${duckCos("embedding[1:16]", "qv[1:16]")}, 6) AS s1
         |  FROM embeddings, q
         |  ORDER BY s1 DESC, vec_id ASC LIMIT 50)
         |SELECT vec_id, s1, ROUND(${duckCos("embedding", "qv")}, 6) AS score
         |FROM s1
         |ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin,

    "q_recommend" -> {
      val (ctes, excl) = duckAvgVectorCtes
      s"""WITH $ctes
         |SELECT vec_id, ROUND(${duckCos("embedding", "(SELECT qv FROM q)")}, 6) AS score
         |FROM embeddings WHERE vec_id NOT IN ($excl)
         |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin
    },

    // recommend_groups = the q_recommend scoring CTEs feeding the
    // q_search_groups group-header shape, examples excluded in `sc`
    "q_recommend_groups" -> {
      val (ctes, excl) = duckAvgVectorCtes
      s"""WITH $ctes,
         |sc AS (SELECT vec_id, label::BIGINT AS grp,
         |    ROUND(${duckCos("embedding", "(SELECT qv FROM q)")}, 6) AS score
         |  FROM embeddings WHERE vec_id NOT IN ($excl)),
         |g AS (SELECT grp, max(score) AS best FROM sc GROUP BY grp
         |  ORDER BY best DESC, grp ASC LIMIT 5),
         |gr AS (SELECT grp, best,
         |  row_number() OVER (ORDER BY best DESC, grp ASC) AS grp_rank FROM g),
         |h AS (SELECT grp, vec_id, score,
         |  row_number() OVER (PARTITION BY grp ORDER BY score DESC, vec_id ASC) AS hit_rank
         |  FROM sc)
         |SELECT grp_rank, grp, best, vec_id, score, hit_rank
         |FROM gr JOIN h USING (grp) WHERE hit_rank <= 2
         |ORDER BY grp_rank, hit_rank""".stripMargin
    },

    "q_recommend_lookup" -> {
      // example vectors come from the DOCUMENTS collection (embedded
      // text), searched collection is embeddings; no exclusion — the
      // id spaces differ (Qdrant lookup_from semantics)
      val emb = graft.index.Embedder.duckEmbedRaw(
        graft.index.Embedder.duckTokenHashes("text"))
      def dv(id: Long): String =
        s"(SELECT $emb FROM documents WHERE doc_id = $id)"
      val (ctes, _) = duckAvgVectorCtes(LookupPos, LookupNeg, dv)
      s"""WITH $ctes
         |SELECT vec_id, ROUND(${duckCos("embedding", "(SELECT qv FROM q)")}, 6) AS score
         |FROM embeddings
         |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin
    },

    "q_discover" -> {
      val ids = (DiscTarget +: DiscPairs.flatMap(p => Seq(p._1, p._2))).distinct
      val hits = DiscPairs.map { case (p, n) =>
        s"CASE WHEN ROUND(${duckCos("embedding", duckVec(p))}, 6) >= " +
          s"ROUND(${duckCos("embedding", duckVec(n))}, 6) THEN 1 ELSE 0 END"
      }.mkString(" + ")
      s"""SELECT vec_id, ($hits)::BIGINT AS ctx_hits,
         |  ROUND(${duckCos("embedding", duckVec(DiscTarget))}, 6) AS sim
         |FROM embeddings WHERE vec_id NOT IN (${ids.mkString(", ")})
         |ORDER BY ctx_hits DESC, sim DESC, vec_id ASC LIMIT 10""".stripMargin
    },

    // search_batch: the same broadcast-request + per-request-rank
    // shape the Spark side executes, stated in SQL — queries are the
    // stored vectors of points 0/5/9, NO exclusions
    "q_search_batch" -> {
      val reqs = SearchBatchSrc.map { case (qid, p) =>
        s"SELECT $qid::BIGINT AS q_id, ${duckVec(p)} AS qv, []::BIGINT[] AS excl"
      }.mkString("\n  UNION ALL ")
      s"""WITH reqs AS ($reqs),
         |${duckBatchRanked("q_id", "reqs", BatchK)}""".stripMargin
    },

    // recommend_batch: per-request average_vector CTEs (request 2
    // exercises the no-negatives branch) + per-request exclusion lists
    "q_recommend_batch" -> {
      val ctes = BatchRecReqs.map { case (rid, pos, neg) =>
        duckAvgVectorCtes(pos, neg, duckVec, suffix = s"_$rid")._1
      }
      val reqs = BatchRecReqs.map { case (rid, pos, neg) =>
        s"SELECT $rid::BIGINT AS req_id, (SELECT qv FROM q_$rid) AS qv, " +
          s"[${(pos ++ neg).mkString(", ")}]::BIGINT[] AS excl"
      }.mkString("\n  UNION ALL ")
      s"""WITH ${ctes.mkString(",\n")},
         |reqs AS ($reqs),
         |${duckBatchRanked("req_id", "reqs", BatchK)}""".stripMargin
    },

    // query_batch_points: the heterogeneous union — plain vector (no
    // exclusion), by-stored-point (self-excluded), recommend (examples
    // excluded) — through the ONE ranking tail
    "q_query_batch" -> {
      val (recCtes, recExcl) =
        duckAvgVectorCtes(RecPos, RecNeg, duckVec, suffix = "_3")
      s"""WITH $recCtes,
         |reqs AS (
         |  SELECT 1::BIGINT AS req_id, ${duckVec(0)} AS qv, []::BIGINT[] AS excl
         |  UNION ALL SELECT 2::BIGINT, ${duckVec(5)}, [5]::BIGINT[]
         |  UNION ALL SELECT 3::BIGINT, (SELECT qv FROM q_3), [$recExcl]::BIGINT[]),
         |${duckBatchRanked("req_id", "reqs", BatchK)}""".stripMargin
    },

    // discover_batch: per-request composite-key scored CTEs (the SAME
    // 4·ctx_hits + round6(sim) formula the Spark side folds, pairs
    // written out) through the one shared row_number rank tail
    "q_discover_batch" -> {
      val parts = DiscBatchReqs.map { case (rid, tgt, ps) =>
        val excl = (tgt +: ps.flatMap(p => Seq(p._1, p._2))).distinct
        val hits = ps.map { case (p, n) =>
          s"CASE WHEN ROUND(${duckCos("embedding", duckVec(p))}, 6) >= " +
            s"ROUND(${duckCos("embedding", duckVec(n))}, 6) THEN 1 ELSE 0 END"
        }.mkString(" + ")
        s"""  SELECT $rid::BIGINT AS req_id, vec_id,
           |    ($hits)::DOUBLE * 4.0 +
           |      ROUND(${duckCos("embedding", duckVec(tgt))}, 6) AS score
           |  FROM embeddings WHERE vec_id NOT IN (${excl.mkString(", ")})""".stripMargin
      }
      s"""WITH scored AS (
         |${parts.mkString("\n  UNION ALL\n")}),
         |${duckRankTail("req_id", BatchK)}""".stripMargin
    },

    // search_batch with per-request filters: the filter value rides the
    // reqs CTE (NULL = unfiltered) into the shared scoring WHERE
    "q_search_batch_filtered" -> {
      val reqs = SbfReqs.map { case (qid, p, f) =>
        val flt = f.map(_.toString).getOrElse("NULL")
        s"SELECT $qid::BIGINT AS q_id, ${duckVec(p)} AS qv, " +
          s"[]::BIGINT[] AS excl, $flt::BIGINT AS flt"
      }.mkString("\n  UNION ALL ")
      s"""WITH reqs AS ($reqs),
         |${duckBatchRanked("q_id", "reqs", BatchK,
            "\n    AND (flt IS NULL OR e.label::BIGINT = flt)")}""".stripMargin
    },

    "q_recommend_best" -> {
      val exCols =
        (RecPos.zipWithIndex.map { case (id, i) => s"${duckVec(id)} AS p$i" } ++
          RecNeg.zipWithIndex.map { case (id, i) => s"${duckVec(id)} AS n$i" })
          .mkString(", ")
      val bp = RecPos.indices.map(i => s"ROUND(${duckCos("embedding", s"p$i")}, 6)")
        .mkString("greatest(", ", ", ")")
      val bn = RecNeg.indices.map(i => s"ROUND(${duckCos("embedding", s"n$i")}, 6)")
        .mkString("greatest(", ", ", ")")
      val excl = (RecPos ++ RecNeg).mkString(", ")
      s"""WITH ex AS (SELECT $exCols),
         |sc AS (SELECT vec_id, $bp AS bp, $bn AS bn
         |  FROM embeddings CROSS JOIN ex WHERE vec_id NOT IN ($excl))
         |SELECT vec_id, ROUND(CASE WHEN bp > bn THEN bp ELSE -bn END, 6) AS score
         |FROM sc ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin
    },

    "q_recommend_sum" -> {
      val exCols =
        (RecPos.zipWithIndex.map { case (id, i) => s"${duckVec(id)} AS p$i" } ++
          RecNeg.zipWithIndex.map { case (id, i) => s"${duckVec(id)} AS n$i" })
          .mkString(", ")
      val ps = RecPos.indices.map(i => s"ROUND(${duckCos("embedding", s"p$i")}, 6)")
        .mkString(" + ")
      val ns = RecNeg.indices.map(i => s"ROUND(${duckCos("embedding", s"n$i")}, 6)")
        .mkString(" + ")
      val excl = (RecPos ++ RecNeg).mkString(", ")
      s"""WITH ex AS (SELECT $exCols)
         |SELECT vec_id, ROUND(($ps) - ($ns), 6) AS score
         |FROM embeddings CROSS JOIN ex WHERE vec_id NOT IN ($excl)
         |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin
    },

    "q_context_search" -> {
      val ids = DiscPairs.flatMap(p => Seq(p._1, p._2)).distinct
      val exCols = DiscPairs.zipWithIndex.map { case ((p, n), i) =>
        s"${duckVec(p)} AS p$i, ${duckVec(n)} AS n$i" }.mkString(", ")
      val loss = DiscPairs.indices.map(i =>
        s"least(0.0, ROUND(${duckCos("embedding", s"p$i")}, 6) - " +
          s"ROUND(${duckCos("embedding", s"n$i")}, 6))").mkString(" + ")
      s"""WITH ex AS (SELECT $exCols)
         |SELECT vec_id, ROUND($loss, 6) AS score
         |FROM embeddings CROSS JOIN ex WHERE vec_id NOT IN (${ids.mkString(", ")})
         |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin
    },

    "q_search_groups" ->
      s"""WITH sc AS (SELECT vec_id, label::BIGINT AS grp,
         |    ROUND(${duckCos("embedding", duckVec(0))}, 6) AS score FROM embeddings),
         |g AS (SELECT grp, max(score) AS best FROM sc GROUP BY grp
         |  ORDER BY best DESC, grp ASC LIMIT 5),
         |gr AS (SELECT grp, best,
         |  row_number() OVER (ORDER BY best DESC, grp ASC) AS grp_rank FROM g),
         |h AS (SELECT grp, vec_id, score,
         |  row_number() OVER (PARTITION BY grp ORDER BY score DESC, vec_id ASC) AS hit_rank
         |  FROM sc)
         |SELECT grp_rank, grp, best, vec_id, score, hit_rank
         |FROM gr JOIN h USING (grp) WHERE hit_rank <= 2
         |ORDER BY grp_rank, hit_rank""".stripMargin,

    "q_named_vectors" ->
      s"""WITH q AS (SELECT embedding[1:32] AS qh, embedding AS qf
         |  FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id,
         |  ROUND(${duckCos("embedding[1:32]", "(SELECT qh FROM q)")}, 6) AS score,
         |  ROUND(${duckCos("embedding", "(SELECT qf FROM q)")}, 6) AS score_full
         |FROM embeddings
         |ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin,

    // mean-pool sums left-to-right over vecs (list order), dividing
    // once at the end — the same fold Kernels.meanPool writes
    "q_prefetch_rescore" ->
      s"""WITH docs AS (${graft.Tables.duckMultiVectorDocs}),
         |dd AS (SELECT doc_id, vecs, list_transform(range(1, 65), i ->
         |    list_sum(list_transform(vecs, v -> (v::DOUBLE[])[i])) / len(vecs)) AS dense
         |  FROM docs),
         |qd AS (SELECT dense AS qdv FROM dd WHERE doc_id = 0),
         |qm AS (SELECT vecs AS qvecs FROM docs WHERE doc_id = 0),
         |cand AS (SELECT d.doc_id, d.vecs,
         |    ROUND(${duckCos("d.dense", "qdv")}, 6) AS ps
         |  FROM dd d CROSS JOIN qd
         |  ORDER BY ps DESC, d.doc_id ASC LIMIT 20)
         |SELECT c.doc_id, ROUND(list_reduce(list_transform(qvecs, qv ->
         |  list_aggregate(list_transform(c.vecs, dv -> ${duckCos("qv", "dv")}), 'max')), (a,b) -> a+b), 6) AS score
         |FROM cand c CROSS JOIN qm ORDER BY score DESC, doc_id ASC LIMIT 5""".stripMargin,

    "q_groups_lookup" ->
      s"""WITH sc AS (SELECT vec_id, label::BIGINT AS grp,
         |    ROUND(${duckCos("embedding", duckVec(0))}, 6) AS score FROM embeddings),
         |g AS (SELECT grp, max(score) AS best FROM sc GROUP BY grp
         |  ORDER BY best DESC, grp ASC LIMIT 5),
         |gr AS (SELECT grp, best,
         |  row_number() OVER (ORDER BY best DESC, grp ASC) AS grp_rank FROM g),
         |h AS (SELECT grp, vec_id, score,
         |  row_number() OVER (PARTITION BY grp ORDER BY score DESC, vec_id ASC) AS hit_rank
         |  FROM sc)
         |SELECT grp_rank, grp, best, vec_id, score, hit_rank,
         |  d.lang AS lk_lang, d.n_chars AS lk_n_chars
         |FROM gr JOIN h USING (grp)
         |LEFT JOIN documents d ON d.doc_id = grp
         |WHERE hit_rank <= 2
         |ORDER BY grp_rank, hit_rank""".stripMargin,

    "q_facet" ->
      """SELECT lang AS value, count(*) AS n FROM documents
        |WHERE n_chars >= 300 GROUP BY lang
        |ORDER BY n DESC, value ASC LIMIT 10""".stripMargin,

    // exact=false gate: the oracle states the exact counts and demands
    // the engine's HLL++ estimate landed within rsd of each — `true`
    // per value, which the Spark side must EARN, not assume
    "q_facet_approx" ->
      """SELECT lang AS value, true AS within_rsd FROM documents
        |WHERE n_chars >= 300 GROUP BY lang
        |ORDER BY value ASC LIMIT 10""".stripMargin,

    "q_facet_sampled" ->
      s"""SELECT lang AS value, (count(*) * 2)::BIGINT AS n_est FROM documents
         |WHERE n_chars >= 300
         |  AND ${graft.index.Embedder.duckPermilleDraw("facet:", "doc_id")} < 500
         |GROUP BY lang ORDER BY n_est DESC, value ASC LIMIT 10""".stripMargin,

    "q_scroll_sorted" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars > 300 OR (n_chars = 300 AND doc_id > 0)
        |ORDER BY n_chars ASC, doc_id ASC LIMIT 20""".stripMargin,

    "q_scroll_filtered" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE lang = 'en' AND (n_chars > 300 OR (n_chars = 300 AND doc_id > 0))
        |ORDER BY n_chars ASC, doc_id ASC LIMIT 20""".stripMargin,

    "q_scroll_desc" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE n_chars < 300 OR (n_chars = 300 AND doc_id > 0)
        |ORDER BY n_chars DESC, doc_id ASC LIMIT 20""".stripMargin,

    "q_mmr" -> {
      // greedy selection unrolled as chained CTEs (k is a bounded API
      // parameter): step i picks argmax of
      // ROUND(λ·score − (1−λ)·GREATEST(round6 cos to each prior pick), 6)
      val candVec = (step: Int) =>
        s"(SELECT embedding FROM cand WHERE vec_id = (SELECT vec_id FROM s$step))"
      val steps = (2 to MmrK).map { i =>
        val penalty = (1 until i)
          .map(j => s"ROUND(${duckCos("c.embedding", candVec(j))}, 6)")
          .mkString("GREATEST(", ", ", ")")
        val excl = (1 until i).map(j => s"SELECT vec_id FROM s$j")
          .mkString(" UNION ALL ")
        s"""s$i AS (SELECT c.vec_id, c.score,
           |  ROUND($MmrLambda * c.score - ${1.0 - MmrLambda} * $penalty, 6) AS mmr
           |  FROM cand c WHERE c.vec_id NOT IN ($excl)
           |  ORDER BY mmr DESC, c.vec_id ASC LIMIT 1)""".stripMargin
      }
      val union = (1 to MmrK)
        .map(i => s"""SELECT $i::BIGINT AS "rank", vec_id, score, mmr FROM s$i""")
        .mkString("\n UNION ALL ")
      s"""WITH cand AS (
         |  SELECT vec_id, embedding,
         |    ROUND(${duckCos("embedding", duckVec(0))}, 6) AS score
         |  FROM embeddings ORDER BY score DESC, vec_id ASC LIMIT $MmrFetch),
         |s1 AS (SELECT vec_id, score, score AS mmr FROM cand
         |  ORDER BY score DESC, vec_id ASC LIMIT 1),
         |${steps.mkString(",\n")}
         |$union
         |ORDER BY "rank"""".stripMargin
    },

    "q_matrix_pairs" ->
      s"""WITH s AS ($duckMatrixSample),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ROUND(${duckCos("a.embedding", "b.embedding")}, 6) AS score
         |  FROM s a JOIN s b ON a.vec_id <> b.vec_id),
         |r AS (SELECT id_a, id_b, score,
         |    row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b ASC) AS r
         |  FROM p)
         |SELECT id_a, id_b, score, r FROM r WHERE r <= $MatrixK
         |ORDER BY id_a, r""".stripMargin,

    "q_matrix_offsets" ->
      s"""WITH s AS ($duckMatrixSample),
         |idx AS (SELECT vec_id, (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS ix FROM s),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |    ROUND(${duckCos("a.embedding", "b.embedding")}, 6) AS score
         |  FROM s a JOIN s b ON a.vec_id <> b.vec_id),
         |r AS (SELECT id_a, id_b, score,
         |    row_number() OVER (PARTITION BY id_a ORDER BY score DESC, id_b ASC)::BIGINT AS r
         |  FROM p),
         |j AS (SELECT r.id_a, r.r, ia.ix AS row_ix, ib.ix AS col_ix, r.score
         |  FROM r JOIN idx ia ON r.id_a = ia.vec_id
         |  JOIN idx ib ON r.id_b = ib.vec_id
         |  WHERE r.r <= $MatrixK),
         |o AS (SELECT string_agg(row_ix::VARCHAR, ',' ORDER BY id_a, r) AS offsets_row,
         |    string_agg(col_ix::VARCHAR, ',' ORDER BY id_a, r) AS offsets_col,
         |    string_agg(printf('%.6f', score), ',' ORDER BY id_a, r) AS scores FROM j),
         |i AS (SELECT string_agg(vec_id::VARCHAR, ',' ORDER BY vec_id) AS ids FROM s)
         |SELECT offsets_row, offsets_col, scores, ids FROM o, i""".stripMargin,

    "q_random_sample" ->
      s"""SELECT vec_id, ${graft.index.Embedder.duckStringHash64("'sample:' || vec_id")} AS h
         |FROM embeddings ORDER BY h ASC, vec_id ASC LIMIT 20""".stripMargin,

    "q_boost_formula" ->
      s"""WITH sc AS (SELECT vec_id,
         |    ROUND(${duckCos("embedding", duckVec(0))}, 6) AS sim,
         |    ROUND((CASE WHEN label = 3 THEN 0.1 ELSE 0.0 END) +
         |      (vec_id % 7)::DOUBLE * 0.01, 6) AS boost
         |  FROM embeddings)
         |SELECT vec_id, sim, boost, ROUND(sim + boost, 6) AS score
         |FROM sc ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin,

    "q_count_filtered" ->
      "SELECT count(*) AS n FROM embeddings WHERE label = 3",

    "q_count_approx" ->
      s"""SELECT (count(*) * 2)::BIGINT AS n_est FROM embeddings
         |WHERE label = 3
         |  AND ${graft.index.Embedder.duckPermilleDraw("count:", "vec_id")} < 500""".stripMargin
  )
}
