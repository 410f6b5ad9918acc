package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.index.Embedder
import graft.vector.Kernels

/** Similarity-search operators beyond single-query top-k (driver north
  * star): k-NN join, IVF-partitioned ANN, and random-hyperplane LSH
  * ANN — the Spark analog of Qdrant's ANN index build past
  * `indexing_threshold` (SURVEY.md §2 E3;
  * `with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:132`).
  *
  * Scale design:
  *  - k-NN join broadcasts the (small) query side; ranking is a window
  *    partitioned by query id — shuffle keyed on query id only.
  *  - IVF assigns every vector to its nearest centroid once (broadcast
  *    centroids, narrow map), then a probe touches a single partition
  *    of the data — the classic inverted-file pruning, expressible as
  *    a partition-pruned scan when the table is written partitioned by
  *    cluster_id.
  *  - LSH buckets are sign-bit sketches against broadcast hyperplanes;
  *    probing is an equi-join on bucket id (hash shuffle, no
  *    crossJoin).
  *
  * Determinism: centroids/hyperplanes are fixture vectors themselves
  * (vec_id < 8 / 1..8) so both engines derive identical structures
  * with no RNG.
  */
object Similarity {

  /** k-NN join: for every query row (q_id, qv), the k nearest rows of
    * `data` under `metric` — the [[graft.search.TopK.batch]] pass.
    * Query side is broadcast (small); the corpus is scored
    * straight off its scan partitions: at 100 TB the scan is thousands
    * of file splits and re-exchanging 64-float vectors to "spread" it
    * would itself be the bottleneck (the round-4 finding). Ranking is
    * the bounded-heap [[topKHits]] aggregate, NOT a row_number window:
    * the window shape shuffles ALL Q×N scored rows on q_id before
    * cutting — Q copies of the corpus through the wire — while the
    * O(k) TypedImperativeAggregate pre-reduces every map task to k
    * pairs per query BEFORE the q_id shuffle (ObjectHashAggregate
    * partial mode, plan-asserted in ScaleDesignSpec; tie order score
    * DESC / id ASC is bit-equal to the window formulation). Fixture
    * parallelism is the caller's concern — see [[fanOutIfNarrow]]. */
  def knnJoin(
      data: DataFrame, queries: DataFrame, k: Int,
      metric: String = "cosine"): DataFrame =
    graft.search.TopK.batch(data, queries, "q_id", "qv", k, metric)

  /** The heap-ranking tail every broadcast-batch operator shares: a
    * scored frame carrying (`keyCol`, vec_id, score) → per-key top-k
    * rows (`keyCol`, vec_id, score, rnk), ranked score DESC / id ASC
    * through the bounded-heap aggregate (map-side partial, O(k) per
    * key through the shuffle). `ascending=true` ranks ASC for distance
    * metrics by negating the heap key — sign flips are exact in
    * doubles, ids still tie-break ASC. One definition so the rank and
    * column contract cannot drift between the vector batches
    * ([[graft.search.TopK.batch]]), discoverBatch and
    * searchMaxSimBatch. */
  private[graft] def rankHits(
      scored: DataFrame, keyCol: String, k: Int,
      ascending: Boolean = false): DataFrame = {
    val key = if (ascending) -col("score") else col("score")
    scored.groupBy(col(keyCol))
      .agg(Kernels.topKHits(key, col("vec_id"), k).as("hits"))
      .select(col(keyCol), posexplode(col("hits")))
      .select(col(keyCol), col("col.vec_id").as("vec_id"),
        (if (ascending) -col("col.score") else col("col.score")).as("score"),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Fixture shim for EXPENSIVE per-row work (embedding) on a narrow
    * input: the test parquet is one file with one row group, so its
    * scan is a single task no matter how the reader splits bytes. When
    * the input has fewer partitions than the session's default
    * parallelism, fan out round-robin BEFORE the expensive map; on a
    * real corpus (many files / row groups) the condition is false and
    * this is a no-op — scan parallelism comes from file splits, never
    * from re-exchanging the corpus. */
  def fanOutIfNarrow(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Nearest-centroid id for one vector: every centroid cosine is
    * evaluated exactly once into an array of (sim, −c_id) structs and
    * `array_max` picks lexicographic max — highest sim, then LOWEST
    * c_id (the −id trick). A pure per-row expression: no crossJoin,
    * no window, no shuffle. */
  def ivfClusterId(v: Column, cents: Seq[(Long, Column)]): Column = {
    val best = array_max(array(cents.map { case (id, cv) =>
      struct(Kernels.cosine(v, cv).as("s"), lit(-id).as("nid"))
    }: _*))
    -best.getField("nid")
  }

  /** IVF cluster assignment: nearest of the `centroids` (argmax
    * cosine, id-ascending tiebreak) as a NARROW map over collected
    * centroid literals — the centroid set is an index-build-time
    * constant like the reference's driver-side query embedding. The
    * round-1 version cross-joined and ranked with a Window keyed on
    * vec_id, hash-shuffling the full table per query; this shuffles
    * nothing. */
  def ivfAssign(data: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids.orderBy(col("c_id")).collect().map { r =>
      (r.getLong(r.fieldIndex("c_id")),
        typedlit(r.getSeq[Float](r.fieldIndex("cv"))): Column)
    }.toSeq
    // payload columns ride along into the index (Qdrant points carry
    // payload; a filtered probe needs them without a post-probe join)
    data.select(col("*"), ivfClusterId(col("embedding"), cents).as("cluster_id"))
  }

  /** Approximate k-NN JOIN for a LARGE query side — the scale path
    * when the query set is itself corpus-sized and cannot broadcast
    * (dataset-vs-dataset linkage, recommendation backfills). Both
    * sides hash into the shared banded sign-LSH buckets; candidates
    * are matches in ANY band — a shuffle EQUI-join on the (band, bval)
    * key, never a cross join — deduplicated BEFORE the vector fetch
    * (the Dedup lesson: verify each candidate pair once), then
    * cosine-verified and ranked per query. Approximate by
    * construction; OpsSpec measures recall against the exact
    * broadcast join on the fixture. */
  def knnJoinLsh(
      data: DataFrame,
      queries: DataFrame,
      k: Int,
      bands: Int = 10,
      planesPerBand: Int = 5): DataFrame = {
    val qb = queries.select(col("q_id"),
        posexplode(bandedBuckets(col("qv"), bands, planesPerBand)))
      .select(col("q_id"), col("pos").as("band"), col("col").as("bval"))
    val db = data.select(col("vec_id"),
        posexplode(bandedBuckets(col("embedding"), bands, planesPerBand)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("bval"))
    val cand = qb.join(db, Seq("band", "bval"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id")).distinct()
    val scored = cand
      .join(data.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .join(queries, Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round(Kernels.cosine(col("embedding"), col("qv")), 6).as("score"))
    // bounded-heap ranking instead of a row_number window: the window
    // buffers and sorts EVERY candidate per query; the O(k) aggregate
    // pre-reduces each map task's candidates to k pairs before the
    // q_id shuffle (ObjectHashAggregate partial mode — plan-asserted)
    scored.groupBy(col("q_id"))
      .agg(topKHits(col("score"), col("vec_id"), k).as("hits"))
      .select(col("q_id"), posexplode(col("hits")))
      .select(col("q_id"), col("col.vec_id").as("vec_id"),
        col("col.score").as("score"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Column form of the [[graft.vector.TopKHits]] bounded-heap
    * aggregate: best `k` (score, id) pairs, score DESC / id ASC. */
  def topKHits(score: Column, id: Column, k: Int): Column =
    Kernels.topKHits(score, id, k)

  /** Top-`p` nearest-centroid ids for one vector, best-first — the
    * distributed analog of [[rankCentroids]] for a query SET: each
    * query row carries its own probe list, so a batch of queries scans
    * the index once instead of issuing p pruned reads each. Same
    * (sim desc, id asc) order as [[ivfClusterId]] via the −id trick. */
  def ivfTopClusters(v: Column, cents: Seq[(Long, Column)], p: Int): Column = {
    val arr = array(cents.map { case (id, cv) =>
      struct(Kernels.cosine(v, cv).as("s"), lit(-id).as("nid"))
    }: _*)
    transform(slice(sort_array(arr, asc = false), 1, p), x => -x.getField("nid"))
  }

  /** Lloyd refinement of the IVF centroids: `iters` rounds of
    * (assign → per-cluster element-wise mean). Assignment is the same
    * narrow per-row expression as the index build (no shuffle beyond
    * the one tiny mean aggregation); the means come back to the driver
    * as k×dim scalars — an index-build-time constant like the seed
    * centroids themselves. Empty clusters keep their previous
    * centroid. Used by the index build path when callers want trained
    * centroids; the fixture queries keep the untrained seeds so the
    * DuckDB oracle stays expressible — the improvement is measured in
    * OpsSpec (inertia never increases, the Lloyd guarantee). */
  def ivfRefineCentroids(
      data: DataFrame,
      cents: Seq[(Long, Array[Float])],
      iters: Int): Seq[(Long, Array[Float])] = {
    var cur = cents
    for (_ <- 0 until iters) {
      val centCols = cur.map { case (id, v) => (id, typedlit(v.toSeq): Column) }
      val means = data
        .select(ivfClusterId(col("embedding"), centCols).as("cid"),
          posexplode(col("embedding")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("m"))
        .collect()
      val byCluster = means.groupBy(_.getLong(0))
      cur = cur.map { case (id, old) =>
        byCluster.get(id) match {
          case Some(rows) =>
            val arr = new Array[Float](old.length)
            rows.foreach(r => arr(r.getInt(1)) = r.getDouble(2).toFloat)
            (id, arr)
          case None => (id, old)
        }
      }
    }
    cur
  }

  /** Mean cosine distance of every vector to its assigned centroid —
    * the k-means objective the refinement minimizes. */
  def ivfInertia(data: DataFrame, cents: Seq[(Long, Array[Float])]): Double = {
    val centCols = cents.map { case (id, v) => (id, typedlit(v.toSeq): Column) }
    val centMap = map(cents.flatMap { case (id, v) =>
      Seq(lit(id), typedlit(v.toSeq)) }: _*)
    val row = data.select(
        (lit(1.0) - Kernels.cosine(col("embedding"),
          element_at(centMap, ivfClusterId(col("embedding"), centCols)))).as("d"))
      .agg(avg(col("d"))).head
    require(!row.isNullAt(0),
      "ivfInertia over an empty corpus — the k-means objective is " +
        "undefined on zero assigned vectors (was an NPE)")
    row.getDouble(0)
  }

  /** Per-JVM registry of built IVF indexes: the index is built ONCE per
    * dataset (narrow assignment + write partitioned by cluster_id) and
    * every query probes it through a partition-pruned read — nprobe
    * subtrees touched, nothing rebuilt. */
  private val ivfIndexCache = scala.collection.mutable.Map.empty[String, String]

  def ivfIndexPath(s: SparkSession, dir: String): String = synchronized {
    ivfIndexCache.getOrElseUpdate(dir, {
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      val path = java.nio.file.Files
        .createTempDirectory("graft_ivf_idx").toFile.getAbsolutePath + "/col"
      // range-cluster the assignment before the partitioned write: a
      // bare partitionBy writes one file per (input task × cluster) —
      // K tiny files per scan task, and every probe then pays file
      // listing + open per fragment (measured as the dominant probe
      // cost at the 100× scale corpus). The range shuffle is one
      // build-time pass that yields ≤ shuffle.partitions sized files,
      // each holding ONE cluster's contiguous id range — probes read
      // a handful of files whatever the corpus size.
      ivfAssign(e, cents)
        .repartitionByRange(col("cluster_id"), col("vec_id"))
        .write.partitionBy("cluster_id").parquet(path)
      path
    })
  }

  /** Driver-side centroid ranking for a query vector — the analog of
    * the reference's driver-side query embedding (B5). Same
    * left-to-right double fold as the native kernels/DuckDB, so the
    * argmax and tiebreak agree with the engines bit-for-bit. Returns
    * cluster ids best-first under `metric` (similarities DESC,
    * euclid/manhattan distances ASC), so probe selection agrees with
    * the collection's exact search() ordering. */
  def rankCentroids(
      cents: Seq[(Long, Array[Float])], q: Array[Float],
      metric: String = "cosine"): Seq[Long] = {
    val scored = cents.map { case (id, cv) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var l1 = 0.0
      var i = 0
      while (i < q.length) {
        val x = cv(i).toDouble; val y = q(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        l1 += math.abs(x - y)
        i += 1
      }
      val s = metric match {
        case "cosine" => dot / (math.sqrt(na) * math.sqrt(nb))
        case "dot" => dot
        // clamp: the algebraic form can dip epsilon-negative for
        // near-identical vectors, and sqrt(-0.0000…1) = NaN, which
        // sorts LAST ascending — dropping the NEAREST centroid
        case "euclid" => math.sqrt(math.max(na - 2 * dot + nb, 0.0))
        case "manhattan" => l1
        case other => throw new IllegalArgumentException(
          s"unknown distance metric '$other' (cosine|dot|euclid|manhattan)")
      }
      (s, id)
    }
    // similarities rank best-first DESC; distances ASC
    val asc = metric == "euclid" || metric == "manhattan"
    scored.sortBy { case (s, id) => (if (asc) s else -s, id) }.map(_._2)
  }

  /** Sign-bit LSH bucket against `nPlanes` broadcast hyperplanes:
    * bucket = Σ_j 2^j · [dot(v, h_j) > 0]. */
  def signBucket(v: Column, planes: Seq[Column]): Column =
    planes.zipWithIndex.map { case (p, j) =>
      when(Kernels.dot(v, p) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  // -- deterministic hash-derived hyperplanes (banded LSH) -----------

  private val M31 = 2147483647L

  /** ±1 component i (1-based) of hyperplane m: two rounds of the
    * minstd generator seeded with the flat plane/dim index, parity as
    * the sign. Pure integer math both engines reproduce exactly —
    * a single round leaves parity linear in (m+i) and collapses every
    * plane to ± one pattern (measured: recall identical for any band
    * count), hence the second multiply. */
  def planeSign(m: Int, i: Int, dim: Int = 64): Double = {
    val h = (((m.toLong * dim + i) * 48271L) % M31 * 48271L) % M31
    if (h % 2 == 1) 1.0 else -1.0
  }

  /** Hyperplane m as a literal ±1 vector (an index-build-time constant
    * like the reference's driver-side query embedding — broadcast with
    * the plan, no data-dependent collect). */
  def hashPlane(m: Int, dim: Int = 64): Column =
    typedlit((1 to dim).map(i => planeSign(m, i, dim)).toArray)

  /** Banded sign-LSH bucket values: element b is the r-bit bucket of
    * band b (planes b·r..b·r+r−1). Two vectors are candidate
    * near-duplicates iff they share ANY band's bucket — the same
    * banding construction as MinHash-LSH (Dedup.minhashPairs), which
    * trades a few verification duplicates for the recall a single wide
    * sketch cannot reach. Band/plane counts chosen on measurement at
    * sf0.01/sf0.1 (10×5: recall 10/10 of the planted cosine≥0.9 pairs
    * at sf0.01, candidate volume ≈ single-sketch's). Native single-pass
    * expression; [[bandedBucketsHof]] is the parity-tested twin. */
  def bandedBuckets(v: Column, bands: Int, planesPerBand: Int): Column =
    Kernels.ofExpr(graft.vector.BandedSignBuckets(
      Kernels.exprOf(v), bands, planesPerBand, 64))

  /** HOF twin of [[bandedBuckets]] (bands×planes separate dots). */
  def bandedBucketsHof(v: Column, bands: Int, planesPerBand: Int): Column =
    array((0 until bands).map { b =>
      (0 until planesPerBand).map { k =>
        when(Kernels.dot(v, hashPlane(b * planesPerBand + k)) > 0,
          lit(1L << k)).otherwise(lit(0L))
      }.reduce(_ + _)
    }: _*)

  /** DuckDB CTE body producing (vec_id, band, bval) from a `corpus`
    * CTE with (vec_id, embedding) — the exact integer-math mirror of
    * [[bandedBuckets]] + [[planeSign]]. */
  def duckBandedBuckets(bands: Int, planesPerBand: Int): String =
    s"""SELECT c.vec_id, p.m // $planesPerBand AS band,
       |    sum(CASE WHEN list_inner_product(c.embedding::DOUBLE[], p.pv) > 0
       |      THEN (2 ** (p.m % $planesPerBand))::BIGINT ELSE 0 END)::BIGINT AS bval
       |  FROM corpus c, (
       |    SELECT m, list_transform(range(1, 65), i ->
       |      CASE WHEN (((m*64 + i) * 48271) % 2147483647 * 48271) % 2147483647 % 2 = 1
       |        THEN 1.0 ELSE -1.0 END) AS pv
       |    FROM (SELECT unnest(range(0, ${bands * planesPerBand})) AS m) ms) p
       |  GROUP BY c.vec_id, p.m // $planesPerBand""".stripMargin

  /** The fixture-derived hyperplane set (vectors 1..8, vec_id order) —
    * an index-build-time constant collected once, shared by every LSH
    * consumer so the bucketing convention cannot diverge between
    * operators or from the DuckDB oracle formula. */
  def fixturePlanes(emb: DataFrame): Seq[Column] =
    emb.filter(col("vec_id") >= 1 && col("vec_id") <= 8)
      .orderBy(col("vec_id"))
      .collect()
      .map(r => typedlit(r.getSeq[Float](r.fieldIndex("embedding"))))
      .toSeq

  /** Shared driver-side setup for the ANN queries: the 8 fixture
    * centroids and the query vector (vec 0), both tiny one-time
    * collects (B5 semantics). */
  private def fixtureQuerySetup(
      s: SparkSession, dir: String): (Seq[(Long, Array[Float])], Array[Float]) = {
    val e = t(s, dir, "embeddings")
    // ONE pushed scan serves both constants: the centroid set
    // (vec_id < 8) contains point 0, whose stored vector is the
    // fixture query — the second corpus scan this setup used to pay
    // per ANN query was pure overhead
    val cents = e.filter(col("vec_id") < 8).orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(r.fieldIndex("vec_id")),
        r.getSeq[Float](r.fieldIndex("embedding")).toArray)).toSeq
    (cents, cents.find(_._1 == 0L).get._2)
  }

  // -- query/oracle registry ---------------------------------------

  private val duckCosSim =
    (a: String, b: String) => s"list_cosine_similarity(($a)::DOUBLE[], ($b)::DOUBLE[])"

  // -- random projection (Johnson–Lindenstrauss) -------------------

  /** Deterministic ±1/√d' projection matrix (outDim × inDim), the
    * Achlioptas (2001) database-friendly JL construction. Generated
    * ONCE on the driver by a pure integer mix and embedded as a plan
    * literal in BOTH engines — no RNG, no broadcast round-trip, and
    * the codegen'd projection is a fixed unrolled dot product. */
  private[graft] def rpMatrix(outDim: Int, inDim: Int): Seq[Seq[Double]] = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    // splitmix64 finalizer: a single multiplicative mix leaves
    // neighboring ROWS correlated (measured mean distortion 0.47 at
    // d'=16 vs 0.20 for i.i.d. signs — correlated rows collapse the
    // effective dimension); full avalanche restores the JL scale
    (0 until outDim).map { d =>
      (0 until inDim).map { j =>
        var z = (d * inDim + j + 1).toLong * 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        z ^= z >>> 31
        if ((z & 1L) == 1L) scale else -scale
      }
    }
  }

  /** JL random projection 64→`outDim` with measured distortion: for
    * every sampled pair, the full-dimension cosine beside the
    * projected cosine and their absolute gap — the evidence table for
    * "can this pipeline run its near-dup pass at d'=16?". The
    * projection is a narrow map (literal matrix, ordered fold per
    * output dim, so both engines produce bit-identical vectors);
    * the sampled self-join is the bounded matrixPairs device, not an
    * all-pairs pass. */
  def rpDistortion(emb: DataFrame, outDim: Int = 16, sampleMod: Int = 25): DataFrame = {
    val m = typedlit(rpMatrix(outDim, 64))
    val proj = transform(m, row =>
      aggregate(zip_with(col("embedding"), row, (x, w) => x.cast("double") * w),
        lit(0.0), (a, x) => a + x))
    val s = emb.filter(pmod(col("vec_id"), lit(sampleMod.toLong)) === 0)
      .select(col("vec_id"), col("embedding"), proj.as("rp"))
    val a = s.select(col("vec_id").as("id_a"), col("embedding").as("ea"), col("rp").as("ra"))
    val b = s.select(col("vec_id").as("id_b"), col("embedding").as("eb"), col("rp").as("rb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Kernels.cosine(col("ea"), col("eb")), 6).as("cos_full"),
        round(Kernels.cosine(col("ra"), col("rb")), 6).as("cos_rp"))
      .withColumn("distortion",
        round(abs(col("cos_full") - col("cos_rp")), 6))
  }

  /** DuckDB twin of [[rpDistortion]] — the same literal matrix text,
    * the same ordered folds. */
  def duckRpDistortion(outDim: Int = 16, sampleMod: Int = 25): String = {
    val mat = rpMatrix(outDim, 64)
      .map(_.mkString("[", ", ", "]")).mkString("[", ",\n    ", "]")
    s"""WITH s AS (SELECT vec_id, embedding,
       |    list_transform($mat::DOUBLE[][],
       |      row -> list_reduce(list_prepend(0.0,
       |        list_transform(range(1, 65),
       |          j -> embedding[j]::DOUBLE * row[j])), (a, x) -> a + x)) AS rp
       |  FROM embeddings WHERE vec_id % $sampleMod = 0)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_full,
       |  ROUND(list_cosine_similarity(a.rp, b.rp), 6) AS cos_rp,
       |  ROUND(abs(ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
       |    - ROUND(list_cosine_similarity(a.rp, b.rp), 6)), 6) AS distortion
       |FROM s a JOIN s b ON a.vec_id < b.vec_id
       |ORDER BY distortion DESC, id_a, id_b LIMIT 200""".stripMargin
  }

  // -- SemDeDup (semantic dedup) -------------------------------------

  /** Input-row bound above which [[semDedupCensusPinned]] refuses
    * without `forcePinned`: the k-PINNED census is cluster-quadratic
    * BY ITS PIN (per-cluster population n/k grows with the corpus —
    * honest r13 measurement: exp 1.92, 816 s at 520k vectors), so a
    * corpus must be impossible to point at it by accident — the
    * [[graft.ops.Dedup.embeddingPairs]] `ExactPairsMaxRows` pattern. */
  val SemDedupPinnedMaxRows: Long = 1L << 16

  /** The FIXED-k SemDeDup census (the suite's `x_semdedup` oracle
    * form): assign to the given pinned centroids, drop a point when an
    * earlier same-cluster point sits at cosine ≥ `simMin`, return the
    * per-cluster keep/drop census. With k pinned, per-cluster
    * population grows ∝ corpus and the within-cluster verify is
    * quadratic — this is the fixture-scale census, NOT the corpus
    * operator; above [[SemDedupPinnedMaxRows]] rows it refuses loudly
    * and routes to [[semDedup]], whose cluster COUNT scales with the
    * corpus instead (the Abbas et al. 2023 regime). `forcePinned` is
    * the deliberate escape for bounded audits. */
  def semDedupCensusPinned(
      corpus: DataFrame, cents: DataFrame,
      simMin: Double = 0.9, forcePinned: Boolean = false): DataFrame = {
    if (!forcePinned) {
      val n = corpus.count()
      require(n <= SemDedupPinnedMaxRows,
        s"semDedupCensusPinned keeps the cluster COUNT fixed, so its " +
          s"within-cluster verify is quadratic in the corpus (measured " +
          s"growth exponent 1.92; 816 s at 520k vectors): refusing $n " +
          s"input rows > $SemDedupPinnedMaxRows. Corpus-scale semantic " +
          "dedup goes through semDedup(corpus, targetClusterSize), " +
          "which grows the cluster count with the corpus; a deliberate " +
          "bounded census passes forcePinned = true.")
    }
    val asg = ivfAssign(corpus, cents)
      .select(col("vec_id"), col("embedding"), col("cluster_id"))
    val a = asg.select(col("cluster_id"), col("vec_id").as("i"),
      col("embedding").as("va")).repartition(col("cluster_id"))
    val b = asg.select(col("cluster_id"), col("vec_id").as("j"),
      col("embedding").as("vb")).repartition(col("cluster_id"))
    // carry the cluster with the dropped id so the census aggregates
    // the already-shuffled sides — no third pass over the assignment
    val dropped = a.join(b, Seq("cluster_id"))
      .filter(col("i") < col("j"))
      .filter(round(Kernels.cosine(col("va"), col("vb")), 6) >= simMin)
      .select(col("cluster_id"), col("j")).distinct()
    val nDropped = dropped.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_dropped"))
    a.groupBy(col("cluster_id")).agg(count(lit(1)).as("n_points"))
      .join(nDropped, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_points"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"))
      .orderBy(col("cluster_id"))
  }

  /** k-SCALING SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — the
    * regime the paper actually runs at web scale): the cluster COUNT
    * grows with the corpus so per-cluster population stays
    * ~`targetClusterSize`, and the within-cluster earlier-point prune
    * is then Σ popᵢ² ≈ n·targetClusterSize — LINEAR in the corpus for
    * a fixed target size. This is the scale-safe entry point the
    * LSH-auto scaladoc routes clustered-geometry mass to
    * ([[graft.ops.Dedup.embeddingPairsLshAuto]]); the fixed-k census
    * above is the fixture-scale oracle form.
    *
    * Returns one row per input point: (vec_id, cluster_id, dropped) —
    * dropped = an earlier point (lower vec_id) in the same terminal
    * cluster sits at cosine ≥ `simMin`. No RNG anywhere: seed draws
    * are content-hash ranks and every tie-break is pinned. The one
    * cross-run float sensitivity is the Lloyd mean's double summation
    * order (partition-dependent, like any distributed `avg`), which
    * can flip a child argmax only on an exact near-tie — it cannot
    * change WHICH pairs clear `simMin`, only occasionally which
    * cluster id a boundary point census-joins through; the fixture
    * drop sets have been bit-stable across runs in practice.
    *
    * Mechanics (each stage linear, shuffles keyed on bounded keys):
    *
    *  1. EXACT-DIRECTION COLLAPSE. Bit-identical embeddings cannot be
    *     separated by any centroid (every seed sees the same cosine:
    *     the argmax tie-break routes the whole group to one child
    *     forever — the one genuinely unsplittable geometry), and they
    *     are mutual duplicates at ANY threshold. One window over the
    *     embedding value collapses each group to its min-id
    *     representative; members return as drops at the end. This is
    *     exactly semantics-preserving: rep = min(group), and a point p
    *     is dropped iff some group with min < p clears the threshold —
    *     which the representative census decides verbatim.
    *  2. ADAPTIVE HIERARCHICAL k-MEANS. Clusters larger than the
    *     target split `branch` ways per level: per oversized node,
    *     draw ~8·branch content-stable sample rows (hash-threshold on
    *     a per-level salt — NO global window: ranking a node's full
    *     population through one task is the level-0 scale-killer),
    *     rank the tiny sample per node for `branch` seed points, run
    *     `lloydIters` DISTRIBUTED Lloyd steps (argmax-assign, then
    *     per-(node, child) element-wise means via posexplode — the
    *     driver-side [[ivfRefineCentroids]] collects k×dim to the
    *     driver, which cannot scale to k ∝ n), and re-assign. Nodes at
    *     or under the target retire from the loop, so each level
    *     touches only still-oversized mass. Cluster ids are 1-based
    *     b-ary heap numbers (injective across levels, so a retired
    *     cluster can never share an id with a live one). Levels are
    *     capped at log_branch(n/target)+4 and by the 62-bit id
    *     space; anything still oversized then is
    *     surfaced on stderr and censused as-is (its quadratic cost is
    *     bounded by the warning, not hidden).
    *  3. BOUNDED CENSUS. The within-cluster pairwise verify runs as a
    *     self-equi-join repartitioned on cluster_id (the plan-hygiene
    *     rule); per-cluster volume is capped by the target size.
    *
    * At 100 TB: stage 1 is one shuffle on the vector value; stage 2 is
    * O(log(n/target)) passes, each one hash-partition shuffle of the
    * still-active rows plus a seed-table equi-join (the seed table has
    * branch rows per ACTIVE node — never collected, never broadcast by
    * hand; Catalyst broadcasts it while it is small and shuffles it
    * when it is not); stage 3 shuffles each point once on its terminal
    * cluster. Assignment arithmetic is branch cosines per point per
    * level via [[graft.vector.Expressions.CosineSim]] under a
    * per-element-once `transform` (HofGuard-clean: the lambda touches
    * only attributes and its own variable).
    *
    * Durability: with session conf `spark.graft.checkpointDir` set
    * (shared by every iterative operator — see
    * [[graft.ops.Ckpt]]), every per-level materialization is a
    * RELIABLE
    * `Dataset.checkpoint` under that directory — executor loss on a
    * multi-hour run recovers from the checkpoint files instead of
    * killing the job (localCheckpoint's truncated executor-block
    * lineage cannot recompute). Sandbox default stays localCheckpoint;
    * outputs are identical either way (spec-asserted). The caller owns
    * cleanup of the directory.
    *
    * Recall budget: `targetRecall` — an optional floor in (0, 1] —
    * runs [[semDedupRecallPlan]] first: drop-set recall is MEASURED
    * on this corpus's own geometry (sampled exact truth, full
    * planted-corpus trial per ladder rung) and the run executes at
    * the first targetClusterSize rung whose measured recall clears
    * the floor, refusing loudly when no rung inside the census-block
    * bound does. Without it the operator runs at the requested size
    * and recall is the measured depth curve (0.957@3lv → 0.42@9lv on
    * clustered-replica geometry), surfaced by the runtime depth
    * warning. `auditSampleRows` sizes the planner's truth sample.
    * The trials run under the caller's `branch`/`overlap`/
    * `lloydIters` (the clustering geometry the floor certifies);
    * they run WITHOUT the `quality` frame, which is sound: quality
    * never moves a point between clusters (assignment is by
    * embedding, and an exact group's rep carries the identical
    * vector), so the co-location event the census decides — "some
    * member of a true pair drops" — is keeper-invariant; quality
    * only changes WHICH member survives. `maxPlanSeconds` bounds the
    * ladder walk: each rung is priced a priori (upper-bound census
    * model, measured per-pair constant) and again precisely once its
    * hierarchy is built (exact census volume), refusing BEFORE an
    * over-budget trial starts — see [[semDedupRecallPlan]]. Note the
    * certified rung's cost is then paid once more by the actual run
    * (the planner's trial receipts on stderr state the price).
    * `maxCensusSeconds`, independently of any recall budget, gates
    * THIS run's own census: once the hierarchy is materialized the
    * exact pair volume (sum of pop² over census clusters) is known,
    * and the run refuses before the self-join if the estimate
    * exceeds the knob.
    *
    * Keeper policy: `quality` — an optional (vec_id, quality) frame —
    * switches the survivor order from earliest-id to
    * (quality DESC NULLS LAST, id ASC), the
    * [[graft.ops.Dedup.keeperizeByQuality]] formula, applied to both
    * the exact-collapse representative pick and the census witness
    * direction. CONTRACT (enforced loudly, not doc-only): `quality`
    * must carry at most ONE row per vec_id — it joins onto the
    * corpus, so duplicate keys would silently duplicate points and
    * break the one-output-row-per-point shape. A duplicate key fails
    * the run with a named raise_error at the first action (the guard
    * rides the same vec_id shuffle the join already pays); missing
    * ids are fine and order last. */
  def semDedup(
      emb: DataFrame,
      targetClusterSize: Long = 256L,
      simMin: Double = 0.9,
      branch: Int = 8,
      lloydIters: Int = 1,
      overlap: Double = 0.1,
      quality: Option[DataFrame] = None,
      targetRecall: Option[Double] = None,
      auditSampleRows: Long = 5000L,
      maxPlanSeconds: Option[Double] = None,
      maxCensusSeconds: Option[Double] = None): DataFrame = {
    require(targetClusterSize >= 2, s"targetClusterSize must be >= 2: $targetClusterSize")
    require(branch >= 2 && branch <= 64, s"branch must be in [2, 64]: $branch")
    require(overlap >= 0 && overlap < 1, s"overlap must be in [0, 1): $overlap")
    // recall budget (r15 flagship finding): with targetRecall set, the
    // requested targetClusterSize is a FLOOR, not the run size — the
    // planner walks the ladder measuring drop-set recall on this
    // corpus's own geometry and the run uses the first rung that
    // clears the budget (or refuses loudly; see semDedupRecallPlan).
    val tEff = targetRecall match {
      case Some(r) =>
        semDedupRecallPlan(emb, r, targetClusterSize, simMin, branch,
          overlap, auditSampleRows, lloydIters, maxPlanSeconds)._1
      case None => targetClusterSize
    }
    val spark = emb.sparkSession
    // checkpoint durability (r14 what's-wrong #1): localCheckpoint
    // stores blocks ON EXECUTORS with TRUNCATED lineage — right for
    // the sandbox (see the lineage note below), but on a multi-hour
    // 100 TB run losing ONE executor makes the truncated lineage
    // unrecomputable and kills the job. The shared [[Ckpt]] switch
    // (session conf `spark.graft.checkpointDir`) routes every
    // per-level frame through reliable Dataset.checkpoint instead:
    // executor loss recovers from the checkpoint files, and nothing
    // pins block-manager storage. Failure-recovery contract: a lost
    // executor costs re-reading checkpoint files, never a dead job.
    def ckpt(df: DataFrame): DataFrame = Ckpt(df)
    // keeper policy: by default the EARLIEST id in a dup relation
    // survives; with `quality` — a (vec_id, quality double) frame —
    // the keeper order becomes (quality DESC NULLS LAST, vec_id ASC),
    // the [[graft.ops.Dedup.keeperizeByQuality]] formula: a near-dup
    // group often holds one clean copy and n boilerplate-wrapped
    // ones, and id-order keeps whichever was ingested first. Missing
    // or NULL quality orders last (loses to any scored witness).
    val basePts0 = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val basePts = quality match {
      case Some(q) =>
        // loud guard on the at-most-one-row-per-vec_id contract (the
        // scaladoc alone was the r15 advisor finding): a dup-keyed
        // quality frame would silently DUPLICATE corpus points through
        // this left join and break the one-output-row-per-point shape.
        // The guard is a groupBy on the SAME key the join shuffles on
        // (no extra corpus work, one pass over the quality frame) with
        // raise_error firing on the first duplicate key — refuse
        // loudly, per the repo's shape-hazard convention.
        val qGuarded = q
          .select(col("vec_id").cast("long").as("vec_id"),
            col("quality").cast("double").as("q"))
          .groupBy(col("vec_id"))
          .agg(when(count(lit(1)) > 1, raise_error(concat(
            lit("semDedup: quality frame violates its at-most-one-row-per-vec_id "
              + "contract (duplicate key "), col("vec_id").cast("string"),
            lit(") - dedupe it before passing (a dup-keyed join would "
              + "duplicate corpus points)")))).otherwise(max(col("q"))).as("q"))
        basePts0.join(qGuarded, Seq("vec_id"), "left")
      case None => basePts0
    }
    // 1. exact-direction collapse (one shuffle on the vector value).
    // localCheckpoint (not persist) throughout the driver loop: each
    // level's frame references its parent several times (population
    // join, seed draw, Lloyd means, re-assignment), so a lazy lineage
    // GROWS EXPONENTIALLY in the level count — by level 5 the logical
    // plan holds ~4^5 copies of the scan and the plan STRING alone
    // OOMs the driver. Checkpointing flattens each level to a
    // LogicalRDD; blocks are freed when the frames are GC'd.
    val wRep = Window.partitionBy(col("embedding"))
    val repPick = quality match {
      case Some(_) =>
        first(col("vec_id")).over(
          wRep.orderBy(col("q").desc_nulls_last, col("vec_id").asc)
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
      case None => min(col("vec_id")).over(wRep)
    }
    val withRep = ckpt(basePts.withColumn("rep_id", repPick))
    // zero vectors are EXCLUDED from the collapse's auto-drop: the
    // guarded cosine is NULL on a zero vector, so the census form
    // never drops an all-zero duplicate — collapsing it would diverge
    // from the operator's own oracle twin (r14 self-review). Zero rows
    // flow through as ordinary points (they cluster via the argmax
    // fallback and can never clear simMin).
    val zero = Kernels.l2norm(col("embedding")) === 0.0
    val reps = withRep.filter(col("vec_id") === col("rep_id") || zero)
      .select(col("vec_id"), col("embedding"))
    val members = withRep.filter(col("vec_id") =!= col("rep_id") && !zero)
      .select(col("vec_id"), col("rep_id"))
    // 2. adaptive splitting. Rows carry a `primary` flag: the argmax
    // path (one per point — the output assignment) plus, when
    // `overlap` > 0, ONE canopy-style probe path per level into the
    // best runner-up child within `overlap` cosine of the point's
    // best (primary rows only — see assignChildren for why probe rows
    // must not re-probe). Probes exist ONLY so the census can see
    // across the Voronoi boundary (the SemDeDup paper's one blind
    // spot: a dup pair whose two members argmax into sibling
    // children is invisible to a within-cluster-only verify). If the
    // twins' per-centroid cosine shift is ε, an argmax-split pair is
    // within 2ε of sharing the best child, so overlap ≥ 2ε guarantees
    // a shared census cluster; the sound-for-any-geometry bound
    // 2·√(2−2·simMin) is uselessly wide (≈0.9 at simMin 0.9 — it
    // would probe everything), so the default 0.1 is the practical
    // knob for near-dup perturbations, stated honestly rather than
    // promised. Probe fan-out multiplies census volume and is
    // measured, not assumed, in the scale probe. Measured drop-set
    // recall vs the single-cluster truth on the clustered fixture:
    // 1.0 at sf0.01, 0.957 at sf0.1 (2/46 pairs split where the one
    // capped runner-up was not the partner's subtree — SemDedupSpec
    // pins both numbers); the LSH-auto banding reads 0.848 on the
    // same geometry, and the paper's plain within-cluster regime
    // promises nothing across boundaries. The r15 DEEP-hierarchy
    // extension of that curve (semDedupRecallAudit, sampled exact
    // truth): recall COMPOUNDS DOWN with split depth — 0.67 at 200k
    // (6 levels), 0.42 at 2M (9 levels) on clustered-replica
    // geometry; target ×16 buys ≈ +0.1, overlap is flat. The
    // operator logs the depth warning at runtime and callers measure
    // their own corpus with the audit. Precision is structural:
    // every emitted drop has a real cosine ≥ simMin witness.
    var active = reps.withColumn("cluster_id", lit(0L))
      .withColumn("primary", lit(true))
    var activeCnt = active.count()
    // level cap = the formula bound, and above it only the 62-bit id
    // space (heap numbering spends ceil(log2 branch) bits per level —
    // 61 levels at branch 2, 19 at branch 8); the r14 self-review
    // caught a flat min(20, ...) silently undercutting the documented
    // formula for small branch factors
    val bitsPerLevel = 64 - java.lang.Long.numberOfLeadingZeros(branch - 1L)
    val maxLevels = math.min(math.max(1, 62 / bitsPerLevel - 1),
      math.max(1, math.ceil(
        math.log(math.max(1.0, activeCnt.toDouble / tEff)) /
          math.log(branch.toDouble)).toInt) + 4)
    val finishedParts = scala.collection.mutable.Buffer.empty[DataFrame]
    var lvl = 0
    while (activeCnt > 0 && lvl < maxLevels) {
      // Level-loop action economics (r14 next-round #2, MEASURED and
      // partially RETRACTED in r15 — BENCH_NOTES): the pops aggregate
      // and the tagged join stay LAZY inside both wide checkpoint
      // jobs ON PURPOSE. Both the aggregate and the SMJ partition
      // `active` by cluster_id, so ReuseExchange gives each wide job
      // ONE shuffle of active serving agg + join together — the
      // "recomputed join" is nearly free. Both r15 attempts to fold
      // it away measured SLOWER: checkpointing the joined wide frame
      // re-materialized every active row per level (+40% at 20k);
      // checkpointing the tiny pops table broke the exchange reuse,
      // shuffling active three times per level instead of two (2.7×
      // at 2M: 327 s vs the shipped 119 s). What WAS avoidable: the
      // two standalone full count() passes per level — retire/
      // continue gating only needs emptiness, so they are now
      // limit-1 isEmpty probes. Locally that trims block scans; in
      // reliable-checkpoint mode (the 100 TB durable path) it is the
      // difference between touching one file and RE-READING the
      // whole level's checkpoint files twice per level.
      val pops = active.groupBy(col("cluster_id")).agg(count(lit(1)).as("pop"))
      val tagged = active.join(pops, Seq("cluster_id"))
      val doneNow = ckpt(tagged.filter(col("pop") <= tEff)
        .select(col("vec_id"), col("embedding"), col("cluster_id"), col("primary")))
      val over = tagged.filter(col("pop") > tEff)
      // per-level content-stable draw: ~8·branch expected samples per
      // node whatever its population; the per-level salt makes a
      // zero-sample node (probability e^{-8·branch}) re-draw next level.
      // Seeds come off PRIMARY rows so probe duplicates cannot seed
      // two siblings with the same point.
      val drawKey = Embedder.stringHash64(
        concat_ws(":", col("vec_id").cast("string"), lit(lvl)))
      val sampled = over.filter(col("primary")).filter(
        pmod(drawKey, lit(1000000L)).cast("double") <
          least(lit(1.0), lit(8.0 * branch) / col("pop")) * 1000000.0)
      val wSeed = Window.partitionBy(col("cluster_id"))
        .orderBy(drawKey.asc, col("vec_id").asc)
      var cands: DataFrame = sampled
        .withColumn("child", (row_number().over(wSeed) - 1).cast("long"))
        .filter(col("child") < branch)
        .select(col("cluster_id"), col("child"), col("embedding").as("cv"))
      val overRows = over.select(col("vec_id"), col("embedding"),
        col("cluster_id"), col("primary"))
      for (_ <- 0 until lloydIters) {
        // distributed Lloyd step: child means (over the argmax
        // assignment only) replace the drawn points
        cands = assignChildren(overRows, cands, overlap = 0.0)
          .filter(col("primary"))
          .select(col("cluster_id"), col("child"), posexplode(col("embedding")))
          .groupBy(col("cluster_id"), col("child"), col("pos"))
          .agg(avg(col("col")).as("m"))
          .groupBy(col("cluster_id"), col("child"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            x => x.getField("m")).as("cv"))
      }
      // heap-unique child ids (+1): with plain cluster_id·b + child, a
      // cluster RETIRED at level L shares its number with a different
      // level-L+1 cluster (e.g. retired id 1 vs child 1 of id 0) and
      // the census silently merges them — the r14 self-review finding.
      // 1-based b-ary heap numbering (children of i are i·b+1 … i·b+b)
      // is injective across ALL levels, so retired and live ids can
      // never collide.
      val next = ckpt(assignChildren(overRows, cands, overlap)
        .select(col("vec_id"), col("embedding"),
          (col("cluster_id") * branch + col("child") + 1).as("cluster_id"),
          col("primary")))
      if (!doneNow.isEmpty) finishedParts += doneNow
      active = next
      activeCnt = if (next.isEmpty) 0L else 1L
      lvl += 1
    }
    if (activeCnt > 0) {
      // leftover count is worth a real pass only on the rare path
      // that reports it
      System.err.println(
        s"[graft] semDedup: ${active.count()} rows remain in oversized " +
          s"clusters after $lvl levels (near-identical directions the " +
          "split cannot separate) — censusing them as-is; their " +
          "pairwise cost is population-squared")
      finishedParts += active
    }
    val clustered =
      if (finishedParts.isEmpty) active.limit(0)
      else finishedParts.reduce(_ unionByName _)
    // probe fan-out is a measured number, not a footnote (the r13
    // LSH-recall lesson): say what the census actually pays
    val censusRows = clustered.count()
    val repCnt = reps.count()
    if (repCnt > 0)
      System.err.println(
        f"[graft] semDedup: census over $censusRows rows for $repCnt " +
          f"points (probe fan-out ${censusRows.toDouble / repCnt}%.2f× " +
          f"at overlap $overlap%.2f, $lvl split levels)")
    // recall degrades with hierarchy DEPTH, and the caller must hear
    // it at runtime, not find it in a doc (the lshRecallAudit rule):
    // argmax boundary splits compound per level and the capped
    // one-runner-up probe cannot rescue multi-level divergence —
    // measured drop-set recall on clustered-replica geometry falls
    // 0.957 (3 levels, 2k) → 0.67 (6 levels, 200k) → 0.42 (9 levels,
    // 2M) at the default target, and the knobs only soften it
    // (target ×16 buys ≈ +0.1; overlap is flat — r15 sweep,
    // BENCH_NOTES). Precision stays structural (every drop has a
    // cosine ≥ simMin witness).
    if (lvl >= 6)
      System.err.println(
        s"[graft] semDedup: $lvl split levels — boundary-split recall " +
          "degrades with depth (measured 0.957@3lv/0.67@6lv/0.42@9lv " +
          "on clustered-replica geometry). MEASURE yours with " +
          "Similarity.semDedupRecallAudit(emb), or pass " +
          "targetRecall = Some(r) to BUY a measured floor (the ladder " +
          "certifies or refuses — r16); recall-critical near-dup mass " +
          "belongs to embeddingPairsLshAuto or a larger " +
          "targetClusterSize")
    // census-cost gate (r16 verdict #1): by this point the hierarchy
    // is fully materialized, so the census volume is KNOWN — sum of
    // pop² over the terminal clusters (probe rows included), the
    // exact pair count the self-join below will score. With
    // `maxCensusSeconds` set, price it against the measured per-pair
    // constant (session conf spark.graft.semdedup.censusSecsPerPair,
    // calibrated on this box — BENCH_NOTES r17) and refuse BEFORE the
    // expensive stage starts, naming the estimate. The recall planner
    // threads its remaining maxPlanSeconds budget through here, so a
    // caller aborts a ~1300 s rung before paying it, not after. The
    // default (None) adds NO pass — the hot path is unchanged.
    maxCensusSeconds.foreach { budget =>
      val sumPairs = clustered.groupBy(col("cluster_id"))
        .agg(count(lit(1)).cast("double").as("pop"))
        .agg(coalesce(sum(col("pop") * col("pop")), lit(0.0)))
        .head.getDouble(0)
      val est = sumPairs * censusSecsPerPair(spark)
      System.err.println(
        f"[graft] semDedup: census volume $sumPairs%.3e pairs — " +
          f"estimated $est%.1f s at ${censusSecsPerPair(spark)}%.2e " +
          f"s/pair against a $budget%.1f s maxCensusSeconds budget")
      require(est <= budget,
        f"semDedup: the census would score ~$sumPairs%.3e within-" +
          f"cluster pairs, estimated $est%.1f s at the measured " +
          f"${censusSecsPerPair(spark)}%.2e s/pair constant — over the " +
          f"$budget%.1f s maxCensusSeconds budget. Aborting BEFORE the " +
          "census (the hierarchy cost is already paid). The constant " +
          "is wall-calibrated and CONSERVATIVE for mid-size clusters " +
          "(measured census throughput 3.0e-8 to 7.5e-8 s/pair at " +
          "200k, BENCH_NOTES r17) — tune conf " +
          "spark.graft.semdedup.censusSecsPerPair if your geometry " +
          "measures faster. Otherwise raise the budget, lower " +
          "targetClusterSize (smaller clusters, quadratically less " +
          "census), or route recall-critical near-dup mass to " +
          "Dedup.embeddingPairsLshAuto (banded, volume-capped)")
    }
    // 3. bounded within-cluster census — over ALL assignments (probe
    // rows included: they exist exactly so boundary pairs share a
    // census cluster); the output keeps one row per point (primary)
    val a = clustered.select(col("cluster_id"), col("vec_id").as("i"),
      col("embedding").as("va")).repartition(col("cluster_id"))
    val b = clustered.select(col("cluster_id"), col("vec_id").as("j"),
      col("embedding").as("vb")).repartition(col("cluster_id"))
    // witness precedence: id order by default; under the quality
    // keeper policy a point drops iff a SIMILAR point strictly
    // precedes it in (quality DESC NULLS LAST, vec_id ASC) — the
    // keeperizeByQuality order, a strict total order, so a dup pair
    // can never drop both ways. Quality rides a (vec_id, q) join onto
    // the census sides only (the level loop never carries it).
    val precedes = quality match {
      case Some(_) =>
        val qa = withRep.select(col("vec_id").as("i"),
          coalesce(col("q"), lit(Double.NegativeInfinity)).as("qi"))
        val qb = withRep.select(col("vec_id").as("j"),
          coalesce(col("q"), lit(Double.NegativeInfinity)).as("qj"))
        (df: DataFrame) => df.join(qa, Seq("i")).join(qb, Seq("j"))
          .filter(col("qi") > col("qj") ||
            (col("qi") === col("qj") && col("i") < col("j")))
      case None =>
        (df: DataFrame) => df.filter(col("i") < col("j"))
    }
    val dropIds = precedes(a.join(b, Seq("cluster_id")))
      .filter(round(Kernels.cosine(col("va"), col("vb")), 6) >= simMin)
      .select(col("j").as("vec_id")).distinct()
    val repsOut = clustered.filter(col("primary"))
      .select(col("vec_id"), col("cluster_id"))
      .join(dropIds.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("dropped"), lit(false)).as("dropped"))
    // exact-group members inherit their representative's cluster and
    // are drops by construction: the rep is the group's FIRST point
    // in the keeper order (min id, or best quality under the policy),
    // so every member has a preceding identical witness
    val memberOut = members
      .join(repsOut.select(col("vec_id").as("rep_id"), col("cluster_id")),
        Seq("rep_id"))
      .select(col("vec_id"), col("cluster_id"), lit(true).as("dropped"))
    // materialize the result too: the census self-join is the
    // expensive stage, and the operator is eager by construction
    // (per-level population counts) — a caller re-running actions on
    // the returned frame must not re-pay it
    ckpt(repsOut.unionByName(memberOut))
  }

  /** ScaleBench probe body for the k-scaling operator: same planted-dup
    * corpus as the pinned census, corpus-scale parameters. Lives here
    * because [[graft.ops.Dedup.embCorpusWithDups]] is package-private
    * (the plant must never diverge between the queries sharing it). */
  def semDedupProbe(s: SparkSession, dir: String): DataFrame =
    semDedup(Dedup.embCorpusWithDups(t(s, dir, "embeddings"),
      withLabel = false))

  /** Runtime drop-set-recall audit for [[semDedup]] — the
    * [[graft.ops.Dedup.lshRecallAudit]] pattern applied to the
    * clustering path, so boundary-split loss is a measured curve at
    * ANY corpus size, not a fixture constant (r14 next-round #4; the
    * fixture pins 1.0 at sf0.01 and 0.957 at sf0.1 only).
    *
    * Draws a content-stable ≤ `sampleRows` sample of the RAW vectors,
    * plants the probe dups on the sample (planting is per-row
    * deterministic, so plant(sample) ⊆ plant(corpus) — every sampled
    * original carries its partner, sidestepping the p² pair-sampling
    * trap), computes the EXACT true-pair set within the planted
    * sample (bounded nested loop, quadratic in the SAMPLE only), runs
    * the operator over the FULL planted corpus, and reports the
    * fraction of sampled true pairs whose id-later member the run
    * dropped — the single-cluster truth's verdict for that pair.
    * NaN when the sample holds no true pair (widen it).
    *
    * `lloydIters` matches the run configuration under audit (the
    * r16 advisor finding: a floor measured at different Lloyd depth
    * certifies a different clustering than the one executed).
    * `sampleSalt` picks the content-stable truth-sample draw — vary
    * it to measure the audit's own sampling variance (the r17
    * spread table in BENCH_NOTES). `maxCensusSeconds` rides through
    * to the trial run's census gate. */
  def semDedupRecallAudit(
      emb: DataFrame,
      targetClusterSize: Long = 256L,
      simMin: Double = 0.9,
      sampleRows: Long = 5000L,
      branch: Int = 8,
      overlap: Double = 0.1,
      lloydIters: Int = 1,
      sampleSalt: String = "semaudit",
      maxCensusSeconds: Option[Double] = None): Double = {
    require(sampleRows > 0 && sampleRows <= 16384,
      s"semDedupRecallAudit sample must be in (0, 16384]: $sampleRows")
    val base = emb.select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val n = base.count()
    val p = math.min(1.0, sampleRows.toDouble / math.max(1L, n))
    val sample = base.filter(
      pmod(Embedder.stringHash64(
          concat_ws(":", col("vec_id").cast("string"), lit(sampleSalt))),
        lit(1000000L)).cast("double") < p * 1000000.0)
      .localCheckpoint(true)
    val planted = Dedup.embCorpusWithDups(sample, withLabel = false)
    val truth = planted
      .select(col("vec_id").as("i"), col("embedding").as("va"))
      .join(planted.select(col("vec_id").as("j"), col("embedding").as("vb")),
        col("i") < col("j"))
      .filter(round(Kernels.cosine(col("va"), col("vb")), 6) >= simMin)
      .select(col("i"), col("j")).localCheckpoint(true)
    val truthN = truth.count()
    if (truthN == 0) {
      System.err.println(
        "[graft] semDedupRecallAudit: sample holds no true pair at " +
          s"the threshold (n=$n, sampled ~${(p * n).toLong}) — widen " +
          "sampleRows to measure recall")
      Double.NaN
    } else {
      val drops = semDedup(Dedup.embCorpusWithDups(base, withLabel = false),
          targetClusterSize, simMin, branch = branch, overlap = overlap,
          lloydIters = lloydIters, maxCensusSeconds = maxCensusSeconds)
        .filter(col("dropped")).select(col("vec_id").as("j"))
      val hit = truth.join(drops, Seq("j")).count()
      val recall = hit.toDouble / truthN
      System.err.println(
        f"[graft] semDedupRecallAudit: drop-set recall $recall%.3f " +
          f"over $truthN sampled true pairs (corpus n=$n, target " +
          f"$targetClusterSize, branch=$branch, overlap=$overlap%.2f, " +
          f"simMin=$simMin%.2f)")
      recall
    }
  }

  /** Recall-budget planner for [[semDedup]] — the r15 closing finding:
    * a deep-hierarchy run silently shipped a measured-low recall
    * (0.42 at 9 levels / 2M vectors) behind a stderr warning. This
    * turns the warning into a CONTROL: walk the targetClusterSize
    * ladder (×branch per rung — each rung removes ~one split level,
    * the depth variable the r15 sweep measured recall against) and
    * MEASURE drop-set recall at each rung with
    * [[semDedupRecallAudit]] (sampled exact truth, full planted-run —
    * a number from the caller's own geometry, never an
    * extrapolation). Returns the first rung whose measured recall
    * clears `targetRecall`, with its measurement.
    *
    * Cost, stated plainly: each rung is one full operator run over
    * the planted corpus, and the final rung's census is ∝ n·target —
    * the ladder is geometric, so total trial cost ≈ 2× the final
    * rung's run. That is the honest price of a measured floor;
    * anything cheaper is a promise. The price is now SURFACED before
    * it is paid (r16 verdict #1): every rung logs an a-priori
    * estimate from [[semDedupEstimateSecs]] (n, rung, and the
    * measured per-pair constant) before its trial starts, and
    * `maxPlanSeconds` turns that line into an abort — over-budget
    * rungs refuse up front, and the remaining budget also rides into
    * each trial's precise census-volume gate (see [[semDedup]]'s
    * `maxCensusSeconds`), so a mid-ladder under-estimate still
    * aborts before the census, never after it.
    *
    * Refusals (loud, with the named escape):
    *  - audit sample holds no true pair → nothing to certify; widen
    *    `auditSampleRows` or drop the recall budget.
    *  - the next rung's a-priori estimate (or a trial's measured
    *    census volume) exceeds `maxPlanSeconds` → abort before the
    *    expensive stage, naming the estimate, the spend so far, and
    *    the budget; raise the budget, lower the floor, or go banded.
    *
    * Certification bar: session conf
    * `spark.graft.semdedup.recallMargin` (default 0) demands
    * `measured >= targetRecall + margin` — the audit's per-rung
    * sampling spread is ~0.08 at 200k (five truth-sample draws,
    * BENCH_NOTES r17), so a floor inside the spread certifies on
    * draw luck unless a margin (~half the spread) absorbs it.
    *  - the next rung would exceed [[SemDedupPinnedMaxRows]] —
    *    per-cluster census is pop², so a 2^16-row cluster is the same
    *    ~4·10⁹-pair block [[graft.ops.Dedup.embeddingPairs]] refuses
    *    past — and recall is STILL below target: the budget is not
    *    purchasable inside the hierarchy. Recall-critical mass
    *    belongs to [[graft.ops.Dedup.embeddingPairsLshAuto]] (banded,
    *    no depth compounding) or an explicit bounded exact census. */
  /** The planner's rung sequence: ×branch from the requested size,
    * CLAMPED to end at [[SemDedupPinnedMaxRows]] — the geometric
    * stride overshoots the bound (256×8³ = 131072), but the bound
    * itself is a legal, often decisive final rung (measured 0.960 at
    * 65536 on the 200k clustered corpus where the 16384 rung reads
    * 0.830 — skipping it refused a purchasable budget, the r16 plan
    * drill's finding). A requested size already past the bound rides
    * alone: the caller chose it explicitly. */
  /** Measured cost constants for the a-priori trial estimate (r16
    * verdict #1: the ladder walked rungs blind — a caller discovered
    * the ~1300 s rung only by entering it). Both are box calibrations
    * from the r17 200k ladder re-measurement (local[32], BENCH_NOTES
    * r17) and both are session-conf overridable for other hardware:
    * `spark.graft.semdedup.censusSecsPerPair` and
    * `spark.graft.semdedup.hierarchySecsPerRowLevel`. */
  val CensusSecsPerPairDefault: Double = 1.3e-7
  val HierarchySecsPerRowLevelDefault: Double = 3.0e-5

  private def confD(spark: SparkSession, key: String, d: Double): Double =
    spark.conf.getOption(key).map(_.toDouble).getOrElse(d)
  private[graft] def censusSecsPerPair(spark: SparkSession): Double =
    confD(spark, "spark.graft.semdedup.censusSecsPerPair",
      CensusSecsPerPairDefault)
  private[graft] def hierarchySecsPerRowLevel(spark: SparkSession): Double =
    confD(spark, "spark.graft.semdedup.hierarchySecsPerRowLevel",
      HierarchySecsPerRowLevelDefault)

  /** Certification margin for the recall planner (session conf
    * `spark.graft.semdedup.recallMargin`, default 0): the ladder
    * certifies a rung when `measured >= targetRecall + margin`. The
    * audit's number is ONE truth-sample draw, and its sampling spread
    * is real — measured at 200k across five salts the per-rung range
    * is up to ~0.08 (BENCH_NOTES r17 spread table), so a floor that
    * lands inside the spread can certify or refuse on the luck of the
    * draw. A margin of about half the observed spread (0.04) makes
    * the certification robust to it; the default stays 0 so the knob
    * never silently raises a caller's census bill. */
  private[graft] def recallMargin(spark: SparkSession): Double =
    confD(spark, "spark.graft.semdedup.recallMargin", 0.0)

  /** A-priori wall-clock estimate for one [[semDedup]] run of `n`
    * rows at `target`: hierarchy term (n rows × split levels at the
    * per-row-level constant) plus census term. Census volume sits
    * between two regimes the planner cannot distinguish up front —
    * BALANCED terminal clusters (pop = n/branch^levels, volume
    * n·target·fill where fill = (n/target)/branch^levels ≤ 1) and
    * CLAMPED-at-target skew (volume n·target, what clustered-copy
    * geometry produces at the final rung) — so the estimate takes
    * their geometric mean, n·target·√fill, calibrated on the
    * measured r17 200k curve (29.5 / 66.9 / 150 / ~1300 s at
    * 256/2048/16384/65536): every rung lands within ~1.5× both ways,
    * spec-pinned within 2×. The planner logs this number before
    * every rung and gates `maxPlanSeconds` on it; once a trial's
    * hierarchy is built, the PRECISE volume gate inside [[semDedup]]
    * (sum of pop²) takes over, so an a-priori miss can never buy an
    * unpriced census. */
  def semDedupEstimateSecs(
      n: Long,
      target: Long,
      branch: Int = 8,
      secsPerPair: Double = CensusSecsPerPairDefault,
      secsPerRowLevel: Double = HierarchySecsPerRowLevelDefault): Double = {
    val t = math.min(math.max(2L, target), math.max(1L, n))
    val levels =
      if (n <= t) 0
      else math.ceil(
        math.log(n.toDouble / t) / math.log(branch.toDouble)).toInt
    val fill =
      if (levels == 0) 1.0
      else (n.toDouble / t) / math.pow(branch.toDouble, levels)
    secsPerRowLevel * n * math.max(1, levels) +
      secsPerPair * n.toDouble * t * math.sqrt(fill)
  }

  private[graft] def recallLadder(start: Long, branch: Int): Seq[Long] = {
    val rungs = Iterator.iterate(start)(_ * branch)
      .takeWhile(t => t > 0 && t <= SemDedupPinnedMaxRows).toSeq
    if (rungs.isEmpty) Seq(start)
    else if (rungs.last < SemDedupPinnedMaxRows) rungs :+ SemDedupPinnedMaxRows
    else rungs
  }

  def semDedupRecallPlan(
      emb: DataFrame,
      targetRecall: Double,
      targetClusterSize: Long = 256L,
      simMin: Double = 0.9,
      branch: Int = 8,
      overlap: Double = 0.1,
      auditSampleRows: Long = 5000L,
      lloydIters: Int = 1,
      maxPlanSeconds: Option[Double] = None): (Long, Double) = {
    require(targetRecall > 0 && targetRecall <= 1,
      s"targetRecall must be in (0, 1]: $targetRecall")
    val spark = emb.sparkSession
    // sampling-robust certification: the audit is one truth-sample
    // draw whose per-rung spread is measured (~0.08 at 200k across 5
    // salts — BENCH_NOTES r17), so a floor inside the spread would
    // certify on draw luck. The margin conf demands measured >=
    // target + margin; default 0 keeps the bill unchanged. An
    // impossible bar refuses HERE, before any trial is paid.
    val margin = recallMargin(spark)
    require(margin >= 0 && targetRecall + margin <= 1.0,
      f"spark.graft.semdedup.recallMargin=$margin%.3f must be >= 0 and " +
        f"leave targetRecall + margin <= 1 (target $targetRecall%.3f)")
    val bar = targetRecall + margin
    val cPair = censusSecsPerPair(spark)
    val cRow = hierarchySecsPerRowLevel(spark)
    // the trial corpus is the planted one — every 20th row gains a
    // near-dup copy (embCorpusWithDups), so the estimate must price
    // the rows the trial actually runs, not the caller's n
    val n = emb.count()
    val plantedN = n + (n + 19L) / 20L
    val ladder = recallLadder(targetClusterSize, branch)
    var spent = 0.0
    // per-rung price, surfaced BEFORE the trial starts (r16 verdict
    // #1: the census cost model was known but the ladder walked
    // blind — at 200k the caller discovered the ~1300 s final rung
    // only by entering it). The a-priori estimate gates
    // maxPlanSeconds here; the remaining budget also rides into the
    // trial's own PRECISE census-volume gate (sum of pop², known the
    // moment the hierarchy is built), so even an under-estimated
    // rung aborts before its census, never after.
    def trial(rung: Long): Double = {
      val est = semDedupEstimateSecs(plantedN, rung, branch, cPair, cRow)
      System.err.println(
        f"[graft] semDedupRecallPlan: rung $rung — estimated ~$est%.0f s " +
          f"(calibrated census model over $plantedN planted rows at " +
          f"$cPair%.2e s/pair, census bound " +
          f"${plantedN.toDouble * math.min(rung, plantedN)}%.2e pairs; " +
          f"ladder spent $spent%.0f s so far)")
      maxPlanSeconds.foreach { budget =>
        require(spent + est <= budget,
          f"semDedupRecallPlan: rung $rung is estimated at ~$est%.0f s " +
            f"and the ladder has already spent $spent%.0f s of the " +
            f"$budget%.0f s maxPlanSeconds budget — aborting BEFORE the " +
            "trial starts (census cost grows proportionally to " +
            "n*target; the estimate uses the measured per-pair " +
            "constant, conf spark.graft.semdedup.censusSecsPerPair). " +
            "Raise maxPlanSeconds, lower targetRecall, or route " +
            "recall-critical near-dup mass to " +
            "Dedup.embeddingPairsLshAuto (banded, no depth compounding)")
      }
      val t0 = System.nanoTime()
      val r = semDedupRecallAudit(emb, rung, simMin, auditSampleRows,
        branch, overlap, lloydIters,
        maxCensusSeconds = maxPlanSeconds.map(b => math.max(0.0, b - spent)))
      spent += (System.nanoTime() - t0) / 1e9
      r
    }
    var i = 0
    var measured = trial(ladder(i))
    require(!measured.isNaN,
      s"semDedupRecallPlan: the $auditSampleRows-row audit sample holds " +
        s"no true pair at simMin=$simMin - there is nothing to certify " +
        "a recall floor against. Widen auditSampleRows (<= 16384) or " +
        "drop targetRecall (near-dup density this low makes the budget moot).")
    while (measured < bar && i + 1 < ladder.length) {
      System.err.println(
        f"[graft] semDedupRecallPlan: measured recall $measured%.3f < " +
          f"target $targetRecall%.3f (+ margin $margin%.3f) at " +
          f"targetClusterSize ${ladder(i)} - " +
          f"raising to ${ladder(i + 1)} (shallower hierarchy; census " +
          "cost grows proportionally to n*target)")
      i += 1
      measured = trial(ladder(i))
    }
    require(measured >= bar,
      f"semDedupRecallPlan: recall >= $targetRecall%.3f " +
        f"(+ sampling margin $margin%.3f) is not " +
        f"purchasable inside the hierarchy - measured $measured%.3f at " +
        f"targetClusterSize ${ladder(i)}, the last rung inside the " +
        f"$SemDedupPinnedMaxRows census-block bound (per-cluster census " +
        "is pop-squared: a 2^16-row cluster is the same ~4e9-pair " +
        "block embeddingPairs refuses past). Recall-critical near-dup " +
        "mass belongs to Dedup.embeddingPairsLshAuto (banded, no depth " +
        "compounding), or run without targetRecall and own the " +
        "measured curve.")
    System.err.println(
      f"[graft] semDedupRecallPlan: certified - measured recall " +
        f"$measured%.3f >= $targetRecall%.3f" +
        (if (margin > 0) f" + margin $margin%.3f" else "") +
        f" at targetClusterSize ${ladder(i)} (requested " +
        f"$targetClusterSize; ladder spent $spent%.0f s)")
    (ladder(i), measured)
  }

  /** Child assignment for one [[semDedup]] level: the branch candidate
    * centroids of each node ride ONE array row per node (collect_list
    * over ≤ branch rows), the data side equi-joins on the node id, and
    * children rank by an ascending (−cosine, child) struct sort —
    * `branch` CosineSim evaluations per point, each element exactly
    * once, nothing but attributes and lambda variables inside the
    * lambdas (the HofGuard rule; the best score is hoisted to its own
    * column before the probe filter references it). A PRIMARY row
    * emits its argmax child plus at most ONE probe row (the best
    * runner-up within `overlap` cosine); a probe row emits argmax
    * only. Exactly one output row per point carries
    * `primary = incoming primary && child == argmax` — tie-break
    * similarity DESC, child ASC, the [[ivfClusterId]] convention. A
    * node whose sample drew no seeds (probability e^{-8·branch})
    * keeps child 0 and re-draws next level under the level salt. */
  private def assignChildren(
      rows: DataFrame, cands: DataFrame, overlap: Double): DataFrame = {
    val nodeCands = cands.groupBy(col("cluster_id"))
      .agg(sort_array(collect_list(struct(col("child"), col("cv")))).as("cands"))
    // probe discipline (the first cut of this operator let EVERY row
    // probe every within-margin child and the ScaleData micro-cluster
    // geometry compounded that multiplicatively across levels —
    // measured fan-out 80–116× with millions of rows marooned in
    // oversized clusters): only the PRIMARY row probes, its probe set
    // is capped at the best runner-up within the margin, and probe
    // rows themselves follow argmax alone — path count per point
    // grows by at most one per level instead of a factor per level
    rows.join(nodeCands, Seq("cluster_id"), "left")
      .withColumn("scored", transform(col("cands"), c =>
        struct(
          (-coalesce(Kernels.cosine(col("embedding"), c.getField("cv")),
            lit(-2.0))).as("ns"),
          c.getField("child").as("child"))))
      // ascending sort on (−score, child) = best-first, ties by child
      .withColumn("ranked", sort_array(col("scored")))
      // hoisted so the probe filter's lambda closes over a plain
      // attribute (the HofGuard rule), not an element_at chain
      .withColumn("bestNs", element_at(col("ranked"), 1).getField("ns"))
      .withColumn("pc", explode(
        when(col("cands").isNull,
          array(struct(lit(2.0).as("ns"), lit(0L).as("child"))))
        .when(col("primary"), slice(
          filter(col("ranked"), x =>
            x.getField("ns") <= col("bestNs") + overlap), 1, 2))
        .otherwise(slice(col("ranked"), 1, 1))))
      .withColumn("child", col("pc").getField("child"))
      .withColumn("primary",
        col("primary") && (col("cands").isNull ||
          col("child") === element_at(col("ranked"), 1).getField("child")))
      .drop("cands", "scored", "ranked", "bestNs", "pc")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Cluster inspection (the DataComp/SemDeDup workflow step after
    // clustering: WHAT is in each cluster?): assign every embedding to
    // its nearest fixture centroid, join the documents through the
    // shared id space, and surface each cluster's top-lift terms —
    // the IVF machinery and the topic-lift machinery composed through
    // one broadcast-equi-join. All counts integer, lift a single
    // rounded ratio.
    "x_cluster_terms" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      val asg = ivfAssign(e.select(col("vec_id"), col("embedding")), cents)
        .select(col("vec_id").as("doc_id"), col("cluster_id"))
      val d = t(s, dir, "documents")
        .join(asg, Seq("doc_id"))
        .select(col("cluster_id"), col("text"))
      graft.ops.TextAnalysis
        .topicWords(d, k = 3, minCount = 3L, keyCol = "cluster_id")
        .orderBy(col("cluster_id"), col("rnk"))
    }),

    // worst 200 distortions: the JL quality report is its tail, and
    // the cut keeps the output bounded however many pairs the sample
    // yields (2M at sf0.1)
    "x_rp_distortion" -> ((s, dir) =>
      rpDistortion(t(s, dir, "embeddings"))
        .orderBy(col("distortion").desc, col("id_a"), col("id_b"))
        .limit(200)),
    // Document-level similarity join: embed the corpus, then k-NN join
    // a query subset against it — the end-to-end "find similar docs"
    // pipeline (embedder → broadcast query side → ranking window).
    "x_embed_knn_docs" -> ((s, dir) => {
      import graft.index.Embedder
      // fanOutIfNarrow: the embed is the expensive stage; see scaladoc
      val emb = fanOutIfNarrow(t(s, dir, "documents"))
        .withColumn("_th", Embedder.tokenHashes(col("text")))
        .select(col("doc_id"), Embedder.embedRaw(col("_th")).as("v"))
        // zero-norm (un-embeddable) docs are not scorable points:
        // cosine against a zero vector is undefined and the engines
        // disagree on it (guarded kernel NULL vs DuckDB −1.0), so both
        // sides exclude them by the SAME stated predicate — caught by
        // the r10 empty-doc perturbed-fixture drill
        .filter(graft.vector.Kernels.l2norm(col("v")) > 0)
      val qs = emb.filter(col("doc_id") < 5)
        .select(col("doc_id").as("q_id"), col("v").as("qv"))
      val scored = emb.crossJoin(broadcast(qs))
        .select(col("q_id"), col("doc_id"),
          round(Kernels.cosine(col("v"), col("qv")), 6).as("score"))
      // bounded-heap ranking (same swap as knnJoin): map-side partial
      // aggregation shuffles O(k) pairs per query, never Q×N rows
      scored.groupBy(col("q_id"))
        .agg(topKHits(col("score"), col("doc_id"), 3).as("hits"))
        .select(col("q_id"), posexplode(col("hits")))
        .select(col("q_id"), col("col.vec_id").as("doc_id"),
          col("col.score").as("score"), (col("pos") + 1).cast("long").as("rnk"))
        .orderBy(col("q_id"), col("rnk"))
    }),

    // k-NN classification: predict each query point's label by
    // majority vote of its 5 nearest OTHER points (the standard
    // embedding-space sanity check of label coherence). Ranking is the
    // bounded-heap topKHits aggregate (same swap as knnJoin); the
    // neighbor's label rides inside the heap's id slot packed as
    // vec_id*16+label — vec_id is unique per point, so the packed
    // ordering (score desc, packed asc) equals the window's (score
    // desc, vec_id asc) tiebreak exactly, and no second corpus scan is
    // needed to recover labels (fixture labels are 0..9 < 16; the
    // true_label rides the broadcast query side). Vote counting is a
    // tiny aggregate over the k×Q output; argmax via max_by-style
    // struct ordering (votes desc, label asc) — no second window.
    // Self-matches excluded so the vote is honest.
    "x_knn_classify" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("label").as("true_label"))
      val scored = e.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("true_label"),
          (col("vec_id") * 16 + col("label")).cast("long").as("packed"),
          round(Kernels.cosine(col("embedding"), col("qv")), 6).as("score"))
      val votes = scored.groupBy(col("q_id"), col("true_label"))
        .agg(topKHits(col("score"), col("packed"), 5).as("hits"))
        .select(col("q_id"), col("true_label"), explode(col("hits")).as("h"))
        .select(col("q_id"), col("true_label"),
          pmod(col("h.vec_id"), lit(16L)).cast("long").as("label"))
        .groupBy(col("q_id"), col("true_label"), col("label"))
        .agg(count(lit(1)).as("votes"))
      votes.groupBy(col("q_id"), col("true_label"))
        .agg(max(struct(col("votes"), (-col("label")).as("nl"))).as("best"))
        .select(col("q_id"), col("true_label"),
          (-col("best.nl")).cast("long").as("predicted"),
          col("best.votes").as("votes"))
        .orderBy(col("q_id"))
    }),

    // Cluster-balanced sampling (the DataComp/SemDeDup companion op):
    // cap every SEMANTIC cluster's contribution instead of sampling
    // uniformly — uniform draws mirror the corpus's topic skew, while
    // a per-cluster quota keeps the tail topics that diversity-seeking
    // curation wants. Points assign to their IVF cluster (narrow
    // argmax over broadcast centroids), then each cluster keeps its
    // `quota` lowest STABLE-HASH draws (reproducible, rand()-free, the
    // stratified-sample rule — strata here are LEARNED, not metadata).
    // Scale: one shuffle on cluster_id for the per-cluster window;
    // cluster count is the parallelism floor, same as the IVF index.
    "x_cluster_sample" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      val asg = ivfAssign(e.select(col("vec_id"), col("embedding")), cents)
      val w = Window.partitionBy(col("cluster_id"))
        .orderBy(Embedder.stringHash64(col("vec_id").cast("string")).asc,
          col("vec_id").asc)
      asg.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select(col("cluster_id"), col("vec_id"), col("rk"))
        .orderBy(col("cluster_id"), col("rk"))
    }),

    // k-NN join: 10 query vectors × top-3 neighbors each.
    "x_knn_join" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      knnJoin(e, qs, 3).orderBy(col("q_id"), col("rnk"))
    }),

    // SemDeDup (Abbas et al. 2023): semantic dedup blocked by k-means
    // clusters — within each cluster, a point is DROPPED when an
    // earlier point sits above the cosine threshold. This suite query
    // is the FIXED-k (8 fixture centroids) census — the oracle-stable
    // fixture form, refusal-guarded against corpus input since r14;
    // the corpus-scale operator is [[semDedup]] (cluster count ∝ n).
    "x_semdedup" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      // the SHARED planted-dup corpus (Dedup.embCorpusWithDups) —
      // without the plant the census would pass vacuously with 0 drops
      val corpus = Dedup.embCorpusWithDups(e, withLabel = false)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
      semDedupCensusPinned(corpus, cents, simMin = 0.9)
    }),

    // LSH-bucketed k-NN join: 50 queries through the shuffle-join
    // scale path (no broadcast of the query side at size).
    "x_knn_join_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qs = e.filter(col("vec_id") < 50)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
      knnJoinLsh(e, qs, 3).orderBy(col("q_id"), col("rnk"))
    }),

    // IVF ANN: probe the persisted cluster-partitioned index — the
    // query vector's cluster is ranked driver-side (8 centroid dots,
    // like the reference's driver-side query embedding) and the read
    // prunes to that single partition subtree.
    "x_ann_ivf" -> ((s, dir) => {
      val (cents, q) = fixtureQuerySetup(s, dir)
      val qc = rankCentroids(cents, q).head
      s.read.parquet(ivfIndexPath(s, dir))
        .filter(col("cluster_id") === qc)
        .select(col("vec_id"),
          round(Kernels.cosine(col("embedding"), typedlit(q.toSeq)), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
    }),

    // Filtered ANN: the IVF probe composed with a payload predicate
    // (Qdrant's filtered search). The partition-pruned read cuts to
    // the probed cluster subtree AND the payload filter pushes into
    // that scan — both prunings stack, nothing is scored that either
    // would exclude.
    "x_ann_ivf_filtered" -> ((s, dir) => {
      val (cents, q) = fixtureQuerySetup(s, dir)
      val qc = rankCentroids(cents, q).head
      s.read.parquet(ivfIndexPath(s, dir))
        .filter(col("cluster_id") === qc && col("label") === 3)
        .select(col("vec_id"),
          round(Kernels.cosine(col("embedding"), typedlit(q.toSeq)), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
    }),

    // IVF ANN with nprobe=2: probe the two clusters whose centroids
    // are nearest the query — the standard recall/latency knob; the
    // pruned read touches 2 of K partition subtrees instead of 1.
    "x_ann_ivf_nprobe" -> ((s, dir) => {
      val (cents, q) = fixtureQuerySetup(s, dir)
      val probed = rankCentroids(cents, q).take(2)
      s.read.parquet(ivfIndexPath(s, dir))
        .filter(col("cluster_id").isin(probed: _*))
        .select(col("vec_id"),
          round(Kernels.cosine(col("embedding"), typedlit(q.toSeq)), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
    }),

    // IVF+PQ — the layout billion-vector engines actually run (Jégou
    // et al., TPAMI 2011): the partition-pruned IVF probe cuts the
    // candidate set to one cluster subtree, the PQ-reconstructed (ADC)
    // scan scores those 64×-compressed codes, and only the top-20
    // fetch full-precision vectors for the rerank. Composes the
    // persisted cluster-partitioned index with the PQ codebook —
    // every stage is an operator verified on its own; this verifies
    // their composition end to end.
    "x_ann_ivfpq" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cb = e.filter(col("vec_id") >= 1 && col("vec_id") <= 16)
        .orderBy(col("vec_id")).collect()
        .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toSeq).toSeq
      val (cents, q) = fixtureQuerySetup(s, dir)
      val qc = rankCentroids(cents, q).head
      val qv = typedlit(q.toSeq)
      val probe = s.read.parquet(ivfIndexPath(s, dir))
        .filter(col("cluster_id") === qc)
      val dq = Quantize.pqDecode(
        Quantize.pqCodes(col("embedding"), cb, 8, 8), cb, 8, 8)
      val cand = probe
        .select(col("vec_id"), col("embedding"),
          round(Kernels.cosine(dq, qv), 6).as("qscore"))
        .orderBy(col("qscore").desc, col("vec_id").asc).limit(20)
      cand.select(col("vec_id"), col("qscore"),
          round(Kernels.cosine(col("embedding"), qv), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc).limit(5)
    }),

    // ANN quality gate: measured recall@10 of the IVF probe against
    // exact brute-force top-10, per query, at nprobe=1 and nprobe=2.
    // An approximate operator without a recall number is unfalsifiable
    // (round-1 lesson: a 0-recall LSH dedup hash-matched its oracle);
    // this query makes the recall/latency knob an asserted, graded
    // output. Scale shape: 10 tiny query rows broadcast once, index
    // scanned once for both the exact and probed rankings.
    "x_ann_recall" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val cents = e.filter(col("vec_id") < 8).orderBy(col("vec_id")).collect().map { r =>
        (r.getLong(r.fieldIndex("vec_id")),
          typedlit(r.getSeq[Float](r.fieldIndex("embedding"))): Column)
      }.toSeq
      val idx = s.read.parquet(ivfIndexPath(s, dir))
      val qs = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        .withColumn("probes", ivfTopClusters(col("qv"), cents, 2))
      // ONE index pass: the exact rank and both probed-subset ranks
      // come from windows sharing the q_id exchange — a probed row's
      // rank among probed rows is the running count of probed rows in
      // global rank order (row_number over a filtered copy would
      // re-execute the scan per probe depth)
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("score").desc, col("vec_id").asc)
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val scored = idx.crossJoin(broadcast(qs))
        .select(col("q_id"), col("vec_id"),
          (element_at(col("probes"), 1) === col("cluster_id").cast("long")).as("p1"),
          array_contains(col("probes"), col("cluster_id").cast("long")).as("p2"),
          round(Kernels.cosine(col("embedding"), col("qv")), 6).as("score"))
        .withColumn("rnk", row_number().over(w))
        .withColumn("r1", sum(when(col("p1"), 1L).otherwise(0L)).over(wRun))
        .withColumn("r2", sum(when(col("p2"), 1L).otherwise(0L)).over(wRun))
      scored.groupBy(col("q_id")).agg(
          count(when(col("rnk") <= 10 && col("p1") && col("r1") <= 10, 1)).as("hits1"),
          count(when(col("rnk") <= 10 && col("p2") && col("r2") <= 10, 1)).as("hits2"))
        .select(col("q_id"),
          round(col("hits1") / 10.0, 6).as("recall_p1"),
          round(col("hits2") / 10.0, 6).as("recall_p2"))
        .orderBy(col("q_id"))
    }),

    // Multi-probe LSH (Lv et al., "Multi-Probe LSH", VLDB'07): probe
    // every bucket within Hamming distance 1 of the query's bucket —
    // 9 of 256 buckets instead of 1, the recall/latency knob on the
    // LSH side (IVF's nprobe analog). On a bucket-partitioned layout
    // this is 9 pruned reads; expressed here as the bit_count filter.
    "x_ann_lsh_multiprobe" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val planes = fixturePlanes(e)
      val buckets = e.select(col("vec_id"), col("embedding"),
        signBucket(col("embedding"), planes).as("bucket"))
      val q = buckets.filter(col("vec_id") === 0)
        .select(col("bucket").as("qb"), col("embedding").as("qv"))
      buckets.crossJoin(broadcast(q))
        .filter(bit_count(col("bucket").bitwiseXOR(col("qb"))) <= 1)
        .select(col("vec_id"),
          round(Kernels.cosine(col("embedding"), col("qv")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
    }),

    // LSH ANN: 8 sign-bit hyperplanes (fixture vectors 1..8 — an
    // index-build-time constant, collected once like the reference's
    // driver-side query embedding), probe only the query's bucket.
    "x_ann_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val planes = fixturePlanes(e)
      val buckets = e.select(col("vec_id"), col("embedding"),
        signBucket(col("embedding"), planes).as("bucket"))
      val q = buckets.filter(col("vec_id") === 0)
        .select(col("bucket").as("qb"), col("embedding").as("qv"))
      buckets.crossJoin(broadcast(q))
        .filter(col("bucket") === col("qb"))
        .select(col("vec_id"),
          round(Kernels.cosine(col("embedding"), col("qv")), 6).as("score"))
        .orderBy(col("score").desc, col("vec_id").asc)
        .limit(5)
    })
  )

  def oracles: Map[String, String] = Map(
    "x_rp_distortion" -> duckRpDistortion(),
    "x_cluster_terms" ->
      s"""WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |scored AS (SELECT e.vec_id, c.c_id, ${duckCosSim("e.embedding", "cv")} AS c_sim
         |  FROM embeddings e, c),
         |asg AS (SELECT vec_id AS doc_id, c_id AS cluster_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn FROM scored) z
         |  WHERE rn = 1),
         |tf AS (SELECT cluster_id, tok, count(*) AS c FROM (
         |    SELECT a.cluster_id, unnest(${graft.ops.TextAnalysis.duckToksPublic("d.text")}) AS tok
         |    FROM documents d JOIN asg a USING (doc_id)) z
         |  GROUP BY cluster_id, tok),
         |t AS (SELECT sum(c)::BIGINT AS tc FROM tf),
         |wt AS (SELECT cluster_id, tok, c,
         |    sum(c) OVER (PARTITION BY cluster_id) AS key_c,
         |    sum(c) OVER (PARTITION BY tok) AS tok_c
         |  FROM tf),
         |lf AS (SELECT cluster_id, tok, c,
         |    ROUND((c::DOUBLE / key_c::DOUBLE) / (tok_c::DOUBLE / tc::DOUBLE), 6) AS lift
         |  FROM wt, t WHERE c >= 3),
         |r AS (SELECT cluster_id, tok, c, lift,
         |    row_number() OVER (PARTITION BY cluster_id ORDER BY lift DESC, tok ASC) AS rnk
         |  FROM lf)
         |SELECT cluster_id, tok, c, lift, rnk FROM r WHERE rnk <= 3
         |ORDER BY cluster_id, rnk""".stripMargin,
    "x_semdedup" ->
      s"""WITH corpus AS (${Dedup.duckEmbCorpusWithDups(withLabel = false)}),
         |c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |scored AS (SELECT e.vec_id, e.embedding, c.c_id, ${duckCosSim("e.embedding", "cv")} AS c_sim
         |  FROM corpus e, c),
         |asg AS (SELECT vec_id, embedding, c_id AS cluster_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn FROM scored) z
         |  WHERE rn = 1),
         |d AS (SELECT DISTINCT b.cluster_id, b.vec_id AS j
         |  FROM asg a JOIN asg b
         |    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
         |  WHERE ROUND(${duckCosSim("a.embedding", "b.embedding")}, 6) >= 0.9),
         |nd AS (SELECT cluster_id, count(*)::BIGINT AS n_dropped FROM d GROUP BY cluster_id)
         |SELECT asg.cluster_id, count(*) AS n_points,
         |  coalesce(any_value(nd.n_dropped), 0)::BIGINT AS n_dropped
         |FROM asg LEFT JOIN nd ON asg.cluster_id = nd.cluster_id
         |GROUP BY asg.cluster_id ORDER BY asg.cluster_id""".stripMargin,

    "x_knn_join_lsh" ->
      s"""WITH corpus AS (SELECT vec_id, embedding FROM embeddings),
         |bb AS (${duckBandedBuckets(10, 5)}),
         |qb AS (SELECT vec_id AS q_id, band, bval FROM bb WHERE vec_id < 50),
         |cand AS (SELECT DISTINCT qb.q_id, bb.vec_id
         |  FROM qb JOIN bb USING (band, bval) WHERE bb.vec_id <> qb.q_id),
         |sc AS (SELECT c.q_id, c.vec_id,
         |    ROUND(${duckCosSim("e.embedding", "q.embedding")}, 6) AS score
         |  FROM cand c
         |  JOIN embeddings e ON e.vec_id = c.vec_id
         |  JOIN embeddings q ON q.vec_id = c.q_id),
         |r AS (SELECT q_id, vec_id, score,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rnk
         |  FROM sc)
         |SELECT q_id, vec_id, score, rnk FROM r WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,

    "x_knn_classify" ->
      s"""WITH qs AS (SELECT vec_id AS q_id, embedding AS qv, label AS true_label
         |  FROM embeddings WHERE vec_id < 20),
         |sc AS (SELECT q_id, true_label, e.vec_id, e.label,
         |    ROUND(${duckCosSim("e.embedding", "qv")}, 6) AS score
         |  FROM embeddings e, qs WHERE e.vec_id <> q_id),
         |r AS (SELECT q_id, true_label, vec_id, label,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rnk
         |  FROM sc),
         |v AS (SELECT q_id, true_label, label, count(*) AS votes
         |  FROM r WHERE rnk <= 5 GROUP BY q_id, true_label, label),
         |b AS (SELECT q_id, true_label,
         |    max(struct_pack(votes := votes, nl := -label)) AS best
         |  FROM v GROUP BY q_id, true_label)
         |SELECT q_id, true_label, (-best.nl)::BIGINT AS predicted,
         |  best.votes AS votes
         |FROM b ORDER BY q_id""".stripMargin,

    "x_embed_knn_docs" -> {
      import graft.index.Embedder
      // emb excludes zero-norm vectors — the Spark side's stated
      // un-embeddable-doc predicate (see the query's comment)
      s"""WITH emb0 AS (SELECT doc_id, ${Embedder.duckEmbedRaw(Embedder.duckTokenHashes("text"))} AS v FROM documents),
         |emb AS (SELECT * FROM emb0
         |  WHERE sqrt(list_sum(list_transform(v, x -> x * x))) > 0),
         |qs AS (SELECT doc_id AS q_id, v AS qv FROM emb WHERE doc_id < 5),
         |scored AS (SELECT q_id, e.doc_id, ROUND(${duckCosSim("e.v", "qv")}, 6) AS score FROM emb e, qs),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, doc_id ASC) AS rnk FROM scored)
         |SELECT q_id, doc_id, score, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin
    },
    "x_knn_join" ->
      s"""WITH qs AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |scored AS (SELECT q_id, e.vec_id, ROUND(${duckCosSim("e.embedding", "qv")}, 6) AS score
         |  FROM embeddings e, qs),
         |ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rnk
         |  FROM scored)
         |SELECT q_id, vec_id, score, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY q_id, rnk""".stripMargin,

    "x_cluster_sample" ->
      s"""WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |scored AS (SELECT e.vec_id, c.c_id, ${duckCosSim("e.embedding", "cv")} AS c_sim
         |  FROM embeddings e, c),
         |asg AS (SELECT vec_id, c_id AS cluster_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn FROM scored) z
         |  WHERE rn = 1),
         |rk AS (SELECT cluster_id, vec_id, row_number() OVER (
         |    PARTITION BY cluster_id
         |    ORDER BY ${Embedder.duckStringHash64("vec_id::VARCHAR")} ASC, vec_id ASC
         |  )::BIGINT AS rk FROM asg)
         |SELECT cluster_id, vec_id, rk FROM rk WHERE rk <= 20
         |ORDER BY cluster_id, rk""".stripMargin,

    "x_ann_ivf" ->
      s"""WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |scored AS (SELECT e.vec_id, e.embedding, c.c_id, ${duckCosSim("e.embedding", "cv")} AS c_sim
         |  FROM embeddings e, c),
         |asg AS (SELECT vec_id, embedding, c_id AS cluster_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn FROM scored) z
         |  WHERE rn = 1),
         |q AS (SELECT embedding AS qv, cluster_id AS qc FROM asg WHERE vec_id = 0)
         |SELECT vec_id, ROUND(${duckCosSim("embedding", "qv")}, 6) AS score
         |FROM asg, q WHERE cluster_id = qc
         |ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin,

    "x_ann_ivf_filtered" ->
      s"""WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |scored AS (SELECT e.vec_id, e.embedding, e.label, c.c_id, ${duckCosSim("e.embedding", "cv")} AS c_sim
         |  FROM embeddings e, c),
         |asg AS (SELECT vec_id, embedding, label, c_id AS cluster_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn FROM scored) z
         |  WHERE rn = 1),
         |q AS (SELECT embedding AS qv, cluster_id AS qc FROM asg WHERE vec_id = 0)
         |SELECT vec_id, ROUND(${duckCosSim("embedding", "qv")}, 6) AS score
         |FROM asg, q WHERE cluster_id = qc AND label = 3
         |ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin,

    "x_ann_ivf_nprobe" ->
      s"""WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |scored AS (SELECT e.vec_id, e.embedding, c.c_id, ${duckCosSim("e.embedding", "cv")} AS c_sim
         |  FROM embeddings e, c),
         |asg AS (SELECT vec_id, embedding, c_id AS cluster_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn FROM scored) z
         |  WHERE rn = 1),
         |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
         |probed AS (SELECT c_id AS cluster_id FROM c, qv
         |  ORDER BY ${duckCosSim("cv", "q")} DESC, c_id ASC LIMIT 2)
         |SELECT vec_id, ROUND(${duckCosSim("embedding", "q")}, 6) AS score
         |FROM asg JOIN probed USING (cluster_id), qv
         |ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin,

    "x_ann_ivfpq" ->
      s"""WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT e.vec_id, e.embedding, c.c_id, ${duckCosSim("e.embedding", "cv")} AS c_sim
         |  FROM embeddings e, c),
         |asg AS (SELECT vec_id, embedding, c_id AS cluster_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn FROM sc) z
         |  WHERE rn = 1),
         |q AS (SELECT embedding AS qv, cluster_id AS qc FROM asg WHERE vec_id = 0),
         |probe AS (SELECT a.vec_id, a.embedding FROM asg a, q WHERE a.cluster_id = q.qc),
         |cb AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id BETWEEN 1 AND 16),
         |d AS (SELECT p.vec_id, s.s, c.cid,
         |    list_reduce(list_transform(range(1, 9), i ->
         |      (p.embedding[s.s*8 + i]::DOUBLE - c.embedding[s.s*8 + i]::DOUBLE)
         |      * (p.embedding[s.s*8 + i]::DOUBLE - c.embedding[s.s*8 + i]::DOUBLE)),
         |      (a, b) -> a + b) AS dist
         |  FROM probe p, (SELECT unnest(range(0, 8)) AS s) s, cb c),
         |best AS (SELECT vec_id, s, cid FROM (
         |    SELECT vec_id, s, cid,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY dist ASC, cid ASC) AS rn
         |    FROM d) z WHERE rn = 1),
         |recon AS (SELECT b.vec_id,
         |    flatten(list(c.embedding[b.s*8 + 1 : b.s*8 + 8] ORDER BY b.s)) AS dq
         |  FROM best b JOIN cb c ON c.cid = b.cid GROUP BY b.vec_id),
         |cand AS (SELECT r.vec_id, p.embedding,
         |    ROUND(${duckCosSim("r.dq", "(SELECT qv FROM q)")}, 6) AS qscore
         |  FROM recon r JOIN probe p USING (vec_id)
         |  ORDER BY qscore DESC, vec_id ASC LIMIT 20)
         |SELECT vec_id, qscore,
         |  ROUND(${duckCosSim("embedding", "(SELECT qv FROM q)")}, 6) AS score
         |FROM cand ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin,

    "x_ann_recall" ->
      s"""WITH c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT e.vec_id, e.embedding, c.c_id, ${duckCosSim("e.embedding", "cv")} AS c_sim
         |  FROM embeddings e, c),
         |asg AS (SELECT vec_id, embedding, c_id AS cluster_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_sim DESC, c_id ASC) AS rn FROM sc) z
         |  WHERE rn = 1),
         |qs AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |qprob AS (SELECT q_id, c_id, row_number() OVER (PARTITION BY q_id
         |    ORDER BY ${duckCosSim("cv", "qv")} DESC, c_id ASC) AS prnk FROM qs, c),
         |pairs AS (SELECT q_id, a.vec_id, a.cluster_id,
         |    ROUND(${duckCosSim("a.embedding", "qv")}, 6) AS score FROM asg a, qs),
         |exact AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY score DESC, vec_id ASC) AS rnk FROM pairs) z
         |  WHERE rnk <= 10),
         |h1 AS (SELECT q_id, vec_id FROM (SELECT p.q_id, p.vec_id,
         |    row_number() OVER (PARTITION BY p.q_id ORDER BY p.score DESC, p.vec_id ASC) AS rnk
         |  FROM pairs p JOIN qprob qp ON p.q_id = qp.q_id AND p.cluster_id = qp.c_id
         |  WHERE qp.prnk <= 1) z WHERE rnk <= 10),
         |h2 AS (SELECT q_id, vec_id FROM (SELECT p.q_id, p.vec_id,
         |    row_number() OVER (PARTITION BY p.q_id ORDER BY p.score DESC, p.vec_id ASC) AS rnk
         |  FROM pairs p JOIN qprob qp ON p.q_id = qp.q_id AND p.cluster_id = qp.c_id
         |  WHERE qp.prnk <= 2) z WHERE rnk <= 10),
         |c1 AS (SELECT q_id, count(*)::BIGINT AS hits1 FROM h1 JOIN exact USING (q_id, vec_id) GROUP BY q_id),
         |c2 AS (SELECT q_id, count(*)::BIGINT AS hits2 FROM h2 JOIN exact USING (q_id, vec_id) GROUP BY q_id)
         |SELECT q_id, ROUND(coalesce(hits1, 0) / 10.0, 6) AS recall_p1,
         |  ROUND(coalesce(hits2, 0) / 10.0, 6) AS recall_p2
         |FROM qs LEFT JOIN c1 USING (q_id) LEFT JOIN c2 USING (q_id)
         |ORDER BY q_id""".stripMargin,

    "x_ann_lsh_multiprobe" ->
      s"""WITH planes AS (SELECT vec_id - 1 AS j, embedding AS pv FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |b AS (SELECT e.vec_id, sum(CASE WHEN list_inner_product(e.embedding::DOUBLE[], pv::DOUBLE[]) > 0
         |    THEN (2.0 ** j)::BIGINT ELSE 0 END)::BIGINT AS bucket
         |  FROM embeddings e, planes GROUP BY e.vec_id),
         |eb AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN b USING (vec_id)),
         |q AS (SELECT bucket AS qb, embedding AS qv FROM eb WHERE vec_id = 0)
         |SELECT vec_id, ROUND(${duckCosSim("embedding", "qv")}, 6) AS score
         |FROM eb, q WHERE bit_count(xor(bucket, qb)) <= 1
         |ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin,

    "x_ann_lsh" ->
      s"""WITH planes AS (SELECT vec_id - 1 AS j, embedding AS pv FROM embeddings WHERE vec_id BETWEEN 1 AND 8),
         |b AS (SELECT e.vec_id, sum(CASE WHEN list_inner_product(e.embedding::DOUBLE[], pv::DOUBLE[]) > 0
         |    THEN (2.0 ** j)::BIGINT ELSE 0 END)::BIGINT AS bucket
         |  FROM embeddings e, planes GROUP BY e.vec_id),
         |eb AS (SELECT e.vec_id, e.embedding, b.bucket FROM embeddings e JOIN b USING (vec_id)),
         |q AS (SELECT bucket AS qb, embedding AS qv FROM eb WHERE vec_id = 0)
         |SELECT vec_id, ROUND(${duckCosSim("embedding", "qv")}, 6) AS score
         |FROM eb, q WHERE bucket = qb
         |ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin
  )
}
