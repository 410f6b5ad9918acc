package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, TextAnalysis}
import graft.Tables.t

class OpsSpec extends SparkSpec {

  private def docs = t(spark, sf, "documents")
  private def emb = t(spark, sf, "embeddings")

  test("exact dedup: corpus with dups has groups of 1 except perturbed singletons") {
    // perturbed copies differ in text, so every group is size 1 here;
    // a true duplicate collapses:
    import spark.implicits._
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val g = Dedup.exact(d).orderBy("keeper_id").collect()
    assert(g.map(_.getLong(2)).toSeq === Seq(2L, 1L))
    assert(g.head.getLong(1) === 1L) // keeper is min id
  }

  test("minhash LSH finds the planted near-duplicates") {
    val pairs = Dedup.minhashPairs(Dedup.corpusWithDups(docs)).collect()
    val planted = pairs.filter(r => r.getLong(1) === r.getLong(0) + 1000000)
    assert(planted.length > 0)
    assert(planted.forall(_.getDouble(2) >= 0.5))
  }

  test("minhashPairsAuto: recall-honest banding finds the planted dups on wide hashes") {
    // solver shape: deepest r whose band count stays <= 64
    assert(Dedup.minhashAutoParams(0.5) === (47, 4))
    assert(Dedup.minhashAutoParams(0.9) === (6, 8))
    // below the feasible floor the fallback must CAP at 64 bands (the
    // r13 advisor caught it returning 299 bands / k=598 uncapped —
    // the signature blow-up the solver exists to prevent)
    assert(Dedup.minhashAutoParams(0.1) === (64, 2))
    val corpus = Dedup.corpusWithDups(docs)
    val auto = Dedup.minhashPairsAuto(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every emitted pair passes the exact (collision-free) Jaccard gate
    assert(auto.nonEmpty && auto.forall(_._3 >= 0.5))
    // recall against the planted truth: compute each planted pair's
    // TRUE wide-hash Jaccard; pairs comfortably above threshold
    // (>= 0.6, where the 47x4 S-curve passes with p ~ 1 - 2e-3 per
    // band set and the fixed seeds make the outcome deterministic)
    // must all be found
    val wide = corpus.withColumn("hs", Dedup.shingleHashes64(col("text")))
    val truth = wide.as("a").join(wide.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1000000L)
      .select(col("a.doc_id"),
        (size(array_intersect(col("a.hs"), col("b.hs"))).cast("double") /
          size(array_union(col("a.hs"), col("b.hs")))).as("j"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val comfortable = truth.filter(_._2 >= 0.6).map(_._1).toSet
    assert(comfortable.nonEmpty)
    val found = auto.map(_._1).toSet
    val missed = comfortable -- found
    assert(missed.isEmpty,
      s"planted pairs with true Jaccard >= 0.6 missed by auto banding: $missed")
  }

  test("ngram wideHashes: planted dups found with honest dfs, same threshold semantics") {
    val corpus = Dedup.corpusWithDups(docs)
    val widePairs = Dedup.ngramJaccardPairs(corpus, wideHashes = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(widePairs.nonEmpty && widePairs.forall(_._3 >= 0.5))
    // the planted +1e6 dups live in the same length block and share
    // nearly all shingles — the wide-hash prefix filter must keep them
    val plantedFound = widePairs.count(p => p._2 == p._1 + 1000000L)
    val plantedPinned = Dedup.ngramJaccardPairs(corpus).collect()
      .count(r => r.getLong(1) == r.getLong(0) + 1000000L)
    assert(plantedFound === plantedPinned,
      s"wide hashes found $plantedFound planted pairs vs pinned $plantedPinned")
  }

  test("simhash: hamming 0 for identical text; chunk join finds planted dups") {
    import spark.implicits._
    val d = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val p = Dedup.simhashPairs(d).collect()
    assert(p.length === 1 && p.head.getInt(2) === 0)
  }

  test("embedding near-dup: planted perturbed vectors found at sim>=0.9") {
    val pairs = Dedup.embeddingPairs(emb).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(1) === r.getLong(0) + 1000000))
  }

  test("embeddingPairs refuses a corpus-sized input unless forceExact") {
    // the one measured scale-killer (exp 1.80) must be impossible to
    // point at a corpus by accident: above the documented bound the
    // exact all-pairs path refuses and names the scale-safe route
    val big = spark.range(Dedup.ExactPairsMaxRows + 1)
      .select(col("id").as("vec_id"),
        array_repeat(lit(0.1f), 4).as("embedding"), lit("a").as("label"))
    val e = intercept[IllegalArgumentException] { Dedup.embeddingPairs(big) }
    assert(e.getMessage.contains("embeddingPairsLshAuto"),
      s"refusal must route to the scale path: ${e.getMessage}")
    assert(e.getMessage.contains("forceExact"))
    // forceExact is the deliberate recall-audit escape hatch — same
    // output as the in-bound default path, no refusal count() paid
    val a = Dedup.embeddingPairs(emb).collect().map(_.toSeq).toSet
    val b = Dedup.embeddingPairs(emb, forceExact = true).collect().map(_.toSeq).toSet
    assert(a === b && a.nonEmpty,
      "forceExact must run the identical exact plan")
  }

  test("banded embedding LSH recovers >=80% of the planted cosine>=0.9 pairs") {
    // ground truth: brute-force cosine of each planted (v, v') pair
    val truth = emb.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .flatMap { r =>
        val v = r.getSeq[Float](1).map(_.toDouble).toArray
        val d = v.clone(); d(d.length - 1) = 0.5
        val dot = v.zip(d).map { case (x, y) => x * y }.sum
        val sim = dot / (math.sqrt(v.map(x => x * x).sum) * math.sqrt(d.map(x => x * x).sum))
        if (sim >= 0.9) Some(r.getLong(0)) else None
      }.toSet
    assert(truth.size >= 5, "fixture should plant several cosine>=0.9 pairs")
    val found = Dedup.embeddingPairsLsh(emb).collect()
      .filter(r => r.getLong(1) === r.getLong(0) + 1000000)
      .map(_.getLong(0)).toSet
    val recovered = (truth & found).size
    assert(recovered * 10 >= truth.size * 8,
      s"banded LSH recall $recovered/${truth.size} below 80%")
  }

  /** The two paths of `Dedup.clusters`: the session's broadcast bound as
    * it is (the pair lists below are small enough to label on the
    * driver), and -1, which forces label propagation and its star
    * fallback. */
  private val clusterPaths = Seq("" -> None, " [label propagation]" -> Some("-1"))

  private def withBroadcastBound[T](bound: Option[String])(body: => T): T =
    bound.fold(body) { b =>
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, b)
      try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }

  /** The JVM-shared pinned checkpoint dir (see TestSpark.ckptDir) as the
    * session's reliable-checkpoint switch for `body`. */
  private def withCheckpointDir[T](body: => T): T = {
    spark.conf.set("spark.graft.checkpointDir", TestSpark.ckptDir)
    try body finally spark.conf.unset("spark.graft.checkpointDir")
  }

  /** `body`'s result and the Spark jobs it started. */
  private def jobCount[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(sc, 30000)
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(sc, 30000)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  private def labels(cc: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    cc.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)

  for ((path, bound) <- clusterPaths) {
    test(s"clusters: min-label propagation closes transitive chains$path") {
      import spark.implicits._
      // chain 1-2-3-4 (diameter 3, forces >1 propagation round) plus an
      // isolated pair 10-11; 7 appears in no pair → absent from output
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
        .toDF("id_a", "id_b")
      val cc = withBroadcastBound(bound)(Dedup.clusters(pairs)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
    }

    test(s"clusters: over-diameter graph falls back to star contraction, never splits$path") {
      import spark.implicits._
      // a 9-node path needs 8 propagation rounds; cap at 3 → label
      // propagation must switch to star contraction and still resolve
      // one component (the driver path has no round cap at all)
      val chain = (1L to 9L).sliding(2).map(s => (s.head, s.last)).toSeq
        .toDF("id_a", "id_b")
      val cc = withBroadcastBound(bound)(Dedup.clusters(chain, maxIters = 3)).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      assert(cc.length === 9 && cc.forall(_._2 === 1L))
    }

    test(s"star contraction resolves a 50-long chain min-label would exhaust$path") {
      import spark.implicits._
      // non-consecutive ids so the component min isn't an artifact of
      // dense numbering; diameter 50 > the 25-round propagation cap
      val ids = (0 to 50).map(i => i * 7L + 3L)
      val chain = ids.sliding(2).map(s => (s.last, s.head)).toSeq
        .toDF("id_a", "id_b")
      val star = labels(Dedup.clustersStar(chain))
      assert(star.length === 51 && star.forall(_._2 === 3L),
        "every chain node must label with the component minimum")
      // the clusters entry point agrees (through its internal fallback
      // under label propagation)
      assert(withBroadcastBound(bound)(labels(Dedup.clusters(chain))) === star)
      // and on a shallow branchy graph the two algorithms agree too
      val bushy = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (4L, 1L))
        .toDF("id_a", "id_b")
      assert(withBroadcastBound(bound)(labels(Dedup.clusters(bushy))) ===
        labels(Dedup.clustersStar(bushy)))
    }

    test(s"cluster loop internals (r18): duplicate/reversed input pairs and late-round convergence$path") {
      import spark.implicits._
      // clustersStar dropped its inner per-round distinct (the large-star
      // duplicates cost nothing downstream) — duplicate AND reversed
      // input pairs must still resolve exactly; clusters replaced its
      // per-round probe join with the label-sum invariant — a chain that
      // changes labels in its LAST admissible round (diameter = rounds)
      // must converge to the same labeling, not stop early
      val noisy = Seq((2L, 1L), (1L, 2L), (2L, 3L), (3L, 2L), (2L, 3L),
        (3L, 4L), (4L, 5L), (20L, 21L), (21L, 20L))
        .toDF("id_a", "id_b")
      val viaStar = labels(Dedup.clustersStar(noisy))
      val viaClusters = withBroadcastBound(bound)(labels(Dedup.clusters(noisy)))
      val expected = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
        20L -> 20L, 21L -> 20L)
      assert(viaStar === expected)
      assert(viaClusters === expected)
    }

    test(s"clusters: empty pair set converges immediately to an empty result (r19)$path") {
      import spark.implicits._
      // the label-sum probe over an empty label table is SQL NULL — it
      // must coalesce to 0 and converge round one, not NPE (r18 advisor);
      // both algorithms return the empty (id, cluster_id) frame
      val none = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
      assert(withBroadcastBound(bound)(Dedup.clusters(none)).collect().isEmpty)
      assert(Dedup.clustersStar(none).collect().isEmpty)
    }

    test(s"clusters: a NULL endpoint is refused by name$path") {
      import spark.implicits._
      // a null id has no component: label propagation would label it
      // with its neighbours' minimum without joining them, star
      // contraction would leave it apart — both paths refuse instead
      val pairs = Seq((Option(1L), Option(2L)), (None, Option(5L)))
        .toDF("id_a", "id_b")
      val e = intercept[IllegalArgumentException](
        withBroadcastBound(bound)(Dedup.clusters(pairs)))
      assert(e.getMessage.contains("clusters()") && e.getMessage.contains("NULL"))
    }
  }

  test("clusters over a cached broadcast-sized pair list: 1 Spark job, no checkpoint; at bound -1 the loop gives the same rows") {
    import spark.implicits._
    val pairs = Seq((4L, 8L), (8L, 15L), (16L, 23L), (42L, 42L), (23L, 4L), (100L, 101L))
      .toDF("id_a", "id_b").cache()
    pairs.count()
    try withCheckpointDir {
      val before = TestSpark.ckptFiles(TestSpark.ckptDir)
      val (onDriver, jobs) = jobCount(Dedup.clusters(pairs))
      assert(jobs === 1, "the driver path collects the pairs in one job")
      assert(TestSpark.ckptFiles(TestSpark.ckptDir) === before,
        "the driver path must write no checkpoint")
      assert(onDriver.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.execution.LogicalRDD => r
      }.isEmpty, "the driver path returns a local relation, not a checkpoint")
      val looped = withBroadcastBound(Some("-1"))(Dedup.clusters(pairs))
      assert(TestSpark.ckptFiles(TestSpark.ckptDir) > before,
        "at bound -1 the propagation loop runs (and checkpoints)")
      assert(onDriver.schema === looped.schema)
      assert(labels(onDriver) === labels(looped))
      assert(labels(onDriver) === Seq(4L -> 4L, 8L -> 4L, 15L -> 4L, 16L -> 4L,
        23L -> 4L, 42L -> 42L, 100L -> 100L, 101L -> 100L))
    } finally pairs.unpersist()
  }

  test("clusters under the reliable-checkpoint switch: the observed label sum counts each label once") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    // the loop's convergence test compares the label sums observed on
    // each round's checkpoint action; a checkpoint that ran its plan
    // twice would observe every sum doubled
    val sums = new java.util.concurrent.ConcurrentLinkedQueue[java.math.BigDecimal]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        qe.observedMetrics.get("graft_label_sum").foreach(r => sums.add(r.getDecimal(0)))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val pairs = Seq((5L, 9L), (9L, 12L), (12L, 30L), (20L, 21L), (7L, 7L))
      .toDF("id_a", "id_b")
    spark.listenerManager.register(listener)
    try withCheckpointDir {
      val cc = withBroadcastBound(Some("-1"))(labels(Dedup.clusters(pairs)))
      org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(spark.sparkContext, 30000)
      assert(cc === Seq(5L -> 5L, 7L -> 7L, 9L -> 5L, 12L -> 5L, 20L -> 20L,
        21L -> 20L, 30L -> 5L))
      assert(!sums.isEmpty, "each round's checkpoint reports its label sum")
      assert(sums.asScala.last.longValueExact === cc.map(_._2).sum,
        s"observed label sums ${sums.asScala.mkString(", ")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("clusters differential: driver union-find, label propagation and star contraction agree on seeded random graphs") {
    import spark.implicits._
    // components by breadth-first search, the reference none of the
    // three algorithms shares code with
    def reference(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
      val adj = (pairs ++ pairs.map(_.swap)).groupMap(_._1)(_._2)
      val label = scala.collection.mutable.Map.empty[Long, Long]
      adj.keys.toSeq.sorted.foreach { root =>
        if (!label.contains(root)) {
          val queue = scala.collection.mutable.Queue(root)
          label(root) = root
          while (queue.nonEmpty)
            adj(queue.dequeue()).foreach { v =>
              if (!label.contains(v)) { label(v) = root; queue.enqueue(v) }
            }
        }
      }
      label.toSeq.sortBy(_._1)
    }
    // chains of 9, 27 and 33 nodes: the last two are deeper than the
    // 25-round propagation cap, so label propagation falls back to stars
    for ((seed, chainLen) <- Seq(1 -> 9, 2 -> 27, 3 -> 33)) {
      val rnd = new scala.util.Random(seed)
      val ids = rnd.shuffle((1 to 200).map(i => i * 13L + rnd.nextInt(13))).iterator
      def take(k: Int): Seq[Long] = Seq.fill(k)(ids.next())
      def either(a: Long, b: Long): (Long, Long) = if (rnd.nextBoolean()) (a, b) else (b, a)
      val cliques = Seq.fill(3)(take(2 + rnd.nextInt(4)))
        .flatMap(c => c.combinations(2).map(p => either(p(0), p(1))))
      val stars = Seq.fill(3)(ids.next() -> take(2 + rnd.nextInt(5)))
        .flatMap { case (hub, leaves) => leaves.map(either(hub, _)) }
      val chain = take(chainLen).sliding(2).map(p => either(p(0), p(1))).toSeq
      val selfPairs = take(2).map(v => (v, v))
      val base = cliques ++ stars ++ chain ++ selfPairs
      val pairs = rnd.shuffle(base ++ rnd.shuffle(base).take(4))
      val df = pairs.toDF("id_a", "id_b")
      val expected = reference(pairs)
      assert(labels(Dedup.clusters(df)) === expected, s"driver path, seed $seed")
      assert(withBroadcastBound(Some("-1"))(labels(Dedup.clusters(df))) === expected,
        s"label propagation, seed $seed")
      assert(labels(Dedup.clustersStar(df)) === expected, s"star contraction, seed $seed")
    }
  }

  test("substring dedup: a shared 60-token span pairs unrelated docs; nothing else pairs") {
    import spark.implicits._
    val span = graft.ops.Dedup.SharedSpan
    // three docs: two unrelated texts carrying the same 60-token span,
    // one without it; the span is the ONLY verbatim overlap
    val corpus = Seq(
      (1L, ("alpha " * 30).trim + " " + span),
      (2L, ("omega " * 40).trim + " " + span),
      (3L, ("gamma " * 50).trim)).toDF("doc_id", "text")
    val pairs = Dedup.substringPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // span of 60 tokens → 60-20+1 = 41 distinct shared windows
    assert(pairs.toSeq === Seq((1L, 2L, 41L)),
      "exactly the planted pair, with one shared window per span offset")
    // fixture census: planted % 97 docs all pair with each other
    val planted = docs.filter(col("doc_id") % 97 === 0).count()
    val found = Dedup.substringPairs(Dedup.corpusWithSpan(docs))
      .filter(col("id_a") % 97 === 0 && col("id_b") % 97 === 0).count()
    assert(found === planted * (planted - 1) / 2,
      "every planted pair must be reported — non-vacuous census")
  }

  test("substring dedup guarantee: random corpora — every >=24-token shared span pairs, nothing else") {
    import spark.implicits._
    // 15 random doc pairs; each pair shares ONE span of 24..53 tokens
    // (24 = window 20 + minShared 5 - 1, the detection threshold);
    // fillers draw from per-doc vocabularies, so windows that cross a
    // span boundary contain a doc-private token and cannot collide
    val rnd = new scala.util.Random(7)
    val corpus = (0 until 15).flatMap { c =>
      val span = Seq.tabulate(24 + rnd.nextInt(30))(j => s"s${c}v$j")
      def filler(tag: String) =
        Seq.tabulate(rnd.nextInt(40))(j => s"$tag${c}f${j}x${rnd.nextInt(5)}")
      Seq(
        (2L * c, (filler("a") ++ span ++ filler("b")).mkString(" ")),
        (2L * c + 1, (filler("c") ++ span ++ filler("d")).mkString(" ")))
    }
    val pairs = Dedup.substringPairs(corpus.toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = (0 until 15).map(c => (2L * c, 2L * c + 1)).toSet
    assert((expected -- pairs).isEmpty, s"missed planted spans: ${expected -- pairs}")
    assert((pairs -- expected).isEmpty, s"spurious pairs: ${pairs -- expected}")
  }

  test("clustersWithKeeper: longest text wins, members counted per component") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "short"), (2L, "the longest text of all"), (3L, "medium len"),
      (10L, "aa"), (11L, "bb")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = Dedup.clustersWithKeeper(corpus, pairs)
      .orderBy("cluster_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out === Array(
      (1L, 1L, 2L, 3L), (1L, 2L, 2L, 3L), (1L, 3L, 2L, 3L),
      (10L, 10L, 10L, 2L), (10L, 11L, 10L, 2L)))
  }

  test("minhash hot-bucket cap drops quadratic buckets, keeps normal pairs") {
    import spark.implicits._
    // 30 identical template docs: every band bucket holds all 30 ->
    // 435 candidate pairs from one cluster — the quadratic blowup the
    // cap exists for. Plus one ordinary near-dup pair.
    val template = (1 to 30).map(i =>
      (100L + i, "spam spam wonderful spam template page number unchanged forever again"))
    val pairDocs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"))
    val corpus = (template ++ pairDocs).toDF("doc_id", "text")
    val capped = Dedup.minhashPairs(corpus, maxBucket = 10)
    assert(capped.filter(col("id_a") >= 100L).count() === 0L,
      "the 30-doc hot cluster must be dropped by the cap")
    assert(capped.filter(col("id_a") === 1L && col("id_b") === 2L).count() === 1L,
      "ordinary near-dup pairs survive the cap")
    // the default cap is far above fixture bucket sizes: same pairs
    val full = Dedup.minhashPairs(corpus)
    assert(full.filter(col("id_a") >= 100L).count() === 435L,
      "without the cap biting, the template cluster pairs all verify")
  }

  test("keeperizeByQuality: best-quality member wins its cluster, not the longest") {
    import spark.implicits._
    // doc 2 is LONGEST but low quality (no stopwords, rare long tokens);
    // doc 3 is clean prose — the quality keeper must pick 3 where the
    // length keeper picks 2
    val corpus = Seq(
      (1L, "the cat sat"),
      (2L, "zzzzzzzzzzzz qqqqqqqqqqqq xxxxxxxxxxxx wwwwwwwwwwww vvvvvvvvvvvv"),
      (3L, "the quick brown fox jumps over the lazy dog and runs off"),
      (10L, "aa"), (11L, "the plain text of a fine doc")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.clusters(pairs)
    val byQuality = Dedup.keeperizeByQuality(corpus, cc)
      .orderBy("cluster_id", "doc_id").collect()
    assert(byQuality.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(4))).toSeq
      === Seq((1L, 1L, 3L, 3L), (1L, 2L, 3L, 3L), (1L, 3L, 3L, 3L),
        (10L, 10L, 11L, 2L), (10L, 11L, 11L, 2L)))
    val byLength = Dedup.clustersWithKeeper(corpus, pairs)
      .filter(col("cluster_id") === 1L).select("keeper_id").head.getLong(0)
    assert(byLength === 2L, "length keeper picks the boilerplate wrapper")
    // keeper's quality is the cluster max (tiebreak aside)
    byQuality.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val keeperQ = rows.find(r => r.getLong(1) === r.getLong(2)).get.getDouble(3)
      assert(rows.forall(r => r.isNullAt(3) || r.getDouble(3) <= keeperQ))
    }
  }

  test("countApprox: deterministic sampled estimate with exact scale-up") {
    val e = t(spark, sf, "embeddings")
    val est = graft.search.QueryApis.countApprox(e, "vec_id", col("label") === 3)
      .head.getLong(0)
    val est2 = graft.search.QueryApis.countApprox(e, "vec_id", col("label") === 3)
      .head.getLong(0)
    assert(est === est2, "pure-function draw: same estimate every run")
    assert(est % 2 === 0, "scale-up by 1000/permille is exact integer math")
    val exact = e.filter(col("label") === 3).count()
    assert(math.abs(est - exact) <= math.max(8.0, 4.0 * math.sqrt(exact.toDouble)),
      s"estimate $est vs exact $exact past 4 sigma")
  }

  test("knn join: k rows per query, self in first place") {
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val res = Similarity.knnJoin(emb, qs, 3)
    val byQ = res.groupBy("q_id").count().collect()
    assert(byQ.forall(_.getLong(1) === 3L))
    val firsts = res.filter(col("rnk") === 1).collect()
    assert(firsts.forall(r => r.getLong(0) === r.getLong(1)))
  }

  test("ivf assign: every vector gets exactly one cluster from the centroid set") {
    val cents = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("cv"))
    val asg = Similarity.ivfAssign(emb, cents)
    assert(asg.count() === emb.count())
    val cl = asg.select("cluster_id").distinct().collect().map(_.getLong(0)).toSet
    assert(cl.subsetOf((0L until 8L).toSet))
    // centroid rows are their own nearest centroid
    val self = asg.filter(col("vec_id") < 8).collect()
    assert(self.forall(r =>
      r.getLong(r.fieldIndex("vec_id")) === r.getLong(r.fieldIndex("cluster_id"))))
  }

  test("lang id: every doc classified, prediction from the fixture lang set") {
    val preds = TextAnalysis.langId(docs, TextAnalysis.langProfiles(docs))
    assert(preds.count() === docs.count())
    val langs = preds.select("pred_lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(langs.subsetOf(Set("de", "en", "es", "fr", "zh")))
  }

  test("token counts: sub-token count >= whitespace count") {
    val bad = TextAnalysis.tokenCounts(docs)
      .filter(col("n_sub_tokens") < col("n_ws_tokens")).count()
    assert(bad === 0L)
  }

  test("quality score bounded in [0,1]") {
    val bad = TextAnalysis.qualityScore(docs)
      .filter(col("quality") < 0.0 || col("quality") > 1.0).count()
    assert(bad === 0L)
  }

  test("bigram LM: nonpositive scores, n_bigrams = tokens-1, fluent beats word-salad") {
    import spark.implicits._
    val scored = TextAnalysis.bigramLogprob(docs).cache()
    assert(scored.filter(col("avg_logp2") > 1e-12).count() === 0L,
      "conditional probabilities are <= 1, so logprobs are <= 0")
    // every doc with >= 2 tokens contributes exactly tokens-1 bigrams
    val counts = TextAnalysis.tokenCounts(docs)
      .select(col("doc_id"), col("n_ws_tokens"))
    val bad = scored.join(counts, "doc_id")
      .filter(col("n_bigrams") =!= col("n_ws_tokens") - 1).count()
    assert(bad === 0L)
    scored.unpersist()
    // consistent transitions score higher than the same word multiset
    // with scattered transitions — the signal unigram scoring lacks
    val tiny = Seq((1L, "x y x y x y"), (2L, "x x y y x y")).toDF("doc_id", "text")
    val m = TextAnalysis.bigramLogprob(tiny).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(m(1L) > m(2L),
      s"repeated 'x y' (${m(1L)}) must beat the scattered form (${m(2L)})")
  }

  test("clustersStar under the reliable-checkpoint switch: identical components, files written") {
    // the r15 Ckpt generalization: the same spark.graft.checkpointDir
    // knob that makes semDedup durable covers every iterative loop —
    // here the star contraction, whose per-round localCheckpoint had
    // the identical executor-loss fragility
    // the JVM-shared PINNED dir (see TestSpark.ckptDir) — assert a
    // file-count INCREASE, since earlier durable tests share the dir
    val dir = TestSpark.ckptDir
    val pairs = Dedup.minhashPairs(Dedup.corpusWithDups(docs))
      .select(col("id_a"), col("id_b"))
    def comps(): Set[(Long, Long)] = Dedup.clustersStar(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = comps()
    val before = TestSpark.ckptFiles(dir)
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      val durable = comps()
      assert(durable === base,
        "reliable-checkpoint contraction must yield identical components")
      assert(TestSpark.ckptFiles(dir) > before,
        "the reliable path must have written checkpoint files")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("Ckpt under the reliable-checkpoint switch computes each row once, eager or lazy") {
    import spark.implicits._
    // Spark writes a reliable checkpoint's files in a job after the one
    // that computed the rows; a lazy checkpoint that does not store them
    // computes every row twice, and an observation on it counts twice
    val computed = spark.sparkContext.longAccumulator("graft_ckpt_rows")
    def frame = spark.range(0, 1000, 1, 4).as[Long].map { x => computed.add(1); x }
      .toDF("x").observe("graft_ckpt_sum", sum(col("x")).as("s"))
    withCheckpointDir {
      val before = TestSpark.ckptFiles(TestSpark.ckptDir)
      for (eager <- Seq(true, false)) {
        computed.reset()
        val f = frame
        val ck = graft.ops.Ckpt(f, eager)
        assert(ck.count() === 1000L && ck.agg(sum(col("x"))).head.getLong(0) === 499500L)
        assert(computed.value === 1000L, s"rows computed (eager = $eager)")
        assert(f.queryExecution.observedMetrics("graft_ckpt_sum").getLong(0) === 499500L,
          s"observed sum (eager = $eager)")
      }
      assert(TestSpark.ckptFiles(TestSpark.ckptDir) > before,
        "both calls must have written checkpoint files")
    }
  }

  test("Ckpt pins the first checkpoint dir per context; a conflicting second dir is kept out") {
    // the r15 advisor medium: spark.graft.checkpointDir reads from
    // SESSION conf but setCheckpointDir is CONTEXT-global — two runs
    // with different dirs would race, and 'caller owns cleanup' would
    // then delete files a live job still reads. Contract: the FIRST
    // dir applied on a context is pinned; a conflicting value warns
    // and checkpoints still land under the PINNED dir (never the new
    // one), so each run's cleanup contract stays self-contained.
    import spark.implicits._
    val pinned = TestSpark.ckptDir
    spark.conf.set("spark.graft.checkpointDir", pinned)
    try {
      val b0 = TestSpark.ckptFiles(pinned)
      graft.ops.Ckpt(Seq(1L).toDF("x"))
      assert(TestSpark.ckptFiles(pinned) > b0, "pin-or-apply must checkpoint under the dir")
      val other = java.nio.file.Files.createTempDirectory("graft-ckpt-conflict").toString
      spark.conf.set("spark.graft.checkpointDir", other)
      val b1 = TestSpark.ckptFiles(pinned)
      val out = graft.ops.Ckpt(Seq(2L).toDF("x"))
      assert(out.collect().map(_.getLong(0)).toSeq === Seq(2L),
        "the conflicting call still checkpoints correctly")
      assert(TestSpark.ckptFiles(pinned) > b1,
        "a conflicting dir must be ignored: files land under the PINNED dir")
      assert(TestSpark.ckptFiles(other) === 0L,
        "the conflicting dir must receive no checkpoint files")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(other))
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  test("a malformed -Dgraft.materializeRowsMin fails with an error naming the property") {
    val key = "graft.materializeRowsMin"
    val prev = sys.props.get(key)
    sys.props(key) = "128k"
    try {
      val e = intercept[IllegalArgumentException](graft.ops.Sizing.MaterializeRowsMin)
      assert(e.getMessage.contains(key) && e.getMessage.contains("128k"), e.getMessage)
      sys.props(key) = "4096"
      assert(graft.ops.Sizing.MaterializeRowsMin === 4096L)
    } finally prev.fold(sys.props.remove(key))(v => sys.props.put(key, v))
  }

  test("gramWiden: zero jobs at operator-construction on a derived input; memoized bare-table count") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def settled(): Int = {
        // the listener bus is async; calibrate with a known job and
        // wait until its event lands, so a later zero is meaningful
        var last = -1
        var cur = jobs.get()
        while (cur != last) { last = cur; Thread.sleep(200); cur = jobs.get() }
        cur
      }
      docs.count() // calibration job: prove events reach the listener
      assert(settled() > 0, "listener calibration: the count must be seen")
      // derived input: construction must run NO job (r14 what's-wrong
      // #2 — the pre-change gramWiden ran an eager docs.count() that
      // scanned the full upstream of a filtered frame)
      val derived = docs.filter(length(col("text")) > 0)
      val before = settled()
      val frame = TextAnalysis.bigramLogprob(derived)
      assert(settled() === before,
        "constructing bigramLogprob on a derived frame must be job-free")
      assert(frame.count() > 0L) // the deferred work runs at the action
      // bare-table input: at most one footer count, memoized — the
      // second construction off the same loaded table runs zero jobs
      // (one `docs` read: re-calling read.parquet pays its own
      // schema-inference job, which is not gramWiden's)
      val base = docs
      TextAnalysis.bigramLogprob(base)
      val afterFirst = settled()
      TextAnalysis.bigramLogprob(base)
      assert(settled() === afterFirst,
        "second bare-table construction must reuse the memoized count")
      // fixture-scale gram widths are the identity: exactly ONE
      // repartition — the r18 pre-tokenize doc spread (Spread.byKey,
      // session width) — and none injected by gramWiden itself
      val plan = TextAnalysis.bigramLogprob(base)
        .queryExecution.optimizedPlan.toString
      assert("RepartitionByExpression".r.findAllIn(plan).length == 1,
        "fixture-scale plans carry only the doc spread (identity widen): " +
          plan.take(2000))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fileFingerprint: an in-place rewrite reusing identical file names misses the memo") {
    // the r15 advisor finding: a path-only memo key would serve a
    // STALE count after a table is rewritten in place with the same
    // file names. The fingerprint now carries each file's length and
    // modification time from the plan's FileIndex (driver-side, zero
    // jobs), so the rewrite signature — same names, new mtime —
    // changes the key.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fp").toString
    Seq(("alpha", 1L), ("beta", 2L)).toDF("s", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
    def snap(): (Array[String], String) = {
      val df = spark.read.parquet(dir)
      (df.inputFiles.sorted,
        TextAnalysis.fileFingerprint(df, df.queryExecution.optimizedPlan))
    }
    val (files1, fp1) = snap()
    assert(fp1.contains(":"), "the fingerprint must carry length/mtime fields")
    val part = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    assert(part.setLastModified(part.lastModified() + 5000),
      "test setup: mtime bump must apply")
    val (files2, fp2) = snap()
    assert(files1.sameElements(files2),
      "test setup: the rewrite signature is SAME names (a path-only key would collide)")
    assert(fp1 !== fp2, "the fingerprint must change on an in-place rewrite")
  }

  test("vocabCoverage refuses non-positive ks by name") {
    val boom = intercept[IllegalArgumentException] {
      TextAnalysis.vocabCoverage(docs, Seq(5, 0))
    }
    assert(boom.getMessage.contains("positive"))
  }

  test("dsir: target-domain docs outscore off-domain; weights bounded; self-target ranks itself") {
    import spark.implicits._
    val w = TextAnalysis.dsirWeights(docs, col("lang") === "en")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id").cache()
    // every tokenized doc is scored, with finite weights
    assert(w.count() === docs.count())
    assert(w.filter(col("dsir_weight").isNull ||
      isnan(col("dsir_weight"))).count() === 0L)
    // the point of DSIR: docs FROM the target domain average a higher
    // importance weight than docs outside it — the model was fitted on
    // them. Margin keeps the assertion non-vacuous (fixture gap ~0.04).
    val byDomain = w.groupBy((col("lang") === "en").as("t"))
      .agg(avg(col("dsir_weight")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byDomain(true) > byDomain(false) + 0.02,
      s"en ${byDomain(true)} must clearly beat non-en ${byDomain(false)}")
    w.unpersist()
    // sharp fixture: with a one-doc target, that doc must be the top
    // weight in a tiny corpus (its grams ARE the target model)
    val tiny = Seq(
      (1L, "alpha beta alpha beta gamma"),
      (2L, "delta epsilon zeta delta"),
      (3L, "eta theta iota kappa")).toDF("doc_id", "text")
    val top = TextAnalysis.dsirWeights(tiny, col("doc_id") === 1L)
      .orderBy(col("dsir_weight").desc).collect()
    assert(top.head.getLong(0) === 1L)
  }

  test("cluster-balanced sample: quota binds per cluster, covers all clusters, reproducible") {
    val q = () => Similarity.queries("x_cluster_sample")(spark, sf)
    val rows = q().collect()
    val byCluster = rows.groupBy(_.getLong(0))
    // the quota binds (each fixture cluster has >20 members, so every
    // cluster contributes EXACTLY 20 — a uniform draw could not)
    assert(byCluster.size === 8, "every IVF cluster represented")
    assert(byCluster.values.forall(_.length === 20))
    // stable-hash draw: identical ids run-over-run
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      q().collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("corpus shuffle: seeded permutation is reproducible, complete, seed-sensitive") {
    import graft.ops.Curation
    val s1 = Curation.shuffleShards(docs).cache()
    assert(s1.count() === docs.count())
    assert(s1.select(col("doc_id")).distinct().count() === docs.count(),
      "shuffle is a permutation — every doc exactly once")
    // per-shard positions are dense 1..n (pack-writer contract)
    val holes = s1.groupBy(col("shard"))
      .agg(max(col("pos")).as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n")).count()
    assert(holes === 0L)
    // reproducible run-over-run, wholesale different under a new seed
    assert(s1.exceptAll(Curation.shuffleShards(docs)).count() === 0L)
    val other = Curation.shuffleShards(docs, seed = "s2")
      .select(col("doc_id"), col("shard").as("sh2"), col("pos").as("p2"))
    val moved = s1.join(other, "doc_id")
      .filter(col("shard") =!= col("sh2") || col("pos") =!= col("p2")).count()
    assert(moved > docs.count() / 2,
      s"a new seed must reshuffle most docs (moved=$moved)")
    s1.unpersist()
  }

  test("hashed linear classifier: sigmoid-bounded, discriminative, threshold-consistent") {
    val scored = TextAnalysis.qualityClassifier(docs).cache()
    val bad = scored
      .filter(col("clf_score") < 0.0 || col("clf_score") > 1.0).count()
    assert(bad === 0L)
    // the hashed features genuinely discriminate on this corpus — both
    // classes occur, so the kept flag is not vacuous
    val kept = scored.filter(col("kept")).count()
    val dropped = scored.filter(!col("kept")).count()
    assert(kept > 0L && dropped > 0L,
      s"classifier must split the corpus (kept=$kept dropped=$dropped)")
    // kept is exactly score >= threshold
    assert(scored.filter(col("kept") =!= (col("clf_score") >= 0.5)).count() === 0L)
    scored.unpersist()
  }

  test("ivf k-means refinement: inertia never increases across Lloyd iterations") {
    val seed = emb.filter(col("vec_id") < 8).orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    val i0 = Similarity.ivfInertia(emb, seed)
    val r1 = Similarity.ivfRefineCentroids(emb, seed, 1)
    val i1 = Similarity.ivfInertia(emb, r1)
    val r2 = Similarity.ivfRefineCentroids(emb, seed, 2)
    val i2 = Similarity.ivfInertia(emb, r2)
    assert(i1 <= i0 + 1e-9, s"one Lloyd round must not increase inertia ($i0 -> $i1)")
    assert(i2 <= i1 + 1e-9, s"second round must not increase inertia ($i1 -> $i2)")
    assert(i1 < i0, "fixture seeds are untrained; a round should strictly improve")
  }

  test("ann recall query: recall in [0,1], nprobe=2 never below nprobe=1") {
    val rows = Similarity.queries("x_ann_recall")(spark, sf).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val (p1, p2) = (r.getDouble(1), r.getDouble(2))
      assert(p1 >= 0.0 && p1 <= 1.0 && p2 >= 0.0 && p2 <= 1.0)
      assert(p2 >= p1, s"nprobe=2 recall below nprobe=1 for q=${r.getLong(0)}")
    }
    // a centroid query (vec 0..7 are the centroids) must find itself
    assert(rows.map(_.getDouble(2)).max > 0.0, "all-zero recall means the probe is broken")
  }

  test("lsh dedup recall query: banded LSH recovers >=80% of exact pairs") {
    val r = Dedup.queries("x_dedup_lsh_recall")(spark, sf).head
    assert(r.getLong(0) > 0, "exact path must find the planted pairs")
    assert(!r.isNullAt(3) && r.getDouble(3) >= 0.8,
      s"banded-LSH recall ${r.getDouble(3)} below 0.8")
  }

  test("int8 quant rerank: self-match first with exact score 1, qscore close") {
    val rows = graft.ops.Quantize.queries("x_quant_rerank")(spark, sf).collect()
    assert(rows.length === 5)
    assert(rows.head.getLong(0) === 0L) // the query vector itself
    assert(math.abs(rows.head.getDouble(2) - 1.0) < 1e-6)
    // int8 error bound: dequantized cosine stays close to exact
    rows.foreach(r => assert(math.abs(r.getDouble(1) - r.getDouble(2)) < 0.05))
  }

  test("pq: codebook vectors encode to themselves and reconstruct exactly") {
    import graft.ops.Quantize
    val cb = emb.filter(col("vec_id") >= 1 && col("vec_id") <= 16)
      .orderBy(col("vec_id")).collect()
      .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toSeq).toSeq
    val v5 = emb.filter(col("vec_id") === 5)
    val codes = v5.select(Quantize.pqCodes(col("embedding"), cb, 8, 8).as("c"))
      .head.getSeq[Int](0)
    assert(codes.forall(_ == 5), s"vec 5 should code to centroid 5 everywhere: $codes")
    val recon = v5.select(
      Quantize.pqDecode(Quantize.pqCodes(col("embedding"), cb, 8, 8), cb, 8, 8).as("dq"),
      col("embedding")).head
    assert(recon.getSeq[Float](0) === recon.getSeq[Float](1))
  }

  test("pq training: Lloyd rounds never increase reconstruction error") {
    import graft.ops.Quantize
    val cb0 = emb.filter(col("vec_id") >= 1 && col("vec_id") <= 16)
      .orderBy(col("vec_id")).collect()
      .map(r => r.getSeq[Float](r.fieldIndex("embedding")).toSeq).toSeq
    // cache ONLY for this test — caching the raw scan would otherwise
    // shadow every later embeddings read with an InMemoryRelation and
    // break the pushdown plan assertions in ScaleDesignSpec
    val data = emb.cache()
    try {
      val e0 = Quantize.pqInertia(data, cb0, 8, 8)
      val cb1 = Quantize.pqTrain(data, cb0, 8, 8, iters = 1)
      val e1 = Quantize.pqInertia(data, cb1, 8, 8)
      val cb2 = Quantize.pqTrain(data, cb1, 8, 8, iters = 1)
      val e2 = Quantize.pqInertia(data, cb2, 8, 8)
      assert(e1 <= e0 + 1e-12, s"first Lloyd round worsened error: $e0 -> $e1")
      assert(e2 <= e1 + 1e-12, s"second Lloyd round worsened error: $e1 -> $e2")
      assert(e1 < e0, "training on fixture data should strictly improve the seed codebook")
    } finally data.unpersist()
  }

  test("pq rerank: top-5 overlaps exact top-5, exact scores are true cosines") {
    val pq = graft.ops.Quantize.queries("x_pq_rerank")(spark, sf).collect()
    assert(pq.length === 5)
    val exact = graft.ops.Similarity.queries("x_knn_join")(spark, sf)
      .filter(col("q_id") === 0).orderBy(col("rnk")).collect()
    // the PQ-candidate rerank must recover the true best match
    assert(pq.head.getLong(0) === exact.head.getLong(1),
      "PQ rerank lost the exact nearest neighbor")
    // approximation is graded, not vacuous: exact top-3 mostly survives
    val overlap = pq.map(_.getLong(0)).toSet
      .intersect(exact.map(_.getLong(1)).toSet).size
    assert(overlap >= 2, s"PQ top-5 holds only $overlap of the exact top-3")
  }

  test("as-of join: matched signup is never after its click, nulls only when no prior") {
    import org.apache.spark.sql.functions.unix_micros
    val asof = graft.ops.Relational.queries("r_asof_join")(spark, sf).cache()
    val ev = graft.Tables.events(spark, sf)
      .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"))
    // signup time <= click time for every matched pair
    val bad = asof.filter(col("signup_id").isNotNull)
      .join(ev.select(col("event_id").as("click_id"), col("ts_us").as("ct")), "click_id")
      .join(ev.select(col("event_id").as("signup_id"), col("ts_us").as("st")), "signup_id")
      .filter(col("st") > col("ct"))
    assert(bad.count() === 0L)
    // a null match really means the user had no signup at or before the click
    val nulls = asof.filter(col("signup_id").isNull)
      .join(ev.select(col("event_id").as("click_id"), col("ts_us").as("ct"),
        col("user_id").as("u")), "click_id")
    val contradiction = nulls.join(
        graft.Tables.events(spark, sf).filter(col("event_type") === "signup")
          .select(col("user_id").as("u"), unix_micros(col("ts")).as("st")), Seq("u"))
      .filter(col("st") <= col("ct"))
    assert(contradiction.count() === 0L)
  }

  test("train/test split: deterministic, near-declared fractions, non-empty") {
    import graft.ops.Curation
    val s1 = Curation.withSplit(docs).groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = s1.values.sum.toDouble
    assert(s1.keySet === Set("train", "valid", "test"))
    assert(s1("train") / total > 0.85 && s1("train") / total < 0.95)
    // content-stable: the same doc lands in the same split on re-run
    val s2 = Curation.withSplit(docs).select(col("doc_id"), col("split"))
    assert(Curation.withSplit(docs).select(col("doc_id"), col("split"))
      .exceptAll(s2).count() === 0L)
  }

  test("sequence packing: bins contiguous from 0, overflow bounded by one document") {
    import graft.ops.Curation
    val budget = 200L
    val packed = Curation.packSequences(docs, budget).cache()
    // per shard: bins start at 0 and have no gaps
    val bins = packed.groupBy(col("lang"))
      .agg(min(col("bin")).as("lo"), max(col("bin")).as("hi"),
        countDistinct(col("bin")).as("n"))
      .collect()
    bins.foreach { r =>
      assert(r.getLong(1) === 0L)
      assert(r.getLong(3) === r.getLong(2) + 1, s"gapped bins in shard ${r.getString(0)}")
    }
    // contiguous fill: a bin exceeds the budget by at most its last doc
    val over = packed.groupBy(col("lang"), col("bin"))
      .agg(sum(col("n_tok")).as("tot"), max(col("n_tok")).as("mx"))
      .filter(col("tot") >= lit(budget) + col("mx"))
    assert(over.count() === 0L)
  }

  test("domain cap: at most k rows per source, quality non-increasing in rank") {
    import graft.ops.Curation
    val capped = Curation.domainCap(docs, 3).cache()
    assert(capped.groupBy(col("source")).count().filter(col("count") > 3).count() === 0L)
    val bad = capped.as("a").join(capped.as("b"),
        col("a.source") === col("b.source") && col("a.rnk") < col("b.rnk") &&
          col("a.quality") < col("b.quality"))
    assert(bad.count() === 0L)
  }

  test("decontaminate: planted eval n-gram flags exactly the seeded train docs") {
    import spark.implicits._
    import graft.ops.Curation
    val leak = "l0 l1 l2 l3 l4 l5 l6 l7"
    val evalDocs = Seq((100L, s"unrelated eval words $leak")).toDF("doc_id", "text")
    val train = Seq(
      (1L, s"clean doc with its own words plus $leak embedded"), // contaminated
      (2L, "fully clean document nothing shared here at all ok"),
      (3L, "short")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, evalDocs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 1L && out(2L) === 0L && out(3L) === 0L)
  }

  test("stratified sample: rates honored within tolerance, decision content-stable") {
    import graft.ops.Curation
    val kept = Curation.stratifiedSample(docs, Map("en" -> 600), 250).cache()
    val byLang = kept.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy(col("lang")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val enRate = byLang.getOrElse("en", 0L).toDouble / totals("en")
    assert(enRate > 0.4 && enRate < 0.8, s"en rate $enRate far from 0.6")
    // re-run keeps the identical doc set
    val again = Curation.stratifiedSample(docs, Map("en" -> 600), 250)
    assert(kept.exceptAll(again).count() === 0L)
    assert(again.exceptAll(kept).count() === 0L)
  }

  test("repetition: looped text scores high, varied text low") {
    import spark.implicits._
    val d = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "each word here appears exactly once in this sentence"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.repetition(d).collect()
      .map(x => x.getLong(0) -> (x.getDouble(2), x.getDouble(3))).toMap
    assert(r(1L)._1 === 1.0 && r(1L)._2 > 0.8) // all one word, bigrams all dupes
    assert(r(2L)._1 < 0.2 && r(2L)._2 === 0.0)
  }

  test("pii scrub: counts match planted PII and redaction removes it") {
    import spark.implicits._
    val d = Seq(
      (1L, "reach me at bob99@mail.com or jo@x.org thanks"),
      (2L, "call 555-0123 or 555-9999 now"),
      (3L, "no pii here at all")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === (2L, 0L) && out(2L) === (0L, 2L) && out(3L) === (0L, 0L))
    // redacted hash of doc 1 equals the hash of the hand-redacted text
    val redacted = d.filter(col("doc_id") === 1)
      .select(md5(lit("reach me at <EMAIL> or <EMAIL> thanks"))).head.getString(0)
    val got = TextAnalysis.piiScrub(d).filter(col("doc_id") === 1)
      .select(col("redacted_hash")).head.getString(0)
    assert(got === redacted)
  }

  test("frame sampling: stride honored, fan-out capped at maxFrames per clip") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // len 112 → clip 120 → capped at 6 frames; len 2 → clip 10 → 2 frames
    val d = Seq((1L, "x" * 112), (2L, "xx")).toDF("doc_id", "text")
    val f = Multimodal.sampleFrames(d).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sorted.toSeq).toMap
    assert(f(1L) === Seq(0L, 5L, 10L, 15L, 20L, 25L))
    assert(f(2L) === Seq(0L, 5L))
    // a "2-hour video" (huge clip) still contributes exactly maxFrames rows
    val long = Seq((3L, "y" * 119)).toDF("doc_id", "text") // clip 127
    assert(Multimodal.sampleFrames(long).count() === 6L)
  }

  test("media decode: unicode-leading blob reads the first CODE POINT, byte length stays octets") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    // 'é' = U+00E9 (two UTF-8 bytes 0xC3 0xA9): the stub decode must
    // agree with the oracle's ascii(substr(text,1,1)) — 233, never the
    // first raw byte 195 — while byte_len stays the OCTET count (3 for
    // "éa"), matching octet_length(encode(text)). Latent on the
    // all-ASCII fixture; pinned here so a unicode regen can't split
    // the engines.
    val d = Seq((1L, "éa"), (2L, "abc")).toDF("doc_id", "text")
    val rows = Multimodal.decodeFeatures(Multimodal.withBlob(d)).collect()
      .map(m => m.doc_id -> m).toMap
    assert(rows(1L).byte_len === 3, "UTF-8 octet count, not char count")
    assert(rows(1L).height === 32 + 233 % 64, "first code point, not first byte")
    assert(rows(2L).height === 32 + 'a'.toInt % 64)
    assert(rows(2L).byte_len === 3)
  }

  test("fingerprint: identical docs share fingerprints, distinct mostly differ") {
    import spark.implicits._
    val d = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"),
      (3L, "completely different words here now ok yes"))
      .toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(d).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L) !== fp(3L))
  }

  test("multi-probe LSH: probes a superset of the single-bucket candidates, finds the query") {
    val planes = Similarity.fixturePlanes(emb)
    val buckets = emb.select(col("vec_id"),
      Similarity.signBucket(col("embedding"), planes).as("bucket"))
    val qb = buckets.filter(col("vec_id") === 0).head.getLong(1)
    val single = buckets.filter(col("bucket") === qb).count()
    val multi = buckets
      .filter(bit_count(col("bucket").bitwiseXOR(lit(qb))) <= 1).count()
    assert(multi >= single, "hamming<=1 probe set contains the exact bucket")
    // 8 planes → hamming<=1 selects at most 9 of 256 distinct buckets
    val probedBuckets = buckets
      .filter(bit_count(col("bucket").bitwiseXOR(lit(qb))) <= 1)
      .select(col("bucket")).distinct().count()
    assert(probedBuckets <= 9L, "probe set is the query bucket plus its 8 bit-neighbors")
    // the query point itself survives the probe and tops the ranking
    val top = graft.ops.Similarity.queries("x_ann_lsh_multiprobe")(spark, sf).head
    assert(top.getLong(0) === 0L && top.getDouble(1) === 1.0)
  }

  test("line dedup: first occurrence of a repeated line wins, later copies drop") {
    import spark.implicits._
    val footer = "f0 f1 f2 f3 f4 f5 f6 f7"
    val tiny = Seq(
      (1L, s"u1a u1b u1c u1d u1e u1f u1g u1h $footer"),
      (2L, s"u2a u2b u2c u2d u2e u2f u2g u2h $footer"),
      (3L, s"$footer u3a u3b u3c u3d u3e u3f u3g u3h")
    ).toDF("doc_id", "text")
    val res = graft.ops.Curation.lineDedup(tiny, 8).orderBy(col("doc_id")).collect()
    val byId = res.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 keeps both its lines (unique line + first footer sighting)
    assert(byId(1L)._2 === 2L && byId(1L)._3.contains(footer))
    // docs 2 and 3 lose the footer but keep their unique line
    assert(byId(2L)._2 === 1L && !byId(2L)._3.contains(footer))
    assert(byId(3L)._2 === 1L && !byId(3L)._3.contains(footer))
    assert(byId(3L)._3.startsWith("u3a"), "rebuild preserves line order")
  }

  test("line dedup: a document over the 2^20-line packing bound fails loudly") {
    import spark.implicits._
    // lineWords=1 makes every token a line, so ~2^20+2 single-char
    // tokens overflow the packed (doc_id, idx) key — which must raise,
    // not silently collide into doc 2's key range
    val big = ("x " * ((1 << 20) + 2)).trim
    val df = Seq((1L, big), (2L, "y z")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      graft.ops.Curation.lineDedup(df, 1).collect()
    }
    assert(e.getMessage.contains("2^20") ||
      Option(e.getCause).exists(_.getMessage.contains("2^20")),
      s"overflow must name the packing bound: ${e.getMessage}")
  }

  test("bucketed range join equals the naive inequality join") {
    val ev = graft.Tables.events(spark, sf)
    val bucketed = graft.ops.Relational.rangeJoinBucketed(ev, 600L * 1000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    import org.apache.spark.sql.functions.unix_micros
    val e2 = ev.select(col("event_id"), unix_micros(col("ts")).as("tus"))
    val naive = e2.as("a").join(e2.as("b"),
        col("b.tus") > col("a.tus") && col("b.tus") <= col("a.tus") + 600000000L)
      .select(col("a.event_id"), col("b.event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(bucketed === naive, "2-bucket fan-out must lose no pair and add none")
  }

  test("range-join output guard: dense windows refuse, forceQuadratic escapes, extended axis passes") {
    import org.apache.spark.sql.functions.timestamp_micros
    import spark.implicits._
    // 1000 events inside one 600 s window: candidate volume ~1e6 —
    // the fixed-axis densification that killed the r13 100× sweep,
    // reproduced at unit scale against a 1e5 bound
    val dense = spark.range(1000).select(col("id").as("event_id"),
      timestamp_micros(col("id")).as("ts"))
    val boom = intercept[IllegalArgumentException](
      graft.ops.Relational.rangeJoinBucketed(
        dense, 600L * 1000000L, maxCandidatePairs = 100000L,
        forceQuadratic = false))
    assert(boom.getMessage.contains("candidate pairs"), boom.getMessage)
    assert(boom.getMessage.contains("forceQuadratic"))
    // the deliberate escape pays for exactly this output: all C(1000,2)
    // pairs sit within the window (distinct µs timestamps, gap > 0)
    val forced = graft.ops.Relational.rangeJoinBucketed(
      dense, 600L * 1000000L, maxCandidatePairs = 100000L,
      forceQuadratic = true)
    assert(forced.count() === 1000L * 999L / 2)
    // a time-EXTENDED corpus of the same row count sails through the
    // guard (per-window population stays small — the shape real event
    // history grows in)
    val spreadEv = spark.range(1000).select(col("id").as("event_id"),
      timestamp_micros(col("id") * 1000000000L).as("ts"))
    assert(graft.ops.Relational.rangeJoinBucketed(
      spreadEv, 600L * 1000000L, maxCandidatePairs = 100000L,
      forceQuadratic = false).count() === 0L)
    // an EMPTY stream passes the estimate (sum over zero buckets is
    // null, coalesced — was an NPE; the guard's own error message
    // recommends pre-filtering, so the pre-filtered-to-empty case
    // must work) and returns an empty frame
    assert(graft.ops.Relational.rangeJoinBucketed(
      dense.filter(col("event_id") < 0), 600L * 1000000L,
      maxCandidatePairs = 100000L, forceQuadratic = false).count() === 0L)
  }

  test("gaps-and-islands sessions: consecutive, non-overlapping, gap-bounded") {
    val gap = 1800L * 1000000L
    val sess = graft.ops.Relational.sessionizeBatch(graft.Tables.events(spark, sf), gap)
      .orderBy(col("user_id"), col("sess")).collect()
    sess.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      // session ids count 1..n per user
      assert(rows.map(_.getLong(1)).toSeq === (1L to rows.length).toSeq)
      // sessions don't overlap and are separated by more than the gap
      rows.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(2) - a.getLong(3) > gap)
        case _ =>
      }
      // a session never contains an internal gap larger than allowed:
      // its span is at most (n_events - 1) * gap
      rows.foreach { r =>
        assert(r.getLong(3) - r.getLong(2) <= (r.getLong(4) - 1) * gap)
      }
    }
  }

  test("approx_count_distinct tracks the exact vocabulary within 5%") {
    val docs = t(spark, sf, "documents")
    val toks = docs.select(col("lang"),
      explode(graft.ops.TextAnalysis.tokens(col("text"))).as("tok"))
    val exact = toks.groupBy(col("lang"))
      .agg(countDistinct(col("tok")).as("e")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = toks.groupBy(col("lang"))
      .agg(approx_count_distinct(col("tok")).as("a")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (lang, e) =>
      assert(math.abs(approx(lang) - e).toDouble / e < 0.05,
        s"lang=$lang exact=$e approx=${approx(lang)}")
    }
  }

  test("chunk embed: stride windows cover every token and overlap by size-stride") {
    import spark.implicits._
    val words = (0 until 80).map(i => s"w$i").mkString(" ")
    val tiny = Seq((1L, words)).toDF("doc_id", "text")
    val chunks = graft.ops.Curation.chunkEmbed(tiny, size = 32, stride = 24)
      .orderBy(col("chunk_id")).collect()
    // starts at 0,24,48,72 → 4 chunks; last is the 8-word tail
    assert(chunks.length === 4)
    assert(chunks.map(_.getLong(2)).toSeq === Seq(32L, 32L, 32L, 8L))
    // full coverage: last chunk reaches the last token (72 + 8 = 80)
    // and every start is within stride of the previous chunk's end
    val docs = t(spark, sf, "documents")
    val out = graft.ops.Curation.chunkEmbed(docs, 32, 24)
    // every doc with text produces ceil-ish chunk count and unit chunk
    // ids 0..n-1
    val perDoc = out.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n"), max(col("chunk_id")).as("mx")).collect()
    perDoc.foreach(r => assert(r.getLong(2) === r.getLong(1) - 1))
  }

  test("degenerate inputs: empty and token-free corpora return empty, never throw (ANSI)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val blank = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    for (df <- Seq(empty, blank)) {
      assert(graft.ops.Curation.lineDedup(df, 8).count() === 0)
      assert(graft.ops.Curation.chunkEmbed(df, 32, 24).count() === 0)
      assert(graft.ops.TextAnalysis.unigramLogprob(df).count() === 0)
      assert(graft.ops.Retrieval.bm25(df, Seq("hash")).count() === 0)
    }
    // mixture weights over an empty frame: no strata, no division
    val emptyLang = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "lang")
    assert(graft.ops.Curation.mixtureWeights(emptyLang).count() === 0)
    // knn classify with a single point: no other points → no vote rows
    val one = Seq((0L, Seq.fill(4)(1.0f), 1)).toDF("vec_id", "embedding", "label")
    val qs = one.select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    assert(graft.ops.Similarity.knnJoin(one.filter(col("vec_id") < 0), qs, 3).count() === 0)
  }

  test("winnowing: a shared run of >= w+4 tokens shares a fingerprint; density ~2/(w+1)") {
    import spark.implicits._
    val shared = "s1 s2 s3 s4 s5 s6 s7 s8" // 8 tokens >= w+4 with w=4
    val tiny = Seq(
      (1L, s"a1 a2 a3 a4 a5 $shared b1 b2"),
      (2L, s"c1 c2 $shared d1 d2 d3")
    ).toDF("doc_id", "text")
    val rows = graft.ops.TextAnalysis.winnow(tiny, 4).collect()
    assert(rows.length === 2)
    // density: selected fingerprints are far fewer than grams
    rows.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1),
        "selected fingerprints cannot exceed gram count")
      assert(r.getLong(2) >= 1)
    }
    // THE winnowing guarantee: the 8-token shared run (>= w+4 with
    // w=4) forces a common fingerprint in both docs' SELECTED sets,
    // despite different surrounding context and offsets
    val sets = graft.ops.TextAnalysis.winnowSelected(tiny, 4).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](r.fieldIndex("sel")).toSet)
      .toMap
    assert((sets(1L) & sets(2L)).nonEmpty,
      s"docs sharing a >= w+4 token run must share a fingerprint; " +
        s"got disjoint sets ${sets(1L)} vs ${sets(2L)}")
    // and identical docs share their entire fingerprint set
    val dup = Seq((10L, shared + " t1 t2 t3"), (11L, shared + " t1 t2 t3"))
      .toDF("doc_id", "text")
    val dsets = graft.ops.TextAnalysis.winnowSelected(dup, 4).collect()
      .map(r => r.getSeq[Long](r.fieldIndex("sel")).toSet).distinct
    assert(dsets.length === 1, "identical docs must have identical fingerprint sets")
  }

  test("incremental dedup: every planted copy flags against its history source") {
    val d = t(spark, sf, "documents")
    val history = d.filter(col("doc_id") < 400).select(col("doc_id"), col("text"))
    val planted = history.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" zz yy xx")).as("text"))
    val fresh = d.filter(col("doc_id") >= 400).select(col("doc_id"), col("text"))
      .unionByName(planted)
    val matches = graft.ops.Dedup.dedupAgainstHistory(history, fresh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectedSelfMatches = history.filter(col("doc_id") % 25 === 0)
      .collect().map(_.getLong(0))
      .map(id => (id + 2000000L, id)).toSet
    assert(expectedSelfMatches.subsetOf(matches),
      s"missing planted matches: ${expectedSelfMatches -- matches}")
    // no new-batch-internal pairs leak in: every flagged partner is history
    assert(matches.forall(_._2 < 400))
  }

  test("semdedup: planted near-duplicate copies are dropped, originals kept") {
    val res = graft.ops.Similarity.queries("x_semdedup")(spark, sf).collect()
    val dropped = res.map(_.getLong(2)).sum
    val points = res.map(_.getLong(1)).sum
    assert(dropped > 0, "the census must not pass vacuously with 0 drops")
    val planted = t(spark, sf, "embeddings")
      .filter(col("vec_id") % 20 === 0).count()
    assert(dropped <= planted,
      "only perturbed copies can be dropped (unperturbed fixture has no 0.9 pairs)")
    assert(points === t(spark, sf, "embeddings").count() + planted)
  }

  test("LSH knn join: non-vacuous recall vs the exact broadcast join") {
    val e = t(spark, sf, "embeddings")
    val qs = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val exact = graft.ops.Similarity.knnJoin(e, qs, 3)
      .filter(col("q_id") =!= col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = graft.ops.Similarity.knnJoinLsh(e, qs, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.3,
      s"banded-LSH join recall degenerated to $recall — the scale path finds almost nothing")
    assert(approx.nonEmpty && exact.nonEmpty)
  }

  test("rag search: a doc containing the query verbatim wins via its matching chunk") {
    val docs = t(spark, sf, "documents")
    // plant the query text as an extra tail chunk on one mid-corpus doc
    val planted = docs.withColumn("text",
      when(col("doc_id") === 123,
        concat(col("text"), lit(" needle alpha needle beta needle gamma")))
        .otherwise(col("text")))
    val hits = graft.ops.Curation.ragSearch(planted,
      "needle alpha needle beta needle gamma", size = 8, stride = 8, k = 3).collect()
    assert(hits.head.getLong(0) === 123L,
      "the doc with the verbatim chunk must rank first")
    // its best chunk is the LAST chunk (the planted tail)
    val nChunks = hits.head.getLong(3)
    assert(hits.head.getLong(2) === nChunks - 1,
      "best_chunk must point at the planted tail chunk")
    // and the winning score strictly beats every other doc's
    assert(hits.head.getDouble(1) > hits(1).getDouble(1))
  }

  test("topic words: a token exclusive to one language tops that language's lift ranking") {
    val docs = t(spark, sf, "documents")
    // plant an exclusive token 6 times into 'es' docs only (> minCount)
    val planted = docs.withColumn("text",
      when(col("lang") === "es" && col("doc_id") % 83 === 0,
        concat(col("text"), lit(" zzexclusivo zzexclusivo zzexclusivo " +
          "zzexclusivo zzexclusivo zzexclusivo")))
        .otherwise(col("text")))
    val top = graft.ops.TextAnalysis.topicWords(planted, k = 5, minCount = 5L)
      .filter(col("lang") === "es").orderBy(col("rnk")).collect()
    assert(top.head.getString(1) === "zzexclusivo",
      s"an es-exclusive token has maximal lift; got ${top.head.getString(1)}")
    // exclusivity means lift = 1/P(lang-share): strictly above 1
    assert(top.head.getDouble(3) > 1.0)
  }

  test("mixture weights: shares sum to 1 and weights rebalance to uniform") {
    val docs = t(spark, sf, "documents")
    val res = graft.ops.Curation.mixtureWeights(docs).collect()
    val nLangs = res.length
    val shares = res.map(_.getDouble(2))
    assert(math.abs(shares.sum - 1.0) < 1e-4)
    // weight × actual share ≈ the uniform target share for every lang
    res.foreach { r =>
      assert(math.abs(r.getDouble(3) * r.getDouble(2) - 1.0 / nLangs) < 1e-4)
    }
  }

  test("temperature mixture: weights normalize, alpha<1 boosts tail langs over head") {
    val res = graft.ops.Curation.temperatureMixture(docs, alpha = 0.3).collect()
    val weights = res.map(_.getDouble(3))
    assert(math.abs(weights.sum - 1.0) < 1e-4)
    val byShare = res.sortBy(_.getLong(1))
    // boost (= q/p) is strictly decreasing in corpus share: the
    // smallest language is oversampled hardest, the head language least
    val boosts = byShare.map(_.getDouble(4))
    assert(boosts.zip(boosts.tail).forall { case (lo, hi) => lo >= hi },
      s"boost must fall as share grows: ${byShare.map(r => r.getString(0) -> r.getDouble(4)).toSeq}")
    assert(boosts.head > boosts.last)
    // the head language is damped below proportional sampling
    assert(boosts.last < 1.0)
  }

  test("intra-doc dedup: repeated chunk drops, first occurrence and order survive") {
    import spark.implicits._
    val d = Seq((1L, "a b c d a b c d e f g h")).toDF("doc_id", "text")
    val r = graft.ops.Curation.intraDocDedup(d, 4).head
    assert(r.getLong(1) === 3L, "3 chunks of 4 words")
    assert(r.getLong(2) === 2L, "the repeated 'a b c d' collapses to one")
    // cleaned text = first occurrences in original order
    val expected = "a b c d e f g h"
    assert(r.getLong(3) === expected.length.toLong)
    assert(r.getString(4) ===
      java.security.MessageDigest.getInstance("MD5")
        .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("intra-doc dedup: every planted doc loses at least one chunk (non-vacuous census)") {
    val res = graft.ops.Curation.queries("x_intradoc_dedup")(spark, sf).collect()
    val planted = res.filter(_.getLong(0) % 10 == 0)
    assert(planted.nonEmpty)
    assert(planted.forall(r => r.getLong(2) < r.getLong(1)),
      "prepending a doc's own first 8 words must create a removable chunk")
  }

  test("intra-doc dedup chunking matches the plain-Scala reference on every length 0..17") {
    import spark.implicits._
    // the closure-free windows+tail formulation has index arithmetic
    // the fixture never stresses (tails of every remainder, docs
    // shorter than one chunk, the empty doc) — pin it against a
    // direct grouped() reference for w = 3 across lengths
    val w = 3
    val docs = (0 to 17).map { n =>
      (n.toLong, (1 to n).map(i => s"t${i % 5}").mkString(" "))
    }
    val got = graft.ops.Curation.intraDocDedup(docs.toDF("doc_id", "text"), w)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    docs.foreach { case (id, text) =>
      val toks = text.split(" ").filter(_.nonEmpty).toSeq
      val chunks = toks.grouped(w).map(_.mkString(" ")).toSeq
      val kept = chunks.distinct
      assert(got(id) === ((chunks.length.toLong, kept.length.toLong)),
        s"doc $id (n=${toks.length}): got ${got(id)}, " +
          s"expected (${chunks.length}, ${kept.length})")
    }
    // a NULL text row yields zero chunks, never NULL stats
    val nulled = graft.ops.Curation.intraDocDedup(
      Seq((99L, Option.empty[String])).toDF("doc_id", "text"), w).head
    assert(!nulled.isNullAt(1) && nulled.getLong(1) === 0L &&
      nulled.getLong(2) === 0L, s"NULL text must chunk to (0, 0): $nulled")
  }

  test("blocklist phrase scan matches a plain-Scala sliding reference, all lengths") {
    import spark.implicits._
    // phrase lengths 1..3 over token lists 0..10 long, phrase planted
    // at the start, middle, end, overlapping, and absent
    for (phrase <- Seq(Seq("p"), Seq("p", "q"), Seq("p", "q", "r"))) {
      val docs = (0 to 10).flatMap { n =>
        val base = (1 to n).map(i => s"w$i")
        Seq(
          base,
          phrase ++ base,
          base ++ phrase,
          if (n >= 2) base.take(n / 2) ++ phrase ++ base.drop(n / 2) else base,
          phrase ++ phrase)
      }.distinct.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      val got = graft.ops.Curation
        .blocklistAudit(docs.toDF("doc_id", "text"), Seq("zzz"), phrase)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      docs.foreach { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty).toSeq
        val expected =
          if (toks.length < phrase.length) 0L
          else toks.sliding(phrase.length).count(_ == phrase).toLong
        assert(got(id) === expected,
          s"phrase=$phrase doc '$text': got ${got(id)}, expected $expected")
      }
    }
  }

  test("ppl buckets: each language cuts into thirds; head scores dominate tail") {
    val res = TextAnalysis.pplBuckets(docs).collect()
    val byLang = res.groupBy(_.getString(0))
    byLang.foreach { case (lang, rows) =>
      assert(rows.length === 3, s"$lang must have head/middle/tail")
      val n = rows.map(_.getLong(2))
      assert(n.max - n.min <= 1, s"$lang tercile sizes differ by <=1: ${n.toSeq}")
      val m = rows.map(r => r.getString(1) -> r).toMap
      // rank-based cut: head's worst score >= middle's best, etc.
      assert(m("head").getDouble(3) >= m("middle").getDouble(4), lang)
      assert(m("middle").getDouble(3) >= m("tail").getDouble(4), lang)
    }
  }

  test("ppl buckets: approx boundary variant tracks the exact census") {
    val exact = TextAnalysis.pplBuckets(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val approx = TextAnalysis.pplBucketsApprox(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= 3,
        s"$k: exact $n vs approx ${approx(k)} — boundary-tie drift only")
    }
  }

  test("bpe pairs: counts are per-occurrence adjacent character pairs inside words") {
    import spark.implicits._
    val d = Seq((1L, "ab ab abc")).toDF("doc_id", "text")
    val res = TextAnalysis.bpePairs(d, 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(res === Map("ab" -> 3L, "bc" -> 1L))
  }

  test("simhash64: exact dups at hamming 0, strictness and false-pair bounds vs 32-bit") {
    import spark.implicits._
    // EXACT duplicates are width-invariant (hamming 0) — the class the
    // 64-bit fingerprint must always catch
    val exactDups = docs.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 7000000L).as("doc_id"), col("text"))
    val corpus = docs.select(col("doc_id"), col("text")).unionByName(exactDups)
    val pairs64 = Dedup.simhashPairs64(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val planted = docs.filter(col("doc_id") % 25 === 0)
      .collect().map(_.getLong(0)).toSet
    val exactFound = planted.filter(id =>
      pairs64.exists(p => p._1 == id && p._2 == id + 7000000L && p._3 == 0))
    assert(exactFound.size === planted.size,
      s"${exactFound.size} of ${planted.size} exact dups at hamming 0")
    // unweighted near-dup hamming SCALES with width (measured: the
    // 3-token-edit dups sit at 0-8 on 32 bits, 1-14 on 64), so 64@3 is
    // the STRICTER test: it must find a subset-sized tiny-edit catch,
    // and never more total pairs than 32-bit (whose random-collision
    // rate is ~1.3e-6/pair — the quadratic-junk lever width fixes)
    val perturbed = Dedup.corpusWithDups(docs)
    val n64 = Dedup.simhashPairs64(perturbed).count()
    val n32 = Dedup.simhashPairs32Oracle(perturbed).count()
    assert(n64 <= n32,
      s"64-bit ($n64 pairs) must not out-pair 32-bit ($n32) at equal hamming")
    // the PUBLIC name means the 64-bit implementation (r12 verdict #3:
    // the operator a user reaches for by name must be the scale-safe
    // one; the 32-bit form is the oracle-pinned legacy entry)
    val pub = Dedup.simhashPairs(perturbed).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val via64 = Dedup.simhashPairs64(perturbed).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pub === via64,
      "simhashPairs must delegate to the 64-bit implementation")
    // blocking completeness (r13: candidate generation moved from
    // 4×16-bit chunks to Manku C(6,3) 3-block combos for linear
    // candidate volume): the output must STILL be exactly the
    // brute-force hamming ≤ 3 truth — blocking is lossless pruning
    val fps = perturbed.withColumn("fp", Dedup.simhash64(col("text")))
      .select(col("doc_id"), col("fp"))
    val brute = fps.as("a").crossJoin(fps.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        bit_count(col("a.fp").bitwiseXOR(col("b.fp"))).as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(via64 === brute,
      "combo blocking must reproduce the brute-force hamming truth exactly")
  }

  test("lshRecallAudit: clustered geometry reports its degraded recall, spread reports ~nominal") {
    // the r13 finding made observable (verdict #2): the achieved-recall
    // number is now a runtime return value + log line, measured on a
    // content-stable sample under the FULL corpus's auto plan.
    // Deterministic end to end (hash draws, fixed planes), so the two
    // geometries pin to their measured values:
    //  * the sf0.1 fixture (8 direction clusters, single-coordinate
    //    perturbation plants — both axes of the banding's worst case)
    //    measures 0.848 (39/46 true pairs),
    //  * a spread-direction corpus of the same size measures 0.960 —
    //    at the solver's 0.95 nominal.
    val clustered = Dedup.lshRecallAudit(
      t(spark, "/root/testdata/sf0.1", "embeddings"), sampleRows = 5000)
    assert(clustered > 0.7 && clustered < 0.9,
      s"clustered fixture must report its measured degradation: $clustered")
    val spread = spark.range(2000).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), j =>
        (pmod(graft.index.Embedder.stringHash64(
          concat_ws(":", col("id").cast("string"), j.cast("string"))),
          lit(2001L)).cast("double") / 1000.0 - 1.0).cast("float")).as("embedding"))
    val spreadRecall = Dedup.lshRecallAudit(spread, sampleRows = 5000)
    assert(spreadRecall >= 0.95,
      s"spread-direction corpus must reach ~nominal recall: $spreadRecall")
    // no true pair in the sample -> NaN, loudly not zero (a zero would
    // read as catastrophic recall; an empty denominator is "unmeasured").
    // ids 1..3 dodge the %20 plant, so three spread vectors share no pair
    val tiny = spark.range(1, 4).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), j =>
        (pmod(graft.index.Embedder.stringHash64(
          concat_ws(":", col("id").cast("string"), j.cast("string"))),
          lit(2001L)).cast("double") / 1000.0 - 1.0).cast("float")).as("embedding"))
    assert(Dedup.lshRecallAudit(tiny, sampleRows = 100).isNaN)
  }

  test("lshAutoParams: planes track corpus size, true-pair recall tracks the pinned banding") {
    // planes grow with log2(n) so bucket population stays ~targetBucket
    val (b1, p1) = Dedup.lshAutoParams(2000L, 0.9)
    val (b2, p2) = Dedup.lshAutoParams(200000L, 0.9)
    val (b3, p3) = Dedup.lshAutoParams(20000000L, 0.9)
    assert(p1 < p2 && p2 < p3, s"planes must grow: $p1, $p2, $p3")
    assert(p2 - p1 >= 6 && p2 - p1 <= 7, "100x corpus adds ~log2(100) planes")
    // the S-curve keeps >= 0.95 nominal recall at simMin for every
    // sizing — INCLUDING the n where the old flat 64-band cap bound
    // (n >= ~3.4e7 at simMin 0.9 needed >64 bands; the r13 fix lets
    // bands float so the recall contract holds instead of silently
    // dropping to ~0.79 at 5e8 — the r12 advisor finding)
    val bigs = Seq(100000000L, 500000000L).map(Dedup.lshAutoParams(_, 0.9))
    assert(bigs.exists(_._1 > 64),
      s"the cap-binding regime must be exercised: $bigs")
    for ((b, p) <- Seq((b1, p1), (b2, p2), (b3, p3)) ++ bigs) {
      val q = math.pow(1.0 - math.acos(0.9) / math.Pi, p.toDouble)
      assert(1.0 - math.pow(1.0 - q, b.toDouble) >= 0.95,
        s"banding ($b, $p) misses the recall target")
    }
    // the knob guard: a non-positive targetBucket fails loudly instead
    // of NaN-ing through ceil into a silently clamped planes=5
    intercept[IllegalArgumentException] {
      Dedup.lshAutoParams(1000L, 0.9, targetBucket = 0L)
    }
    // end-to-end against the right denominator: only planted dups whose
    // VERIFIED cosine clears simMin are true pairs (the fixture's
    // planted cosines span 0.77-0.97 — below-threshold plants are not
    // recall misses). The auto sizing must find >= 4/5 of what the
    // pinned (10, 5) banding finds — both verify exactly, so any gap
    // is candidate recall alone.
    val emb = t(spark, sf, "embeddings")
    val pinned = Dedup.embeddingPairsLsh(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val auto = Dedup.embeddingPairsLshAuto(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pinned.nonEmpty, "fixture must surface true pairs (vacuity guard)")
    assert((auto & pinned).size * 5 >= pinned.size * 4,
      s"auto found ${(auto & pinned).size} of ${pinned.size} pinned-banding pairs")
  }

  test("ngram jaccard: prefix-filtered candidates lose no pair vs the naive block join") {
    import graft.vector.Kernels
    // the naive formulation the r12 prefix filter replaced (quadratic
    // in block population — kept here as the brute-force truth)
    val corpus = Dedup.corpusWithDups(docs.limit(400))
    val fast = Dedup.ngramJaccardPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // brute force: all same-block pairs, exact jaccard — on a bounded
    // corpus slice so the quadratic join stays cheap in the suite
    val blocked = corpus.select(col("doc_id"), col("text"),
      (length(col("text")) / 16).cast("long").as("blk"))
    val withHs = blocked.withColumn("hs", Dedup.shingleHashes(col("text")))
    val naive = withHs.select(col("blk"), col("doc_id").as("id_a"), col("hs").as("hs_a"))
      .join(withHs.select(col("blk"), col("doc_id").as("id_b"), col("hs").as("hs_b")),
        Seq("blk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(Kernels.ofExpr(graft.vector.JaccardSorted(
          Kernels.exprOf(col("hs_a")), Kernels.exprOf(col("hs_b")))), 6).as("j"))
      .filter(col("j") >= 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast === naive,
      "prefix filtering must be lossless: same pairs, same scores")
    assert(naive.nonEmpty, "fixture must plant same-block near-dups (vacuity guard)")
  }

  test("containment pairs: excerpt flags inside its source asymmetrically; census non-vacuous") {
    import spark.implicits._
    val corpus = Seq(
      (1L, (0 until 30).map(i => s"w$i").mkString(" ")), // long doc
      (2L, (0 until 12).map(i => s"w$i").mkString(" ")), // its 40% prefix excerpt
      (3L, (100 until 130).map(i => s"v$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // only the excerpt→source direction: C(2→1) = 1.0; the reverse is
    // ~0.36 and symmetric Jaccard (~0.36) would never pair them at all
    assert(pairs.toSeq === Seq((2L, 1L, 1.0)), s"got ${pairs.toSeq}")
    // fixture census: every planted excerpt flags its source
    val out = Dedup.containmentPairs(Dedup.corpusWithExcerpts(docs)).cache()
    val planted = docs.filter(col("doc_id") % 31 === 0).count()
    val hit = out.filter(col("id_a") >= 4000000L &&
      col("id_b") === col("id_a") - 4000000L).count()
    assert(planted > 0 && hit === planted,
      s"$hit of $planted planted excerpts flagged")
    out.unpersist()
  }

  test("tfidf keywords: corpus-wide words score zero, rare words rank first, tf multiplies") {
    import spark.implicits._
    val d = Seq(
      (1L, "common rare1 rare1 common"),
      (2L, "common rare2"),
      (3L, "common filler")).toDF("doc_id", "text")
    val out = TextAnalysis.keywordsTfidf(d, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    // 'common' is in every doc → idf = ln(1) = 0, so each doc's top
    // keyword is its rare word, never the corpus-wide one
    val top1 = out.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    assert(top1 === Map(1L -> "rare1", 2L -> "rare2", 3L -> "filler"))
    // term frequency multiplies: rare1 twice in doc 1 → 2·ln(3)
    val s = out.find(t => t._1 == 1L && t._3 == "rare1").get._4
    assert(math.abs(s - 2 * math.log(3.0)) < 1e-5)
  }

  test("bloom incremental dedup: equals sketch-free join, no false negatives, pre-filter prunes") {
    val history = docs.filter(col("doc_id") < 400).select(col("doc_id"), col("text"))
    val fresh = docs.filter(col("doc_id") >= 400).select(col("doc_id"), col("text"))
      .unionByName(history.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      .unionByName(history.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" edited")).as("text")))
    val bloomOut = Dedup.dedupIncrementalBloom(history, fresh).cache()
    // the sketch is a cost lever, not a semantics change: output must
    // equal the plain (sketch-free) left join exactly
    val plain = fresh.select(col("doc_id").as("new_id"), md5(col("text")).as("h"))
      .join(history.select(col("doc_id").as("hist_id"), md5(col("text")).as("h")),
        Seq("h"), "left")
      .groupBy(col("new_id")).agg(min(col("hist_id")).as("dup_of"))
    assert(bloomOut.exceptAll(plain).count() === 0L)
    assert(plain.exceptAll(bloomOut).count() === 0L)
    // Bloom filters have no false negatives: every verbatim re-crawl
    // resolves to a history doc
    val copies = history.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("id")).collect().map(_.getLong(0)).toSet
    val resolved = bloomOut.filter(col("dup_of").isNotNull)
      .select(col("new_id")).collect().map(_.getLong(0)).toSet
    assert(copies.nonEmpty && copies.subsetOf(resolved))
    // the pre-filter does real work: a nonzero share of the batch is
    // proven-new without touching the join, and the rows it lets
    // through are the true matches plus a small fp margin
    val tagged = Dedup.bloomTagged(history, fresh, 1000000L, 0.01).cache()
    val nFresh = fresh.count()
    val neg = tagged.filter(!col("maybe")).count()
    assert(neg > 0L, "sketch never ruled anything out — pre-filter is vacuous")
    val pos = tagged.filter(col("maybe")).count()
    val trueMatches = bloomOut.filter(col("dup_of").isNotNull).count()
    assert(pos <= trueMatches + (0.05 * nFresh).toLong + 10,
      s"bloom fp rate out of band: pos=$pos true=$trueMatches of $nFresh")
    tagged.unpersist(); bloomOut.unpersist()
  }

  test("bpe training: classic low/lower merges in order, ties break pair-ascending") {
    import spark.implicits._
    val d = Seq((1L, "low low lower")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(d, 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // round 1: "l o" and "o w" both count 3 → pair-ASC tiebreak picks
    // "l o"; round 2: "lo w" (3); round 3: "low e" vs "e r" tie at 1 →
    // "e r" wins the tiebreak
    assert(merges === Seq((1L, "l o", 3L), (2L, "lo w", 3L), (3L, "e r", 1L)))
  }

  test("bpe encode: segmentation shrinks under trained merges, char-count preserved") {
    import spark.implicits._
    val d = Seq((1L, "low low lower"), (2L, "slow")).toDF("doc_id", "text")
    // merges from the classic example: l o → lo w → e r
    val merges = TextAnalysis.bpeTrain(d, 3).collect()
      .sortBy(_.getLong(0)).map(_.getString(1)).toSeq
    val enc = TextAnalysis.bpeEncode(d, merges).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // doc 1: "low"→[low] twice, "lower"→[low, er] → 3 words, 4 subwords
    assert(enc(1L) === ((3L, 4L)))
    // doc 2: "slow"→[s, low]? no — merges apply inside the word:
    // " s l o w " → " s lo w " → " s low " → 2 subwords
    assert(enc(2L) === ((1L, 2L)))
    // zero merges = character segmentation
    val chars = TextAnalysis.bpeEncode(d, Nil).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(chars(1L) === 11L && chars(2L) === 4L)
  }

  test("bpe training: repeated-symbol runs follow the pinned separator-consuming rule") {
    import spark.implicits._
    val d = Seq((1L, "aaaa")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(d, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // " a a a a " fuses to " aa a a " (first pair only — the
    // documented divergence from canonical BPE's every-other-pair);
    // round 2 then sees pairs {aa a, a a} at 1 each → "a a" wins ASC
    assert(merges === Seq((1L, "a a", 3L), (2L, "a a", 1L)))
  }

  test("bpe training: merge exhaustion stops early instead of crashing") {
    import spark.implicits._
    // "ab ab" → one merge fuses every word to a single symbol; a round
    // asked beyond that found NO pairs and head() threw — the merge
    // list must just be shorter than `rounds`
    val d = Seq((1L, "ab ab")).toDF("doc_id", "text")
    val merges = TextAnalysis.bpeTrain(d, 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(merges === Seq((1L, "a b", 2L)))
    // empty corpus: zero merge rounds, not a crash
    assert(TextAnalysis.bpeTrain(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 3).count() === 0L)
  }

  test("inertia objectives refuse an empty corpus with a named error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val c = Seq((0L, Array.fill(64)(1.0f)))
    val e1 = intercept[IllegalArgumentException] {
      Similarity.ivfInertia(empty, c)
    }
    assert(e1.getMessage.contains("empty corpus"))
    val cb = Seq.fill(4)(Seq.fill(64)(0.0f))
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.Quantize.pqInertia(empty, cb, 8, 8)
    }
    assert(e2.getMessage.contains("empty corpus"))
  }

  test("normalize text: control chars stripped, whitespace runs collapsed, trim applied") {
    import spark.implicits._
    import java.security.MessageDigest
    val d = Seq(
      (1L, "\ta  b\r\nc\u0001"), // tabs, double space, CRLF, control byte
      (2L, "already clean"),
      (3L, "   ") // whitespace-only collapses to empty
    ).toDF("doc_id", "text")
    val got = TextAnalysis.normalizeText(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def md5hex(s: String): String =
      MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(got(1L) === ((9L, 5L, md5hex("a b c"))))
    assert(got(2L) === ((13L, 13L, md5hex("already clean"))),
      "clean text passes through byte-identical")
    assert(got(3L) === ((3L, 0L, md5hex(""))))
  }

  test("blocklist: phrase matches consecutive tokens only; term hits count occurrences") {
    import spark.implicits._
    val d = Seq(
      (1L, "good batch batch batch good"), // bigram at 2 positions
      (2L, "slow text slow slow"),         // 3 term hits, no phrase
      (3L, "batch good batch"),            // split pair: no phrase hit
      (4L, "clean words only"),
      (5L, "prebatch batchpost")           // substrings must NOT fire
    ).toDF("doc_id", "text")
    val got = graft.ops.Curation
      .blocklistAudit(d, Seq("slow", "dup"), Seq("batch", "batch"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) === ((0L, 2L, 1L)))
    assert(got(2L) === ((3L, 0L, 1L)))
    assert(got(3L) === ((0L, 0L, 0L)))
    assert(got(4L) === ((0L, 0L, 0L)))
    assert(got(5L) === ((0L, 0L, 0L)), "no substring matches")
  }

  test("winnow matches: every planted pair surfaces (the >=w+4 shared-run guarantee)") {
    import org.apache.spark.sql.functions.{concat, lit, when}
    val ta = graft.ops.TextAnalysis
    val planted = docs.withColumn("text",
      when(col("doc_id") % 25 === 0,
        concat(col("text"), lit(" " + ta.WinnowMarker))).otherwise(col("text")))
    val got = ta.winnowMatches(planted).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = docs.filter(col("doc_id") % 25 === 0)
      .collect().map(_.getLong(0)).sorted
    val expected = for (i <- ids.indices; j <- i + 1 until ids.length)
      yield (ids(i), ids(j))
    assert(expected.forall(got.contains),
      s"${expected.count(!got.contains(_))} planted pairs missing of ${expected.size}")
    // without planting, the marker pairs are absent
    val bare = ta.winnowMatches(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.count(bare.contains) < expected.size / 4,
      "the planted excerpt, not organic overlap, drives the matches")
  }

  test("quality correlation: distributed integer Pearson matches a driver-side one") {
    val ta = graft.ops.TextAnalysis
    val h = ta.qualityScore(docs).collect()
      .flatMap(r => Option(r.get(3)).map(q => r.getLong(0) -> r.getDouble(3))).toMap
    val c = ta.qualityClassifier(docs).collect()
      .flatMap(r => Option(r.get(1)).map(_ => r.getLong(0) -> r.getDouble(1))).toMap
    val xs = h.keySet.intersect(c.keySet).toSeq.sorted
      .map(id => (math.round(h(id) * 1e6).toDouble, math.round(c(id) * 1e6).toDouble))
    val n = xs.length.toDouble
    val (sx, sy) = (xs.map(_._1).sum, xs.map(_._2).sum)
    val sxy = xs.map(p => p._1 * p._2).sum
    val sxx = xs.map(p => p._1 * p._1).sum
    val syy = xs.map(p => p._2 * p._2).sum
    val expect = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    val got = ta.qualityAgreement(docs).head
    assert(got.getLong(0) === xs.length.toLong)
    assert(math.abs(got.getDouble(1) - expect) < 1e-6,
      s"query ${got.getDouble(1)} vs reference $expect")
    assert(math.abs(got.getDouble(1)) <= 1.0)
  }

  test("zipf fit: an exact 1/rank corpus regresses to slope -1 with r2 = 1") {
    import spark.implicits._
    // counts 12, 6, 4, 3 = 12/rank exactly → ln c = ln 12 − ln rank
    val text = (Seq.fill(12)("w1") ++ Seq.fill(6)("w2") ++
      Seq.fill(4)("w3") ++ Seq.fill(3)("w4")).mkString(" ")
    val r = graft.ops.TextAnalysis.zipfFit(Seq((1L, text)).toDF("doc_id", "text")).head
    assert(r.getLong(0) === 4L)
    assert(math.abs(r.getDouble(1) - (-1.0)) < 1e-6, s"slope ${r.getDouble(1)}")
    assert(math.abs(r.getDouble(2) - math.log(12.0)) < 1e-6)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-6)
    // the word-soup fixture is non-Zipfian and the fit says so
    val f = graft.ops.TextAnalysis.zipfFit(docs).head
    assert(f.getDouble(1) > -0.5 && f.getDouble(3) < 0.5,
      s"soup: slope ${f.getDouble(1)}, r2 ${f.getDouble(3)}")
  }

  test("entropy report: perfectly predictable bigrams collapse conditional entropy") {
    import spark.implicits._
    // alternating ab: H(unigram) = ln 2, H(w2|w1) = 0 — every context
    // has exactly one continuation
    val d = Seq((1L, "a b a b a b a b")).toDF("doc_id", "text")
    val r = graft.ops.TextAnalysis.entropyReport(d).head
    assert(math.abs(r.getDouble(0) - math.log(2.0)) < 1e-6)
    assert(r.getDouble(2) === 0.0, "deterministic transitions carry no entropy")
    assert(r.getLong(1) === 2L && r.getLong(3) === 2L)
    // fixture word soup: conditional entropy stays close to unigram
    val f = graft.ops.TextAnalysis.entropyReport(docs).head
    assert(f.getDouble(2) > 0.9 * f.getDouble(0),
      "a memoryless corpus loses little entropy to conditioning")
  }

  /** The two model paths of `TextAnalysis.knLogprob`: the session's
    * broadcast bound as it is (the type tables below are counted on the
    * driver), and -1, which forces the windowed model. */
  private val knPaths = Seq("" -> None, " [window path]" -> Some("-1"))

  /** knLogprob's rows as (doc_id, n_bigrams, avg_logp_kn), by doc_id. */
  private def knRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sortBy(_._1)

  /** Whether a knLogprob result took the windowed model. */
  private def windowed(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.nonEmpty

  for ((path, bound) <- knPaths) {
    test(s"kneser-ney: closed-form check on a toy corpus; scores strictly negative$path") {
      import spark.implicits._
      // corpus bigrams: ab:2, ba:1, ac:1 → c1(a)=3, c1(b)=1,
      // N1+(a·)=2, N1+(b·)=1, N1+(·b)=N1+(·a)=N1+(·c)=1, N1+(··)=3
      val d = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
      val got = withBroadcastBound(bound)(knRows(graft.ops.TextAnalysis.knLogprob(d)))
        .map(r => r._1 -> ((r._2, r._3))).toMap
      val pBA = (2 - 0.75) / 3 + (0.75 * 2 / 3) * (1.0 / 3) // P(b|a)
      val pAB = (1 - 0.75) / 1 + (0.75 * 1 / 1) * (1.0 / 3) // P(a|b)
      val pCA = (1 - 0.75) / 3 + (0.75 * 2 / 3) * (1.0 / 3) // P(c|a)
      assert(got(1L)._1 === 3L)
      assert(math.abs(got(1L)._2 -
        (2 * math.log(pBA) + math.log(pAB)) / 3) < 1e-6)
      assert(math.abs(got(2L)._2 - math.log(pCA)) < 1e-6)
      // discounted mass never pushes a probability past 1
      val fixture = withBroadcastBound(bound)(graft.ops.TextAnalysis.knLogprob(docs)
        .agg(max(col("avg_logp_kn"))).head.getDouble(0))
      assert(fixture < 0.0, "every KN probability is < 1")
    }
  }

  test("kneser-ney: the driver-side model gives the window path's rows (seeded corpora)") {
    import spark.implicits._
    // words: ASCII, accented, CJK, emoji (one with a skin-tone modifier)
    // and two byte strings that are not UTF-8; a small vocabulary makes
    // bigrams repeat within and across documents
    val vocab: Seq[Array[Byte]] =
      Seq("a", "b", "the", "café", "naïve", "日本", "語", "🙂", "👍🏽", "x1")
        .map(_.getBytes("UTF-8")) ++
        Seq(Array(0x61, 0xff, 0x62), Array(0x61, 0xfe, 0x62)).map(_.map(_.toByte))
    val space = Array(' '.toByte)
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val texts: Seq[Option[Array[Byte]]] = (1 to 60).map { i =>
        i % 12 match {
          case 0 => None // NULL text
          case 1 => Some(vocab(rnd.nextInt(vocab.size))) // one token
          case 2 => Some(Array.emptyByteArray)
          case 3 => Some("   ".getBytes("UTF-8")) // spaces only
          case 4 => Some("a b a b a b a b".getBytes("UTF-8")) // repeats
          case _ =>
            val n = 2 + rnd.nextInt(12)
            Some(Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).reduce(_ ++ space ++ _))
        }
      }
      val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "b")
        .select(col("doc_id"), col("b").cast("string").as("text"))
      val onDriver = graft.ops.TextAnalysis.knLogprob(d)
      val looped = withBroadcastBound(Some("-1")) {
        val w = graft.ops.TextAnalysis.knLogprob(d)
        assert(windowed(w), "at bound -1 the model is windowed")
        knRows(w)
      }
      assert(!windowed(onDriver), "a broadcast-sized type table is modelled on the driver")
      val rows = knRows(onDriver)
      assert(rows.nonEmpty)
      assert(rows === looped, s"seed $seed")
    }
    // an empty corpus gives no rows on either path
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    for ((_, bound) <- knPaths)
      assert(withBroadcastBound(bound)(knRows(graft.ops.TextAnalysis.knLogprob(none))).isEmpty)
  }

  test("kneser-ney over the curation pipeline's cached inputs tokenizes the corpus once") {
    import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // Generate nodes in the plans that executed, a reused stage counted
    // once: the bigram explode runs once per node
    def generates(p: SparkPlan): Int = p.collect {
      case a: AdaptiveSparkPlanExec => generates(a.executedPlan)
      case s: QueryStageExec => generates(s.plan)
      case _: GenerateExec => 1
    }.sum
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = n.addAndGet(generates(qe.executedPlan))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    val survivors = docs.cache()
    val kept = graft.ops.TextAnalysis.qualityScore(survivors)
      .filter(col("quality") >= 0.7).select(col("doc_id"), col("quality")).cache()
    try {
      survivors.count(); kept.count()
      val sc = spark.sparkContext
      org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(sc, 30000)
      spark.listenerManager.register(listener)
      val rows = try {
        val r = knRows(graft.ops.TextAnalysis.knLogprob(
          survivors.join(kept, Seq("doc_id"), "left_semi")))
        org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(sc, 30000)
        r
      } finally spark.listenerManager.unregister(listener)
      assert(rows.nonEmpty)
      assert(n.get === 1, s"the bigram explode executed ${n.get} times")
    } finally { kept.unpersist(); survivors.unpersist() }
  }

  test("kneser-ney on a join-derived input plans no wider than on the left-semi form") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the curation pipeline's inputs: cached survivors and their cached
    // quality scores. Without CBO the inner join's size estimate is the
    // product of its sides, which widened every sized exchange
    def plannedReduceTasks(df: org.apache.spark.sql.DataFrame): Long = {
      def widths(p: SparkPlan): Seq[Long] = p.collect {
        case a: AdaptiveSparkPlanExec => widths(a.inputPlan)
        case e: ShuffleExchangeExec => Seq(e.outputPartitioning.numPartitions.toLong)
      }.flatten
      widths(df.queryExecution.executedPlan).sum
    }
    // the corpus pass is materialized inside knLogprob, so its sized
    // exchanges are read from the pass itself, the rest from the result
    def planned(in: org.apache.spark.sql.DataFrame): Long =
      plannedReduceTasks(graft.ops.TextAnalysis.knBigramCounts(in)) +
        plannedReduceTasks(graft.ops.TextAnalysis.knLogprob(in))
    val survivors = docs.cache()
    val kept = graft.ops.TextAnalysis.qualityScore(survivors)
      .filter(col("quality") >= 0.7).select(col("doc_id"), col("quality")).cache()
    try {
      survivors.count(); kept.count()
      val semi = planned(survivors.join(kept, Seq("doc_id"), "left_semi"))
      val inner = planned(survivors.join(kept, Seq("doc_id")))
      assert(semi > 0)
      assert(inner <= semi, s"inner-join input plans $inner reduce tasks, left-semi $semi")
    } finally { kept.unpersist(); survivors.unpersist() }
  }

  test("interpolated LM: λ=1 collapses to the pure bigram conditional score") {
    val jm = graft.ops.TextAnalysis.interpLogprob(docs, lambda = 1.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val bg = graft.ops.TextAnalysis.bigramLogprob(docs)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(jm.keySet === bg.keySet)
    assert(jm.forall { case (id, v) => math.abs(v - bg(id)) < 2e-6 },
      "with no unigram mass the JM score IS the conditional score")
    // the mixture is a convex combination of probabilities ≤ 1, so
    // every JM score is ≤ 0; and smoothing must change SOMETHING
    // (pure-conditional scores of 0 get pulled down, rare-bigram docs
    // get pulled up — both directions are correct JM behavior)
    val jm7 = graft.ops.TextAnalysis.interpLogprob(docs, lambda = 0.7)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(jm7.keySet === bg.keySet)
    assert(jm7.values.forall(_ <= 1e-9), "log of a probability mixture")
    assert(jm7.exists { case (id, v) => math.abs(v - bg(id)) > 1e-4 })
  }

  test("rp matrix is balanced ±1/√d'; projection roughly preserves cosine") {
    val m = graft.ops.Similarity.rpMatrix(16, 64)
    val s = 1.0 / math.sqrt(16.0)
    assert(m.flatten.forall(v => v == s || v == -s))
    val pos = m.flatten.count(_ > 0)
    assert(math.abs(pos - 512) < 160, s"sign balance, got $pos/1024 positive")
    // JL error scale: mean distortion ~1/√d' — doubling the target
    // dimension must shrink it (individual pairs can still swing to
    // ~1 at d'=16; the MEAN is the guarantee, not the max)
    def meanDist(outDim: Int): Double =
      graft.ops.Similarity.rpDistortion(emb, outDim)
        .agg(avg(col("distortion"))).head.getDouble(0)
    val m16 = meanDist(16)
    val m64 = meanDist(64)
    assert(m16 < 0.35, s"mean distortion at d'=16: $m16")
    assert(m64 < m16 * 0.75,
      s"quadrupling d' must shrink mean distortion: $m16 -> $m64")
  }

  test("corpus report: cells are internally consistent") {
    val r = graft.ops.TextAnalysis.corpusReport(docs).head
    val nDocs = r.getLong(0)
    assert(nDocs === docs.count())
    assert(r.getLong(1) > nDocs, "more tokens than docs")
    assert(r.getLong(2) === 0L, "pristine fixture has no exact dups")
    assert(r.getLong(8) <= nDocs && r.getLong(8) > 0, "top lang share")
    assert(r.getLong(9) <= nDocs, "high-quality count bounded")
    // planting a verbatim duplicate raises exactly the dup cell
    import org.apache.spark.sql.functions.lit
    val withDup = docs.limit(1).withColumn("doc_id", lit(999999L)).unionByName(docs)
    val r2 = graft.ops.TextAnalysis.corpusReport(withDup).head
    assert(r2.getLong(2) === 1L)
    assert(r2.getLong(0) === nDocs + 1)
  }

  test("pagerank: hub of a star tops ranking; probability mass conserved") {
    import spark.implicits._
    // star 0–{1,2,3} plus a detached pair 8–9
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (8L, 9L))
      .toDF("id_a", "id_b")
    val pr = graft.ops.Dedup.pagerank(pairs, iters = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(pr(0L)._1 === 3L, "hub degree")
    val hub = pr(0L)._2
    assert(Seq(1L, 2L, 3L).forall(l => pr(l)._2 < hub),
      "leaves must rank below the hub")
    assert(math.abs(pr(1L)._2 - pr(2L)._2) < 1e-9, "symmetric leaves tie")
    // output is rounded to 6dp per node → up to n/2 ulps of drift
    assert(math.abs(pr.values.map(_._2).sum - 1.0) < 6e-6,
      "no dangling nodes: total PR mass stays 1")
    assert(math.abs(pr(8L)._2 - pr(9L)._2) < 1e-9, "detached pair ties")
  }

  test("collocations: glued pair tops ranking with the closed-form PMI") {
    import spark.implicits._
    // "aa bb" always adjacent (4×); "cc" floats free between fillers
    val d = Seq(
      (1L, "aa bb x1 aa bb x2 cc x3"),
      (2L, "aa bb x4 cc x5 aa bb x6")
    ).toDF("doc_id", "text")
    val got = graft.ops.TextAnalysis.collocations(d, k = 5, minCount = 2)
      .collect()
    val top = got.head
    assert((top.getString(0), top.getString(1)) === (("aa", "bb")))
    // N = 16 tokens, P = 14 pairs, c12 = 4, c(aa) = c(bb) = 4
    val expect = math.log((4.0 / 14) / ((4.0 / 16) * (4.0 / 16)))
    assert(math.abs(top.getDouble(3) - expect) < 1e-6)
    assert(got.forall(_.getLong(2) >= 2), "minCount filter holds")
  }

  test("source divergence: KL is nonnegative and larger for the skewed source") {
    import spark.implicits._
    val d = Seq((1L, "a", "x x x x"), (2L, "b", "x y z w"))
      .toDF("doc_id", "source", "text")
    val got = graft.ops.TextAnalysis.sourceDivergence(d)
      .orderBy("source").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val (na, klA) = got("a")
    val (nb, klB) = got("b")
    assert(na === 4L && nb === 4L)
    assert(klA > klB && klB > 0.0,
      s"all-x source ($klA) must diverge more than the spread one ($klB)")
    assert(math.abs(klA - math.log(8.0 / 5.0)) < 1e-6,
      "closed form: 1·ln(1 / (5/8))")
  }

  test("resize plan: fits longer side, preserves aspect by integer floor, never upscales") {
    import spark.implicits._
    // craft texts whose stub dims hit both branches: len%64 and first
    // char drive (width, height)
    val d = Seq((1L, "a" * 63), (2L, "b")).toDF("doc_id", "text")
    val got = graft.multimodal.Multimodal.resizePlan(d, maxSide = 50)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val (w1, h1, dw1, dh1) = got(0) // width 32+63=95, height 32+33=65
    assert((w1, h1) === ((95L, 65L)))
    assert(dw1 === 50L && dh1 === (65L * 50 / 95),
      "longer side pinned to maxSide, shorter floors by the same ratio")
    val (w2, h2, dw2, dh2) = got(1) // width 33, height 32+34=66 > 50
    assert((w2, h2) === ((33L, 66L)))
    assert(dh2 === 50L && dw2 === (33L * 50 / 66))
    val none = graft.multimodal.Multimodal.resizePlan(d, maxSide = 500)
      .orderBy("doc_id").collect()
    assert(none.forall(r => r.getLong(3) === r.getLong(1)
      && r.getLong(4) === r.getLong(2)), "under maxSide nothing upscales")
  }

  test("blocklist plans: audit is a narrow map; join variant broadcasts the term table") {
    val audit = graft.ops.Curation.queries("x_blocklist")(spark, sf)
    val aPlan = audit.queryExecution.executedPlan.toString
    assert(!aPlan.contains("Exchange hashpartitioning"),
      s"audit must be shuffle-free (the sort is the oracle's ORDER BY):\n$aPlan")
    val join = graft.ops.Curation.queries("x_blocklist_join")(spark, sf)
    val jPlan = join.queryExecution.executedPlan.toString
    assert(jPlan.contains("BroadcastHashJoin"),
      s"term table must broadcast:\n$jPlan")
  }
}
