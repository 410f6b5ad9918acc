package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.api.{CollectionConfig, VectorCollection}
import graft.Tables.t

/** What one collection request costs in Spark jobs, and that the
  * per-handle schema memo behind it never serves stale rows: appends
  * by another handle stay visible, rewrites through the handle are
  * re-read, and observed write counts are exact on partitioned
  * writes. */
class RequestCostSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_cost").toFile.getAbsolutePath

  private val cfg = CollectionConfig("vec_id", "embedding", 64, multiVector = false)

  private def embeddings = t(spark, sf, "embeddings").select("vec_id", "embedding", "label")

  /** Jobs started while `body` runs — a listener scoped to the call,
    * with the listener bus drained on both sides. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(sc, 30000)
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(sc, 30000)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact top-k ids over every row on disk, computed outside Spark's
    * scoring from a fresh (schema-inferring) read; scores round to 6
    * places before the id tiebreak, as the engine's do. */
  private def bruteTopK(path: String, q: Seq[Float], k: Int): Seq[Long] =
    spark.read.parquet(path).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> BigDecimal(cosine(r.getSeq[Float](1), q))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .sortBy { case (id, s) => (-s, id) }
      .take(k).map(_._1).toSeq

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq

  private def vecOf(id: Long): Seq[Float] =
    embeddings.filter(col("vec_id") === id).head.getSeq[Float](1).toSeq

  test("a warm handle runs one Spark job per search, ANN probe and in-memory upsert") {
    import spark.implicits._
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, embeddings, cfg)
    c.upsert(embeddings)
    c.buildIvfIndex(nClusters = 4, lloydIters = 1)
    val mvDir = s"${tmp()}/mv"
    val mv = Tables.multiVectorDocs(t(spark, sf, "embeddings"))
    val m = VectorCollection.ensure(spark, mvDir, mv,
      CollectionConfig("doc_id", "vecs", 64, multiVector = true))
    m.upsert(mv)
    val q = vecOf(7)
    val qm = mv.filter(col("doc_id") === 3).head.getSeq[scala.collection.Seq[Float]](1)
      .map(_.toSeq).toSeq
    // warm: the first read of each handle resolves its schema
    c.search(q, 5).collect(); c.searchAnn(q, 5, 2).collect(); m.searchMaxSim(qm, 5).collect()
    val requests = Seq[(String, () => Any)](
      "dense search" -> (() => c.search(q, 5).collect()),
      "filtered search" -> (() => c.search(q, 5, col("label") === 3).collect()),
      "searchMaxSim" -> (() => m.searchMaxSim(qm, 5).collect()),
      "searchAnn" -> (() => c.searchAnn(q, 5, 2).collect()),
      "upsert of an in-memory frame" -> (() =>
        c.upsert(Seq((900001L, q, 3)).toDF("vec_id", "embedding", "label"))))
    requests.foreach { case (what, run) =>
      val (_, jobs) = jobsOf(run())
      assert(jobs === 1, s"$what ran $jobs Spark jobs")
    }
    // the anti-join shuffles, but no schema, cache or count job remains
    val fresh = embeddings.filter(col("vec_id") < 20)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"), col("label"))
    val (n, jobs) = jobsOf(c.upsertIncremental(fresh))
    assert(n === 20L)
    assert(jobs < 7, s"upsertIncremental ran $jobs Spark jobs")
    // every request above still answered exactly
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5))
  }

  test("a handle sees rows appended through another handle on the same path") {
    import spark.implicits._
    val dir = s"${tmp()}/col"
    val a = VectorCollection.ensure(spark, dir, embeddings, cfg)
    a.upsert(embeddings)
    val q = vecOf(11)
    assert(ids(a.search(q, 5)) === bruteTopK(dir, q, 5)) // A's schema now resolved
    val b = VectorCollection.open(spark, dir)
    val near = q.map(_ * 2f) // same direction: cosine 1.0 with the query
    assert(b.upsert(Seq((700001L, near, 1)).toDF("vec_id", "embedding", "label")) === 1L)
    val got = ids(a.search(q, 5))
    assert(got.contains(700001L), s"handle A missed handle B's append: $got")
    assert(got === bruteTopK(dir, q, 5))
    assert(a.count === embeddings.count() + 1)
  }

  test("upsertReplace and compact through a handle keep its search exact") {
    import spark.implicits._
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, embeddings, cfg)
    c.upsert(embeddings)
    val q = vecOf(5)
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5))
    // move point 40 onto the query's direction: it must now tie point 5
    assert(c.upsertReplace(Seq((40L, q.map(_ * 3f), 2)).toDF("vec_id", "embedding", "label")) === 1L)
    val afterReplace = ids(c.search(q, 5))
    assert(afterReplace.take(2).toSet === Set(5L, 40L))
    assert(afterReplace === bruteTopK(dir, q, 5))
    c.compact(targetRowsPerFile = 128)
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5))
    assert(c.count === embeddings.count())
  }

  // the empty case (upsertIncremental of ids already present observes
  // 0) is VectorCollectionSpec's idempotence test
  test("the observed write count is exact on a sharded append") {
    import spark.implicits._
    val shardDir = s"${tmp()}/sharded"
    val rows = embeddings.filter(col("vec_id") < 7).withColumn("shard", col("vec_id") % 3)
    val s = VectorCollection.ensure(spark, shardDir, rows,
      cfg.copy(shardCol = Some("shard")))
    assert(s.upsert(rows) === 7L)
    assert(s.count === 7L)
    val more = Seq((100L, vecOf(0), 1, 2L)).toDF("vec_id", "embedding", "label", "shard")
    assert(s.upsert(more) === 1L)
    assert(s.searchShard(vecOf(0), 2L, k = 1).head.getLong(0) === 100L)
  }
}
