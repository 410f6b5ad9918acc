package graft

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

import graft.api.{CollectionConfig, VectorCollection}
import graft.search.{ByIdBatchQuery, FScore, Filter, MatchValue, NearestBatchQuery}
import graft.Tables.t

/** What one collection request costs in Spark jobs and file bytes, and
  * that the per-handle schema memo and resident copy behind it never
  * serve stale rows: appends by another handle stay visible, rewrites
  * through the handle are re-read, the copy never reaches the
  * CacheManager, and observed write counts are exact on partitioned
  * writes. */
class RequestCostSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_cost").toFile.getAbsolutePath

  private val cfg = CollectionConfig("vec_id", "embedding", 64, multiVector = false)

  private def embeddings = t(spark, sf, "embeddings").select("vec_id", "embedding", "label")

  /** Jobs started while `body` runs, each named by the call site of
    * the Dataset action whose SQL execution ran it, or of its result
    * stage outside one (a schema inference) — a listener scoped to the
    * call, with the listener bus drained on both sides. */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val (r, jobs) = jobStartsOf(body)
    (r, jobs.map(_._1))
  }

  /** [[jobsOf]] with each job's start event. */
  private def jobStartsOf[T](body: => T): (T, Seq[(String, SparkListenerJobStart)]) = {
    val sc = spark.sparkContext
    org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(sc, 30000)
    val actions = new ConcurrentHashMap[String, String]()
    val jobs = new ConcurrentLinkedQueue[(Option[String], SparkListenerJobStart)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => actions.put(s.executionId.toString, s.description)
        case _ => ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.add(
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))) -> js)
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(sc, 30000)
      (r, jobs.asScala.toSeq.map { case (exec, js) =>
        exec.flatMap(id => Option(actions.get(id)))
          .getOrElse(js.stageInfos.maxBy(_.stageId).name) -> js })
    } finally sc.removeSparkListener(listener)
  }

  /** The longest dependency path among the RDDs a job's stages run. */
  private def lineageDepth(js: SparkListenerJobStart): Int = {
    val parents = js.stageInfos.flatMap(_.rddInfos).map(r => r.id -> r.parentIds).toMap
    def depth(id: Int): Int = 1 + (parents.getOrElse(id, Nil).map(depth) :+ 0).max
    parents.keys.map(depth).max
  }

  /** Bytes read from any Hadoop FileSystem while `body` runs, with the
    * listener bus drained on both sides. Task `inputMetrics.bytesRead`
    * would not do: Spark adds to it the size of every cached block a
    * task reads (`RDD.getOrCompute`), so a scan of the resident copy
    * reports bytes too. Parquet's vectored reads are off while `body`
    * runs: on a local file they go through an NIO channel that the
    * FileSystem statistics never see, so only footers would count. */
  private def fileBytesOf[T](body: => T): (T, Long) = {
    def read(): Long = FileSystem.getGlobalStorageStatistics.iterator.asScala
      .map(st => Option(st.getLong("bytesRead")).fold(0L)(_.longValue)).sum
    val sc = spark.sparkContext
    val vectored = "parquet.hadoop.vectored.io.enabled"
    org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(sc, 30000)
    spark.conf.set(vectored, "false")
    try {
      val before = read()
      val r = body
      org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(sc, 30000)
      (r, read() - before)
    } finally spark.conf.unset(vectored)
  }

  /** The visible data files of the unpartitioned collection at `dir`,
    * path → length. */
  private def dataFiles(dir: String): Map[String, Long] =
    new java.io.File(dir).listFiles().toSeq
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
      .map(f => f.getPath -> f.length).toMap

  /** The longest dependency path from `rdd` to a source. */
  private def lineageDepth(rdd: org.apache.spark.rdd.RDD[_]): Int =
    1 + (rdd.dependencies.map(d => lineageDepth(d.rdd)) :+ 0).max

  /** Other suites in this JVM leave cached plans behind; the tests
    * that assert none is added start from an empty CacheManager. */
  private def clearCachedPlans(): Unit = spark.catalog.clearCache()

  private def noCachedPlans(): Unit =
    assert(spark.sharedState.cacheManager.isEmpty, "a plan reached the CacheManager")

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
    val (q, q9) = (vecOf(7), vecOf(9))
    val qm = mv.filter(col("doc_id") === 3).head.getSeq[scala.collection.Seq[Float]](1)
      .map(_.toSeq).toSeq
    // warm: the first read of each handle resolves its schema
    c.search(q, 5).collect(); c.searchAnn(q, 5, 2).collect(); m.searchMaxSim(qm, 5).collect()
    // (request, run it, Spark jobs it runs). searchBatch scores its
    // literal requests in one job; queryBatch broadcasts its request
    // frame and shuffles the per-request heaps (broadcast, map and
    // result jobs); a by-id or recommend request first fetches its
    // example vectors
    val requests = Seq[(String, () => Any, Int)](
      ("dense search", () => c.search(q, 5).collect(), 1),
      ("filtered search", () => c.search(q, 5, col("label") === 3).collect(), 1),
      ("searchMaxSim", () => m.searchMaxSim(qm, 5).collect(), 1),
      ("searchAnn", () => c.searchAnn(q, 5, 2).collect(), 1),
      ("searchBatch", () => c.searchBatch(Seq((1L, q), (2L, q9)), 5).collect(), 1),
      ("queryBatch", () => c.queryBatch(Seq(NearestBatchQuery(1L, q.map(_.toDouble)),
        ByIdBatchQuery(2L, 9L)), 5).collect(), 4),
      ("recommend", () => c.recommend(Seq(7L), Seq(9L), 5).collect(), 2),
      ("upsert of an in-memory frame", () =>
        c.upsert(Seq((900001L, q, 3)).toDF("vec_id", "embedding", "label")), 1))
    requests.foreach { case (what, run, expected) =>
      val (_, jobs) = jobsOf(run())
      assert(jobs.size === expected, s"$what ran ${jobs.size} Spark jobs: $jobs")
    }
    // the anti-join broadcasts the resident copy's ids (one job, which
    // also fills the delta holding the upsert above) and writes: no
    // schema, cache or count job remains
    val fresh = embeddings.filter(col("vec_id") < 20)
      .select((col("vec_id") + 800000L).as("vec_id"), col("embedding"), col("label"))
    val (n, jobs) = jobsOf(c.upsertIncremental(fresh))
    assert(n === 20L)
    assert(jobs.size === 2, s"upsertIncremental ran ${jobs.size} Spark jobs: $jobs")
    // the query vector is a literal, not a broadcast frame
    val (_, formulaJobs) = jobsOf(c.queryFormula(q, FScore, prefetchN = 20, k = 5).collect())
    assert(formulaJobs.size === 1, s"queryFormula ran ${formulaJobs.size} Spark jobs: $formulaJobs")
    // every request above still answered exactly
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5))
  }

  test("the resident copy of a collection with fewer files than cores scans on every core") {
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, embeddings, cfg)
    (0 until 4).foreach(i => c.upsert(embeddings.filter(col("vec_id") % 4 === i)))
    assert(c.compact(1000000L) === 1)
    val q = vecOf(7)
    c.search(q, 5).collect() // builds the copy from the one file
    val (hits, jobs) = jobStartsOf(ids(c.search(q, 5)))
    assert(jobs.size === 1, s"a warm search ran ${jobs.size} Spark jobs: ${jobs.map(_._1)}")
    // the result stage; the shuffle that spread the copy is a skipped
    // parent stage of the job
    val tasks = jobs.head._2.stageInfos.maxBy(_.stageId).numTasks
    assert(tasks === spark.sparkContext.defaultParallelism, s"a warm search ran $tasks tasks")
    assert(hits === bruteTopK(dir, q, 5))
  }

  test("rewrites through a warm handle: Spark jobs per operator") {
    import spark.implicits._
    val dir = s"${tmp()}/col"
    val pts = embeddings.withColumn("payload", map(lit("src"), col("label").cast("string")))
    val c = VectorCollection.ensure(spark, dir, pts, cfg)
    (0 until 4).foreach(i => c.upsert(pts.filter(col("vec_id") % 4 === i)))
    val n = c.count
    val q = vecOf(7)
    // (request, run it, rows it reports, Spark jobs it runs). A merge
    // runs a schema inference, the touched-file collect and the write;
    // upsertReplace's collect also fills its cache of the incoming rows,
    // which it then counts
    val requests = Seq[(String, () => Long, Long, Int)](
      ("upsertReplace", () => c.upsertReplace(
        Seq((3L, q, 9, Map("src" -> "9"))).toDF("vec_id", "embedding", "label", "payload")), 1L, 10),
      ("delete", () => c.delete(Seq(5L)), 1L, 4),
      ("deleteByFilter", () => c.deleteByFilter(col("vec_id") === 6L), 1L, 4),
      ("setPayload", () => c.setPayload(col("vec_id") === 8L, "payload", "k", "v"), 1L, 4),
      ("updateVectors", () => c.updateVectors(Map(9L -> q)), 1L, 4),
      ("compact", () => c.compact(n / 2).toLong, 2L, 5))
    requests.foreach { case (what, run, rows, expected) =>
      c.count // warm: a rewrite drops the handle's resolved schema
      val (got, jobs) = jobsOf(run())
      assert(got === rows, what)
      assert(jobs.size === expected, s"$what ran ${jobs.size} Spark jobs: $jobs")
    }
    assert(c.count === n - 2)
    // 3 and 9 now hold point 7's vector
    assert(ids(c.search(q, 3)) === bruteTopK(dir, q, 3))
    assert(ids(c.search(q, 3)).toSet === Set(3L, 7L, 9L))
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

  test("a warm handle's repeat search scans its resident copy: one job, no file bytes") {
    import spark.implicits._
    clearCachedPlans()
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, embeddings, cfg)
    c.upsert(embeddings)
    val q = vecOf(13)
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5)) // builds the copy
    val requests = Seq[(String, () => Any)](
      "dense search" -> (() => c.search(q, 5).collect()),
      "filtered search" -> (() => c.search(q, 5, col("label") === 3).collect()),
      "Filter-DSL search" -> (() =>
        c.search(q, 5, Filter(must = Seq(MatchValue("label", 3)))).collect()))
    requests.foreach { case (what, run) =>
      val ((_, jobs), bytes) = fileBytesOf(jobsOf(run()))
      assert(jobs.size === 1, s"$what ran ${jobs.size} Spark jobs: $jobs")
      assert(bytes === 0L, s"$what read $bytes file bytes")
    }
    noCachedPlans()
    // another handle's append changes the listing: the next request
    // rebuilds the copy from the files, inside its own single job
    val b = VectorCollection.open(spark, dir)
    assert(b.upsert(Seq((700002L, q.map(_ * 2f), 1)).toDF("vec_id", "embedding", "label")) === 1L)
    val ((got, jobs), bytes) = fileBytesOf(jobsOf(ids(c.search(q, 5))))
    assert(jobs.size === 1, s"the rebuilding search ran ${jobs.size} Spark jobs: $jobs")
    assert(bytes > 0L, "the first search after the append read no file")
    assert(got.contains(700002L), s"handle A missed handle B's append: $got")
    assert(got === bruteTopK(dir, q, 5))
    assert(fileBytesOf(c.search(q, 5).collect())._2 === 0L)
    noCachedPlans()
  }

  test("rewrites through a handle cache no plan; plain parquet reads of the directory stay exact") {
    import spark.implicits._
    clearCachedPlans()
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, embeddings, cfg)
    c.upsert(embeddings)
    val q = vecOf(9)
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5))
    noCachedPlans()
    def plainVec(id: Long): Seq[Float] =
      spark.read.parquet(dir).filter(col("vec_id") === id).head.getSeq[Float](1).toSeq
    val moved = q.map(_ * 3f)
    assert(c.upsertReplace(Seq((41L, moved, 2)).toDF("vec_id", "embedding", "label")) === 1L)
    noCachedPlans()
    assert(plainVec(41L) === moved)
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5))
    assert(ids(c.search(q, 5)).take(2).toSet === Set(9L, 41L))
    c.compact(targetRowsPerFile = 128)
    noCachedPlans()
    assert(spark.read.parquet(dir).count() === embeddings.count())
    assert(plainVec(41L) === moved)
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5))
    noCachedPlans()
  }

  test("appends through the handle: the next search runs one job and reads only the appended file") {
    import spark.implicits._
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, embeddings, cfg)
    c.upsert(embeddings)
    val q = vecOf(17)
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5)) // builds the copy
    (1 to 2).foreach { i =>
      val before = dataFiles(dir)
      assert(c.upsert(Seq((650000L + i, q.map(_ * i.toFloat), 2)).toDF(
        "vec_id", "embedding", "label")) === 1L)
      val files = dataFiles(dir)
      val appended = (files -- before.keys).values.sum
      val ((got, jobs), bytes) = fileBytesOf(jobsOf(ids(c.search(q, 5))))
      assert(jobs.size === 1, s"search after append $i ran ${jobs.size} Spark jobs: $jobs")
      // a parquet read fetches the footer on open and again to plan the
      // row groups, so a tiny file reads a few times its length
      assert(bytes > 0L && bytes <= 4 * appended,
        s"search after append $i read $bytes file bytes; the append wrote $appended")
      assert(bytes < files.values.sum / 4,
        s"search after append $i read $bytes of the collection's ${files.values.sum} file bytes")
      assert(got.contains(650000L + i), s"append $i missed: $got")
      assert(got === bruteTopK(dir, q, 5))
    }
  }

  test("append→search cycles keep a base and one delta") {
    import spark.implicits._
    clearCachedPlans()
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, embeddings, cfg)
    c.upsert(embeddings)
    val q = vecOf(21)
    val sc = spark.sparkContext
    val persistent = sc.getPersistentRDDs.size
    val withBlocks = org.apache.spark.GraftTestBridges.rddsWithBlocks(sc)
    def added() = org.apache.spark.GraftTestBridges.rddsWithBlocks(sc) -- withBlocks
    // every append ties the query at cosine 1.0: k covers them all
    val k = 40
    assert(ids(c.search(q, k)) === bruteTopK(dir, q, k))
    val base = added()
    assert(base.size === 1, s"the first search cached $base")
    var seen = base
    val depths = (1 to 30).map { i =>
      assert(c.upsert(Seq((600000L + i, q.map(_ * i.toFloat), 4)).toDF(
        "vec_id", "embedding", "label")) === 1L)
      val got = ids(c.search(q, k))
      assert(got.contains(600000L + i), s"cycle $i missed its append: $got")
      assert(got === bruteTopK(dir, q, k))
      // the base and this cycle's delta hold blocks; no delta an earlier
      // cycle built still does
      val now = added()
      assert(now.size <= 2 && base.subsetOf(now), s"cycle $i: RDDs holding blocks: $now")
      assert((now & seen) === base, s"cycle $i: superseded RDDs still hold blocks: ${now & seen -- base}")
      assert(sc.getPersistentRDDs.size <= persistent + 2)
      seen ++= now
      lineageDepth(c.search(q, k).queryExecution.toRdd)
    }
    assert(depths.distinct === Seq(depths.head), s"the copy's lineage grew: $depths")
    c.compact(targetRowsPerFile = 128)
    assert((org.apache.spark.GraftTestBridges.rddsWithBlocks(sc) & seen).isEmpty,
      "compact left parts of the old copy holding blocks")
    assert(ids(c.search(q, k)) === bruteTopK(dir, q, k))
    noCachedPlans()
  }

  test("the resident copy answers exactly after appends, column changes, deletes and a fold") {
    import spark.implicits._
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, embeddings, cfg)
    c.upsert(embeddings)
    val other = VectorCollection.open(spark, dir)
    val q = vecOf(31)
    val q2 = vecOf(32)
    def shifted(by: Long) =
      embeddings.select((col("vec_id") + by).as("vec_id"), col("embedding"), col("label"))
    def near(id: Long, label: Int) =
      Seq((id, q.map(_ * 2f), label)).toDF("vec_id", "embedding", "label")
    // (case, change, whether the next read decodes only the new files)
    val cases = Seq[(String, () => Any, Option[Boolean])](
      ("append through this handle", () => c.upsert(near(710001L, 3)), Some(true)),
      ("append through another handle", () => other.upsert(near(710002L, 5)), Some(true)),
      // whether the inferred schema sees the new column depends on which
      // file inference samples, so only the answers are checked
      ("append adding a column", () => c.upsert(near(710003L, 3).withColumn("note", lit("n"))),
        None),
      ("delete through another handle", () => other.delete(Seq(710001L, 31L)), Some(false)),
      ("appends past the base's bytes", () => {
        c.upsert(shifted(1000000L)); c.upsert(shifted(2000000L)) }, Some(false)))
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5)) // builds the copy
    cases.zipWithIndex.foreach { case ((what, change, deltaOnly), i) =>
      change()
      val (got, bytes) = fileBytesOf(ids(c.search(q, 5)))
      assert(got === bruteTopK(dir, q, 5), what)
      val total = dataFiles(dir).values.sum
      deltaOnly.foreach { d =>
        assert((bytes < total / 4) === d, s"$what: the search read $bytes of $total file bytes")
      }
      val label3 = col("label") === 3
      assert(ids(c.search(q, 5, label3)) === bruteTopK(dir, q, 5, filter = label3), what)
      assert(ids(c.search(q, 5, Filter(must = Seq(MatchValue("label", 3))))) ===
        bruteTopK(dir, q, 5, filter = label3), what)
      val batch = c.searchBatch(Seq((1L, q), (2L, q2)), 5).collect()
      Seq(1L -> q, 2L -> q2).foreach { case (qid, v) =>
        assert(batch.filter(_.getLong(0) == qid).sortBy(_.getLong(3)).map(_.getLong(1)).toSeq ===
          bruteTopK(dir, v, 5), s"$what: batch request $qid")
      }
      // the write path reads the same copy: the present id is skipped
      val n = c.count
      assert(c.upsertIncremental(Seq((33L, q2, 1), (720000L + i, q2, 2)).toDF(
        "vec_id", "embedding", "label")) === 1L, what)
      assert(c.count === n + 1, what)
    }
  }

  test("upsertIncremental through a warm handle reads the resident copy, not the data files") {
    import spark.implicits._
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, embeddings, cfg)
    c.upsert(embeddings)
    val q = vecOf(27)
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5)) // builds the copy
    val total = dataFiles(dir).values.sum
    val (n, bytes) = fileBytesOf(c.upsertIncremental(
      Seq((27L, q, 1), (630001L, q, 2)).toDF("vec_id", "embedding", "label")))
    assert(n === 1L)
    // what remains is the write's own lease and metadata reads
    // (a parquet read of the ids opens every file: footer and id chunk)
    assert(bytes < 1024, s"upsertIncremental read $bytes of the collection's $total file bytes")
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5))
  }

  test("append→upsertIncremental cycles keep a base and one delta") {
    import spark.implicits._
    clearCachedPlans()
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, embeddings, cfg)
    c.upsert(embeddings)
    val q = vecOf(23)
    val sc = spark.sparkContext
    val persistent = sc.getPersistentRDDs.size
    val withBlocks = org.apache.spark.GraftTestBridges.rddsWithBlocks(sc)
    def added() = org.apache.spark.GraftTestBridges.rddsWithBlocks(sc) -- withBlocks
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5)) // builds the copy
    val base = added()
    assert(base.size === 1, s"the first search cached $base")
    var seen = base
    var n = c.count
    val depths = (1 to 30).map { i =>
      // the present point 23 is skipped, the fresh one written
      val (written, jobs) = jobStartsOf(c.upsertIncremental(
        Seq((23L, q, 1), (610000L + i, q.map(_ * i.toFloat), 4)).toDF("vec_id", "embedding", "label")))
      assert(written === 1L, s"cycle $i wrote $written rows")
      n += 1
      // the base and the delta holding the earlier cycles' appends hold
      // blocks; no delta an earlier cycle built still does
      val now = added()
      assert(now.size <= 2 && base.subsetOf(now), s"cycle $i: RDDs holding blocks: $now")
      assert((now & seen) === base, s"cycle $i: superseded RDDs still hold blocks: ${now & seen -- base}")
      assert(sc.getPersistentRDDs.size <= persistent + 2)
      seen ++= now
      jobs.map { case (_, js) => lineageDepth(js) }.max
    }
    // the first cycle reads the base alone; every later one reads the
    // base and a delta built from the last delta and one new file
    assert(depths.tail.distinct === Seq(depths(1)), s"the copy's lineage grew: $depths")
    assert(c.count === n)
    c.compact(targetRowsPerFile = 128)
    assert((org.apache.spark.GraftTestBridges.rddsWithBlocks(sc) & seen).isEmpty,
      "compact left parts of the old copy holding blocks")
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5))
    assert(c.count === n)
    noCachedPlans()
  }

  test("a delta block lost with its executor: the next search or upsertIncremental decodes it again") {
    import spark.implicits._
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, embeddings, cfg)
    c.upsert(embeddings)
    val q = vecOf(25)
    val sc = spark.sparkContext
    val withBlocks = org.apache.spark.GraftTestBridges.rddsWithBlocks(sc)
    def added() = org.apache.spark.GraftTestBridges.rddsWithBlocks(sc) -- withBlocks
    assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5)) // builds the copy
    val base = added()
    var n = c.count
    // (the first request to read the copy after the loss, its check)
    val requests = Seq[(String, Int => Unit)](
      ("search", _ => assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5))),
      ("upsertIncremental", i => {
        assert(c.upsertIncremental(Seq((25L, q, 1), (621000L + i, q, 2)).toDF(
          "vec_id", "embedding", "label")) === 1L)
        n += 1
      }))
    requests.zipWithIndex.foreach { case ((what, run), i) =>
      // an append, then a search that fills a delta holding it
      assert(c.upsert(Seq((620000L + i, q.map(_ * 2f), 1)).toDF("vec_id", "embedding", "label")) === 1L)
      n += 1
      assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5))
      val delta = added() -- base
      assert(delta.size === 1, s"$what: RDDs holding blocks besides the base: $delta")
      org.apache.spark.GraftTestBridges.dropBlock(sc, delta.head)
      run(i)
      assert(ids(c.search(q, 5)) === bruteTopK(dir, q, 5), what)
      assert(c.count === n, what)
    }
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
