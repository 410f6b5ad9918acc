package graft

import org.apache.spark.sql.functions._
import graft.api.{CollectionConfig, DeleteOp, UpdateVectorsOp, UpsertOp, VectorCollection}
import graft.index.{Embedder, Ingest}
import graft.Tables.t
import java.nio.file.Files

/** Replays the reference's end-to-end workflows against the library
  * API: indexer __main__ (ensure → scan → embed → upsert → stats
  * parity) and searcher __main__ (embed query → top-k → format). */
class VectorCollectionSpec extends SparkSpec {

  private def tmp() = Files.createTempDirectory("graft_col").toFile.getAbsolutePath

  private def points = {
    Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(t(spark, sf, "documents")))))
      .select(col("point_id"), col("embedding").cast("array<float>").as("embedding"),
        col("doc_id"), col("filename"), col("folder"))
  }

  test("indexer workflow: ensure → upsert → count parity (reference __main__)") {
    val dir = s"${tmp()}/col"
    val pts = points.cache()
    val col0 = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    val n = col0.upsert(pts)
    assert(n === pts.count()) // processed == points_count (C3 parity)
    // re-open from persisted config
    val col1 = VectorCollection.open(spark, dir)
    assert(col1.config.dim === 64)
    assert(col1.count === n)
  }

  test("buildIvfIndex on an empty collection refuses with a named error") {
    val dir = s"${tmp()}/col"
    val pts = points.limit(0)
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    val e = intercept[IllegalArgumentException] { c.buildIvfIndex(4) }
    assert(e.getMessage.contains("empty collection"))
    val e2 = intercept[IllegalArgumentException] { c.buildIvfIndex(0) }
    assert(e2.getMessage.contains("nClusters"))
  }

  test("buildIvfIndex on a buildPoints (array<double>) collection serves searchAnn") {
    val dir = s"${tmp()}/col"
    val pts = Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.withPaths(t(spark, sf, "documents")))).cache()
    assert(pts.schema("embedding").dataType.catalogString === "array<double>")
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    c.upsert(pts)
    c.buildIvfIndex(nClusters = 4, lloydIters = 1)
    val q = pts.head.getSeq[Double](pts.schema.fieldIndex("embedding")).map(_.toFloat)
    assert(c.searchAnn(q, k = 5, nprobe = 4).count() === math.min(5L, pts.count()))
    pts.unpersist()
  }

  test("get_collections / collection_exists / delete_collection lifecycle") {
    val root = tmp()
    val pts = points.limit(20).cache()
    val cfg = CollectionConfig("point_id", "embedding", 64, multiVector = false)
    assert(VectorCollection.listCollections(spark, root) === Nil)
    assert(!VectorCollection.exists(spark, s"$root/alpha"))
    VectorCollection.ensure(spark, s"$root/alpha", pts, cfg).upsert(pts)
    VectorCollection.ensure(spark, s"$root/beta", pts, cfg).upsert(pts)
    // a non-collection dir and an alias pointer are not listed
    new java.io.File(s"$root/scratch").mkdirs()
    graft.index.Sink.setAlias(spark, root, "current", s"$root/alpha")
    assert(VectorCollection.listCollections(spark, root) === Seq("alpha", "beta"))
    assert(VectorCollection.exists(spark, s"$root/alpha"))
    // the reference's ensure probe: exists → skip create (first-write-wins)
    val again = VectorCollection.ensure(spark, s"$root/alpha", pts, cfg)
    assert(again.count === 20)
    // drop removes the collection and its listing entry; alias dangles
    // loudly (Qdrant semantics), the other collection is untouched
    assert(VectorCollection.drop(spark, s"$root/alpha"))
    assert(VectorCollection.listCollections(spark, root) === Seq("beta"))
    assert(!VectorCollection.exists(spark, s"$root/alpha"))
    intercept[Exception] { VectorCollection.openAlias(spark, root, "current") }
    assert(VectorCollection.open(spark, s"$root/beta").count === 20)
    assert(!VectorCollection.drop(spark, s"$root/alpha"), "second drop is a no-op")
    pts.unpersist()
  }

  test("searchBatchFiltered: one pass, per-request filters equal per-request searches") {
    val dir = s"${tmp()}/col"
    val pts = t(spark, sf, "embeddings")
      .select(col("vec_id").as("pid"), col("embedding").as("v"), col("label"))
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("pid", "v", 64, multiVector = false))
    c.upsert(pts)
    def vec(id: Long): Seq[Float] = pts.filter(col("pid") === id)
      .head.getSeq[Float](1).toSeq
    val reqs = Seq(
      (1L, vec(0L), Some(3L)),   // only label=3 candidates
      (2L, vec(1L), Some(5L)),   // only label=5
      (3L, vec(2L), None))       // unfiltered
    val out = c.searchBatchFiltered(reqs, "label", k = 4).cache()
    assert(out.groupBy("q_id").count().collect().forall(_.getLong(1) === 4L))
    // each request's hits equal its standalone filtered search
    reqs.foreach { case (qid, qv, flt) =>
      val standalone = c.search(qv, 4,
          flt.map(v => col("label") === v).getOrElse(lit(true)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = out.filter(col("q_id") === qid).orderBy(col("rnk"))
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(batch === standalone, s"request $qid diverges from its standalone search")
    }
    // filters actually bit: filtered hits carry only the pinned label
    val labels = pts.select(col("pid"), col("label"))
    val l3 = out.filter(col("q_id") === 1L).join(labels, Seq("pid"))
      .select("label").distinct().collect().map(_.getAs[Number](0).longValue).toSeq
    assert(l3 === Seq(3L))
    out.unpersist()
    // non-cosine collection: batch honors the configured Distance
    // (euclid ranks ASCENDING) and still equals per-request search
    val dirE = s"${tmp()}/colE"
    val cE = VectorCollection.ensure(spark, dirE, pts,
      CollectionConfig("pid", "v", 64, multiVector = false, distance = "euclid"))
    cE.upsert(pts)
    val reqsE = Seq((1L, vec(0L), Some(3L)), (2L, vec(1L), None))
    val outE = cE.searchBatchFiltered(reqsE, "label", k = 4)
    reqsE.foreach { case (qid, qv, flt) =>
      val standalone = cE.search(qv, 4,
          flt.map(v => col("label") === v).getOrElse(lit(true)))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = outE.filter(col("q_id") === qid).orderBy(col("rnk"))
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(batch === standalone, s"euclid request $qid diverges from standalone")
    }
  }

  test("drop removes maintenance sidecars — no resurrection into a recreated collection") {
    val root = tmp()
    val path = s"$root/col"
    val pts = points.limit(10).cache()
    val cfg = CollectionConfig("point_id", "embedding", 64, multiVector = false)
    VectorCollection.ensure(spark, path, pts, cfg).upsert(pts)
    // a crashed rewrite left its staged rows and commit marker inside
    // the root
    pts.write.parquet(s"$path/_payload_staging")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_payload_commit"), "")
    assert(VectorCollection.drop(spark, path))
    assert(!new java.io.File(path).exists(), "the collection must be dropped")
    // a NEW collection at the same path holds none of it: no pending
    // commit is finished into it, no staged row appears
    val fresh = VectorCollection.ensure(spark, path, pts, cfg)
    fresh.upsert(pts.limit(3))
    assert(fresh.count === 3L)
    Seq("_payload_staging", "_payload_commit").foreach { s =>
      assert(!new java.io.File(s"$path/$s").exists(), s"$s must not survive the drop")
    }
    pts.unpersist()
  }

  test("recommendFrom: examples resolve in the lookup collection, search runs here") {
    val dirA = s"${tmp()}/col_a"; val dirB = s"${tmp()}/col_b"
    val pts = points.cache()
    val a = VectorCollection.ensure(spark, dirA, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    a.upsert(pts)
    // lookup collection: embeddings fixture under its own id space
    val embPts = t(spark, sf, "embeddings").select(
      col("vec_id").as("point_id"), col("embedding"))
    val b = VectorCollection.ensure(spark, dirB, embPts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    b.upsert(embPts)
    val hits = a.recommendFrom(b, posIds = Seq(1L, 2L), negIds = Seq(3L), k = 5)
    assert(hits.count() === 5)
    // parity: the same lookup-resolved query driven through QueryApis
    // over collection A's points directly
    val expect = graft.search.QueryApis.recommendLookup(
      pts.select(col("point_id").as("vec_id"), col("embedding")),
      embPts.select(col("point_id").as("vec_id"), col("embedding")),
      Seq(1L, 2L), Seq(3L), 5).collect()
    val got = hits.collect()
    assert(got.map(_.getLong(0)).toSeq === expect.map(_.getLong(0)).toSeq)
    assert(got.map(_.getDouble(1)).toSeq === expect.map(_.getDouble(1)).toSeq)
    assert(hits.columns.head === "point_id")
  }

  test("incremental upsert is idempotent; plain upsert duplicates (reference semantics)") {
    val dir = s"${tmp()}/col"
    val pts = points.cache()
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    val n1 = c.upsert(pts)
    assert(c.upsertIncremental(pts) === 0L) // all ids exist → nothing written
    assert(c.count === n1)
    assert(c.upsert(pts) === n1) // reference-style append duplicates
    assert(c.count === 2 * n1)
  }

  test("searcher workflow: query embed → top-k → formatted hits") {
    val dir = s"${tmp()}/col"
    val pts = points.cache()
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    c.upsert(pts)
    // embed a free-text query with the same encoder (searcher side B5)
    val qv = spark.range(1)
      .select(Embedder.embedRaw(Embedder.tokenHashes(lit("fast table scan merge"))).as("v"))
      .head.getSeq[Double](0).map(_.toFloat)
    val hits = c.search(qv, k = 5)
    assert(hits.count() === 5)
    val scores = hits.collect().map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse))
    // payload-filtered variant (E4)
    val filtered = c.search(qv, k = 5, filter = col("folder") === "src1")
    assert(filtered.join(spark.read.parquet(dir), "point_id")
      .filter(col("folder") =!= "src1").count() === 0)
    // D3 projection
    val pretty = c.formatResults(
      hits.join(spark.read.parquet(dir), Seq("point_id"), "left"),
      Seq("filename", "folder"))
    assert(pretty.columns.toSeq === Seq("point_id", "score", "filename", "folder"))
  }

  test("multi-vector collection: MaxSim search ranks the query doc first") {
    val dir = s"${tmp()}/col"
    val mv = Tables.multiVectorDocs(t(spark, sf, "embeddings")).cache()
    val c = VectorCollection.ensure(spark, dir, mv,
      CollectionConfig("doc_id", "vecs", 64, multiVector = true))
    c.upsert(mv)
    val q = mv.filter(col("doc_id") === 7).head
      .getSeq[scala.collection.Seq[Float]](1).map(_.toSeq.asInstanceOf[Seq[Float]]).toSeq
    val hits = c.searchMaxSim(q, k = 3)
    assert(hits.head.getLong(0) === 7L)
  }

  test("searchMaxSimBatch equals per-request MaxSim search in one pass") {
    val dir = s"${tmp()}/col"
    val mv = Tables.multiVectorDocs(t(spark, sf, "embeddings")).cache()
    val c = VectorCollection.ensure(spark, dir, mv,
      CollectionConfig("doc_id", "vecs", 64, multiVector = true))
    c.upsert(mv)
    def matOf(id: Long): Seq[Seq[Float]] = mv.filter(col("doc_id") === id).head
      .getSeq[scala.collection.Seq[Float]](1).map(_.toSeq.asInstanceOf[Seq[Float]]).toSeq
    val reqs = Seq((1L, matOf(7L)), (2L, matOf(11L)))
    val out = c.searchMaxSimBatch(reqs, k = 3).cache()
    assert(out.groupBy("q_id").count().collect().forall(_.getLong(1) === 3L))
    reqs.foreach { case (qid, qm) =>
      val standalone = c.searchMaxSim(qm, k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val batch = out.filter(col("q_id") === qid).orderBy(col("rnk"))
        .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      assert(batch === standalone, s"request $qid diverges from searchMaxSim")
    }
    // each request's own document ranks first
    assert(out.filter(col("q_id") === 1L && col("rnk") === 1L).head.getLong(1) === 7L)
    assert(out.filter(col("q_id") === 2L && col("rnk") === 1L).head.getLong(1) === 11L)
    out.unpersist(); mv.unpersist()
  }

  test("dim-1536 collection (VDR shape): config plumbing beyond the fixture dim") {
    // the VDR-2b backend declares 1536-dim vectors
    // (/root/reference/with_vdr-2b-multi-v1/incremental_indexing_vdr_2b_multi_v1.py:57);
    // prove ensure/open/search honor a non-64 dim end to end
    val dir = s"${tmp()}/col"
    val docs = t(spark, sf, "documents").limit(40)
      .select(col("doc_id"),
        Embedder.embed(Embedder.tokenHashes(col("text")), dim = 1536)
          .cast("array<float>").as("embedding"))
      .cache()
    val c = VectorCollection.ensure(spark, dir, docs,
      CollectionConfig("doc_id", "embedding", 1536, multiVector = false))
    c.upsert(docs)
    assert(VectorCollection.open(spark, dir).config.dim === 1536)
    // query with a stored doc's own text: that doc must rank first at 1536 dims
    val probe = docs.orderBy(col("doc_id")).head
    val qv = probe.getSeq[Float](1).toSeq
    assert(qv.length === 1536)
    val hits = c.search(qv, k = 3)
    assert(hits.head.getLong(0) === probe.getLong(0))
    // a fixture-dim (64) query against the 1536 collection is rejected
    intercept[IllegalArgumentException] { c.search(Seq.fill(64)(0.1f)) }
  }

  test("hybrid search over a text-payload collection fuses lexical and dense ranks") {
    val dir = s"${tmp()}/col"
    val d = t(spark, sf, "documents")
      .select(col("doc_id"),
        Embedder.embed(Embedder.tokenHashes(col("text"))).cast("array<float>").as("embedding"),
        col("text"))
      .cache()
    val c = VectorCollection.ensure(spark, dir, d,
      CollectionConfig("doc_id", "embedding", 64, multiVector = false))
    c.upsert(d)
    val hits = c.searchHybrid("text", "hash join merge", k = 5)
    assert(hits.count() === 5)
    assert(hits.columns.toSeq === Seq("doc_id", "rrf"))
    // every hit's text contains at least one query term (fixture corpus
    // is dense in these tokens, so the fused top-5 certainly does)
    val joined = hits.join(d, "doc_id")
      .filter(!col("text").contains("hash") && !col("text").contains("join") &&
        !col("text").contains("merge"))
    assert(joined.count() === 0L)
  }

  test("delete / retrieve / scroll / filtered count (Qdrant client surface)") {
    val dir = s"${tmp()}/col"
    val pts = points.cache()
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    c.upsert(pts)
    val n = c.count
    val someIds = pts.orderBy(col("point_id")).limit(3)
      .collect().map(_.getLong(0)).toSeq
    // retrieve by id
    assert(c.retrieve(someIds).count() === 3L)
    // delete by id set: gone, count drops by exactly 3
    assert(c.delete(someIds) === 3L)
    assert(c.count === n - 3)
    assert(c.retrieve(someIds).count() === 0L)
    // filtered count + delete by payload filter agree
    val folder0 = c.count(col("folder") === "src0")
    assert(c.deleteByFilter(col("folder") === "src0") === folder0)
    assert(c.count(col("folder") === "src0") === 0L)
    assert(c.count === n - 3 - folder0)
    // scroll: id-ordered disjoint pages that cover the survivors
    val p1 = c.scroll(Long.MinValue, 100).collect().map(_.getLong(0))
    assert(p1.length === 100 && p1.sorted.sameElements(p1))
    val p2 = c.scroll(p1.last, 100).collect().map(_.getLong(0))
    assert(p2.forall(_ > p1.last))
    assert((p1 ++ p2).distinct.length === 200)
  }

  test("an emptied collection, or one with no data file, answers search and searchMaxSim empty") {
    val dense = VectorCollection.ensure(spark, s"${tmp()}/dense", points,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    dense.upsert(points)
    val mv = Tables.multiVectorDocs(t(spark, sf, "embeddings"))
    val multi = VectorCollection.ensure(spark, s"${tmp()}/multi", mv,
      CollectionConfig("doc_id", "vecs", 64, multiVector = true))
    multi.upsert(mv)
    val q = Seq.fill(64)(0.125f)
    val qm = Seq(q, q.map(-_))
    assert(dense.search(q, 5).count() === 5L)
    assert(multi.searchMaxSim(qm, 5).count() === 5L)
    def searchesEmpty(): Unit = {
      assert(dense.search(q, 5).count() === 0L)
      assert(dense.search(q, 5, col("folder") === "src0").count() === 0L)
      assert(multi.searchMaxSim(qm, 5).count() === 0L)
    }
    assert(dense.deleteByFilter(lit(true)) > 0L)
    assert(multi.deleteByFilter(lit(true)) > 0L)
    searchesEmpty()
    // the zero-row files a delete leaves behind removed too: the
    // listing holds no data file at all
    Seq(dense.path, multi.path).foreach { dir =>
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).map(_.getPath).filter(_.getName.startsWith("part-"))
        .foreach(fs.delete(_, false))
    }
    searchesEmpty()
  }

  test("dimension mismatch is rejected at the API boundary") {
    val dir = s"${tmp()}/col"
    val pts = points
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    intercept[IllegalArgumentException] { c.search(Seq(1f, 2f, 3f)) }
  }

  test("wrong-dimension queries refuse by name on the grouped, batch and MaxSim calls") {
    val c = VectorCollection.ensure(spark, s"${tmp()}/col", points,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    c.upsert(points)
    val mv = Tables.multiVectorDocs(t(spark, sf, "embeddings"))
    val m = VectorCollection.ensure(spark, s"${tmp()}/mv", mv,
      CollectionConfig("doc_id", "vecs", 64, multiVector = true))
    m.upsert(mv)
    val short = Seq(1f, 2f, 3f)
    // (call, what the refusal names)
    val calls = Seq[(String, () => Any, String)](
      ("searchGroups", () => c.searchGroups(short, "doc_id"), "query dim 3"),
      ("searchGroupsWithLookup",
        () => c.searchGroupsWithLookup(short, "doc_id", c, Seq("filename")), "query dim 3"),
      ("queryBatch", () => c.queryBatch(Seq(
        graft.search.NearestBatchQuery(1L, Seq.fill(64)(0.1)),
        graft.search.NearestBatchQuery(4L, short.map(_.toDouble)))), "query 4 dim 3"),
      ("searchMaxSim", () => m.searchMaxSim(Seq(Seq.fill(64)(0.1f), short)), "token vector"))
    calls.foreach { case (what, run, named) =>
      val err = intercept[IllegalArgumentException](run())
      assert(err.getMessage.contains(named) && err.getMessage.contains("64"),
        s"$what: ${err.getMessage}")
    }
  }

  test("sharded collection: writes partition by shard key, routed search prunes") {
    val dir = s"${tmp()}/col"
    val pts = t(spark, sf, "embeddings")
      .select(col("vec_id").as("pid"), col("embedding"),
        concat(lit("t"), col("vec_id") % 4).as("tenant"))
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("pid", "embedding", 64, multiVector = false,
        shardCol = Some("tenant")))
    c.upsert(pts)
    // layout: one subtree per shard value
    val subdirs = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("tenant=")).sorted
    assert(subdirs.toSeq === Seq("tenant=t0", "tenant=t1", "tenant=t2", "tenant=t3"))
    // shard config survives reopen
    val re = VectorCollection.open(spark, dir)
    assert(re.config.shardCol === Some("tenant"))
    // routed search prunes to the shard's partition subtree
    val q = pts.filter(col("pid") === 0).head.getSeq[Float](1)
    val routed = re.searchShard(q, "t1", k = 5)
    val plan = routed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(tenant"),
      s"shard predicate must be a partition filter:\n$plan")
    // routed results equal the unsharded filter formulation
    val expect = re.search(q, 5, col("tenant") === "t1")
      .collect().map(_.getLong(0)).toSeq
    assert(routed.collect().map(_.getLong(0)).toSeq === expect)
    // file-granular rewrites are refused on sharded layouts (the
    // leaf-file re-read loses the directory-encoded shard column)
    intercept[IllegalArgumentException] { re.upsertReplace(pts.limit(1)) }
    intercept[IllegalArgumentException] { re.delete(Seq(1L)) }
    intercept[IllegalArgumentException] {
      re.setPayload(col("pid") < 10, "payload", "k", "v")
    }
    val refusedZ = intercept[IllegalArgumentException] { re.createPayloadIndexZ("pid", "pid") }
    assert(refusedZ.getMessage.contains("createPayloadIndexZ"), refusedZ.getMessage)
    val refusedIvf = intercept[IllegalArgumentException] { re.buildIvfIndex(4, 1) }
    assert(refusedIvf.getMessage.contains("buildIvfIndex"), refusedIvf.getMessage)
    // unsharded, the Z layout rewrite lets the next search see the
    // rewritten files, not the copy a search before it built
    val flatDir = s"${tmp()}/flat"
    val flatPts = pts.select(col("pid"), col("embedding"), (col("pid") % 7).as("bucket"))
    val flat = VectorCollection.ensure(spark, flatDir, flatPts,
      CollectionConfig("pid", "embedding", 64, multiVector = false))
    flat.upsert(flatPts)
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSeq
    assert(ids(flat.search(q, 5)) === bruteTopK(flatDir, q, 5, "pid"))
    assert(flat.createPayloadIndexZ("pid", "bucket", targetRowsPerFile = 100) > 1)
    assert(ids(flat.search(q, 5)) === bruteTopK(flatDir, q, 5, "pid"))
    assert(flat.count === pts.count())
  }

  test("IVF index: build once, ANN probe filters clusters below the scoring and finds the query point") {
    val dir = s"${tmp()}/col"
    val e = t(spark, sf, "embeddings")
      .select(col("vec_id").as("pid"), col("embedding"), col("label"))
    val c = VectorCollection.ensure(spark, dir, e,
      CollectionConfig("pid", "embedding", 64, multiVector = false))
    c.upsert(e)
    // searchAnn before build fails by name
    val q = e.filter(col("pid") === 7).head.getSeq[Float](1)
    intercept[IllegalArgumentException] { c.searchAnn(q) }
    c.buildIvfIndex(nClusters = 8, lloydIters = 1)
    // a stored point probing its own cluster must surface itself at 1.0
    val hits = c.searchAnn(q, k = 5, nprobe = 1).collect()
    assert(hits.head.getLong(0) === 7L && hits.head.getDouble(1) === 1.0)
    // the probe is real: a cluster_id predicate (IN, or = for one
    // cluster) sits below the scoring projection, and the rows it
    // passes to scoring are fewer than the collection's at nprobe = 1
    // and grow with nprobe
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    def probeFilters(p: SparkPlan): Seq[FilterExec] = p.collect {
      case f: FilterExec if f.condition.references.exists(_.name == "cluster_id") => f
    }
    def scoredRows(nprobe: Int): Long = {
      val df = c.searchAnn(q, k = 5, nprobe = nprobe)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val filters = probeFilters(plan)
      assert(filters.size === 1, s"one cluster probe predicate:\n$plan")
      assert(!filters.head.output.exists(_.name == "score") &&
        plan.collect { case n if n.output.exists(_.name == "score") => n }
          .exists(n => probeFilters(n).nonEmpty),
        s"the probe predicate must sit below the scoring projection:\n$plan")
      filters.head.metrics("numOutputRows").value
    }
    val total = c.count
    val scored = Seq(1, 2, 4).map(scoredRows)
    assert(scored.head > 0 && scored.head < total, s"nprobe 1 scores $scored of $total")
    assert(scored === scored.sorted && scored.last > scored.head, s"scored rows by nprobe $scored")
    // wider probe can only add candidates (recall is monotone in nprobe)
    val r1 = c.searchAnn(q, k = 50, nprobe = 1).count()
    val r2 = c.searchAnn(q, k = 50, nprobe = 4).count()
    assert(r2 >= r1)
    // filtered probe composes with payload predicates
    val filtered = c.searchAnn(q, k = 5, nprobe = 8, filter = col("label") === 3)
    assert(filtered.collect().forall(_.getDouble(1) <= 1.0))
    // a filter written against the COLLECTION's id name (as exact
    // search accepts) must work on the ANN path too
    val byId = c.searchAnn(q, k = 5, nprobe = 8, filter = col("pid") < 100)
    assert(byId.collect().forall(_.getLong(0) < 100))
    // index survives reopen (sidecar centroids)
    val reopened = VectorCollection.open(spark, dir)
    assert(reopened.searchAnn(q, k = 1, nprobe = 1).head.getLong(0) === 7L)
  }

  test("IVF clusters are a column every write keeps current: after each write, searchAnn probing every cluster equals search") {
    import spark.implicits._
    val root = tmp()
    val dir = s"$root/col"
    val e = t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
        map(lit("src"), col("label").cast("string")).as("payload"))
    val all = e.collect()
    val vecOf = all.map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val held = e.filter(col("vec_id") >= 400)
    val c = VectorCollection.ensure(spark, dir, e,
      CollectionConfig("vec_id", "embedding", 64, multiVector = false))
    c.upsert(e.filter(col("vec_id") < 400))
    assert(c.buildIvfIndex(nClusters = 4, lloydIters = 1) === dir)
    // the index is the collection itself: nothing beside it
    assert(new java.io.File(root).list().toSeq === Seq("col"))
    val cents = scala.io.Source.fromFile(s"$dir/_graft_centroids.txt").getLines()
      .filter(_.nonEmpty).map { l =>
        val p = l.split(","); (p.head.toLong, p.tail.map(_.toFloat))
      }.toSeq
    assert(cents.size === 4)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val queries = Seq(7L, 11L, 123L, 450L).map(vecOf)
    // every stored row carries the cluster of its vector, and a full
    // probe answers exactly as exact search does, through this handle
    // and through a fresh one
    def assertIndexed(after: String, filter: org.apache.spark.sql.Column = lit(true)): Unit = {
      val rows = spark.read.parquet(dir).select("vec_id", "embedding", "cluster_id").collect()
      rows.foreach { r =>
        val want = graft.ops.Similarity.rankCentroids(cents, r.getSeq[Float](1).toArray).head
        assert(r.getLong(2) === want, s"after $after: point ${r.getLong(0)}'s cluster_id")
      }
      Seq(c, VectorCollection.open(spark, dir)).foreach { h =>
        queries.foreach { q =>
          assert(pairs(h.searchAnn(q, k = 10, nprobe = 4, filter = filter)) ===
            pairs(h.search(q, 10, filter)), s"after $after")
        }
      }
    }
    assertIndexed("buildIvfIndex")
    c.upsert(held.filter(col("vec_id") < 420))
    assertIndexed("upsert")
    assert(c.upsertIncremental(held.filter(col("vec_id") < 440)) === 20L)
    assertIndexed("upsertIncremental")
    c.snapshot(s"$root/snap")
    assert(c.delete(Seq(7L)) === 1L)
    assertIndexed("delete")
    assert(!pairs(c.searchAnn(vecOf(7L), k = 10, nprobe = 4)).exists(_._1 == 7L),
      "a deleted point must not be found")
    assert(c.deleteByFilter(col("vec_id").between(20L, 29L)) === 10L)
    assertIndexed("deleteByFilter")
    val replaced = held.filter(col("vec_id") >= 460).union(e.filter(col("vec_id") === 30L)
      .select(col("vec_id"), transform(col("embedding"), x => -x).as("embedding"),
        col("label"), col("payload")))
    assert(c.upsertReplace(replaced) === 41L)
    assertIndexed("upsertReplace")
    val negated = vecOf(11L).map(-_)
    assert(c.updateVectors(Map(11L -> negated)) === 1L)
    assertIndexed("updateVectors")
    // the point moved to its new vector's cluster: the narrowest probe
    // finds it at 1.0, and its old vector no longer ranks it first
    val moved = pairs(c.searchAnn(negated, k = 3, nprobe = 1))
    assert(moved.head === ((11L, 1.0)), s"$moved")
    assert(pairs(c.searchAnn(vecOf(11L), k = 3, nprobe = 4)).head._1 != 11L)
    assert(c.setPayload(col("vec_id") < 100, "payload", "k", "v") > 0L)
    assertIndexed("setPayload", filter = try_element_at(col("payload"), lit("k")) === "v")
    c.compact(1000000L)
    assertIndexed("compact")
    c.restoreSnapshot(s"$root/snap")
    assertIndexed("restoreSnapshot")
    assert(c.count === 440L)
    assert(pairs(c.searchAnn(vecOf(7L), k = 1, nprobe = 1)) === Seq((7L, 1.0)))
    // a snapshot taken before the build restores an unindexed collection
    val plain = s"$root/plain"
    val p = VectorCollection.ensure(spark, plain, e,
      CollectionConfig("vec_id", "embedding", 64, multiVector = false))
    p.upsert(e)
    p.snapshot(s"$root/plain_snap")
    p.buildIvfIndex(nClusters = 4, lloydIters = 1)
    p.restoreSnapshot(s"$root/plain_snap")
    assert(!new java.io.File(s"$plain/_graft_centroids.txt").exists())
    assert(!spark.read.parquet(plain).columns.contains("cluster_id"))
    val err = intercept[IllegalArgumentException] { p.searchAnn(vecOf(7L)) }
    assert(err.getMessage.contains("buildIvfIndex"), err.getMessage)
  }

  test("buildIvfIndex refuses by name to overwrite a payload column named cluster_id") {
    val dir = s"${tmp()}/col"
    val e = t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"), (col("label") % 3).as("cluster_id"))
    val c = VectorCollection.ensure(spark, dir, e,
      CollectionConfig("vec_id", "embedding", 64, multiVector = false))
    c.upsert(e)
    val err = intercept[IllegalArgumentException] { c.buildIvfIndex(4, 1) }
    assert(err.getMessage.contains("cluster_id") && err.getMessage.contains("buildIvfIndex"),
      err.getMessage)
    // the user's column is untouched
    assert(spark.read.parquet(dir).select("vec_id", "cluster_id").collect().toSet ===
      e.select("vec_id", "cluster_id").collect().toSet)
  }

  test("searchBatch: no requests give an empty frame; 300 random requests equal per-request search") {
    val dir = s"${tmp()}/col"
    val e = t(spark, sf, "embeddings").select("vec_id", "embedding", "label")
    val c = VectorCollection.ensure(spark, dir, e,
      CollectionConfig("vec_id", "embedding", 64, multiVector = false))
    c.upsert(e)
    val rnd = new scala.util.Random(11)
    val reqs = (1 to 300).map(i => i.toLong -> Seq.fill(64)(rnd.nextGaussian().toFloat))
    val batch = c.searchBatch(reqs, 5)
    val empty = c.searchBatch(Nil, 5)
    assert(batch.columns.toSeq === Seq("q_id", "vec_id", "score", "rnk"))
    assert(empty.schema === batch.schema)
    assert(empty.collect().isEmpty)
    val got = batch.collect().groupBy(_.getLong(0))
    assert(got.keySet === reqs.map(_._1).toSet)
    reqs.foreach { case (qid, v) =>
      val mine = got(qid).sortBy(_.getLong(3))
      assert(mine.map(_.getLong(3)).toSeq === (1L to 5L))
      assert(mine.map(r => (r.getLong(1), r.getDouble(2))).toSeq ===
        c.search(v, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq, s"request $qid")
    }
  }

  test("ANN on a euclid collection ranks by distance ASC, agreeing with exact search") {
    val dir = s"${tmp()}/coleu"
    val e = t(spark, sf, "embeddings")
      .select(col("vec_id").as("pid"), col("embedding"), col("label"))
    val c = VectorCollection.ensure(spark, dir, e,
      CollectionConfig("pid", "embedding", 64, multiVector = false,
        distance = "euclid"))
    c.upsert(e)
    c.buildIvfIndex(nClusters = 4, lloydIters = 1)
    val q = e.filter(col("pid") === 7).head.getSeq[Float](1)
    // with EVERY cluster probed the ANN candidate set is the whole
    // collection, so the ranking must be exactly exact search's —
    // the pre-fix cosine-DESC scoring returned the FARTHEST points
    val ann = c.searchAnn(q, k = 5, nprobe = 4).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val exact = c.search(q, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(ann.toSeq === exact.toSeq,
      s"full-probe ANN must equal exact search on a euclid collection:\n" +
        s"ann=${ann.toSeq}\nexact=${exact.toSeq}")
    // the self-match is nearest at distance 0, ranked FIRST
    assert(ann.head === ((7L, 0.0)))
    // recommend average_vector is METRIC-AWARE: the strategy only
    // builds a query vector, then ranks like exact search. pos=[7]
    // with no negatives makes that vector point 7's own, so the hits
    // must equal exact search's (distance ASC), minus the excluded
    // example itself
    val recHits = c.recommend(Seq(7L), Nil, 5).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val expected = c.search(q, 6).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).filterNot(_._1 == 7L).take(5).toSeq
    assert(recHits === expected,
      s"euclid recommend must rank distance ASC:\nrec=$recHits\nexp=$expected")
    assert(recHits.map(_._2) === recHits.map(_._2).sorted,
      "distances must be non-decreasing down the hit list")
    // the batch forms rank under the same metric as their singletons
    val recBatch = c.recommendBatch(Seq((1L, Seq(7L), Nil)), 5).collect()
      .sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(recBatch === recHits, "euclid recommendBatch == singleton recommend")
    val qb = c.queryBatch(Seq(graft.search.ByIdBatchQuery(1L, 7L)), 5).collect()
      .sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(qb === expected, "euclid queryBatch by-id == exact search minus self")
    // searchBatch and a plain-vector queryBatch request score under the
    // collection's metric too: each request's hits are search's on its
    // vector, scores included
    val q9 = e.filter(col("pid") === 9).head.getSeq[Float](1)
    def searched(v: Seq[Float]) =
      c.search(v, 5).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    def perRequest(hits: org.apache.spark.sql.DataFrame) =
      hits.collect().groupBy(_.getLong(0)).map { case (rid, rs) =>
        rid -> rs.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    assert(perRequest(c.searchBatch(Seq((1L, q), (2L, q9)), 5)) ===
      Map(1L -> exact.toSeq, 2L -> searched(q9)), "euclid searchBatch == search")
    assert(perRequest(c.queryBatch(Seq(
        graft.search.NearestBatchQuery(1L, q.map(_.toDouble))), 5)) ===
      Map(1L -> exact.toSeq), "euclid queryBatch nearest == search")
    // the strategy family is metric-aware since r11: with the single
    // positive example 7 and no negatives, best_score's max-over-
    // positives and sum_scores' one-term fold both collapse to
    // −d(v, v7) ranked DESC = distance ASC — exactly exact search's
    // order minus the excluded example
    val expIds = expected.map(_._1)
    assert(c.recommendBest(Seq(7L), Nil, 5).collect()
      .map(_.getLong(0)).toSeq === expIds,
      "euclid best_score(pos=[7]) must rank by distance ASC")
    assert(c.recommendSum(Seq(7L), Nil, 5).collect()
      .map(_.getLong(0)).toSeq === expIds,
      "euclid sum_scores(pos=[7]) must rank by distance ASC")
    // discovery on euclid: pair satisfaction flips to d_pos ≤ d_neg,
    // sim stays a distance, ordering (ctx_hits DESC, sim ASC)
    val disc = c.discover(7L, Seq((1L, 2L)), 5).collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(disc.map(_._1) === disc.map(_._1).sorted.reverse,
      "euclid discover: ctx_hits must be non-increasing")
    disc.groupBy(_._1).values.foreach { g =>
      assert(g.map(_._2).toSeq === g.map(_._2).toSeq.sorted,
        "euclid discover: within a hit tier, distance must rank ASC") }
    // grouped search on euclid: a group's best is its MIN distance,
    // group 1 is the query's own group with best = 0.0 (self-match),
    // and hits inside each group rank distance ASC
    val grps = c.searchGroups(q, "label", groupSize = 3, limit = 3).collect()
      .sortBy(r => (r.getLong(0), r.getLong(5)))
    assert(grps.head.getDouble(2) === 0.0 && grps.head.getLong(3) === 7L,
      s"euclid searchGroups: group 1 leads with the self-match at d=0")
    grps.groupBy(_.getLong(1)).values.foreach { g =>
      val scores = g.sortBy(_.getLong(5)).map(_.getDouble(4)).toSeq
      assert(scores === scores.sorted,
        "euclid searchGroups: hits inside a group must rank distance ASC") }
    assert(c.recommendGroups(Seq(7L), Nil, "label").collect().nonEmpty,
      "euclid recommendGroups must run metric-aware")
    // MMR and the distance matrix are metric-aware too (r16 — Qdrant
    // runs both under any Distance): MMR's first pick is the NEAREST
    // point (the self-match at d=0) with score = the raw distance;
    // λ=1 degenerates to plain distance-ASC order; the matrix ranks
    // each sampled point's neighbors distance ASC
    val mmrHits = c.searchMmr(q, k = 3, lambda = 1.0, fetchN = 8).collect()
    assert(mmrHits.head.getLong(1) === 7L && mmrHits.head.getDouble(2) === 0.0,
      "euclid MMR: first pick is the self-match at raw distance 0")
    val plainIds = c.search(q, 3).collect().map(_.getLong(0)).toSeq
    assert(mmrHits.map(_.getLong(1)).toSeq === plainIds,
      "euclid MMR with lambda=1 must collapse to plain distance order")
    val mp = c.matrixPairs(10, k = 2).collect()
    assert(mp.nonEmpty)
    mp.groupBy(_.getLong(0)).values.foreach { g =>
      val byRank = g.sortBy(_.getLong(3)).map(_.getDouble(2)).toSeq
      assert(byRank === byRank.sorted,
        "euclid matrixPairs: neighbor ranks must follow distance ASC") }
  }

  test("update_vectors: named points re-vectorized in place, payload/count untouched") {
    val dir = s"${tmp()}/col"
    val pts = t(spark, sf, "embeddings")
      .select(col("vec_id").as("pid"), col("embedding"),
        map(lit("src"), concat(lit("s"), col("vec_id") % 3)).as("payload"))
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("pid", "embedding", 64, multiVector = false))
    c.upsert(pts)
    val n = c.count
    val v1 = Seq.tabulate(64)(i => if (i == 0) 1f else 0f)
    val v2 = Seq.tabulate(64)(i => if (i == 1) 1f else 0f)
    val nUpd = c.updateVectors(Map(5L -> v1, 9L -> v2))
    assert(nUpd === 2)
    val after = spark.read.parquet(dir)
    assert(after.count() === n, "update_vectors must not change row count")
    val got5 = after.filter(col("pid") === 5).head
    assert(got5.getSeq[Float](got5.fieldIndex("embedding")) === v1)
    val got9 = after.filter(col("pid") === 9).head
    assert(got9.getSeq[Float](got9.fieldIndex("embedding")) === v2)
    // payload untouched on updated rows; other vectors untouched
    assert(got5.getMap[String, String](got5.fieldIndex("payload"))("src") === "s2")
    val before7 = pts.filter(col("pid") === 7).head.getSeq[Float](1)
    val after7 = after.filter(col("pid") === 7).head
    assert(after7.getSeq[Float](after7.fieldIndex("embedding")) === before7)
    // dim mismatch fails loudly
    intercept[IllegalArgumentException] {
      c.updateVectors(Map(1L -> Seq(1f, 2f)))
    }
  }

  test("payload mutation: set/delete/clear payload keys by filter (file-granular)") {
    val dir = s"${tmp()}/col"
    val pts = t(spark, sf, "embeddings")
      .select(col("vec_id").as("pid"), col("embedding"),
        map(lit("src"), concat(lit("s"), col("vec_id") % 3)).as("payload"))
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("pid", "embedding", 64, multiVector = false))
    c.upsert(pts)
    val n = c.count
    // set: add reviewed=yes on pid < 100
    val nSet = c.setPayload(col("pid") < 100, "payload", "reviewed", "yes")
    assert(nSet === 100)
    val after = spark.read.parquet(dir)
    assert(after.count() === n, "payload update must not change row count")
    assert(after.filter(element_at(col("payload"), "reviewed") === "yes").count() === 100)
    assert(after.filter(col("pid") < 100 &&
      element_at(col("payload"), "src").isNull).count() === 0,
      "set_payload keeps other keys")
    // set again on same rows overwrites, not duplicates
    c.setPayload(col("pid") < 100, "payload", "reviewed", "no")
    val again = spark.read.parquet(dir)
    assert(again.filter(element_at(col("payload"), "reviewed") === "no").count() === 100)
    // delete key
    val nDel = c.deletePayloadKey(col("pid") < 50, "payload", "reviewed")
    assert(nDel === 50)
    assert(spark.read.parquet(dir)
      .filter(element_at(col("payload"), "reviewed").isNotNull).count() === 50)
    // clear
    c.clearPayload(col("pid") >= 400, "payload")
    assert(spark.read.parquet(dir)
      .filter(col("pid") >= 400 && size(col("payload")) =!= 0).count() === 0)
    // set on a NULL payload creates it (Qdrant set_payload semantics)
    val nullPay = t(spark, sf, "embeddings")
      .filter(col("vec_id") < 3)
      .select((col("vec_id") + 10000).as("pid"), col("embedding"),
        lit(null).cast("map<string,string>").as("payload"))
    c.upsert(nullPay)
    val nNull = c.setPayload(col("pid") >= 10000, "payload", "fresh", "yes")
    assert(nNull === 3)
    assert(spark.read.parquet(dir)
      .filter(col("pid") >= 10000 &&
        element_at(col("payload"), "fresh") === "yes").count() === 3,
      "set_payload must create the payload map when it was NULL")
  }

  test("distance metric config: euclid collection ranks ASC and survives reopen") {
    val dir = s"${tmp()}/col"
    val pts = t(spark, sf, "embeddings")
      .select(col("vec_id").as("pid"), col("embedding"))
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("pid", "embedding", 64, multiVector = false,
        distance = "euclid"))
    c.upsert(pts)
    val q = t(spark, sf, "embeddings").filter(col("vec_id") === 0)
      .head.getSeq[Float](1)
    val hits = c.search(q, k = 5).collect()
    // the query point itself is distance 0 and must rank first
    assert(hits.head.getLong(0) === 0L && hits.head.getDouble(1) === 0.0)
    val scores = hits.map(_.getDouble(1)).toSeq
    assert(scores === scores.sorted, "euclid ranks ascending (smaller = closer)")
    // distance threshold flips to a CEILING for distance metrics
    val capped = c.search(q, k = 100, filter = lit(true),
      scoreThreshold = Some(scores(2)))
    assert(capped.collect().forall(_.getDouble(1) <= scores(2)))
    // the metric persists in _graft_meta.json across open()
    val reopened = VectorCollection.open(spark, dir)
    assert(reopened.config.distance === "euclid")
    assert(reopened.search(q, k = 1).head.getLong(0) === 0L)
  }

  test("payload update crash recovery: committed update finishes, uncommitted aborts") {
    import org.apache.hadoop.fs.Path
    import graft.index.Sink
    val dir = s"${tmp()}/col"
    val pts = t(spark, sf, "embeddings")
      .select(col("vec_id").as("pid"), col("embedding"),
        map(lit("src"), lit("orig")).as("payload"))
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("pid", "embedding", 64, multiVector = false))
    c.upsert(pts)
    val n = c.count
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = new Path(dir, "_payload_staging")
    val marker = new Path(dir, "_payload_commit")

    // hand-build the state a crash leaves right AFTER the commit
    // marker: rewrite staged, originals still in place, nothing moved
    val touched = spark.read.parquet(dir)
      .withColumn("_f", input_file_name()).filter(col("pid") < 100)
      .select(col("_f")).distinct().collect().map(_.getString(0))
    assert(touched.nonEmpty)
    spark.read.parquet(touched.toIndexedSeq: _*)
      .select(col("pid"), col("embedding"),
        when(col("pid") < 100, map(lit("src"), lit("orig"), lit("crash"), lit("yes")))
          .otherwise(col("payload")).as("payload"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staging.toString)
    val out = fs.create(marker, true)
    try out.write(touched.mkString("\n").getBytes("UTF-8")) finally out.close()
    // staging + marker are underscore-prefixed: readers still see the
    // pre-update collection, no torn state
    assert(spark.read.parquet(dir).count() === n)
    assert(spark.read.parquet(dir)
      .filter(element_at(col("payload"), "crash") === "yes").count() === 0)

    // repair finishes the committed update exactly once
    assert(Sink.repairPayloadUpdate(spark, dir))
    val after = spark.read.parquet(dir)
    assert(after.count() === n, "repair must not duplicate or drop rows")
    assert(after.filter(element_at(col("payload"), "crash") === "yes").count() === 100)
    assert(!fs.exists(marker) && !fs.exists(staging))
    assert(!Sink.repairPayloadUpdate(spark, dir), "clean collection needs no repair")

    // a crash BEFORE the marker (staging debris only) aborts cleanly
    after.limit(5).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(staging.toString)
    assert(Sink.repairPayloadUpdate(spark, dir))
    assert(!fs.exists(staging))
    assert(spark.read.parquet(dir).count() === n, "abort must leave data untouched")
  }

  test("search_groups with_lookup joins the second collection's record onto each group") {
    val dir = s"${tmp()}/col"
    val lkDir = s"${tmp()}/lk"
    val pts = points.cache()
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    c.upsert(pts)
    val docs = t(spark, sf, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
    val lk = VectorCollection.ensure(spark, lkDir, docs,
      CollectionConfig("doc_id", "doc_id", 1, multiVector = false))
    lk.upsert(docs)
    val qv = spark.range(1)
      .select(Embedder.embedRaw(Embedder.tokenHashes(lit("fast table scan merge"))).as("v"))
      .head.getSeq[Double](0).map(_.toFloat)
    val out = c.searchGroupsWithLookup(qv, "doc_id", lk, Seq("lang", "n_chars"),
      groupSize = 1, limit = 5).collect()
    assert(out.length === 5)
    // every group resolved its document and the lookup id matches
    assert(out.forall(r => !r.isNullAt(r.fieldIndex("lk_lang"))))
    val langs = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.forall(r =>
      langs(r.getLong(r.fieldIndex("grp"))) == r.getString(r.fieldIndex("lk_lang"))))
  }

  test("named vectors: per-name search parity, config round-trip, column pruning") {
    val dir = s"${tmp()}/col"
    // one point, two named embeddings: 'full' is the default vector,
    // 'head' is its 32-dim prefix under its own column
    val pts = points
      .select(col("point_id"), col("embedding"),
        col("embedding").as("v_full"),
        slice(col("embedding"), 1, 32).as("v_head"))
      .cache()
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false,
        namedVectors = Map("full" -> ("v_full", 64), "head" -> ("v_head", 32))))
    c.upsert(pts)
    val qv = spark.range(1)
      .select(Embedder.embedRaw(Embedder.tokenHashes(lit("fast table scan merge"))).as("v"))
      .head.getSeq[Double](0).map(_.toFloat)
    // using='full' ranks exactly like the unnamed default vector
    val viaName = c.searchUsing("full", qv, k = 5).collect().map(_.getLong(0)).toSeq
    val viaDefault = c.search(qv, k = 5).collect().map(_.getLong(0)).toSeq
    assert(viaName === viaDefault)
    // using='head' validates ITS dim and scores its own column
    intercept[IllegalArgumentException] { c.searchUsing("head", qv, k = 5) }
    intercept[IllegalArgumentException] { c.searchUsing("nope", qv.take(32), k = 5) }
    val headHits = c.searchUsing("head", qv.take(32), k = 5)
    assert(headHits.count() === 5)
    // the scale property of per-name COLUMNS: searching one name never
    // reads the other names' bytes
    val read = headHits.queryExecution.executedPlan.toString
    assert(read.contains("v_head") && !read.contains("v_full"),
      s"search using 'head' must column-prune 'v_full' from the scan:\n$read")
    // config survives reopen
    val reopened = VectorCollection.open(spark, dir)
    assert(reopened.config.namedVectors ===
      Map("full" -> ("v_full", 64), "head" -> ("v_head", 32)))
    assert(reopened.searchUsing("head", qv.take(32), k = 5)
      .collect().map(_.getLong(0)).toSeq ===
      headHits.collect().map(_.getLong(0)).toSeq)
  }

  test("query by point id: nearest to the stored vector, self excluded") {
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, points,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    c.upsert(points)
    val anchor = points.orderBy(col("point_id")).head
    val id = anchor.getLong(0)
    val byId = c.queryByPointId(id, k = 5).collect()
    assert(byId.length === 5)
    assert(!byId.exists(_.getLong(0) == id), "the anchor never returns itself")
    // parity: identical to searching with the stored vector, minus self
    val v = anchor.getSeq[Float](1).toSeq
    val byVec = c.search(v, k = 6).collect().filter(_.getLong(0) != id).take(5)
    assert(byId.map(_.getLong(0)).toSeq === byVec.map(_.getLong(0)).toSeq)
    intercept[IllegalArgumentException] { c.queryByPointId(-999L) }
  }

  test("get_collection info: counts, segments, config — and it tracks mutations") {
    val dir = s"${tmp()}/col"
    val c = VectorCollection.ensure(spark, dir, points,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    c.upsert(points)
    val i = c.info
    assert(i.pointsCount === c.count && i.pointsCount > 0)
    assert(i.segmentsCount >= 1)
    assert(i.config.dim === 64 && i.config.distance === "cosine")
    c.upsert(points) // second append → more points, more segments
    val i2 = c.info
    assert(i2.pointsCount === i.pointsCount * 2)
    assert(i2.segmentsCount >= i.segmentsCount)
  }

  test("delete_vectors clears ONE named vector; point, payload, other vectors stay") {
    val dir = s"${tmp()}/col"
    val pts = points
      .select(col("point_id"), col("embedding"),
        col("embedding").as("v_full"),
        slice(col("embedding"), 1, 32).as("v_head"))
      .cache()
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false,
        namedVectors = Map("full" -> ("v_full", 64), "head" -> ("v_head", 32))))
    c.upsert(pts)
    val victim = pts.orderBy(col("point_id")).head.getLong(0)
    val n = c.deleteVectors("head", Seq(victim))
    assert(n === 1)
    val row = spark.read.parquet(dir).filter(col("point_id") === victim).head
    assert(row.isNullAt(row.fieldIndex("v_head")), "named vector cleared")
    assert(!row.isNullAt(row.fieldIndex("v_full")), "other named vector stays")
    assert(!row.isNullAt(row.fieldIndex("embedding")), "default vector stays")
    assert(c.count === pts.count(), "the point itself is NOT deleted")
    intercept[IllegalArgumentException] { c.deleteVectors("nope", Seq(victim)) }
  }

  test("the resident copy leaves named vectors out; a filter naming one reads parquet") {
    val dir = s"${tmp()}/col"
    val pts = points
      .select(col("point_id"), col("embedding"),
        col("embedding").as("v_full"),
        slice(col("embedding"), 1, 32).as("v_head"))
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false,
        namedVectors = Map("full" -> ("v_full", 64), "head" -> ("v_head", 32))))
    c.upsert(pts)
    val anchor = pts.orderBy(col("point_id")).head
    val victim = anchor.getLong(0)
    assert(c.deleteVectors("head", Seq(victim)) === 1L)
    val q = anchor.getSeq[Float](1).toSeq
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getLong(0)).toSeq
    val plain = c.search(q, 6)
    val plan = plain.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryRelation") && !plan.contains("v_full") &&
      !plan.contains("v_head"), s"the copy must not hold named vectors:\n$plan")
    assert(ids(plain).head === victim)
    val withHead = c.search(q, 5, graft.search.Filter(
      must = Seq(graft.search.HasVectorCond("v_head"))))
    assert(!withHead.queryExecution.executedPlan.toString.contains("InMemoryRelation"))
    assert(ids(withHead) === ids(plain).filterNot(_ == victim).take(5))
  }

  test("batch_update_points applies mixed operations in order") {
    val dir = s"${tmp()}/col"
    val pts = points.limit(10).cache()
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    val ids = pts.orderBy(col("point_id")).collect().map(_.getLong(0))
    val newVec = Seq.tabulate(64)(i => if (i == 2) 1f else 0f)
    val counts = c.batchUpdate(Seq(
      UpsertOp(pts),
      DeleteOp(Seq(ids(0))),
      UpdateVectorsOp(Map(ids(1) -> newVec))))
    assert(counts === Seq(10L, 1L, 1L))
    assert(c.count === 9)
    val r = c.retrieve(Seq(ids(1))).head
    assert(r.getSeq[Float](r.fieldIndex("embedding")) === newVec,
      "later ops see earlier ops' effects (ordered visibility)")
    // a delete of an id removed earlier in the SAME batch touches 0 points
    assert(c.batchUpdate(Seq(DeleteOp(Seq(ids(0))))) === Seq(0L))
  }

  test("with_payload / with_vectors shape the search and scroll responses") {
    import graft.api.PayloadSelector
    val dir = s"${tmp()}/col"
    val pts = points.cache()
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    c.upsert(pts)
    val qv = Seq.tabulate(64)(i => if (i == 0) 1f else 0f)

    // default search: ids + scores only (with_payload=False shape)
    val bare = c.search(qv, k = 5)
    assert(bare.columns.toSeq === Seq("point_id", "score"))

    // with_payload=True: every payload column, never the vector
    val full = c.search(qv, 5, lit(true), None, PayloadSelector.All,
      withVectors = false)
    assert(full.columns.toSeq ===
      Seq("point_id", "score", "doc_id", "filename", "folder"))
    // shaping must not change WHICH hits return, nor their order
    assert(full.select("point_id").collect().map(_.getLong(0)).toSeq ===
      bare.select("point_id").collect().map(_.getLong(0)).toSeq)

    // with_payload subset keeps the requested order; with_vectors
    // appends the stored vector
    val sub = c.search(qv, 5, lit(true), None,
      PayloadSelector.Subset(Seq("folder")), withVectors = true)
    assert(sub.columns.toSeq === Seq("point_id", "score", "folder", "embedding"))
    assert(sub.count() === 5)

    // unknown payload name fails by name, not silently
    val err = intercept[IllegalArgumentException] {
      c.search(qv, 5, lit(true), None,
        PayloadSelector.Subset(Seq("nope")), withVectors = false)
    }
    assert(err.getMessage.contains("nope"))

    // scroll flags: payload-only page drops the vector bytes before the
    // page sort (column-pruned scan), ids page drops everything
    val page = c.scroll(-1L, 4, PayloadSelector.All, withVectors = false)
    assert(page.columns.toSeq === Seq("point_id", "doc_id", "filename", "folder"))
    assert(page.count() === 4)
    val idsOnly = c.scroll(-1L, 4, PayloadSelector.NoPayload, withVectors = false)
    assert(idsOnly.columns.toSeq === Seq("point_id"))
    // the scroll projection prunes the vector column AT THE SCAN
    val scan = page.queryExecution.executedPlan.toString
    assert(!scan.contains("embedding"),
      s"scroll(with_vectors=false) must not read vector bytes:\n$scan")
  }

  test("searchSparse: intersection dot, zero-overlap skipped, config round-trips") {
    import spark.implicits._
    val dir = s"${tmp()}/cols"
    val pts = Seq(
      (1L, Seq(1, 5, 9), Seq(1.0f, 2.0f, 3.0f)),
      (2L, Seq(5, 9), Seq(10.0f, 1.0f)),
      (3L, Seq(2, 4), Seq(9.0f, 9.0f)), // no overlap with the query
      (4L, Seq(9), Seq(4.0f))
    ).toDF("point_id", "s_idx", "s_val")
      .withColumn("embedding", typedlit(Seq.fill(4)(0.5f)))
    val cfg = CollectionConfig("point_id", "embedding", 4,
      multiVector = false,
      sparseVectors = Map("text" -> (("s_idx", "s_val"))))
    val c = VectorCollection.ensure(spark, dir, pts, cfg)
    c.upsert(pts)
    // query {5: 2.0, 9: 1.0}: p1 = 2*2+3*1 = 7, p2 = 10*2+1*1 = 21,
    // p4 = 4, p3 skipped (no shared dims)
    val hits = c.searchSparse("text", Seq(5 -> 2.0, 9 -> 1.0), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    assert(hits.toSeq === Seq(2L -> 21.0, 1L -> 7.0, 4L -> 4.0))
    // persisted config round-trips through open()
    val reopened = VectorCollection.open(spark, dir)
    assert(reopened.config.sparseVectors === cfg.sparseVectors)
    // {9:1}: p1 = 3, p2 = 1, p4 = 4 → p4 wins
    assert(reopened.searchSparse("text", Seq(9 -> 1.0), 1)
      .head.getLong(0) === 4L)
    // unknown names fail by name; the plan cut is TakeOrderedAndProject
    val err = intercept[IllegalArgumentException] {
      c.searchSparse("nope", Seq(1 -> 1.0))
    }
    assert(err.getMessage.contains("nope") && err.getMessage.contains("text"))
    val plan = c.searchSparse("text", Seq(5 -> 2.0), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject") &&
      !plan.contains("Exchange hashpartitioning"), plan)
  }

  test("queryHybrid: RRF fuses sparse and dense prefetch lists; singletons half-score") {
    import spark.implicits._
    val dir = s"${tmp()}/colh"
    // dense vectors: p1 nearest the query, then p2, p3; p4 orthogonal.
    // sparse: p4 dominates, p2 present, p1/p3 no overlap.
    val pts = Seq(
      (1L, Seq(1.0f, 0.0f), Seq(7), Seq(1.0f)),
      (2L, Seq(0.9f, 0.1f), Seq(3), Seq(2.0f)),
      (3L, Seq(0.8f, 0.2f), Seq(8), Seq(1.0f)),
      (4L, Seq(0.0f, 1.0f), Seq(3), Seq(9.0f))
    ).toDF("point_id", "embedding", "s_idx", "s_val")
    val cfg = CollectionConfig("point_id", "embedding", 2,
      multiVector = false,
      sparseVectors = Map("text" -> (("s_idx", "s_val"))))
    val c = VectorCollection.ensure(spark, dir, pts, cfg)
    c.upsert(pts)
    val hits = c.queryHybrid("text", Seq(3 -> 1.0), Seq(1.0f, 0.0f), k = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // p2 is in BOTH lists (sparse rank 2, dense rank 2) → 2/(62);
    // p4: sparse rank 1 + dense rank 4; p1: dense rank 1 only
    assert(math.abs(hits(2L) - 2.0 / 62) < 1e-6)
    assert(math.abs(hits(4L) - (1.0 / 61 + 1.0 / 64)) < 1e-6)
    assert(math.abs(hits(1L) - 1.0 / 61) < 1e-6)
    assert(hits(2L) > hits(4L) && hits(4L) > hits(1L),
      "both-list membership must outrank single-list membership here")
  }

  test("queryHybrid on a euclid collection: dense RRF ranks follow distance ASC") {
    import spark.implicits._
    val dir = s"${tmp()}/colhe"
    // query (0,0): p1 nearest (d=0.1), p2 (d=0.5), p3 farthest (d=1.0).
    // sparse query {3:1.0} matches only p2. Ranking the dense list by
    // score DESC (the similarity convention) would hand the FARTHEST
    // point dense rank 1 — euclid scores are distances, asc.
    val pts = Seq(
      (1L, Seq(0.1f, 0.0f), Seq(7), Seq(1.0f)),
      (2L, Seq(0.5f, 0.0f), Seq(3), Seq(2.0f)),
      (3L, Seq(1.0f, 0.0f), Seq(8), Seq(1.0f))
    ).toDF("point_id", "embedding", "s_idx", "s_val")
    val cfg = CollectionConfig("point_id", "embedding", 2,
      multiVector = false, distance = "euclid",
      sparseVectors = Map("text" -> (("s_idx", "s_val"))))
    val c = VectorCollection.ensure(spark, dir, pts, cfg)
    c.upsert(pts)
    val hits = c.queryHybrid("text", Seq(3 -> 1.0), Seq(0.0f, 0.0f), k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // dense ranks asc by distance: p1=1, p2=2, p3=3; sparse: p2=1
    assert(math.abs(hits(1L) - 1.0 / 61) < 1e-6, s"p1 got ${hits(1L)}")
    assert(math.abs(hits(2L) - (1.0 / 61 + 1.0 / 62)) < 1e-6, s"p2 got ${hits(2L)}")
    assert(math.abs(hits(3L) - 1.0 / 63) < 1e-6, s"p3 got ${hits(3L)}")
  }

  test("rankCentroids ranks per metric; identical-vector euclid is 0, never NaN") {
    import graft.ops.Similarity.rankCentroids
    val q = Array(0.6f, 0.8f)
    val cents = Seq(
      1L -> Array(0.6f, 0.8f),    // == q
      2L -> Array(0.8f, 0.6f),
      3L -> Array(-0.6f, -0.8f))  // opposite direction
    // euclid: the SELF centroid must rank first (the algebraic
    // na-2dot+nb form can dip epsilon-negative; sqrt(neg)=NaN would
    // sort it LAST ascending)
    assert(rankCentroids(cents, q, "euclid").head === 1L)
    assert(rankCentroids(cents, q, "manhattan").head === 1L)
    assert(rankCentroids(cents, q, "cosine").head === 1L)
    // dot favors magnitude-aligned: q·c3 is negative, ranks last
    assert(rankCentroids(cents, q, "dot").last === 3L)
    // cosine: the opposite-direction centroid is worst
    assert(rankCentroids(cents, q, "cosine").last === 3L)
    intercept[IllegalArgumentException](rankCentroids(cents, q, "nope"))
  }

  test("ensure refuses names/columns carrying meta-delimiter characters") {
    import spark.implicits._
    val pts = Seq((1L, Seq(0.1f, 0.0f), Seq(7), Seq(1.0f)))
      .toDF("point_id", "embedding", "s_idx", "s_val")
    // the flat sidecar format uses ';' ':' '=' '"' — a name containing
    // one would round-trip through open() as garbage or crash its parse
    for (bad <- Seq("te;xt", "te=xt", "te:xt", "te\"xt", "te,xt", "te}xt")) {
      val err = intercept[IllegalArgumentException] {
        VectorCollection.ensure(spark, s"${tmp()}/colbad", pts,
          CollectionConfig("point_id", "embedding", 2, multiVector = false,
            sparseVectors = Map(bad -> (("s_idx", "s_val")))))
      }
      assert(err.getMessage.contains("meta-delimiter"), err.getMessage)
    }
    val err2 = intercept[IllegalArgumentException] {
      VectorCollection.ensure(spark, s"${tmp()}/colbad2", pts,
        CollectionConfig("point;id", "embedding", 2, multiVector = false))
    }
    assert(err2.getMessage.contains("meta-delimiter"), err2.getMessage)
  }

  test("queryFormula: payload boost reranks the same prefetch set; dims validated") {
    import graft.search._
    val dir = s"${tmp()}/colf"
    val pts = points.cache()
    val c = VectorCollection.ensure(spark, dir, pts,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    c.upsert(pts)
    val qRow = pts.limit(1).select(col("embedding")).head
    val qv = qRow.getSeq[Float](0)
    // identity formula == plain search ranking over the same prefetch
    val plain = c.queryFormula(qv, FScore, Nil, prefetchN = 20, k = 5)
      .collect().map(_.getLong(0)).toSeq
    val searchIds = c.search(qv, 5).collect().map(_.getLong(0)).toSeq
    assert(plain === searchIds, "FScore formula must reproduce plain search")
    // +10 on the WORST prefetch candidate catapults it to rank 1 —
    // and proves the formula reranks within the prefetch set only
    val pre = c.queryFormula(qv, FScore, Nil, prefetchN = 20, k = 20)
      .collect().map(_.getLong(0))
    val target = pre.last
    val boosted = c.queryFormula(qv,
      FSum(Seq(FScore, FMult(Seq(FConst(10.0),
        FCond(MatchValue("point_id", target), "unused"))))),
      carry = Nil, prefetchN = 20, k = 5).collect()
    assert(boosted.length === 5)
    assert(boosted.head.getLong(0) === target,
      "boosted prefetch survivor must take rank 1")
    val err = intercept[IllegalArgumentException] {
      c.queryFormula(Seq(1.0f, 2.0f), FScore)
    }
    assert(err.getMessage.contains("dim"))
    pts.unpersist()
  }
}
