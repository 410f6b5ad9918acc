package graft

import org.apache.spark.sql.functions._
import graft.index.{Ingest, Sink}
import graft.Tables.t
import java.nio.file.Files

class IngestSinkSpec extends SparkSpec {

  private def docs = t(spark, sf, "documents")

  test("scan filter keeps only image suffixes, case-insensitive (A3)") {
    val kept = Ingest.imageScanFilter(Ingest.withPaths(docs))
    val exts = kept.select(
        lower(substring_index(col("relative_path"), ".", -1)).as("e"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(exts === Set("png", "jpg", "jpeg"))
    // 6 of 8 extension slots are images
    assert(kept.count() === docs.count() * 6 / 8)
  }

  test("binaryFile scan over a real tree matches the tabular scan semantics (A3)") {
    val root = Ingest.binaryTree(spark, sf)
    val scanned = Ingest.binaryScan(spark, root).cache()
    val expected = Ingest.imageScanFilter(Ingest.withPaths(docs))
      .select(col("relative_path"))
    // same file set as the tabular semantics; txt/gif files on disk
    // are excluded by the glob
    assert(scanned.select("relative_path").exceptAll(expected).count() === 0L)
    assert(expected.exceptAll(scanned.select("relative_path")).count() === 0L)
    // sizes come from real file status
    assert(scanned.filter(col("n_bytes") <= 0).count() === 0L)
  }

  test("binaryTree: fresh fixture builds; tampered base fails loudly; regen rebuilds") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // a private fixture dir so content-stamp keys can't collide with
    // the shared fixture's cached tree
    val fx = Files.createTempDirectory("graft_tree_fx").toString
    def writeDocs(texts: Seq[(Long, String)]): Unit =
      texts.toDF("doc_id", "text")
        .withColumn("source", lit("s0")).withColumn("lang", lit("en"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.mode("overwrite").parquet(s"$fx/documents.parquet")
    writeDocs(Seq((0L, "alpha beta"), (1L, "gamma delta")))
    val root1 = Ingest.binaryTree(spark, fx)
    assert(Files.exists(Paths.get(root1, "_SUCCESS")))
    // same content → same tree (memo or on-disk reuse)
    assert(Ingest.binaryTree(spark, fx) === root1)
    // IN-PLACE regeneration (new content, like the driver between
    // rounds) → a DIFFERENT tree; the old path-keyed cache served the
    // stale one here
    Thread.sleep(1100) // mtime granularity
    writeDocs(Seq((0L, "epsilon zeta"), (1L, "eta theta"), (2L, "iota kappa")))
    val root2 = Ingest.binaryTree(spark, fx)
    assert(root2 !== root1, "regenerated fixture must build a fresh tree")
    assert(Ingest.binaryScan(spark, root2).count() !==
      Ingest.binaryScan(spark, root1).count())
    // tampered base (dir exists, no _SUCCESS) → loud require, never a
    // silently cached nonexistent/incomplete path
    Thread.sleep(1100)
    writeDocs(Seq((0L, "lambda mu")))
    val key3 = graft.Tables.contentStamp(s"$fx/documents.parquet")
    val base3 = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_tree_$key3")
    Files.createDirectories(base3)
    Files.writeString(base3.resolve("debris"), "x")
    val e = intercept[IllegalArgumentException] { Ingest.binaryTree(spark, fx) }
    assert(e.getMessage.contains("_SUCCESS"), e.getMessage)
  }

  test("decode stats: processed + failed == scanned (A4/C3 parity)") {
    val decoded = Ingest.tolerantDecode(Ingest.imageScanFilter(Ingest.withPaths(docs)))
    val stats = Ingest.decodeStats(decoded).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats.values.sum === decoded.count())
    assert(stats.getOrElse("failed", 0L) > 0L)
  }

  test("batching: every batch full except possibly the last (A6)") {
    val scanned = Ingest.imageScanFilter(Ingest.withPaths(docs))
    val sizes = Ingest.withBatchId(scanned, "doc_id", 16)
      .groupBy("batch_id").count().orderBy("batch_id")
      .collect().map(_.getLong(1))
    assert(sizes.init.forall(_ === 16L))
    assert(sizes.last <= 16L)
  }

  test("points: deterministic ids, unique, only decoded rows (B6/F5)") {
    val pts = Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(docs))))
    assert(pts.filter(!col("decode_ok")).count() === 0L)
    assert(pts.select("point_id").distinct().count() === pts.count())
    val again = Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(docs))))
    assert(again.select("point_id").except(pts.select("point_id")).count() === 0L)
  }

  test("sink: ensure-collection is first-write-wins (C1), append counts (C2)") {
    val dir = Files.createTempDirectory("graft_sink").toFile
    val path = s"${dir.getAbsolutePath}/col"
    val pts = Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(docs)))).limit(10).cache()
    assert(Sink.ensureCollection(spark, path, pts))
    assert(!Sink.ensureCollection(spark, path, pts)) // second call no-op
    assert(Sink.append(pts, path) === 10L)
    assert(Sink.append(pts, path) === 10L) // returns rows written this call
    // reference semantics: re-index duplicates — collection holds both
    assert(spark.read.parquet(path).count() === 20L)
  }

  test("second-writer lease: a foreign unexpired lease refuses loudly, expired breaks") {
    val dir = Files.createTempDirectory("graft_lease").toFile
    val path = s"${dir.getAbsolutePath}/col"
    val pts = Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(docs)))).limit(5).cache()
    val leaseFile = new java.io.File(path + Sink.LeaseSuffix)
    // normal write: lease is taken and RELEASED — nothing left behind
    assert(Sink.append(pts, path) === 5L)
    assert(!leaseFile.exists(), "lease must release after the write")
    // a second driver's FRESH lease (expires in the future): this
    // driver must refuse to interleave, naming the holder — the
    // silent-corruption path converted to a loud error
    java.nio.file.Files.writeString(leaseFile.toPath,
      s"9999@other-host#deadbeef ${System.currentTimeMillis + 60000}")
    val boom = intercept[IllegalStateException](Sink.append(pts, path))
    assert(boom.getMessage.contains("other-host"),
      "refusal must name the foreign holder")
    assert(spark.read.parquet(path).count() === 5L, "no write happened")
    // an EXPIRED foreign lease (crashed writer) is broken and taken
    // over; the write proceeds and releases cleanly
    java.nio.file.Files.writeString(leaseFile.toPath,
      s"9999@other-host#deadbeef ${System.currentTimeMillis - 1000}")
    assert(Sink.append(pts, path) === 5L)
    assert(!leaseFile.exists(), "broken+retaken lease must release")
    // a corrupt marker (writer crashed mid-create) reads as expired —
    // breakable, never a permanent wedge
    java.nio.file.Files.writeString(leaseFile.toPath, "garbage")
    assert(Sink.append(pts, path) === 5L)
    assert(spark.read.parquet(path).count() === 15L)
    pts.unpersist()
  }

  test("lease takeover refuses on measured clock skew; consistent clocks still break expired") {
    // the TTL comparison assumes holder and breaker clocks are
    // loosely synced; the r16 caveat: the marker's FS mtime and its
    // embedded holder-clock create time were stamped at the same
    // instant, so their disagreement is MEASURED skew — past the
    // bound, "expired" may be a live writer on a bad clock and the
    // takeover must refuse by name instead of breaking it.
    val dir = Files.createTempDirectory("graft_lease_skew").toFile
    val path = s"${dir.getAbsolutePath}/col"
    val pts = Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(docs)))).limit(5).cache()
    val leaseFile = new java.io.File(path + Sink.LeaseSuffix)
    val now = System.currentTimeMillis
    // expired 3-field marker whose embedded create time sits 10 min
    // behind the file's real mtime: holder clock far behind the FS
    java.nio.file.Files.writeString(leaseFile.toPath,
      s"9999@skewed-host#deadbeef ${now - 1000} ${now - 600000}")
    val boom = intercept[IllegalStateException](Sink.append(pts, path))
    assert(boom.getMessage.contains("clock"), boom.getMessage)
    assert(leaseFile.exists(), "the skew refusal must leave the marker intact")
    assert(!new java.io.File(path).exists(), "no write happened")
    // the same expired marker with a CONSISTENT create time (mtime ≈
    // created) carries no skew evidence: crashed writer, break it
    java.nio.file.Files.delete(leaseFile.toPath)
    java.nio.file.Files.deleteIfExists(
      new java.io.File(dir, "." + leaseFile.getName + ".crc").toPath)
    java.nio.file.Files.writeString(leaseFile.toPath,
      s"9999@other-host#deadbeef ${System.currentTimeMillis - 1000} " +
        s"${System.currentTimeMillis - 2000}")
    assert(Sink.append(pts, path) === 5L)
    assert(!leaseFile.exists(), "broken+retaken lease must release")
    pts.unpersist()
  }

  test("commit fence: a TTL-expired takeover aborts the swap, never renames over it") {
    val dir = Files.createTempDirectory("graft_fence").toFile
    val path = s"${dir.getAbsolutePath}/col"
    val pts = Ingest.buildPointsDynamic(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(docs)))).limit(8).cache()
    assert(Sink.append(pts, path) === 8L)
    val before = spark.read.parquet(path)
      .select("point_id").collect().map(_.getLong(0)).toSet
    val leaseFile = new java.io.File(path + Sink.LeaseSuffix)
    // a takeover replaces the marker whole (delete + create-excl, like
    // acquireLease's break path); the drill must do the same — an
    // in-place content overwrite would leave OUR stale Hadoop .crc
    // sidecar beside it and read back as corrupt, not as the usurper
    def usurpLease(): Unit = {
      java.nio.file.Files.deleteIfExists(leaseFile.toPath)
      java.nio.file.Files.deleteIfExists(new java.io.File(
        dir.getAbsolutePath, s".col${Sink.LeaseSuffix}.crc").toPath)
      java.nio.file.Files.writeString(leaseFile.toPath,
        s"4242@usurper-host#cafebabe ${System.currentTimeMillis + 60000}")
    }
    // simulate the r12 finding: this writer's lease expires mid-write
    // and a second driver legitimately takes over. From inside the
    // write's own (reentrant) lock scope, swap the marker for the
    // takeover writer's — the commit-point fence must then abort the
    // swap BEFORE any rename, not proceed against the foreign files.
    val boom = intercept[IllegalStateException] {
      Sink.withPathLock(path) {
        usurpLease()
        Sink.compact(spark, path, targetRowsPerFile = 4L)
      }
    }
    assert(boom.getMessage.contains("lease lost before commit"),
      s"fence must name the hazard: ${boom.getMessage}")
    assert(boom.getMessage.contains("usurper-host"))
    // nothing retired, nothing renamed: collection exactly as before
    assert(spark.read.parquet(path)
      .select("point_id").collect().map(_.getLong(0)).toSet === before)
    assert(!new java.io.File(s"$path/_payload_commit").exists(),
      "no commit marker may have been written")
    // our release must NOT delete the takeover writer's lease
    assert(leaseFile.exists(), "takeover lease must survive our release")
    // same fence on the staged-merge commit marker (updatePayload /
    // upsertReplace protocol): abort before the marker rename, leaving
    // no marker and no visible change. Clear the foreign marker first —
    // entry-time acquire would otherwise refuse before the body runs;
    // the fence drill needs the usurpation to happen MID-write.
    java.nio.file.Files.delete(leaseFile.toPath)
    val boom2 = intercept[IllegalStateException] {
      Sink.withPathLock(path) {
        usurpLease()
        Sink.updatePayload(spark, path, col("point_id").isNotNull,
          "payload", identity)
      }
    }
    assert(boom2.getMessage.contains("lease lost before commit"))
    assert(!new java.io.File(s"$path/_payload_commit").exists(),
      "no commit marker may exist after an aborted merge")
    assert(spark.read.parquet(path).count() === 8L)
    java.nio.file.Files.deleteIfExists(leaseFile.toPath)
    pts.unpersist()
  }

  test("lost-lease repair drill: self-expired writer aborts, takeover commits, one consistent collection") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_leaserepair")
      .toString + "/col"
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    Sink.append((0L until 8L).map(i => (i, s"v0_$i")).toDF("id", "tag"), dir)
    val before = spark.read.parquet(dir).as[(Long, String)].collect().toMap
    // WRITER A: its lease is already past TTL by the time the merge
    // reaches its commit marker (instant-expiry TTL simulates a write
    // that outlived its lease mid-stage). The staged survivor write
    // completes; the marker fence must then abort rather than renew —
    // renewing a self-expired lease races a takeover driver between
    // its readLease and its break (r13 advisor).
    // try/finally: a failed intercept must not leak the poison TTL
    // into the shared session and cascade-fail every later Sink test
    val boom = try {
      spark.conf.set("spark.graft.lease.ttlMs", "-1000")
      val editA = Seq((0L, "A_EDIT"), (1L, "A_EDIT")).toDF("id", "tag")
      intercept[IllegalStateException](
        Sink.upsertReplace(spark, editA, dir, "id"))
    } finally spark.conf.unset("spark.graft.lease.ttlMs")
    assert(boom.getMessage.contains("self-expired"), boom.getMessage)
    // A aborted PRE-commit: no marker, staging debris left behind, and
    // the collection reads exactly as before — A's edit is invisible
    assert(!fs.exists(new Path(dir, "_payload_commit")))
    assert(fs.exists(new Path(dir, "_payload_staging")),
      "an aborted merge leaves its staging debris for the repair")
    assert(spark.read.parquet(dir).as[(Long, String)].collect().toMap === before)
    // WRITER B takes over (A released its expired marker; an unreleased
    // one would read expired and be broken at acquire) and commits ITS
    // edit — the head-of-write repairPayloadUpdate discards A's
    // pre-commit debris before B stages anything
    val editB = Seq((0L, "B_EDIT"), (1L, "B_EDIT")).toDF("id", "tag")
    assert(Sink.upsertReplace(spark, editB, dir, "id") === 2L)
    val after = spark.read.parquet(dir).as[(Long, String)].collect()
    assert(after.length === 8, "no lost or duplicated rows")
    val m = after.toMap
    assert(m.keySet === (0L until 8L).toSet)
    assert(m(0L) === "B_EDIT" && m(1L) === "B_EDIT",
      "the takeover writer's committed edit must win")
    (2L until 8L).foreach(i => assert(m(i) === before(i)))
    assert(!fs.exists(new Path(dir, "_payload_staging")),
      "repair must clear the aborted writer's debris")
    assert(!fs.exists(new Path(dir + Sink.LeaseSuffix)),
      "no lease marker may outlive the drill")
  }

  test("dynamic map payload: per-row keys, element_at filter, Unknown default") {
    val pts = Ingest.buildPointsDynamic(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(docs)))).cache()
    // the caller-supplied key exists only on even rows
    assert(pts.filter(col("doc_id") % 2 === 0)
      .filter(element_at(col("payload"), "parity").isNull).count() === 0L)
    assert(pts.filter(col("doc_id") % 2 =!= 0)
      .filter(element_at(col("payload"), "parity").isNotNull).count() === 0L)
    // E4 filter on a map key
    val src1 = pts.filter(element_at(col("payload"), "folder") === "src1")
    assert(src1.count() > 0)
    assert(src1.select(col("doc_id"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .filter(col("source") =!= "src1").count() === 0L)
  }

  test("upsertReplace: edited doc's new embedding wins, others untouched (C2)") {
    val dir = Files.createTempDirectory("graft_upsert").toFile
    val path = s"${dir.getAbsolutePath}/col"
    val pts = Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(docs))))
      .select(col("doc_id"), col("point_id"), col("embedding")).cache()
    val n = pts.count()
    pts.write.parquet(path)
    // same docs re-indexed after an edit: identical point_id (path
    // unchanged), different embedding (text changed)
    val edited = Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(
        docs.filter(col("doc_id") % 10 === 0)
          .withColumn("text", concat(col("text"), lit(" edited zz")))))))
      .select(col("doc_id"), col("point_id"), col("embedding")).cache()
    assert(Sink.upsertReplace(spark, edited, path, "point_id") === edited.count())
    val after = spark.read.parquet(path)
    // replace, not append/skip: same cardinality, no duplicate ids
    assert(after.count() === n)
    assert(after.select("point_id").distinct().count() === n)
    // edited rows carry the NEW embedding
    val stale = after.join(edited.select(col("point_id"), col("embedding").as("e2")), "point_id")
      .filter(col("embedding") =!= col("e2")).count()
    assert(stale === 0L)
    // untouched rows keep their original embedding
    val untouched = after.filter(col("doc_id") % 10 =!= 0)
      .join(pts.select(col("point_id"), col("embedding").as("e1")), "point_id")
      .filter(col("embedding") =!= col("e1")).count()
    assert(untouched === 0L)
    // genuinely new ids append
    val extra = edited.withColumn("point_id", col("point_id") + 1)
      .withColumn("doc_id", col("doc_id") + 5000000L)
    Sink.upsertReplace(spark, extra, path, "point_id")
    assert(spark.read.parquet(path).count() === n + extra.count())
  }

  test("upsertReplace: duplicate ids within one incoming batch keep a single point") {
    val path = java.nio.file.Files.createTempDirectory("graft_dupb").toString + "/col"
    val pts = Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(docs)))).cache()
    Sink.append(pts, path)
    // the same point twice in one batch (re-index that found a doc via
    // two paths): the collection must still hold exactly one row per id
    val doubled = pts.limit(5).unionByName(pts.limit(5))
    Sink.upsertReplace(spark, doubled, path, "point_id")
    val after = spark.read.parquet(path)
    assert(after.count() === pts.count())
    assert(after.groupBy(col("point_id")).count().filter(col("count") > 1).count() === 0L)
  }

  test("compact: many small appends collapse to sized files, content and sidecars intact") {
    val path = java.nio.file.Files.createTempDirectory("graft_compact").toString + "/col"
    val pts = Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(docs)))).cache()
    // 8 small appends -> many part files
    (0 until 8).foreach(i => Sink.append(pts.filter(col("doc_id") % 8 === i), path))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_graft_meta.json"), "{\"idCol\":\"point_id\"}")
    val before = spark.read.parquet(path).cache()
    val nBefore = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    val target = math.max(1L, before.count() / 2)
    val nAfter = Sink.compact(spark, path, target)
    assert(nAfter < nBefore && nAfter <= 3)
    val after = spark.read.parquet(path)
    assert(after.exceptAll(before).count() === 0L)
    assert(before.exceptAll(after).count() === 0L)
    assert(new java.io.File(s"$path/_graft_meta.json").exists())
  }

  test("create_payload_index: range layout gives disjoint per-file ranges, content intact") {
    val path = java.nio.file.Files.createTempDirectory("graft_pindex").toString + "/col"
    val pts = t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"))
    Sink.append(pts, path)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/_graft_meta.json"), "{\"idCol\":\"vec_id\"}")
    val before = spark.read.parquet(path).select(col("vec_id"), col("label")).cache()
    before.count() // materialize BEFORE the rewrite swaps the files out
    val nFiles = Sink.indexPayload(spark, path, "label", targetRowsPerFile = 100)
    assert(nFiles >= 4, s"want several files to make disjointness non-vacuous, got $nFiles")
    val after = spark.read.parquet(path)
    assert(after.select(col("vec_id"), col("label")).exceptAll(before).count() === 0L)
    assert(before.exceptAll(after.select(col("vec_id"), col("label"))).count() === 0L)
    assert(new java.io.File(s"$path/_graft_meta.json").exists(), "sidecar survives")
    // the pruning evidence: per-file [min,max] label ranges are
    // pairwise disjoint (equal keys land in ONE file), so a filtered
    // scan's footer check eliminates every non-matching file
    val ranges = new java.io.File(path).listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .flatMap { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col("label")), max(col("label"))).head
        if (r.isNullAt(0)) None else Some((r.getInt(0), r.getInt(1)))
      }.sortBy(_._1)
    ranges.foreach { case (lo, hi) => assert(lo <= hi) }
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) =>
        assert(hi1 < lo2, s"file ranges overlap: $ranges")
      case _ =>
    }
    before.unpersist()
  }

  test("compact/indexPayload refuse a shard-partitioned layout (would flatten it)") {
    val path = java.nio.file.Files.createTempDirectory("graft_sharded").toString + "/col"
    t(spark, sf, "embeddings").select(col("vec_id"), col("embedding"), col("label"))
      .write.partitionBy("label").parquet(path)
    intercept[IllegalArgumentException] { Sink.compact(spark, path, 100L) }
    intercept[IllegalArgumentException] { Sink.indexPayload(spark, path, "vec_id") }
    // the layout is untouched by the refused calls
    assert(new java.io.File(path).listFiles().count(f =>
      f.isDirectory && f.getName.startsWith("label=")) === 10)
  }

  test("compactShards: per-subtree compaction keeps the shard layout and its pruning") {
    val path = java.nio.file.Files.createTempDirectory("graft_shcomp").toString + "/col"
    val pts = t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"), (col("label") % 4).as("shard"))
    // 6 small sharded appends -> many part files per shard subtree
    (0 until 6).foreach(i =>
      Sink.append(pts.filter(col("vec_id") % 6 === i), path, Seq("shard")))
    val before = spark.read.parquet(path).cache()
    val nRows = before.count()
    def partFiles(): Int = new java.io.File(path).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard="))
      .map(d => d.listFiles().count(_.getName.endsWith(".parquet"))).sum
    val nBefore = partFiles()
    val nAfter = Sink.compactShards(spark, path, targetRowsPerFile = nRows)
    assert(nAfter < nBefore && nAfter === partFiles())
    assert(nAfter <= 8, s"4 shards at one-file target should stay small, got $nAfter")
    // shard subtrees survive; no staging or marker residue
    assert(new java.io.File(path).listFiles().count(f =>
      f.isDirectory && f.getName.startsWith("shard=")) === 4)
    assert(!new java.io.File(s"$path/_payload_staging").exists())
    assert(!new java.io.File(s"$path/_payload_commit").exists())
    // content identical, shard column (directory-encoded) included
    val after = spark.read.parquet(path)
    assert(after.exceptAll(before).count() === 0L)
    assert(before.exceptAll(after).count() === 0L)
    // a shard-routed read still prunes: one shard's scan lists only
    // that subtree's files
    val plan = after.filter(col("shard") === 2).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"routed read must keep partition pruning after compaction:\n$plan")
    before.unpersist()
  }

  test("Z-order payload index skips files for filters on EITHER field") {
    val path = java.nio.file.Files.createTempDirectory("graft_zord").toString + "/col"
    val pts = t(spark, sf, "documents").select(col("doc_id"), col("n_chars"))
    Sink.append(pts, path)
    val total = pts.count()
    def filesTouched(pred: org.apache.spark.sql.Column): Long =
      spark.read.parquet(path).filter(pred)
        .select(input_file_name()).distinct().count()
    val predA = col("n_chars").between(250, 280)
    val predB = col("doc_id").between(100, 125)
    assert(pts.filter(predA).count() > 0 && pts.filter(predB).count() > 0,
      "predicates must be non-vacuous")
    // single-column range layout: clusters n_chars, scatters doc_id
    Sink.indexPayload(spark, path, "n_chars", targetRowsPerFile = total / 16)
    val nFiles = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(nFiles >= 12, s"need a multi-file layout to measure skipping, got $nFiles")
    val singleA = filesTouched(predA)
    val singleB = filesTouched(predB)
    assert(singleA <= nFiles / 4, s"range layout must cluster its own column: $singleA/$nFiles")
    // Z-order: BOTH dimensions concentrate
    Sink.indexPayloadZ(spark, path, "doc_id", "n_chars", targetRowsPerFile = total / 16)
    val zFiles = new java.io.File(path).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val zA = filesTouched(predA)
    val zB = filesTouched(predB)
    assert(zA <= zFiles / 2, s"Z layout: n_chars filter touched $zA of $zFiles files")
    assert(zB <= zFiles / 2, s"Z layout: doc_id filter touched $zB of $zFiles files")
    assert(zB < singleB,
      s"Z layout must beat the single-column layout on the OTHER column ($zB vs $singleB)")
    // the rewrite is a layout change only — content intact
    val after = spark.read.parquet(path).select(col("doc_id"), col("n_chars"))
    assert(after.exceptAll(pts).count() === 0L)
    assert(pts.exceptAll(after).count() === 0L)
  }

  /** The three crash points of a rewrite of the crashfs collection at
    * `path`, in order: the marker rename (staging written, nothing
    * committed); the first move of a staged file into the collection
    * (marker written); the first delete of a retired file (every staged
    * file moved in, every original still there). */
  private def crashPoints(path: String): Seq[(String, CrashFs.Op => Boolean)] = {
    import org.apache.hadoop.fs.Path
    val root = new Path(path).toUri.getPath
    def inRoot(p: Path) = p.toUri.getPath.startsWith(root + "/")
    def staged(p: Path) = p.toUri.getPath.startsWith(root + "/_payload_staging/")
    Seq[(String, CrashFs.Op => Boolean)](
      "before the marker" -> {
        case CrashFs.Rename(_, dst) => dst.toUri.getPath == root + "/_payload_commit"
        case _ => false
      },
      "after the marker" -> {
        case CrashFs.Rename(src, dst) => staged(src) && inRoot(dst) && !staged(dst)
        case _ => false
      },
      "mid-finish" -> {
        case CrashFs.Delete(p) => inRoot(p) && !staged(p) && Sink.isVisible(p.getName)
        case _ => false
      })
  }

  test("compactShards crash drills before and after the commit marker") {
    import org.apache.hadoop.fs.Path
    CrashFs.register(spark.sparkContext.hadoopConfiguration)
    val path = CrashFs.tmpPath("graft_shcrash")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val pts = t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"), (col("label") % 4).as("shard"))
    (0 until 3).foreach(i =>
      Sink.append(pts.filter(col("vec_id") % 3 === i), path, Seq("shard")))
    val before = spark.read.parquet(path).cache()
    val nRows = before.count()
    def shardValues(): Seq[String] = spark.read.parquet(path).select("shard").distinct()
      .collect().map(_.get(0).toString).sorted.toSeq
    def assertExact(): Unit = {
      val after = spark.read.parquet(path)
      assert(after.exceptAll(before).count() === 0L)
      assert(before.exceptAll(after).count() === 0L)
    }
    val staging = new Path(path, "_payload_staging")
    val marker = new Path(path, "_payload_commit")
    // crash before the marker: a compacted shard sits staged INSIDE the
    // root as _payload_staging/shard=v, and Spark's hidden-name rule
    // keeps it out of partition discovery — 4 shards, no phantom value
    CrashFs.crashAt(crashPoints(path)(0)._2)(
      Sink.compactShards(spark, path, targetRowsPerFile = nRows))
    assert(fs.listStatus(staging).exists(_.getPath.getName.startsWith("shard=")),
      "the crash must leave a staged shard behind")
    assert(!fs.exists(marker))
    assert(shardValues() === Seq("0", "1", "2", "3"))
    assertExact()
    // the next compaction discards the uncommitted staging first
    Sink.compactShards(spark, path, targetRowsPerFile = nRows)
    assertExact()
    assert(!fs.exists(staging) && !fs.exists(marker))
    // crash after the marker: the shard's commit is pending; the path
    // and every shard stay readable, and the repair finishes the commit
    CrashFs.crashAt(crashPoints(path)(1)._2)(
      Sink.compactShards(spark, path, targetRowsPerFile = nRows))
    assert(fs.exists(marker))
    assert(shardValues() === Seq("0", "1", "2", "3"))
    assert(Sink.repairPayloadUpdate(spark, path))
    assertExact()
    assert(!fs.exists(staging) && !fs.exists(marker))
    assert(fs.listStatus(new Path(path)).count(st =>
      st.isDirectory && st.getPath.getName.startsWith("shard=")) === 4)
    before.unpersist()
  }

  test("crash drills: compact, compactShards, indexPayload, buildIvfIndex, restoreSnapshot, upsertReplace, deleteMatching and updatePayload end in exactly the pre- or post-op rows") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    import graft.api.{CollectionConfig, VectorCollection}
    CrashFs.register(spark.sparkContext.hadoopConfiguration)
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // an IVF build changes only cluster_id, so rows compare without it
    def rows(path: String): Seq[String] = rowsOf(spark.read.parquet(path).drop("cluster_id"))
    val base = (0L until 40L).map(i => (i, s"p$i")).toDF("id", "tag")
    // ids 0-9 replace stored points, 40-44 are new
    val edits = ((0L until 10L) ++ (40L until 45L)).map(i => (i, s"new$i")).toDF("id", "tag")
    def appended(path: String): Unit =
      (0 until 4).foreach(i => Sink.append(base.filter($"id" % 4 === i), path))
    // a vector collection of 4 appends, IVF-indexed with `nClusters`
    // (0: no index)
    val vecs = t(spark, sf, "embeddings").filter($"vec_id" < 120)
      .select("vec_id", "embedding", "label")
    val q = vecs.filter($"vec_id" === 7).head.getSeq[Float](1)
    def indexed(nClusters: Int)(path: String): Seq[String] = {
      val c = VectorCollection.ensure(spark, path, vecs,
        CollectionConfig("vec_id", "embedding", 64, multiVector = false))
      (0 until 4).foreach(i => c.upsert(vecs.filter($"vec_id" % 4 === i)))
      if (nClusters > 0) c.buildIvfIndex(nClusters, 1)
      rows(path)
    }
    def build(nClusters: Int)(path: String): Any =
      VectorCollection.open(spark, path).buildIvfIndex(nClusters, 1)
    // IVF drills: the clusters the centroid sidecar holds before and
    // after the build (0: none)
    val builds = Map("buildIvfIndex" -> (0, 8), "buildIvfIndex 8 → 4" -> (8, 4),
      "buildIvfIndex 4 → 8" -> (4, 8))
    def centroidCount(path: String): Int = {
      val sidecar = new Path(path, "_graft_centroids.txt")
      val fs = sidecar.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(sidecar)) 0
      else Sink.readSidecar(sidecar.toString).split("\n").count(_.nonEmpty)
    }
    // with every cluster probed, searchAnn answers as search does over
    // whatever rows a crash left; without centroids it refuses by name
    def annExact(path: String, what: String): Unit = {
      val c = VectorCollection.open(spark, path)
      def pairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      if (centroidCount(path) > 0)
        assert(pairs(c.searchAnn(q, 10, nprobe = 8)) === pairs(c.search(q, 10)), what)
      else {
        val e = intercept[IllegalArgumentException](c.searchAnn(q, 10, nprobe = 8))
        assert(e.getMessage.contains("buildIvfIndex"), s"$what: ${e.getMessage}")
      }
    }
    // (op, set up a collection and return the rows the op leaves, op)
    val drills = Seq[(String, String => Seq[String], String => Any)](
      ("compact", { p => appended(p); rows(p) }, p => Sink.compact(spark, p, 15L)),
      ("indexPayload", { p => appended(p); rows(p) },
        p => Sink.indexPayload(spark, p, "tag", 15L)),
      ("buildIvfIndex", indexed(0), build(8)),
      ("buildIvfIndex 8 → 4", indexed(8), build(4)),
      ("buildIvfIndex 4 → 8", indexed(4), build(8)),
      ("compactShards", { p =>
        (0 until 2).foreach(i => Sink.append(
          base.filter($"id" % 2 === i).withColumn("shard", $"id" % 4), p, Seq("shard")))
        rows(p)
      }, p => Sink.compactShards(spark, p, 40L)),
      ("restoreSnapshot", { p =>
        appended(p)
        Sink.snapshot(spark, p, p + "_snap")
        val snapped = rows(p)
        Sink.deleteMatching(spark, p, $"id" < 10)
        snapped
      }, p => Sink.restoreSnapshot(spark, p + "_snap", p)),
      ("upsertReplace", { p => appended(p); rowsOf(base.filter($"id" >= 10).union(edits)) },
        p => Sink.upsertReplace(spark, edits, p, "id")),
      ("deleteMatching", { p => appended(p); rowsOf(base.filter($"id" >= 10)) },
        p => Sink.deleteMatching(spark, p, $"id" < 10)),
      ("updatePayload", { p =>
        appended(p)
        rowsOf(base.withColumn("tag", when($"id" < 10, lit("UPD")).otherwise($"tag")))
      }, p => Sink.updatePayload(spark, p, $"id" < 10, "tag", _ => lit("UPD"))))
    for ((name, setup, op) <- drills; i <- 0 until 3) {
      val path = CrashFs.tmpPath("graft_crash")
      val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
      val post = setup(path)
      val pre = rows(path)
      val (point, at) = crashPoints(path)(i)
      val what = s"$name, crash $point"
      CrashFs.crashAt(at)(op(path))
      // the path never disappears and a plain read never fails
      assert(fs.exists(new Path(path)), what)
      val seen = rows(path)
      if (i == 0) assert(seen === pre, s"$what: staging must stay invisible")
      else assert(fs.exists(new Path(path, "_payload_commit")), s"$what: commit pending")
      if (builds.contains(name)) annExact(path, what)
      assert(Sink.repairPayloadUpdate(spark, path), what)
      assert(rows(path) === (if (i == 0) pre else post), what)
      assert(!fs.exists(new Path(path, "_payload_staging")) &&
        !fs.exists(new Path(path, "_payload_commit")), what)
      // the centroids commit with the rows: the repair leaves the
      // build's, or the ones before it
      builds.get(name).foreach { case (before, after) =>
        assert(centroidCount(path) === (if (i == 0) before else after), what)
        annExact(path, what)
      }
    }
  }

  test("compact converges a pending payload commit and its own crash") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    import spark.implicits._
    CrashFs.register(spark.sparkContext.hadoopConfiguration)
    val dir = CrashFs.tmpPath("graft_sinkheal")
    val pts = (0L until 40L).map(i => (i, s"p$i")).toDF("id", "tag")
    Sink.append(pts, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate a CRASHED updatePayload: staged rewrite (tag -> UPD for
    // id < 10) + commit marker listing every original file — the state
    // an interruption after the commit point leaves behind
    val originals = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath.toString)
    spark.read.parquet(originals: _*)
      .select(col("id"),
        when(col("id") < 10, lit("UPD")).otherwise(col("tag")).as("tag"))
      .write.parquet(s"$dir/_payload_staging")
    val mOut = fs.create(new Path(dir, "_payload_commit"), true)
    try mOut.write(originals.mkString("\n").getBytes("UTF-8")) finally mOut.close()
    // compact must FINISH the durable update first (not compact the
    // staged rows in beside the originals)
    Sink.compact(spark, dir, 100L)
    def assertExact(): Unit = {
      val after = spark.read.parquet(dir)
      assert(after.count() === 40L)
      assert(after.select("id").distinct().count() === 40L)
      assert(after.filter(col("tag") === "UPD").count() === 10L,
        "the committed payload update must survive the compaction")
      assert(!fs.exists(new Path(dir, "_payload_commit")) &&
        !fs.exists(new Path(dir, "_payload_staging")))
    }
    assertExact()
    // a crash inside compact's own finish: every staged file moved in,
    // every original still there, the marker naming them present
    val compacted = fs.listStatus(new Path(dir))
      .filter(st => Sink.isVisible(st.getPath.getName)).map(_.getPath)
    CrashFs.crashAt(crashPoints(dir)(2)._2)(Sink.compact(spark, dir, 100L))
    assert(fs.exists(new Path(dir, "_payload_commit")))
    assert(compacted.forall(fs.exists), "no original is deleted yet")
    assert(Sink.visibleFiles(fs, new Path(dir, "_payload_staging")).isEmpty,
      "every staged file has moved in")
    assert(spark.read.parquet(dir).count() === 80L,
      "both copies are visible until the commit finishes")
    // the next compact finishes the pending commit, then compacts
    Sink.compact(spark, dir, 100L)
    assertExact()
  }

  test("snapshot finishes a pending commit first: exact rows in the restored copy, the source's files untouched") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_snappend").toString
    val dir = s"$base/col"
    Sink.append((0L until 40L).map(i => (i, s"p$i")).toDF("id", "tag").repartition(4), dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the state an updatePayload interrupted after its marker leaves
    val originals = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath.toString)
    assert(originals.length === 4)
    spark.read.parquet(originals: _*)
      .select(col("id"),
        when(col("id") < 10, lit("UPD")).otherwise(col("tag")).as("tag"))
      .write.parquet(s"$dir/_payload_staging")
    val mOut = fs.create(new Path(dir, "_payload_commit"), true)
    try mOut.write(originals.mkString("\n").getBytes("UTF-8")) finally mOut.close()
    val expected = (0L until 40L).map(i => (i, if (i < 10) "UPD" else s"p$i")).sorted
    def content(p: String) = spark.read.parquet(p).as[(Long, String)].collect().toSeq.sorted
    val nCopied = Sink.snapshot(spark, s"$dir", s"$base/snap")
    val sourceFiles = Sink.visibleFiles(fs, new Path(dir)).map(_.getPath.toString).sorted
    assert(nCopied === sourceFiles.length, "the snapshot reports the data files it holds")
    assert(!fs.exists(new Path(s"$base/snap", "_payload_commit")) &&
      !fs.exists(new Path(s"$base/snap", "_payload_staging")))
    assert(content(dir) === expected)
    Sink.restoreSnapshot(spark, s"$base/snap", s"$base/col2")
    assert(Sink.deleteMatching(spark, s"$base/col2", lit(false)) === 0L)
    assert(content(s"$base/col2") === expected)
    // the copy's rewrites never reach into the source
    assert(Sink.visibleFiles(fs, new Path(dir)).map(_.getPath.toString).sorted === sourceFiles)
    assert(content(dir) === expected)
  }

  test("restoreSnapshot straight after snapshot: every name collides, content and sidecars exact") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_restsame").toString
    val dir = s"$base/col"
    Sink.append((0L until 40L).map(i => (i, s"p$i")).toDF("id", "tag").repartition(4), dir)
    Sink.writeSidecar(s"$dir/_graft_meta.json", "{\"v\":1}")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def content() = spark.read.parquet(dir).as[(Long, String)].collect().toSeq.sorted
    def names() = Sink.visibleFiles(fs, new Path(dir)).map(_.getPath.getName)
    val before = content()
    val nFiles = names().length
    Sink.snapshot(spark, dir, s"$base/snap")
    Sink.writeSidecar(s"$dir/_graft_meta.json", "{\"v\":2}")
    // the snapshot's files carry the names of the files the restore
    // retires; the per-restore prefix keeps the finish from deleting
    // the restored copies
    Sink.restoreSnapshot(spark, s"$base/snap", dir)
    assert(content() === before)
    assert(names().length === nFiles && names().forall(_.startsWith("restored-")))
    assert(Sink.readSidecar(s"$dir/_graft_meta.json") === "{\"v\":1}",
      "the snapshot's sidecar is restored")
    // a second restore replaces the prefix instead of stacking it
    Sink.restoreSnapshot(spark, s"$base/snap", dir)
    assert(content() === before)
    assert(names().length === nFiles &&
      names().forall(_.matches("restored-[0-9a-f]{8}-part-.*")))
  }

  test("restoreSnapshot of a sharded collection drops a shard the snapshot lacks; compactShards still runs") {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_restshard").toString
    val dir = s"$base/col"
    val pts = (0L until 30L).map(i => (i, s"p$i", i % 2)).toDF("id", "tag", "shard")
    Sink.append(pts, dir, Seq("shard"))
    def content() = spark.read.parquet(dir).select("id", "tag", "shard")
      .as[(Long, String, Long)].collect().toSeq.sorted
    val before = content()
    Sink.snapshot(spark, dir, s"$base/snap")
    Sink.append(Seq((99L, "new", 2L)).toDF("id", "tag", "shard"), dir, Seq("shard"))
    Sink.restoreSnapshot(spark, s"$base/snap", dir)
    assert(content() === before)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(new Path(dir)).filter(_.isDirectory).map(_.getPath.getName)
      .sorted.toSeq === Seq("shard=0", "shard=1"), "the emptied shard=2 subtree is removed")
    Sink.compactShards(spark, dir, targetRowsPerFile = 100L)
    assert(content() === before)
  }

  test("interrupted deleteMatching finishes on repair: no resurrection, no duplicates") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_delrep").toString + "/col"
    Sink.append((0L until 30L).map(i => (i, s"p$i")).toDF("id", "tag"), dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // fabricate deleteMatching(id < 5) crashed right after its commit
    // marker: survivors staged, originals still in place
    val originals = fs.listStatus(new Path(dir))
      .filter(_.getPath.getName.endsWith(".parquet")).map(_.getPath.toString)
    spark.read.parquet(originals: _*).filter(col("id") >= 5)
      .write.parquet(s"$dir/_payload_staging")
    val mOut = fs.create(new Path(dir, "_payload_commit"), true)
    try mOut.write(originals.mkString("\n").getBytes("UTF-8")) finally mOut.close()
    assert(Sink.repairPayloadUpdate(spark, dir))
    val after = spark.read.parquet(dir)
    assert(after.count() === 25L, "deleted rows must stay deleted after repair")
    assert(after.select("id").distinct().count() === 25L, "no duplicated survivors")
    assert(after.filter(col("id") < 5).count() === 0L)
  }

  test("concurrent drill: compact racing upsertReplace loses no rows (path lock serializes)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_race").toString + "/col"
    Sink.append((0L until 400L).map(i => (i, 0L)).toDF("id", "v"), dir)
    // two writers on the SAME collection from different threads: the
    // per-path write lock must serialize them — an unserialized compact
    // reads the directory, rewrites to staging, and swaps in, so an
    // upsertReplace landing between its read and its swap would be
    // silently erased by the swap (lost update), and an upsertReplace
    // reading mid-swap would see a half-renamed directory
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val rounds = 4
    val upserter = new Thread(() => {
      try {
        for (r <- 1 to rounds) {
          val lo = (r - 1) * 50L
          Sink.upsertReplace(spark,
            (lo until lo + 50L).map(i => (i, r.toLong)).toDF("id", "v"),
            dir, "id")
        }
      } catch { case t: Throwable => errs.add(t) }
    }, "race-upserter")
    val compactor = new Thread(() => {
      try {
        for (_ <- 1 to rounds)
          Sink.compact(spark, dir, targetRowsPerFile = 100L)
      } catch { case t: Throwable => errs.add(t) }
    }, "race-compactor")
    upserter.start(); compactor.start()
    upserter.join(300000); compactor.join(300000)
    assert(!upserter.isAlive && !compactor.isAlive, "writers must finish")
    assert(errs.isEmpty, s"concurrent ops must not fail: ${errs.peek()}")
    val after = spark.read.parquet(dir).cache()
    assert(after.count() === 400L, "no lost or duplicated rows")
    assert(after.select("id").distinct().count() === 400L)
    // every upsert round survives whole: a racing compact's stale-read
    // swap would have reverted some range to v=0
    for (r <- 1 to rounds) {
      val lo = (r - 1) * 50L
      assert(after.filter(col("id") >= lo && col("id") < lo + 50L &&
          col("v") === r.toLong).count() === 50L,
        s"round $r upsert must survive the race")
    }
    assert(after.filter(col("id") >= 200L && col("v") =!= 0L).count() === 0L,
      "untouched ids keep their original payload")
    after.unpersist()
  }

  test("incremental: re-ingest of same corpus adds zero rows") {
    val pts = Ingest.buildPoints(Ingest.tolerantDecode(
      Ingest.imageScanFilter(Ingest.withPaths(docs)))).cache()
    assert(Sink.incremental(pts, pts, "point_id").count() === 0L)
    val half = pts.filter(col("doc_id") < 250)
    val fresh = Sink.incremental(pts, half, "point_id")
    assert(fresh.count() === pts.count() - half.count())
  }

  test("jsonl export round-trips through the A5 JSON source, vectors included") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
    // scalar payload: byte-exact round-trip
    val d = docs.select(col("doc_id"), col("text"), col("lang"))
    assert(Sink.exportJsonl(d, s"$dir/docs") === d.count())
    val back = spark.read.schema(d.schema).json(s"$dir/docs")
    assert(back.exceptAll(d).count() === 0L && d.exceptAll(back).count() === 0L)
    // float vectors: JSON's shortest-round-trip decimals parse back to
    // the same floats under the original schema
    val e = t(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    Sink.exportJsonl(e, s"$dir/emb")
    val eBack = spark.read.schema(e.schema).json(s"$dir/emb")
    assert(eBack.exceptAll(e).count() === 0L && e.exceptAll(eBack).count() === 0L,
      "vector round-trip must be bit-exact")
  }

  test("writeSidecar: atomic replace — a racing cross-process reader never sees missing or torn") {
    // the r15 advisor finding: delete-then-rename had a window where
    // the sidecar was MISSING (reader FileNotFound) and a crash point
    // that lost it permanently. The FileContext Rename.OVERWRITE
    // replace has neither: this drill hammers reads while the writer
    // replaces 200 times — every read must return one COMPLETE
    // generation, never an exception, never a torn mix.
    val dir = Files.createTempDirectory("graft-sidecar-race").toString
    val p = s"$dir/meta.json"
    val a = "A" * 4096
    val b = "B" * 4096
    Sink.writeSidecar(p, a)
    assert(Sink.readSidecar(p) === a)
    @volatile var stop = false
    val bad = new java.util.concurrent.atomic.AtomicReference[String](null)
    val reader = new Thread(() => {
      while (!stop && bad.get == null) {
        try {
          val s = Sink.readSidecar(p)
          if (s != a && s != b) bad.set(s"torn read: len=${s.length}")
        } catch { case e: Exception => bad.set(s"reader threw: $e") }
      }
    })
    reader.start()
    try (1 to 200).foreach(i => Sink.writeSidecar(p, if (i % 2 == 0) a else b))
    finally { stop = true; reader.join(10000) }
    assert(bad.get == null, s"racing reader observed: ${bad.get}")
    assert(!new java.io.File(dir, ".meta.json.tmp").exists(),
      "the tmp must be renamed away, not left behind")
    assert(!new java.io.File(dir).listFiles().exists(_.getName.endsWith(".crc")),
      "no orphaned checksum files (FileContext used for create AND rename)")
  }

  test("writeSidecar: upgrade path — a stale ChecksumFs .crc from the old writer is deleted, not tripped") {
    // the r16 advisor finding: sidecars written BEFORE the nio branch
    // went through Hadoop's LocalFileSystem (a ChecksumFs), leaving a
    // `.<name>.crc` sibling. The nio ATOMIC_MOVE replaces the data
    // file but not the crc, so the next readSidecar through the same
    // ChecksumFs hits a stale checksum — ChecksumException, and
    // LocalFileSystem moves the "bad" sidecar aside to bad_files: one
    // in-place rewrite (e.g. re-running buildIvfIndex over a
    // pre-change collection) bricks the collection's meta/centroids.
    val dir = Files.createTempDirectory("graft-sidecar-upgrade").toString
    val p = s"$dir/meta.json"
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(new org.apache.hadoop.conf.Configuration())
    assert(fs.isInstanceOf[org.apache.hadoop.fs.LocalFileSystem],
      "precondition: the file scheme resolves to the checksummed LocalFileSystem")
    // the OLD writer pattern, verbatim: ChecksumFs create + rename —
    // this leaves .meta.json.crc next to the sidecar
    val tmp = new org.apache.hadoop.fs.Path(dir, ".meta.json.tmp")
    val out = fs.create(tmp, true)
    out.write("OLD".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
    fs.rename(tmp, hp)
    val crc = new java.io.File(dir, ".meta.json.crc")
    assert(crc.exists(), "precondition: the legacy writer left a crc sibling")
    assert(Sink.readSidecar(p) === "OLD")
    // the failure mode is REAL: a raw in-place replace (what the nio
    // branch would do without the fix) leaves the stale crc and the
    // checksummed read throws
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      "RAW".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    intercept[org.apache.hadoop.fs.ChecksumException] {
      val in = fs.open(hp)
      try in.readAllBytes() finally in.close()
    }
    // LocalFileSystem.reportChecksumFailure may have moved the "bad"
    // sidecar aside to bad_files during the intercept leg — clear the
    // evidence so the fixed-path assertion below is unambiguous
    val badDir = new java.io.File(dir, "bad_files")
    if (badDir.exists()) {
      badDir.listFiles().foreach(_.delete())
      badDir.delete()
    }
    // restore the legacy state (data + matching crc) and run the
    // FIXED writeSidecar: it must delete the stale crc before the
    // move, and the follow-up read must return the new content
    fs.delete(hp, false)
    val out2 = fs.create(hp, true)
    out2.write("OLD".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out2.close()
    assert(crc.exists() && Sink.readSidecar(p) === "OLD")
    Sink.writeSidecar(p, "NEW")
    assert(Sink.readSidecar(p) === "NEW",
      "an in-place rewrite over a legacy checksummed sidecar must read back")
    assert(!crc.exists(), "the stale crc sibling must be deleted")
    assert(!new java.io.File(dir, "bad_files").exists(),
      "no sidecar may be moved aside as checksum-corrupt")
  }
}
