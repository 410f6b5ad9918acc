package graft.index

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{Column, DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, floor, greatest, input_file_name, isnan,
  least, lit, max, min, shiftleft, shiftright, when}

/** Collection DDL + sink operators (SURVEY.md §2 C1–C2).
  *
  * The reference's "collection" maps to a parquet dataset directory;
  * `ensure_collection_exists`
  * (`with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:116-141`)
  * maps to create-if-absent; `client.upsert(wait=True)`
  * (`...py:191-202`) maps to an append write whose job completion is
  * the sync point.
  *
  * The reference's ids are fresh `uuid4()` per run, so its
  * "incremental" indexing silently duplicates re-scanned files
  * (SURVEY.md §7.6). We deviate deliberately: deterministic content
  * ids + anti-join makes re-ingest idempotent ([[incremental]]).
  *
  * '''The rewrite protocol.''' Two bodies decide which files a
  * rewrite replaces and what replaces them: the touched-file merge
  * [[mergeTouched]] ([[upsertReplace]], [[deleteMatching]],
  * [[updatePayload]]) and the whole-collection [[rewriteAll]]
  * ([[compact]], [[indexPayload]], [[indexPayloadZ]],
  * [[indexClusters]]); [[compactShards]] and [[restoreSnapshot]]
  * decide for themselves. All nine commit the same way, through
  * [[commitStaged]]:
  *  1. stage the new data files inside the collection under
  *     `_payload_staging` (nested as `_payload_staging/k=v/…` for a
  *     partition subtree) — Spark's hidden-name rule ([[isVisible]])
  *     keeps the underscore directory out of every read and out of
  *     partition discovery — and any sidecar that must change with
  *     them (IVF centroids, a snapshot's sidecars) at its top level;
  *  1. write `_payload_commit` listing the files the new ones replace
  *     — exactly the data files the operation read, plus any sidecar
  *     the operation removes. The marker write is the commit point and
  *     the lease fence ([[verifyLeaseForCommit]]);
  *  1. finish: move the staged files to the same relative path under
  *     the root, write each staged sidecar over the root's
  *     ([[writeSidecar]]'s atomic replace), delete the listed files,
  *     clear staging and marker.
  *
  * Staged names are fresh (Spark's job-unique part names, a per-restore
  * prefix for copied snapshot files), so a moved file never carries a
  * name the marker retires. A crash before the marker leaves only
  * hidden staging debris: the collection reads exactly as before, and
  * the next rewrite or [[repairPayloadUpdate]] discards it. A crash
  * after the marker leaves a pending commit that the next rewrite or
  * [[repairPayloadUpdate]] finishes; until then a reader can see both
  * the old and the new copy of the rewritten rows, and the old
  * sidecars. The collection path itself never disappears, and no data
  * moves outside it — on an object store only the newly written files
  * are renamed.
  */
object Sink {

  /** Per-collection write mutex: every mutating operation (append, the
    * file-granular rewrites, compaction, restore) serializes on the
    * collection's normalized path. In Spark's execution model all
    * writes are issued from the ONE driver JVM, so a JVM-level monitor
    * is a genuine serialization point — it turns the documented
    * "single-writer" contract from a caller obligation into an
    * enforced property (a compact racing an upsertReplace would
    * otherwise retire the upsert's files from a stale read;
    * IngestSinkSpec drills the race). Monitors are reentrant, so ops
    * composing repair steps self-nest safely.
    *
    * A SECOND driver is made LOUD (not silently interleaved) by a
    * create-exclusive lease marker beside the collection directory
    * (`<path>.__graft_lease`, sibling so snapshot/compact file copies
    * never capture it): the outermost lock acquisition create-excl's
    * the marker with a holder id + TTL expiry and deletes it on
    * release; a foreign unexpired lease refuses with the holder named,
    * an expired one (crashed writer) is broken and taken over. This is
    * a cheap tripwire, not a distributed lock service: create-excl is
    * atomic on local/HDFS/ABFS semantics, best-effort on S3, and a
    * write outliving its TTL (default 10 min,
    * `spark.graft.lease.ttlMs`) can be broken — real multi-driver
    * coordination still belongs to a table format / lock service, and
    * the crash-marker protocol bounds any damage to a repairable
    * state. TTL takeover additionally assumes clocks synced within
    * [[leaseMaxSkewMs]]; when the marker itself evidences worse skew
    * (FS mtime vs embedded holder-clock create time), takeover
    * refuses rather than guesses. */
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Reentrancy depth per path — mutated only while holding the path's
    * monitor; the lease is taken/released at depth 0 only. */
  private val lockDepth =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private[graft] val LeaseSuffix = ".__graft_lease"

  /** This writer's identity in lease markers: stable for the JVM's
    * lifetime, unique across drivers (pid + a random token). */
  private val holderId: String = {
    val host = try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Throwable => "unknown-host" }
    s"${java.lang.ProcessHandle.current.pid}@$host#" +
      java.util.UUID.randomUUID.toString.take(8)
  }

  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  private def leaseTtlMs: Long =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .flatMap(s => scala.util.Try(
        s.conf.get("spark.graft.lease.ttlMs").toLong).toOption)
      .getOrElse(600000L)

  /** Takeover clock-skew bound (`spark.graft.lease.maxSkewMs`,
    * default 60 s): TTL expiry compares the HOLDER's embedded clock
    * against the BREAKER's — a comparison that is only meaningful
    * with loosely synced clocks. The marker carries its holder-clock
    * create time, and the filesystem stamps its own mtime at the same
    * instant, so |mtime − created| is measured holder↔FS skew; past
    * this bound "expired" may be a clock artifact, not a crashed
    * writer, and takeover REFUSES loudly (r15 verdict #6 — the
    * documented honesty bound on the tripwire's one clock
    * assumption). */
  private def leaseMaxSkewMs: Long =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .flatMap(s => scala.util.Try(
        s.conf.get("spark.graft.lease.maxSkewMs").toLong).toOption)
      .getOrElse(60000L)

  /** Parse `holder expiresAtMillis [createdAtMillis]`; an
    * unreadable/corrupt marker (a writer that crashed inside
    * create-before-write) reads as expired — breakable, never a
    * permanent wedge. The optional third field (always written since
    * r16) is the holder-clock create time the takeover skew check
    * compares against the marker's filesystem mtime; a legacy 2-field
    * marker carries no skew evidence and skips the check. */
  private def readLease(fs: FileSystem, p: Path): (String, Long, Option[Long]) =
    try {
      val in = fs.open(p)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      txt.split(' ') match {
        case Array(h, e) => (h, e.toLong, None)
        case Array(h, e, c) => (h, e.toLong, Some(c.toLong))
        case _ => ("corrupt", Long.MinValue, None)
      }
    } catch { case _: Throwable => ("unreadable", Long.MinValue, None) }

  private def acquireLease(key: String): Unit = {
    val leasePath = new Path(key + LeaseSuffix)
    val fs = leasePath.getFileSystem(hadoopConf)
    def tryCreate(): Boolean =
      try {
        val now = System.currentTimeMillis
        val out = fs.create(leasePath, false)
        try out.write(s"$holderId ${now + leaseTtlMs} $now"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    if (!tryCreate()) {
      val (holder, expires, created) = readLease(fs, leasePath)
      if (System.currentTimeMillis <= expires)
        throw new IllegalStateException(
          s"collection $key is write-leased by another driver " +
            s"($holder, expires in ${expires - System.currentTimeMillis} ms) " +
            "— refusing to interleave writes; retry after the lease " +
            "expires or releases")
      // clock-skew caveat BEFORE breaking (r15 verdict #6): expiry is
      // the HOLDER's clock. The marker's FS mtime was stamped at the
      // same instant as its embedded holder-clock create time, so a
      // large |mtime − created| is MEASURED holder↔FS skew — evidence
      // the TTL comparison's synced-clocks assumption is broken and
      // "expired" may be a live writer seen through a bad clock.
      created.foreach { c =>
        val mtime =
          try fs.getFileStatus(leasePath).getModificationTime
          catch { case _: java.io.IOException => c } // vanished: no evidence
        val skew = mtime - c
        if (math.abs(skew) > leaseMaxSkewMs)
          throw new IllegalStateException(
            s"collection $key: refusing takeover of the expired lease " +
              s"held by $holder — the marker's filesystem mtime " +
              s"disagrees with its embedded create time by $skew ms " +
              s"(bound spark.graft.lease.maxSkewMs=$leaseMaxSkewMs): " +
              "the holder's clock and the filesystem's are not in the " +
              "sync the TTL comparison assumes, so the expiry may be a " +
              "clock artifact, not a crashed writer. Align clocks, or " +
              "raise the bound deliberately after checking the holder " +
              "is really gone")
      }
      // expired (or corrupt) lease: its writer crashed — break it. The
      // delete+create is not atomic; losing the re-create race to
      // another breaker is the loud path again, never interleaving.
      fs.delete(leasePath, false)
      if (!tryCreate())
        throw new IllegalStateException(
          s"collection $key: lost the lease takeover race — another " +
            "driver broke the expired lease first; retry")
    }
  }

  private def releaseLease(key: String): Unit =
    try {
      val leasePath = new Path(key + LeaseSuffix)
      val fs = leasePath.getFileSystem(hadoopConf)
      // delete only OUR lease: if this write outlived its TTL and a
      // second driver legitimately took over, their marker stays — and
      // that hazard is LOUD (r12 advisor): the commit fences abort the
      // renames, but a lost lease detected only here means the write
      // completed its final stage after a takeover began
      val (h, _, _) = readLease(fs, leasePath)
      if (h == holderId) fs.delete(leasePath, false)
      else System.err.println(
        s"[graft] WARNING: write lease on $key was lost mid-write (" +
          (if (h == "unreadable") "marker now absent" else s"now held by $h") +
          "): this write outlived its TTL; a takeover writer may be " +
          "active — check the collection with the repair path")
    } catch { case _: Throwable => () } // release is best-effort

  /** Commit-point fence (r12 verdict #2): the lease is acquired once
    * at [[withPathLock]] entry, so a write outliving its TTL could be
    * legitimately broken by a second driver while the first is
    * mid-rewrite — and the first's commit would then proceed against
    * the takeover writer's files. The one commit point, the
    * [[writeCommitMarker]] rename (once per [[compactShards]] shard),
    * re-reads the lease IMMEDIATELY before it: a foreign or missing
    * holder aborts loudly with nothing retired (staging debris is the
    * next repair's to discard). On success the TTL is re-extended
    * best-effort — the expensive staging write precedes each fence, so
    * a healthy long write renews between stages instead of aging
    * toward expiry. The renewal overwrite is reached only by the
    * verified UNEXPIRED holder — a self-owned but TTL-expired lease
    * aborts exactly like a foreign one (r13 advisor: renewing an
    * expired self-lease races a takeover driver sitting between its
    * readLease and its delete+create break — both would then believe
    * they hold it). With the expiry check, the double-writer window
    * shrinks to the read→rename microseconds already documented. */
  private def verifyLeaseForCommit(path: String): Unit = {
    val key = new Path(path).toString
    val leasePath = new Path(key + LeaseSuffix)
    val fs = leasePath.getFileSystem(hadoopConf)
    val (holder, expires, _) = readLease(fs, leasePath)
    if (holder != holderId)
      throw new IllegalStateException(
        s"collection $key: write lease lost before commit (" +
          (if (holder == "unreadable") "marker absent"
           else s"held by $holder") +
          ") — this write outlived its TTL and another driver took " +
          "over; aborting with nothing renamed so the takeover " +
          "writer's files stay intact")
    if (System.currentTimeMillis > expires)
      throw new IllegalStateException(
        s"collection $key: write lease lost before commit (self-" +
          s"expired ${System.currentTimeMillis - expires} ms ago) — " +
          "this write outlived its TTL; a takeover driver may already " +
          "have read the marker as breakable, so renewing now could " +
          "seat two writers. Aborting with nothing renamed; raise " +
          "spark.graft.lease.ttlMs for stages this long")
    try {
      val now = System.currentTimeMillis
      val out = fs.create(leasePath, true)
      try out.write(s"$holderId ${now + leaseTtlMs} $now"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: Throwable => () } // renewal is best-effort
  }

  /** Hadoop-FS string sidecar IO (collection meta, IVF centroids): the
    * sidecars must ride the SAME FileSystem API as every other
    * maintenance op so a collection at an hdfs:// / s3a:// path works
    * end to end — java.nio.file is local-disk only (the `info`
    * rationale applied to reads AND writes). */
  private[graft] def writeSidecar(path: String, content: String): Unit = {
    // tmp + atomic replace, never an in-place overwrite: withPathLock
    // is same-JVM only, so a reader in another process (open,
    // searchAnn) must never see the sidecar missing or torn, and a
    // crash mid-write leaves the old one (and a hidden .tmp the next
    // write truncates)
    val p0 = new Path(path)
    val qp = p0.getFileSystem(hadoopConf).makeQualified(p0)
    val tmp = new Path(qp.getParent, s".${qp.getName}.tmp")
    val bytes = content.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (qp.toUri.getScheme == "file") {
      // local FS: java.nio's POSIX rename (ATOMIC_MOVE). Hadoop's local
      // AbstractFileSystem is a ChecksumFs whose OVERWRITE rename is
      // delete-then-rename (IngestSinkSpec's race drill caught it).
      val dst = java.nio.file.Paths.get(qp.toUri.getPath)
      val t = java.nio.file.Paths.get(tmp.toUri.getPath)
      // a `.<name>.crc` a ChecksumFs write left would no longer match
      // the new bytes, and the next read would throw: delete it BEFORE
      // the move (a racing reader then sees the old bytes unchecked,
      // never the new bytes against the old crc), and the tmp's too
      def crcOf(p: java.nio.file.Path): java.nio.file.Path =
        p.resolveSibling("." + p.getFileName.toString + ".crc")
      java.nio.file.Files.deleteIfExists(crcOf(dst))
      java.nio.file.Files.deleteIfExists(crcOf(t))
      java.nio.file.Files.write(t, bytes)
      java.nio.file.Files.move(t, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      // cluster FS: FileContext rename with OVERWRITE, HDFS's atomic
      // rename2. Object stores rename by copy+delete; readSidecar's
      // missing-file retry covers the gap there.
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(qp.toUri, hadoopConf)
      val out = fc.create(tmp, java.util.EnumSet.of(
        org.apache.hadoop.fs.CreateFlag.CREATE,
        org.apache.hadoop.fs.CreateFlag.OVERWRITE))
      try out.write(bytes)
      finally out.close()
      fc.rename(tmp, qp, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  private[graft] def readSidecar(path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    // a missing sidecar is retried for ~200 ms on an object store,
    // whose copy+delete rename leaves a gap; on file and hdfs the
    // replace is atomic, so missing means absent and fails at once.
    // The scheme comes from the qualified URI: FileSystem.getScheme
    // throws on wrappers that do not override it.
    val scheme = fs.makeQualified(p).toUri.getScheme
    val maxRetries = if (scheme == "file" || scheme == "hdfs") 0 else 20
    var attempt = 0
    while (true) {
      try {
        val in = fs.open(p)
        try return new String(
          in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      } catch {
        case _: java.io.FileNotFoundException if attempt < maxRetries =>
          attempt += 1
          Thread.sleep(10)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private[graft] def sidecarExists(path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(hadoopConf).exists(p)
  }

  private[graft] def withPathLock[T](path: String)(body: => T): T = {
    val key = new Path(path).toString
    val lock = pathLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      val depth = lockDepth.getOrDefault(key, 0)
      if (depth == 0) acquireLease(key)
      lockDepth.put(key, depth + 1)
      try body
      finally {
        val d = lockDepth.get(key) - 1
        if (d == 0) { lockDepth.remove(key); releaseLease(key) }
        else lockDepth.put(key, d)
      }
    }
  }

  /** C1: create the collection directory with the given (empty) schema
    * if absent; true if created. First-write-wins, like the reference's
    * list-then-create. */
  def ensureCollection(spark: SparkSession, path: String, like: DataFrame): Boolean = {
    // Hadoop FS, not java.io.File: a java.io existence probe is always
    // false for non-local paths (s3a://, hdfs://), which would turn
    // the documented no-op second call into an ErrorIfExists throw
    if (fsOf(spark, path).exists(new Path(path))) false
    else {
      like.limit(0).write.mode(SaveMode.ErrorIfExists).parquet(path)
      true
    }
  }

  /** C2: batch upsert — append semantics (reference ids are always
    * fresh). Returns the count of rows written in THIS call, observed
    * on the write's own pass (one Spark job, no cache); the
    * reference's `processed == points_count` parity check is a
    * separate full-collection count the caller runs when wanted —
    * doing it here would make every streaming micro-batch pay an
    * O(collection) scan. */
  def append(points: DataFrame, path: String): Long =
    append(points, path, Nil)

  /** [[append]] into a shard-partitioned layout: `shardCols` become
    * directory-encoded partition columns (Qdrant's custom sharding —
    * `shard_key_selector` routing), so a shard-routed read prunes to
    * the shard's subtree without touching other shards' bytes. */
  def append(points: DataFrame, path: String, shardCols: Seq[String]): Long =
    withPathLock(path) {
      countedWrite(points) { df =>
        val w = df.write.mode(SaveMode.Append)
        (if (shardCols.nonEmpty) w.partitionBy(shardCols: _*) else w).parquet(path)
      }
    }

  /** Export a collection/table as JSON Lines — the interchange shape
    * the JSON source (A5) reads back and downstream tokenizer/training
    * jobs consume. Vector columns serialize as JSON arrays; each task
    * writes one shard of lines, so the export parallelizes like any
    * write and never funnels through the driver. Returns rows written
    * (observed on the write's own pass, not by re-reading the sink). */
  def exportJsonl(points: DataFrame, path: String): Long =
    countedWrite(points)(_.write.mode(SaveMode.Overwrite).json(path))

  /** Run `write` over `df` and return the rows it wrote, counted by a
    * `Dataset.observe` metric on the write's own pass — the write is
    * the only job (the r19 clusters loop reads its probe the same
    * way). An empty input observes 0. */
  private[graft] def countedWrite(df: DataFrame)(write: DataFrame => Unit): Long = {
    val rows = Observation()
    write(df.observe(rows, count(lit(1)).as("n")))
    rows.get("n").asInstanceOf[Long]
  }

  /** Incremental re-ingest: drop rows whose id already exists in the
    * collection (left anti join — broadcast when the existing-id side
    * is small, shuffle-hash otherwise; AQE picks at runtime). An anti
    * join's output does not depend on duplicate keys on its right
    * side, so the existing ids are not deduplicated first. */
  def incremental(incoming: DataFrame, existing: DataFrame, idCol: String): DataFrame =
    incoming.join(existing.select(idCol), Seq(idCol), "left_anti")

  /** C2 with true Qdrant upsert semantics: a point whose id already
    * exists is REPLACED by the incoming row
    * (`client.upsert` overwrites by id —
    * `with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:191-202`;
    * re-indexing an edited document must not keep the stale embedding).
    * A [[mergeTouched]] on the incoming ids: a touched file keeps its
    * rows with other ids and takes the incoming rows. One point per id
    * even WITHIN a batch (Qdrant keeps a single point per id; callers
    * that care which copy wins pre-dedup themselves). With no touched
    * file the incoming rows are a plain append. Single-writer, like the
    * reference's synchronous `wait=True` upsert. Returns rows upserted. */
  def upsertReplace(
      spark: SparkSession,
      incoming: DataFrame,
      path: String,
      idCol: String): Long = withPathLock(path) {
    var staged: DataFrame = null
    try {
      val replaced = mergeTouched(spark, path, "upsertReplace") { existing =>
        // cached: the touched-file list, the write and the count all
        // read it, and the caller's input (a streaming micro-batch, an
        // embedding pipeline) is computed once
        staged = incoming.select(existing.columns.map(col): _*)
          .dropDuplicates(Seq(idCol)).cache()
        // unique already, and a semi or anti join ignores duplicate keys
        val ids = staged.select(col(idCol))
        (_.join(ids, Seq(idCol), "left_semi"),
          _.join(ids, Seq(idCol), "left_anti").unionByName(staged))
      }
      if (replaced > 0) staged.count()
      else countedWrite(staged)(_.write.mode(SaveMode.Append).parquet(path))
    } finally if (staged != null) staged.unpersist()
  }

  /** Delete points matching a predicate (Qdrant `client.delete` with a
    * points selector / filter): a [[mergeTouched]] on `cond` that keeps
    * a touched file's other rows. A row whose predicate is NULL
    * survives — delete only what the filter affirmatively matches
    * (Qdrant filter semantics). Returns the number of rows deleted. */
  def deleteMatching(spark: SparkSession, path: String, cond: Column): Long =
    mergeTouched(spark, path, "delete")(_ =>
      (_.filter(cond), _.filter(!coalesce(cond, lit(false)))))

  /** Qdrant `create_snapshot`: point-in-time copy of the collection
    * directory (part files + sidecars like `_graft_meta.json`) to
    * `snapPath`. Pure file-level copy — no decode, no shuffle; at
    * 100 TB this is a storage-layer parallel copy (distcp shape), and
    * because parquet part files are immutable between maintenance
    * operations, the copy is consistent under concurrent reads.
    *
    * A pending commit is finished first ([[repairPayloadUpdate]]): a
    * copy taken mid-commit would hold the old and the new rows side by
    * side, plus a marker naming the SOURCE's files — the restored
    * copy's first rewrite would then delete them from under the
    * source. Returns the number of data files copied. Single-writer
    * with respect to upsert/compact, like the rest of the maintenance
    * surface. */
  def snapshot(spark: SparkSession, path: String, snapPath: String): Int = withPathLock(path) {
    repairPayloadUpdate(spark, path)
    val fs = fsOf(spark, path)
    val dst = new Path(snapPath)
    require(!fs.exists(dst), s"snapshot target $snapPath already exists")
    fs.mkdirs(dst)
    // recursive: a collection written partitionBy(...) keeps its data
    // under partition SUBDIRECTORIES — a file-only copy would silently
    // snapshot nothing but the sidecars
    fs.listStatus(new Path(path)).foreach { st =>
      FileUtil.copy(fs, st.getPath, fs,
        new Path(dst, st.getPath.getName), false, spark.sparkContext.hadoopConfiguration)
    }
    visibleFiles(fs, dst).size
  }

  /** Qdrant `recover_snapshot`: replace the collection's contents with
    * a snapshot's, through the rewrite protocol (object doc). The
    * snapshot's data files are copied into staging under a fresh
    * per-restore name prefix — a restore straight after the snapshot
    * would otherwise stage names equal to the files it retires — and
    * its sidecars (`_graft_meta.json`, `_graft_centroids.txt`) under
    * their own names. The marker lists every current data file and
    * every current sidecar the snapshot lacks, so the target ends with
    * exactly the snapshot's rows and sidecars. The finish moves each
    * copy to its relative path, so a partitioned snapshot restores into
    * its subtrees; a subtree the snapshot lacks is removed once empty.
    * A target that does not exist is created. */
  def restoreSnapshot(spark: SparkSession, snapPath: String, path: String): Unit = withPathLock(path) {
    val root = new Path(path)
    val fs = fsOf(spark, path)
    fs.mkdirs(root)
    repairPayloadUpdate(spark, path)
    val prefix = s"restored-${java.util.UUID.randomUUID.toString.take(8)}-"
    def copy(from: Path, to: Path): Unit =
      FileUtil.copy(fs, from, fs, to, false, spark.sparkContext.hadoopConfiguration)
    def copyIn(from: Path, to: Path): Unit =
      fs.listStatus(from).filter(st => isVisible(st.getPath.getName)).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) copyIn(st.getPath, new Path(to, name))
        else copy(st.getPath, new Path(to, prefix + name.replaceFirst("^restored-[0-9a-f]{8}-", "")))
      }
    val snap = new Path(snapPath)
    val kept = sidecarFiles(fs, snap)
    val dropped = sidecarFiles(fs, root).filterNot(st =>
      kept.exists(_.getPath.getName == st.getPath.getName))
    commitStaged(spark, path, (visibleFiles(fs, root) ++ dropped).map(_.getPath.toUri.toString)) {
      staging =>
        copyIn(snap, new Path(staging))
        kept.foreach(st => copy(st.getPath, new Path(staging, st.getPath.getName)))
    }
    fs.listStatus(root).filter(st => st.isDirectory && isVisible(st.getPath.getName) &&
      visibleFiles(fs, st.getPath).isEmpty).foreach(st => fs.delete(st.getPath, true))
  }

  /** Qdrant `set_payload` / `delete_payload` / `clear_payload`:
    * rewrite the payload COLUMN of points matching `cond`, vectors and
    * ids untouched — a [[mergeTouched]] on `cond`. `update` maps the
    * old payload value to the new one (set = remove key + concat,
    * delete = map_filter, clear = empty map — the facade provides
    * these). Returns rows updated. */
  def updatePayload(
      spark: SparkSession,
      path: String,
      cond: Column,
      payloadCol: String,
      update: Column => Column): Long =
    updateColumns(spark, path, cond, Map(payloadCol -> update))

  /** [[updatePayload]] of several columns in one merge: each column of
    * `updates` maps to its new value on the rows matching `cond`,
    * every new value computed from the row as stored. */
  private[graft] def updateColumns(
      spark: SparkSession,
      path: String,
      cond: Column,
      updates: Map[String, Column => Column]): Long =
    mergeTouched(spark, path, "updatePayload") { existing =>
      updates.keys.foreach(c =>
        require(existing.columns.contains(c), s"no payload column $c in $path"))
      (_.filter(cond), rows => rows.select(rows.columns.toSeq.map(c => updates.get(c).fold(col(c))(
        u => when(coalesce(cond, lit(false)), u(col(c))).otherwise(col(c)).as(c))): _*))
    }

  /** The touched-file merge behind [[upsertReplace]], [[deleteMatching]]
    * and [[updatePayload]] — MERGE at file granularity. `plan` receives
    * the collection's rows and returns how to find the matched rows
    * among them and what a touched file's rows become. Only the files
    * holding a matched row are read and rewritten, so the cost is
    * O(touched files + incoming), not O(collection) — the shape a table
    * format's MERGE takes at 100 TB — and the driver holds only the
    * touched file LIST. The rewrite commits through the protocol (object
    * doc) in place of exactly those files, so an interrupted merge is
    * finished by the next rewrite instead of leaving duplicated or
    * resurrected rows. Returns the matched rows, counted on the pass
    * that lists the touched files; with none, nothing is written. */
  private def mergeTouched(spark: SparkSession, path: String, op: String)(
      plan: DataFrame => (DataFrame => DataFrame, DataFrame => DataFrame)): Long =
    withPathLock(path) {
      // a sharded layout would silently flatten: the rewritten rows
      // re-enter at the root with the shard as a DATA column (the guard
      // lives here, not only in VectorCollection — SparkEntry and
      // streaming call Sink directly)
      requireUnpartitioned(spark, path, op)
      repairPayloadUpdate(spark, path)
      val existing = spark.read.parquet(path)
      val (matched, rewrite) = plan(existing)
      // the file is named before matching: past a shuffle, input_file_name is empty
      val touched = matched(existing.withColumn("_file", input_file_name()))
        .groupBy("_file").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (touched.nonEmpty) {
        val files = touched.keys.toSeq
        commitStaged(spark, path, files)(
          rewrite(spark.read.schema(existing.schema).parquet(files: _*))
            .select(existing.columns.map(col): _*)
            .write.mode(SaveMode.Overwrite).parquet(_))
      }
      touched.values.sum
    }

  private val PayloadStagingDir = "_payload_staging"
  private val PayloadCommitMarker = "_payload_commit"

  /** Spark's hidden-name rule (`HadoopFSUtils.shouldFilterOutPathName`):
    * a name starting with `.`, or with `_` and holding no `=`, or
    * ending in `._COPYING_` is not data. The one rule that tells a
    * collection's data files and partition subtrees from its sidecars,
    * staging directory, marker and checksums. */
  private[graft] def isVisible(name: String): Boolean =
    !(name.startsWith(".") || (name.startsWith("_") && !name.contains("=")) ||
      name.endsWith("._COPYING_"))

  /** The sidecars directly under `dir`: its hidden files, less Spark's
    * job marker, the protocol's own marker and dot-files (checksums,
    * temporaries). */
  private def sidecarFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !isVisible(n) && !n.startsWith(".") && n != "_SUCCESS" &&
        n != PayloadCommitMarker
    }

  /** The data files under `dir`, descending into its visible
    * subdirectories (partition subtrees). */
  private[graft] def visibleFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter(st => isVisible(st.getPath.getName)).flatMap { st =>
      if (st.isDirectory) visibleFiles(fs, st.getPath) else Seq(st)
    }

  /** The rewrite protocol (object doc): `stage` writes the new data
    * files under the staging path it is given, the marker retires
    * `retire` (qualified path URIs), and the finish moves the staged
    * files in. Returns the data files moved in. */
  private def commitStaged(spark: SparkSession, path: String, retire: Seq[String])(
      stage: String => Unit): Int = {
    val root = new Path(path)
    val fs = fsOf(spark, path)
    stage(new Path(root, PayloadStagingDir).toString)
    writeCommitMarker(fs, root, retire)
    finishPayloadUpdate(fs, root)
  }

  /** Atomic commit-marker write: temp file + rename, so a crash
    * mid-write leaves only an invisible dot-file and never a TRUNCATED
    * marker — repair acting on a partial file list would drop only a
    * subset of the superseded originals, permanently duplicating the
    * rows of every unlisted one. */
  private def writeCommitMarker(fs: FileSystem, root: Path, touched: Seq[String]): Unit = {
    // the marker rename IS the commit point of every rewrite — the
    // lease fence runs here and nowhere else
    verifyLeaseForCommit(root.toString)
    val marker = new Path(root, PayloadCommitMarker)
    val tmp = new Path(root, s".$PayloadCommitMarker.tmp")
    val out = fs.create(tmp, true)
    try out.write(touched.mkString("\n").getBytes("UTF-8")) finally out.close()
    fs.delete(marker, false)
    require(fs.rename(tmp, marker),
      s"failed to commit the rewrite marker $marker — nothing was retired")
  }

  /** Detect and resolve an interrupted rewrite (object doc): with the
    * commit marker present the staged rewrite is complete, so finish it
    * (move staged files in, drop the superseded originals it lists);
    * without the marker any staging debris is a pre-commit abort, so
    * discard it. Idempotent; returns whether anything needed repair. */
  def repairPayloadUpdate(spark: SparkSession, path: String): Boolean = withPathLock(path) {
    val root = new Path(path)
    val fs = fsOf(spark, path)
    val marker = new Path(root, PayloadCommitMarker)
    val staging = new Path(root, PayloadStagingDir)
    if (fs.exists(marker)) { finishPayloadUpdate(fs, root); true }
    else if (fs.exists(staging)) { fs.delete(staging, true); true }
    else false
  }

  /** Post-commit half of the rewrite protocol: move each staged data
    * file to the same relative path under the root, write each staged
    * sidecar over the root's, delete the files the marker lists, then
    * clear staging + marker. Every step is idempotent (a moved file has
    * left staging; a sidecar write replaces; delete-if-present), so a
    * repair can itself be interrupted. Returns the files moved. */
  private def finishPayloadUpdate(fs: FileSystem, root: Path): Int = {
    val marker = new Path(root, PayloadCommitMarker)
    val staging = new Path(root, PayloadStagingDir)
    def moveIn(from: Path, to: Path): Int =
      fs.listStatus(from).filter(st => isVisible(st.getPath.getName)).map { st =>
        val dst = new Path(to, st.getPath.getName)
        if (st.isDirectory) { fs.mkdirs(dst); moveIn(st.getPath, dst) }
        else if (fs.rename(st.getPath, dst)) 1
        else throw new java.io.IOException(
          s"rewrite commit: failed to move staged file ${st.getPath} into $to")
      }.sum
    val moved = if (!fs.exists(staging)) 0 else {
      val n = moveIn(staging, root)
      sidecarFiles(fs, staging).foreach(st =>
        writeSidecar(new Path(root, st.getPath.getName).toString, readSidecar(st.getPath.toString)))
      n
    }
    val in = fs.open(marker)
    val listed =
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
      finally in.close()
    listed.split("\n").filter(_.nonEmpty).foreach { f =>
      val p = new Path(new java.net.URI(f))
      if (fs.exists(p)) fs.delete(p, false)
    }
    fs.delete(staging, true)
    fs.delete(marker, false)
    moved
  }

  /** Qdrant collection aliases (`update_collection_aliases`): a stable
    * name that can be atomically repointed at a different collection —
    * the blue/green primitive for zero-downtime reindexing (build v2
    * under a new path, switch the alias, drop v1). An alias is a tiny
    * pointer file `<root>/_aliases/<alias>` holding the target path;
    * the switch writes a temp file, deletes the old pointer, and
    * renames the temp in (HDFS rename refuses an existing
    * destination, so delete-first is unavoidable). A reader never sees
    * a TORN pointer — rename is per-file atomic — but there is a
    * sub-ms no-pointer window between delete and rename, which
    * [[resolveAlias]] absorbs with a bounded retry. Resolution cost is
    * one small-file read per open, nothing per query. */
  def setAlias(spark: SparkSession, root: String, alias: String, target: String): Unit = {
    require(!alias.contains("/"), s"alias must be a bare name: $alias")
    val dir = new Path(root, "_aliases")
    val fs = fsOf(spark, root)
    fs.mkdirs(dir)
    val tmp = new Path(dir, s".$alias.tmp")
    val out = fs.create(tmp, true)
    try out.write(target.getBytes("UTF-8")) finally out.close()
    val dst = new Path(dir, alias)
    // rename can fail without throwing (racing writer recreated dst,
    // permissions) — a silently missing/stale pointer would surface
    // later as a spurious unknown-alias, so fail the SWITCH instead
    if (fs.exists(dst) && !fs.delete(dst, false))
      throw new java.io.IOException(
        s"alias switch failed: could not delete old pointer $dst")
    if (!fs.rename(tmp, dst))
      throw new java.io.IOException(
        s"alias switch failed: rename $tmp -> $dst returned false " +
          "(racing writer or permissions); old pointer was removed - retry setAlias")
  }

  /** Resolve an alias to its current target path (fails by name for an
    * unknown alias — Qdrant's 404). [[setAlias]] must delete the old
    * pointer before renaming the new one in (HDFS rename refuses an
    * existing destination), so a concurrent switch has a sub-ms window
    * with no pointer file; a short bounded retry rides it out instead
    * of surfacing a spurious unknown-alias to a reader mid-switch. */
  def resolveAlias(spark: SparkSession, root: String, alias: String): String = {
    val p = new Path(new Path(root, "_aliases"), alias)
    val fs = fsOf(spark, root)
    var attempts = 0
    while (!fs.exists(p) && attempts < 5) { Thread.sleep(20); attempts += 1 }
    require(fs.exists(p), s"unknown alias: $alias")
    val in = fs.open(p)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  /** Drop an alias (`delete_alias`). Returns whether it existed. */
  def deleteAlias(spark: SparkSession, root: String, alias: String): Boolean = {
    fsOf(spark, root).delete(new Path(new Path(root, "_aliases"), alias), false)
  }

  /** Maintenance: compact a collection directory's accumulated small
    * part files (every [[append]]/[[upsertReplace]] adds some) into
    * `targetRowsPerFile`-sized files. The small-files problem is the
    * dominant read-amplification cost of an append-only 100 TB
    * collection: task scheduling, footer reads, and row-group overhead
    * all scale with file COUNT, not bytes. A [[rewriteAll]]. Returns
    * the new file count. */
  def compact(spark: SparkSession, path: String, targetRowsPerFile: Long): Int =
    rewriteAll(spark, path, "compact")(compacted(targetRowsPerFile))

  /** [[compact]] for a shard-partitioned layout: each `shard=…`
    * subtree is compacted independently — the shard is Qdrant's unit
    * of segment maintenance, and per-subtree rewrites keep the
    * directory-encoded shard column intact (the flattening hazard
    * [[requireUnpartitioned]] refuses on the whole-directory path).
    * Each shard stages as `_payload_staging/shard=v/…` and commits on
    * its own — one marker and one lease fence per shard — retiring
    * exactly the files its read scanned. The hidden staging directory
    * never shows up as a phantom shard value in a concurrent
    * partition-discovering read. Data files under a shard subtree
    * never contain the shard column (partitionBy excludes it), so the
    * subtree rewrite preserves file schema exactly. At 100 TB the
    * shards compact embarrassingly parallel — each rewrite touches one
    * subtree's bytes. Single-writer, like [[compact]]. Returns total
    * files written across shards. */
  def compactShards(spark: SparkSession, path: String, targetRowsPerFile: Long): Int = withPathLock(path) {
    repairPayloadUpdate(spark, path)
    val shards = fsOf(spark, path).listStatus(new Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
    require(shards.nonEmpty,
      s"compactShards: no shard=value subtrees under $path " +
        "(unsharded collections use compact)")
    shards.map { st =>
      val data = spark.read.parquet(st.getPath.toString)
      commitStaged(spark, path, data.inputFiles.toSeq)(staging =>
        compacted(targetRowsPerFile)(data).write.mode(SaveMode.Overwrite)
          .parquet(s"$staging/${st.getPath.getName}"))
    }.sum
  }

  /** `data` in `targetRowsPerFile`-sized partitions. */
  private def compacted(targetRowsPerFile: Long)(data: DataFrame): DataFrame =
    data.repartition(fileCountFor(data.count(), targetRowsPerFile))

  /** The whole-collection rewrite behind [[compact]], [[indexPayload]],
    * [[indexPayloadZ]] and [[indexClusters]]: `layout` receives the
    * collection's rows and returns them as the new files should hold
    * them. Commits through the protocol (object doc), retiring exactly
    * the files its read scanned; `sidecars` (name → content) commit
    * with the rows, other sidecars stay in place. Returns files
    * written. */
  private def rewriteAll(spark: SparkSession, path: String, op: String,
      sidecars: Map[String, String] = Map.empty)(
      layout: DataFrame => DataFrame): Int = withPathLock(path) {
    repairPayloadUpdate(spark, path)
    requireUnpartitioned(spark, path, op)
    val data = spark.read.parquet(path)
    commitStaged(spark, path, data.inputFiles.toSeq) { staging =>
      layout(data).write.mode(SaveMode.Overwrite).parquet(staging)
      sidecars.foreach { case (name, content) => writeSidecar(s"$staging/$name", content) }
    }
  }

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Whole-directory rewrites read `path` flat and would silently
    * FLATTEN a directory-partitioned (sharded) layout — every routed
    * search's partition pruning would quietly degrade to full scans.
    * Refuse loudly instead; sharded collections compact per shard
    * subtree ([[compactShards]]). */
  private def requireUnpartitioned(spark: SparkSession, path: String, op: String): Unit = {
    val parts = fsOf(spark, path).listStatus(new Path(path))
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .map(_.getPath.getName)
    require(parts.isEmpty,
      s"$op on a partitioned collection would flatten its ${parts.head.takeWhile(_ != '=')}= " +
        s"subtree layout; run $op per shard subtree instead")
  }

  /** Qdrant `create_payload_index(field)` re-expressed for a columnar
    * store. In Qdrant the payload index is a per-field structure that
    * lets a filtered search skip non-matching points; on parquet the
    * same skip comes from DATA LAYOUT — rewrite the collection
    * range-partitioned AND sorted by `field`, so each file (and each
    * row group inside it) covers a narrow value interval, equal keys
    * land in one file, and the engine's ordinary min/max footer
    * statistics prune every file a pushed filter cannot match. One
    * O(collection) rewrite buys O(matching bytes) filtered scans —
    * the cluster-key trade every warehouse makes, and the 100 TB
    * answer to "index the payload" without any tree structure. A
    * [[rewriteAll]]; per-file range disjointness is spec-asserted
    * (IngestSinkSpec). Returns files written. */
  def indexPayload(
      spark: SparkSession,
      path: String,
      field: String,
      targetRowsPerFile: Long = 1L << 20): Int =
    rewriteAll(spark, path, "indexPayload") { data =>
      data.repartitionByRange(fileCountFor(data.count(), targetRowsPerFile), col(field))
        .sortWithinPartitions(col(field))
    }

  /** Z-order payload layout — `createPayloadIndex` over TWO fields.
    * [[indexPayload]]'s range layout clusters ONE column; a filter on
    * any other column still touches every file. Z-ordering interleaves
    * the bits of both fields' 256-bucket grid positions into a Morton
    * key and lays files out along it, so rows matching a selective
    * predicate on EITHER field concentrate in a few files and parquet
    * footer min/max skip the rest — the standard lakehouse multi-column
    * data-skipping layout.
    *
    * Scale: the grid bounds come from one min/max aggregate (driver
    * gets 4 numbers); the Morton key is a static codegen'd expression;
    * the layout is repartitionByRange + sortWithinPartitions — all
    * distributed, no window. Uniform buckets keep both engines exact;
    * on heavily skewed columns swap the grid for approxQuantile
    * boundaries (broadcast, same interleave). A [[rewriteAll]]. */
  def indexPayloadZ(
      spark: SparkSession,
      path: String,
      fieldA: String,
      fieldB: String,
      targetRowsPerFile: Long = 1L << 20): Int =
    rewriteAll(spark, path, "indexPayloadZ") { data =>
      // ONE stats pass: bounds + row count together. NaNs are excluded
      // from the bounds (a max() over doubles returns NaN if any row is
      // NaN, which would poison the whole grid) and bucket to cell 0 in
      // gridBucket — layout quality degrades for those rows, correctness
      // does not.
      def nn(f: String) = {
        val v = col(f).cast("double")
        when(!isnan(v), v)
      }
      val b = data.agg(
        min(nn(fieldA)), max(nn(fieldA)), min(nn(fieldB)), max(nn(fieldB)), count(lit(1))).head
      require(!(0 to 3).exists(b.isNullAt),
        s"indexPayloadZ: $fieldA/$fieldB need at least one non-null, non-NaN value each")
      data
        .withColumn("_zkey", morton8(
          gridBucket(col(fieldA), b.getDouble(0), b.getDouble(1)),
          gridBucket(col(fieldB), b.getDouble(2), b.getDouble(3))))
        .repartitionByRange(fileCountFor(b.getLong(4), targetRowsPerFile), col("_zkey"))
        .sortWithinPartitions(col("_zkey"))
        .drop("_zkey")
    }

  /** IVF cluster layout (`buildIvfIndex`): every row's `clusterCol` set
    * to `assign` (its nearest centroid), the rows range-clustered on
    * (`clusterCol`, `idCol`), and the `sidecars` (the centroids)
    * committed with them. The range shuffle has one partition per core
    * or more, never fewer — left to AQE it may coalesce a small
    * collection into one file — so each file, and each partition of a
    * resident copy built from the files, holds a contiguous run of
    * clusters that parquet footer and in-memory batch statistics prune
    * a cluster probe on. A [[rewriteAll]]. Returns files written. */
  def indexClusters(
      spark: SparkSession,
      path: String,
      clusterCol: String,
      assign: Column,
      idCol: String,
      sidecars: Map[String, String]): Int =
    rewriteAll(spark, path, "indexClusters", sidecars)(
      _.withColumn(clusterCol, assign)
        .repartitionByRange(spark.sparkContext.defaultParallelism, col(clusterCol), col(idCol)))

  /** Uniform 256-cell grid position of `v` in [lo, hi], clamped; NaN
    * (excluded from the bounds) buckets to cell 0 instead of throwing
    * an ANSI cast error mid-rewrite. */
  private def gridBucket(v: Column, lo: Double, hi: Double): Column =
    if (hi <= lo) lit(0L)
    else {
      val vd = v.cast("double")
      when(isnan(vd), lit(0L)).otherwise(least(greatest(
        floor((vd - lit(lo)) / lit(hi - lo) * 256.0).cast("long"),
        lit(0L)), lit(255L)))
    }

  /** Morton (bit-interleave) key of two 8-bit grid positions. */
  private def morton8(a: Column, b: Column): Column =
    (0 until 8).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i).bitwiseOR(
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  private def fileCountFor(rows: Long, targetRowsPerFile: Long): Int = {
    // 0 would yield Infinity -> Int.MaxValue partitions; negative
    // would silently coalesce to one file — both caller bugs
    require(targetRowsPerFile > 0,
      s"targetRowsPerFile must be positive, got $targetRowsPerFile")
    math.max(1, math.ceil(rows.toDouble / targetRowsPerFile).toInt)
  }

  /** Bucketed collection layout: hash-bucket the points on `idCol`
    * into `nBuckets` files, each sorted on the id (Spark bucketing —
    * catalog-registered, since bucket metadata lives in the table
    * definition, with data at `path`).
    *
    * This is the layout that amortizes the shuffle ONCE at write time
    * for every co-located operation after it: two collections bucketed
    * the same way join with NO exchange on either side (the 100 TB
    * upsert anti-join, dedup self-join, and incremental-index merge
    * all key on the id), per-id aggregation needs no exchange, and a
    * point lookup prunes to 1 of `nBuckets` buckets at the scan
    * (`SelectedBucketsCount` in the plan). The write itself shuffles
    * once into `nBuckets` sorted files — that is the price, paid when
    * the data lands rather than on every query. Asserted in
    * BucketedLayoutSpec. */
  def writeBucketed(points: DataFrame, table: String, path: String,
      idCol: String, nBuckets: Int): Unit =
    points.write.mode(SaveMode.Overwrite)
      .format("parquet")
      .bucketBy(nBuckets, idCol)
      .sortBy(idCol)
      .option("path", path)
      .saveAsTable(table)
}
