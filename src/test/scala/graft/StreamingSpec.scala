package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.streaming.Streams

/** Structured Streaming behavior beyond the oracle gate. */
class StreamingSpec extends SparkSpec {

  test("sessionize: stateful streaming equals batch window sessionization") {
    val streamed = Streams.sessionize(spark, sf)
    // batch equivalent: gap-break + running session id
    val e = Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
    val batch = e
      .withColumn("brk",
        when(col("ts_us") - lag(col("ts_us"), 1).over(w) > 3600000000L, 1).otherwise(0))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"), min(col("ts_us")).as("first_ts"),
        max(col("ts_us")).as("last_ts"))
      .select(col("user_id"), col("n_events"), col("first_ts"), col("last_ts"))
    assert(streamed.exceptAll(batch).count() === 0L)
    assert(batch.exceptAll(streamed).count() === 0L)
  }

  test("empty events input refuses with a named error, not an NPE") {
    import java.nio.file.Files
    // an sf dir whose events table has the fixture schema but ZERO
    // rows: the sentinel/replay builders need a max timestamp and must
    // say so (max over empty was an NPE at the getLong)
    val base = Files.createTempDirectory("graft_empty_ev").toFile.getAbsolutePath
    Tables.events(spark, sf).limit(0).write.parquet(s"$base/events.parquet")
    val e1 = intercept[IllegalArgumentException] {
      Streams.sentinelSourceDir(spark, base)
    }
    assert(e1.getMessage.contains("empty events input"))
    val e2 = intercept[IllegalArgumentException] {
      Streams.dedupSourceDir(spark, base)
    }
    assert(e2.getMessage.contains("empty events input"))
  }

  test("near-dup gate: a single first batch (no history) flags nothing, not a crash") {
    import java.nio.file.Files
    // one arriving file = one micro-batch: there is no prior history
    // to flag against, the flagged sink is never written, and the
    // read-back was a PATH_NOT_FOUND crash — the correct answer is an
    // empty (new_id, hist_id, jaccard) frame
    val src = Files.createTempDirectory("graft_neardup_single").toFile.getAbsolutePath
    val docs = Tables.t(spark, sf, "documents").select(col("doc_id"), col("text")).limit(40)
    Streams.writeSingleFile(spark, docs, s"$src/00_only.parquet")
    val out = Streams.streamingNearDupGateFrom(spark, src, docs.schema)
    assert(out.columns.toSeq === Seq("new_id", "hist_id", "jaccard"))
    assert(out.count() === 0L)
  }

  test("incremental index stream: ingests once, re-run adds nothing") {
    import graft.api.{CollectionConfig, VectorCollection}
    import graft.streaming.IncrementalIndex
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_inc").toFile.getAbsolutePath
    val docs = Tables.t(spark, sf, "documents")
    val like = docs.select(lit(0L).as("point_id"),
      lit(Array.empty[Float]).as("embedding"), col("doc_id"),
      col("source").as("folder")).limit(0)
    val c = VectorCollection.ensure(spark, s"$base/col", like,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    IncrementalIndex.run(spark, sf, c, s"$base/ckpt1")
    val n1 = c.count
    assert(n1 === docs.count())
    // fresh checkpoint → source re-delivers everything; idempotent ids
    // mean the collection does not grow
    IncrementalIndex.run(spark, sf, c, s"$base/ckpt2")
    assert(c.count === n1)
    // and a top-k search over the streamed-in collection works
    val qv = spark.range(1)
      .select(graft.index.Embedder.embedRaw(
        graft.index.Embedder.tokenHashes(lit("window merge sort"))).as("v"))
      .head.getSeq[Double](0).map(_.toFloat)
    assert(c.search(qv, 5).count() === 5)
  }

  test("live ANN index stream: new points probe-able, re-delivery adds no index rows") {
    import graft.api.{CollectionConfig, VectorCollection}
    import graft.streaming.IncrementalIndex
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_annstream").toFile.getAbsolutePath
    val docs = Tables.t(spark, sf, "documents")
    // seed the collection with HALF the corpus and build the index on it
    val half = docs.filter(col("doc_id") % 2 === 0)
      .withColumn("_th", graft.index.Embedder.tokenHashes(col("text")))
      .select(graft.index.Embedder.stringHash64(col("text")).as("point_id"),
        graft.index.Embedder.embedRaw(col("_th")).cast("array<float>").as("embedding"),
        col("doc_id"), col("source").as("folder"))
    val c = VectorCollection.ensure(spark, s"$base/col", half.limit(0),
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    c.upsert(half)
    c.buildIvfIndex(nClusters = 8, lloydIters = 1)
    assert(c.count === half.count())
    // stream the FULL corpus: odd docs are new (the collection and its
    // index grow), even docs re-deliver (the anti-join keeps it
    // idempotent)
    IncrementalIndex.run(spark, sf, c, s"$base/ckpt1")
    val total = docs.count()
    assert(c.count === total, "every point exactly once in the index")
    assert(spark.read.parquet(s"$base/col").filter(col("cluster_id").isNull).count() === 0L,
      "every streamed point carries its cluster")
    // a second full re-delivery adds nothing
    IncrementalIndex.run(spark, sf, c, s"$base/ckpt2")
    assert(c.count === total)
    // a streamed-in (odd) doc is findable through the pruned ANN probe
    val oddDoc = docs.filter(col("doc_id") === 1).head
    val qv = spark.range(1)
      .select(graft.index.Embedder.embedRaw(graft.index.Embedder.tokenHashes(
        lit(oddDoc.getString(oddDoc.fieldIndex("text"))))).as("v"))
      .head.getSeq[Double](0).map(_.toFloat)
    val hits = c.searchAnn(qv, k = 3, nprobe = 2).collect()
    assert(hits.nonEmpty && hits.head.getDouble(1) === 1.0,
      "the streamed point's own text must probe to similarity 1.0")
  }

  test("replacing index stream: re-delivery replaces points, count stable") {
    import graft.api.{CollectionConfig, VectorCollection}
    import graft.streaming.IncrementalIndex
    import java.nio.file.Files
    val base = Files.createTempDirectory("graft_repl").toFile.getAbsolutePath
    val docs = Tables.t(spark, sf, "documents")
    val like = docs.select(lit(0L).as("point_id"),
      lit(Array.empty[Float]).as("embedding"), col("doc_id"),
      col("source").as("folder")).limit(0)
    val c = VectorCollection.ensure(spark, s"$base/col", like,
      CollectionConfig("point_id", "embedding", 64, multiVector = false))
    IncrementalIndex.runReplacing(spark, sf, c, s"$base/ckpt1")
    val n1 = c.count
    assert(n1 === docs.count())
    // fresh checkpoint → full re-delivery; REPLACE keeps one point per
    // id (no growth) while rewriting them (Qdrant upsert semantics)
    IncrementalIndex.runReplacing(spark, sf, c, s"$base/ckpt2")
    assert(c.count === n1)
    // ids unique after the replay — replace, not append
    assert(spark.read.parquet(s"$base/col")
      .groupBy(col("point_id")).count().filter(col("count") > 1).count() === 0L)
  }

  test("sessionize across >=2 micro-batches: no duplicate emission, equals batch result") {
    import java.nio.file.Files
    import org.apache.spark.sql.functions.max
    val dir = Files.createTempDirectory("graft_mb").toString
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val codec = Tables.tsCodec(raw.schema)
    val (minUs, maxUs) = {
      val r = raw.agg(org.apache.spark.sql.functions.min(codec.toMicros), max(codec.toMicros)).head
      (r.getLong(0), r.getLong(1))
    }
    val mid = minUs + (maxUs - minUs) / 2
    // time-ordered halves: batch 2 is never late vs batch 1's watermark
    Streams.writeSingleFile(spark, raw.filter(codec.toMicros <= mid), s"$dir/00_a.parquet")
    Streams.writeSingleFile(spark, raw.filter(codec.toMicros > mid), s"$dir/01_b.parquet")
    Streams.writeSingleFile(spark, Streams.sentinelRow(spark, codec, maxUs, 6), s"$dir/02_sentinel.parquet")
    // pin mtimes so maxFilesPerTrigger=1 delivers the files in time order
    Seq("00_a.parquet", "01_b.parquet", "02_sentinel.parquet").zipWithIndex.foreach {
      case (f, i) => new java.io.File(s"$dir/$f").setLastModified(1000000L * (i + 1))
    }
    val streamed = Streams.sessionizeFrom(spark, dir, raw.schema, 60, Some(1)).cache()
    // exactly-once: no (user, first_ts) emitted twice across batches
    assert(streamed.groupBy(col("user_id"), col("first_ts"))
      .count().filter(col("count") > 1).count() === 0L)
    // and the multi-batch run equals the single-batch run
    val whole = Streams.sessionize(spark, sf).cache()
    assert(streamed.exceptAll(whole).count() === 0L)
    assert(whole.exceptAll(streamed).count() === 0L)
  }

  test("streaming dedup across >=2 micro-batches: replayed tail suppressed, state bounded") {
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_mb").toString
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val codec = Tables.tsCodec(raw.schema)
    val maxUs = raw.agg(max(codec.toMicros)).head.getLong(0)
    val tail = raw.filter(codec.toMicros >= maxUs - 3600L * 1000000L)
    Streams.writeSingleFile(spark, raw, s"$dir/00_events.parquet")
    Streams.writeSingleFile(spark, tail, s"$dir/01_dups.parquet")
    Seq("00_events.parquet", "01_dups.parquet").zipWithIndex.foreach {
      case (f, i) => new java.io.File(s"$dir/$f").setLastModified(1000000L * (i + 1))
    }
    assert(tail.count() > 0, "fixture must provide a replayable tail")
    // maxFilesPerTrigger=1: the duplicates arrive in a LATER batch than
    // the originals, so suppression exercises cross-batch dedup state
    val out = Streams.streamingDedupFrom(spark, dir, raw.schema, Some(1)).cache()
    assert(out.count() === raw.count())
    assert(out.groupBy(col("event_id")).count().filter(col("count") > 1).count() === 0L)
  }

  test("streaming top-k: per-window heap state is O(windows·k), ranks well-formed") {
    val out = Streams.eventTopKStreaming(spark, sf).cache()
    val windows = out.select(col("window_start")).distinct().count()
    assert(windows > 0)
    // every window carries at most k=3 dense ranks starting at 1
    val bad = out.groupBy(col("window_start"))
      .agg(count(lit(1)).as("n"), min(col("rnk")).as("lo"), max(col("rnk")).as("hi"))
      .filter(col("n") > 3 || col("lo") =!= 1 || col("hi") =!= col("n"))
      .count()
    assert(bad === 0L, "ranks must be dense 1..min(k, window size)")
    // within each window, value is non-increasing by rank
    import spark.implicits._
    val nonMono = out.select(col("window_start"), col("rnk"), col("value"))
      .as[(String, Long, Double)].collect()
      .groupBy(_._1).values
      .count(rows => rows.sortBy(_._2).map(_._3).sliding(2)
        .exists(p => p.length == 2 && p(0) < p(1)))
    assert(nonMono === 0, "rank order must follow value desc")
    // heap state: aggregate state rows = in-flight windows, each O(k) —
    // far below the event count (the collect_list formulation would
    // hold every event)
    val maxState = Streams.lastRunProgress
      .map(_.stateOperators.map(_.numRowsTotal).sum).maxOption.getOrElse(0L)
    val events = spark.read.parquet(s"$sf/events.parquet").count()
    assert(maxState > 0 && maxState <= windows + 2,
      s"state rows ($maxState) must track windows ($windows), not events ($events)")
    out.unpersist()
  }

  test("stream-stream join matches across micro-batches (click first, purchase later)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ssj_mb").toString
    val h = 3600L * 1000000000L
    def ev(id: Long, tsNs: Long, tp: String) =
      (id, tsNs, 5L, tp, 1.0, null.asInstanceOf[String])
    val b1 = Seq(ev(1L, 10 * h, "click"), ev(2L, 20 * h, "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // purchase 30min after click 1 (joins), 3h after click 2 (does not)
    val b2 = Seq(ev(3L, 10 * h + h / 2, "purchase"), ev(4L, 23 * h, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    Streams.writeSingleFile(spark, b1, s"$dir/00_clicks.parquet")
    Streams.writeSingleFile(spark, b2, s"$dir/01_purchases.parquet")
    Seq("00_clicks.parquet", "01_purchases.parquet").zipWithIndex.foreach {
      case (f, i) => new java.io.File(s"$dir/$f").setLastModified(1000000L * (i + 1))
    }
    val out = Streams.streamStreamJoinFrom(spark, dir, b1.schema, Some(1)).collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 1L && out.head.getLong(2) === 3L)
  }

  test("stream-static enrich: multi-batch output equals batch join, stateless") {
    val dir = java.nio.file.Files.createTempDirectory("graft_enrich_mb").toString
    val raw = spark.read.parquet(s"$sf/events.parquet")
    // two micro-batches: the dimension must resolve in BOTH, and no
    // event may emit twice (a stateful formulation would re-emit)
    Streams.writeSingleFile(spark,
      raw.filter(col("event_id") % 2 === 0), s"$dir/00_even.parquet")
    Streams.writeSingleFile(spark,
      raw.filter(col("event_id") % 2 === 1), s"$dir/01_odd.parquet")
    Seq("00_even.parquet", "01_odd.parquet").zipWithIndex.foreach {
      case (f, i) => new java.io.File(s"$dir/$f").setLastModified(1000000L * (i + 1))
    }
    val out = Streams.streamStaticEnrichFrom(spark, dir, raw.schema, sf, Some(1)).cache()
    assert(out.count() === raw.count(), "inner join keeps every event (all user_ids resolve)")
    assert(out.groupBy(col("event_id")).count().filter(col("count") =!= 1).count() === 0L,
      "no event enriched twice across batches")
    // the join is stream-static, not stream-stream: NO state operator
    // ever holds a row — the property that makes it free at scale
    assert(Streams.lastRunProgress.forall(_.stateOperators.forall(_.numRowsTotal == 0L)),
      "stream-static join must not accrue join state")
    out.unpersist()
  }

  test("outer stream-stream join: unmatched click emits null ONLY after watermark proof") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ssjo_mb").toString
    val h = 3600L * 1000000000L
    def ev(id: Long, tsNs: Long, tp: String) =
      (id, tsNs, 5L, tp, 1.0, null.asInstanceOf[String])
    val b1 = Seq(ev(1L, 10 * h, "click"), ev(2L, 20 * h, "click"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // purchase 30min after click 1 (matches); click 2 never matches —
    // its null verdict needs the watermark to pass 21h + 2h delay,
    // which only the batch-3 sentinel (26h) provides
    val b2 = Seq(ev(3L, 10 * h + h / 2, "purchase"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    Streams.writeSingleFile(spark, b1, s"$dir/00_clicks.parquet")
    Streams.writeSingleFile(spark, b2, s"$dir/01_purchases.parquet")
    Streams.writeSingleFile(spark,
      Streams.sentinelRow(spark, Tables.TsNanosAsLong, 20 * h / 1000, 6),
      s"$dir/02_sentinel.parquet")
    Seq("00_clicks.parquet", "01_purchases.parquet", "02_sentinel.parquet")
      .zipWithIndex.foreach { case (f, i) =>
        new java.io.File(s"$dir/$f").setLastModified(1000000L * (i + 1))
      }
    val out = Streams.streamStreamJoinOuterFrom(spark, dir, b1.schema, Some(1))
      .orderBy(col("click_id")).collect()
    assert(out.length === 2, s"both clicks must emit: ${out.toSeq}")
    assert(out(0).getLong(1) === 1L && out(0).getLong(2) === 3L, "matched pair")
    assert(out(1).getLong(1) === 2L && out(1).isNullAt(2),
      "unmatched click emits with null purchase after watermark eviction")
  }

  test("late in-watermark event extends the open session instead of shrinking it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_late_mb").toString
    val h = 3600L * 1000000000L // ns per hour
    def ev(id: Long, tsNs: Long) =
      (id, tsNs, 7L, "click", 1.0, null.asInstanceOf[String])
    val schemaDf = Seq(ev(1L, 10 * h), ev(2L, 11 * h + h / 2))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // batch 1: 10:00 and 11:30 (90min gap -> one closed, one open session)
    Streams.writeSingleFile(spark, schemaDf, s"$dir/00_a.parquet")
    // batch 2: LATE 10:30 event — above the watermark (11:30 − 2h), and
    // within the open session's gap window; must not shrink `last`
    Streams.writeSingleFile(spark,
      Seq(ev(3L, 10 * h + h / 2)).toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      s"$dir/01_late.parquet")
    Streams.writeSingleFile(spark,
      Streams.sentinelRow(spark, Tables.TsNanosAsLong, 12 * h / 1000, 6),
      s"$dir/02_sentinel.parquet")
    Seq("00_a.parquet", "01_late.parquet", "02_sentinel.parquet").zipWithIndex.foreach {
      case (f, i) => new java.io.File(s"$dir/$f").setLastModified(1000000L * (i + 1))
    }
    val out = Streams.sessionizeFrom(spark, dir, schemaDf.schema, 60, Some(1)).cache()
    assert(out.filter(col("last_ts") < col("first_ts")).count() === 0L)
    // the open session absorbed the late event: [10:30, 11:30] with 2 events
    val open = out.filter(col("n_events") === 2).head
    assert(open.getLong(2) === (10 * h + h / 2) / 1000)
    assert(open.getLong(3) === (11 * h + h / 2) / 1000)
  }

  test("sessions have positive durations and event counts") {
    val s = Streams.sessionize(spark, sf)
    assert(s.filter(col("n_events") < 1 || col("last_ts") < col("first_ts")).count() === 0L)
    assert(s.count() > 0)
  }

  // ---- state boundedness: the 100 TB property, observed ----
  //
  // Each scenario feeds >=4 micro-batches whose event times advance
  // 3 h per batch — past the 2 h watermark delay — so every batch
  // RETIRES the previous batch's state. If eviction works, the state
  // store's numRowsTotal stays flat (bounded by one batch's worth of
  // keys); if it leaked, it would climb by ~every batch. The assertion
  // is on the per-batch metric, not on output — the difference between
  // "result is right on a bounded fixture" and "state wouldn't OOM on
  // an unbounded stream".

  /** Sum of state rows per micro-batch that processed input. */
  private def stateRowsPerBatch(): Seq[Long] =
    Streams.lastRunProgress
      .filter(p => p.numInputRows > 0 && p.stateOperators.nonEmpty)
      .map(_.stateOperators.map(_.numRowsTotal).sum)

  private def assertFlat(rows: Seq[Long], bound: Long, what: String): Unit = {
    assert(rows.length >= 3, s"$what: need >=3 stateful batches, got $rows")
    assert(rows.exists(_ > 0), s"$what: state never populated: $rows")
    rows.foreach(r => assert(r <= bound,
      s"$what: state grew past one batch's bound ($r > $bound): $rows"))
  }

  private val hourNs = 3600L * 1000000000L

  /** Batches of long-ns events, one file per batch, 3 h apart, sentinel
    * last; 5 users per batch, `kinds` cycling per user. */
  private def advancingBatches(
      nBatches: Int, kinds: Seq[String]): (String, org.apache.spark.sql.types.StructType) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_state_mb").toString
    def rows(b: Int) = (0 until 5).flatMap { u =>
      kinds.zipWithIndex.map { case (k, j) =>
        ((b * 100 + u * 10 + j).toLong, (10 + 3 * b) * hourNs + j * hourNs / 10,
          u.toLong, k, 1.0, null.asInstanceOf[String])
      }
    }
    var schema: org.apache.spark.sql.types.StructType = null
    (0 until nBatches).foreach { b =>
      val df = rows(b).toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      schema = df.schema
      Streams.writeSingleFile(spark, df, f"$dir/$b%02d_batch.parquet")
    }
    Streams.writeSingleFile(spark,
      Streams.sentinelRow(spark, Tables.TsNanosAsLong,
        (10 + 3 * nBatches) * hourNs / 1000, 6),
      f"$dir/$nBatches%02d_sentinel.parquet")
    (0 to nBatches).foreach { i =>
      new java.io.File(f"$dir/$i%02d_${if (i == nBatches) "sentinel" else "batch"}.parquet")
        .setLastModified(1000000L * (i + 1))
    }
    (dir, schema)
  }

  test("sessionize state stays flat across watermark-advancing batches") {
    val (dir, schema) = advancingBatches(4, Seq("click"))
    Streams.sessionizeFrom(spark, dir, schema, 60, Some(1)).count()
    // 5 users + the sentinel's open session: one open session per key
    assertFlat(stateRowsPerBatch(), bound = 6, "sessionize")
  }

  test("built-in session_window state stays flat across watermark-advancing batches") {
    val (dir, schema) = advancingBatches(4, Seq("click"))
    Streams.sessionizeBuiltinFrom(spark, dir, schema, Some(1)).count()
    // the declarative sessionizer holds ~2× the hand-rolled one's
    // state (measured flat at 10 = current + previous batch's 5 open
    // sessions — finalized sessions evict one watermark beat later
    // than flatMapGroupsWithState's timeout path) — still O(live
    // keys), never O(stream)
    assertFlat(stateRowsPerBatch(), bound = 10, "session_window")
  }

  test("built-in session_window equals the hand-rolled sessionizer on multi-batch input") {
    val (dir, schema) = advancingBatches(3, Seq("click"))
    val builtin = Streams.sessionizeBuiltinFrom(spark, dir, schema, Some(1))
    val custom = Streams.sessionizeFrom(spark, dir, schema, 60, Some(1))
    assert(builtin.count() > 0)
    assert(builtin.exceptAll(custom).count() === 0L)
    assert(custom.exceptAll(builtin).count() === 0L)
  }

  test("built-in session_window defaults to RocksDB state and restores the session conf") {
    import scala.jdk.CollectionConverters._
    def ranOnRocksDb: Boolean = Streams.lastRunProgress.exists(_.stateOperators.exists(
      _.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))))
    val k = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.get(k)
    val (dir, schema) = advancingBatches(3, Seq("click"))
    Streams.sessionizeBuiltinFrom(spark, dir, schema, Some(1)).count()
    // the provider is an observable of the run (RocksDB publishes
    // rocksdb* custom metrics on its state operator), not just a conf
    assert(ranOnRocksDb,
      "the builtin sessionizer must default to the RocksDB provider " +
        "(its pre-merge state is event-proportional — measured OOM on " +
        "the on-heap store at 100M single-batch events)")
    assert(spark.conf.get(k) === prior,
      "the session's provider conf must be restored after the query")
    // the opt-out knob honors whatever provider the session pinned
    spark.conf.set("spark.graft.stream.stateStore", "session")
    try {
      val (dir2, schema2) = advancingBatches(3, Seq("click"))
      Streams.sessionizeBuiltinFrom(spark, dir2, schema2, Some(1)).count()
      assert(!ranOnRocksDb,
        "stateStore=session must leave the session's (on-heap) provider in charge")
    } finally spark.conf.unset("spark.graft.stream.stateStore")
  }

  test("stream-stream join state stays flat across watermark-advancing batches") {
    val (dir, schema) = advancingBatches(4, Seq("click", "purchase"))
    Streams.streamStreamJoinFrom(spark, dir, schema, Some(1)).count()
    // per batch: 10 rows buffered (5 clicks + 5 purchases) plus the
    // not-yet-evicted previous boundary and watermark bookkeeping
    assertFlat(stateRowsPerBatch(), bound = 25, "stream-stream join")
  }

  test("outer stream-stream join state stays flat across watermark-advancing batches") {
    val (dir, schema) = advancingBatches(4, Seq("click", "purchase"))
    Streams.streamStreamJoinOuterFrom(spark, dir, schema, Some(1)).count()
    assertFlat(stateRowsPerBatch(), bound = 25, "outer stream-stream join")
  }

  test("streaming near-dup gate: every planted copy flags against its earlier-batch source") {
    val flagged = Streams.streamingNearDupGate(spark, sf).cache()
    val planted = spark.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 25 === 0)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    // census: each planted (+1000000) copy arrived in batch 2 and must
    // match its batch-0/1 source — the gate cannot pass vacuously
    val hits = flagged
      .filter(col("new_id") >= 1000000L)
      .select(col("new_id"), col("hist_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    planted.foreach { id =>
      assert(hits.contains((id + 1000000L, id)),
        s"planted copy of $id must flag against its source") }
    // matches only point BACKWARD in arrival order: history ids are
    // never planted batch-2 ids
    assert(flagged.filter(col("hist_id") >= 1000000L).count() === 0L)
    flagged.unpersist()
  }
}
