package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with total + per-query wall
  * times over SPARK_GRAFT_SF_DIR.
  *
  * A full warm-up pass at sf0.001 runs first (not timed): it forces
  * JIT + whole-stage-codegen compilation of every query's generated
  * classes so the timed pass measures steady-state throughput, the
  * number that scales to a long-lived cluster, not JVM cold-start.
  */
object Bench {
  /** Interleaved-rep timing loop with LOUD failures.
    *
    * Reps are interleaved across the suite: run the whole suite `reps`
    * times and take each query's minimum across its SUCCESSFUL passes.
    * Back-to-back per-query reps share any transient contention window
    * (a 30 s load spike poisons both reps of every query inside it);
    * full-suite passes are minutes apart, so min-of-N actually rejects
    * transients.
    *
    * Failures never flatter the number (the round-7 lesson: 11 broken
    * queries "ran" in 0.1 s each and shaved ~9 s off the total): a
    * failed pass is excluded from the min, counted in the returned
    * error map, and a query with NO successful pass reports the MAX
    * elapsed across its failing attempts — the cost actually paid,
    * not a near-zero analysis-error exit.
    *
    * Reps are PER-QUERY via `repsFor`: the noise-prone iterative
    * families (multi-round star contraction, streaming micro-batches,
    * checkpoint-heavy pipelines) carry min-max spreads that two passes
    * cannot reject — the r9–r11 BENCH_NOTES drift signature — so they
    * run extra passes (pass p runs the queries with repsFor ≥ p) while
    * the stable bulk keeps the cheap default.
    *
    * @return (per-query (name, min, max) over counted passes,
    *          per-query failure counts — empty when all green) */
  private[graft] def timeQueries(
      spark: SparkSession,
      names: Seq[String],
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      sfDir: String,
      repsFor: String => Int)
      : (Seq[(String, Double, Double)], Map[String, Int], Map[String, String]) = {
    val ok = names.map(n => n -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    val bad = names.map(n => n -> scala.collection.mutable.ArrayBuffer[Double]()).toMap
    // FIRST failure message per query, for the detail file: the r17
    // bench adjudication hit 7 one-rep transient errors that were
    // undiagnosable because the catch below (rightly) keeps timing —
    // counts stay the driver-facing signal, the message is forensics
    val firstErr = scala.collection.mutable.Map.empty[String, String]
    // maxOption: an empty selection (SPARK_GRAFT_ONLY matching nothing)
    // degrades to an empty result, not an UnsupportedOperationException
    val maxReps = names.map(repsFor).maxOption.getOrElse(0)
    (1 to maxReps).foreach { pass =>
      names.filter(repsFor(_) >= pass).foreach { n =>
        val t0 = System.nanoTime()
        try {
          // force via toRdd.count(), NOT Dataset.count(): under a count
          // aggregate Catalyst legally prunes every column (a map-only
          // query collapses to a parquet row-group count) and drops
          // left-join subtrees with unique keys (a census query's
          // expensive branch vanishes) — measured r13: 22 of 197
          // queries ran 2-12x under their real cost. toRdd executes
          // the plan AS WRITTEN (all output columns materialized) and
          // only the row iteration is extra.
          queries(n)(spark, sfDir).queryExecution.toRdd.count()
          ok(n) += (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            bad(n) += (System.nanoTime() - t0) / 1e9
            firstErr.getOrElseUpdate(n,
              (e.getClass.getName + ": " +
                Option(e.getMessage).getOrElse("")).take(300))
        }
      }
    }
    val timed = names.map { n =>
      if (ok(n).nonEmpty) (n, ok(n).min, ok(n).max)
      else (n, bad(n).max, bad(n).max)
    }
    val errs = names.map(n => n -> bad(n).size).filter(_._2 > 0).toMap
    (timed, errs, firstErr.toMap)
  }

  /** 1-min/5-min/15-min load averages — recorded in the output files
    * so a bench run poisoned by co-tenant load is self-identifying
    * (the round-6 lesson: a 4× "regression" that was box contention
    * needed a judge autopsy to clear). */
  private def loadavg(): Seq[Double] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+").take(3).toSeq.map(_.toDouble)
    catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }

  def main(args: Array[String]): Unit = {
    // AMBIENT load is sampled at PROCESS ENTRY, before the session
    // builder and the untimed warm-up pass: those burn every core for
    // minutes, so a sample taken after them reads the bench's OWN
    // load and would flag every run ambient on any box (the r16
    // finding — r15's committed base self-flagged partly on its own
    // warm-up). At entry, /proc/loadavg is the box's trailing
    // FOREIGN load — the thing the flag exists to detect.
    val loadAtEntry = loadavg()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    GraftSession.tmpfsStreamScratch(spark)
    // SPARK_GRAFT_ONLY restricts to a comma-separated query subset
    // (local-dev knob). Each query is timed SPARK_GRAFT_REPS times and
    // the MINIMUM is reported: the steady-state number — what a
    // long-lived cluster sustains — with one-off GC pauses and
    // page-cache misses rejected (run-to-run noise on a shared box is
    // ±30%, larger than most queries).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    // the high-spread set, keyed off BENCH_DETAIL noise telemetry
    // (r9–r11, re-pinned r14 under toRdd forcing from three honest
    // runs' noise_top10): iterative/streaming/checkpoint-heavy queries
    // whose min-max spread repeatedly dominated cross-round drift —
    // these run min-of-4 so one run's minimum is comparable to the
    // next's. r14 adds the four repeat offenders the honest forcing
    // surfaced (their expensive final projections were invisible under
    // count forcing): containment, keep_quality, interp/kn logprob.
    val highSpread = Set(
      "x_dedup_clusters_star", "c2_upsert_replace", "x_dedup_clusters",
      "x_corpus_pipeline", "s_neardup_gate", "x_embed_knn_docs",
      "x_dedup_containment", "x_dedup_keep_quality",
      "x_interp_logprob", "x_kn_logprob")
    val repsFor: String => Int =
      n => if (highSpread(n)) math.max(reps, 4) else reps
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    // warm-up (small sf, untimed)
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .queryExecution.toRdd.count()
      catch { case _: Throwable => }
    }
    val loadBefore = loadavg()
    val (timed, errors, errorMsgs) =
      timeQueries(spark, names, SparkEntry.queries, sfDir, repsFor)
    val loadAfter = loadavg()
    val results = timed.map { case (n, mn, _) => n -> mn }
    // Compact JSON, printed LAST (after spark.stop()) with raw stdout
    // (build.sbt outputStrategy): the driver json-parses this line from
    // a 2000-char tail of the run output, so it must be short, free of
    // the sbt "[info] " prefix, and as close to the end as possible.
    // The full-precision per-query map always goes to BENCH_DETAIL.json
    // (repo cwd); the stdout line carries the total plus as many of the
    // SLOWEST queries as fit in <= 1900 chars (2000-char tail minus
    // sbt's trailing "[success]" line) — the audit-relevant tail of the
    // distribution survives truncation, the rest is on disk.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)
    val total = results.map(_._2).sum
    val detail = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // noise qualification for the top-10 slowest queries: the min-max
    // spread across reps, in seconds. A "regression" smaller than its
    // query's spread is run-to-run noise (GC, page cache, JIT), not a
    // plan change — the r5 c2_upsert_replace lesson. Detail-file only;
    // the driver-parsed stdout line is unchanged.
    val noise = timed.sortBy { case (_, mn, _) => -mn }.take(10)
      .map { case (n, mn, mx) => "\"" + n + "\":" + f3(mx - mn) }
      .mkString("{", ",", "}")
    def loadJson(l: Seq[Double]): String = l.map(f2).mkString("[", ",", "]")
    // failure counts ride BOTH outputs, before anything truncatable —
    // a nonzero map is the loudest thing on the line
    val errJson = errors.toSeq.sorted
      .map { case (n, c) => "\"" + n + "\":" + c }.mkString("{", ",", "}")
    // ambient-load self-identification (r14: a loaded run silently
    // inflated the driver total 13% and cost a full per-query
    // re-adjudication). Bound: 1-min loadavg ≥ 1.0 at PROCESS ENTRY —
    // before the bench's own session build and warm-up contribute
    // (sampling after them reads our own burn and flags every run,
    // the r16 finding). A flagged run's total is not comparable
    // across rounds; re-measure movers on a quiet box
    // (SPARK_GRAFT_ONLY) before calling a regression. load_before/
    // load_after (pre-/post-timing samples) stay as self-load
    // telemetry for the spread analysis.
    val ambientBound = 1.0
    val ambient = loadAtEntry.headOption.exists(_ >= ambientBound)
    if (ambient)
      System.err.println(
        f"[graft] Bench: AMBIENT LOAD ${loadAtEntry.head}%.2f >= " +
          f"$ambientBound%.1f at process entry - totals unreliable for " +
          "cross-round comparison; this run self-identifies with " +
          "\"ambient\":true")
    val loads = s""""errors":$errJson,"ambient":$ambient,""" +
      s""""load_entry":${loadJson(loadAtEntry)},""" +
      s""""load_before":${loadJson(loadBefore)},"load_after":${loadJson(loadAfter)}"""
    // first-failure messages, DETAIL FILE ONLY (the stdout line's
    // schema is the driver contract and stays count-based)
    val errMsgJson = errorMsgs.toSeq.sorted
      .map { case (n, m) => "\"" + n + "\":" + JsonOut.jsonStr(m) }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$detail,""" +
        s""""reps":$reps,"interleaved":true,"noise_top10_spread":$noise,$loads,""" +
        s""""error_messages":$errMsgJson,"sf":"$sfDir"}\n""")
    val bySlowest = results.sortBy(-_._2)
    def line(n: Int): String = {
      val qs = bySlowest.take(n)
        .map { case (k, v) => "\"" + k + "\":" + f2(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f3(total)},"unit":"sec","queries":$qs,""" +
        s""""shown":$n,"of":${results.length},$loads,"detail":"BENCH_DETAIL.json","sf":"$sfDir"}"""
    }
    val out = (results.length to 0 by -1).map(line).find(_.length <= 1900).getOrElse(line(0))
    spark.stop()
    println(out)
  }
}
