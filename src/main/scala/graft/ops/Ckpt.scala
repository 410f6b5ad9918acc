package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LeafNode, LogicalPlan}

/** Reliable-vs-local checkpoint switch for the iterative operators
  * (semDedup's level loop, clusters' label propagation, clustersStar's
  * contraction rounds — every loop that truncates lineage per round).
  *
  * Default: `localCheckpoint` — right for a single-box session, but
  * its blocks live ON EXECUTORS with truncated lineage, so on a
  * multi-hour cluster run losing ONE executor makes the loop state
  * unrecomputable and kills the job (the r14 semDedup finding,
  * generalized r15 to the whole iterative family). With session conf
  * `spark.graft.checkpointDir` set, every call is a RELIABLE
  * `Dataset.checkpoint` under that directory instead: executor loss
  * re-reads checkpoint files, and nothing pins block-manager storage
  * past the checkpoint (a lazy reliable call stores its rows only until
  * their files are written, so they are computed once).
  *
  * Contract: the caller owns the directory's lifecycle — Spark does
  * not clean reliable checkpoints by default, and iterative loops
  * write one checkpoint per round ([[Dedup.freeCheckpoint]] frees
  * superseded LOCAL blocks and is a harmless no-op on reliable
  * checkpoints, whose files stay until the directory is cleaned).
  *
  * The conf is effectively CONTEXT-GLOBAL, not session-scoped: it is
  * read from the session's runtime conf for convenience, but
  * `sc.setCheckpointDir` is SparkContext-global, so the FIRST value
  * applied on a context is PINNED for that context's lifetime. A
  * second session (or concurrent operator run) on the same context
  * asking for a DIFFERENT dir keeps the pinned one and warns —
  * re-pointing the global dir mid-flight would let one run's
  * checkpoints land under the other's directory, and the
  * caller-owns-cleanup contract would then delete files a live job
  * still reads from (the exact job-kill this switch exists to
  * prevent). To change the dir, set it before the first durable
  * operator runs on the context. */
private[graft] object Ckpt {
  val ConfKey = "spark.graft.checkpointDir"

  /** The dir PINNED per context (first value applied wins — see the
    * context-global note above). An exact record, not a substring
    * probe against getCheckpointDir (which returns the UUID
    * subdirectory Spark creates, so a prefix match could silently
    * misreport what was applied). Stale entries for STOPPED contexts
    * are evicted on the next apply — Spark allows one live context
    * per JVM, so any key other than the current `sc` is dead and
    * only pins memory. */
  private val applied =
    new java.util.concurrent.ConcurrentHashMap[org.apache.spark.SparkContext, String]

  def apply(df: DataFrame, eager: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(ConfKey) match {
      case Some(d) =>
        val sc = spark.sparkContext
        applied.keySet.removeIf(_ ne sc)
        val pinned = applied.computeIfAbsent(sc, _ => { sc.setCheckpointDir(d); d })
        if (pinned != d)
          System.err.println(
            s"graft.Ckpt: $ConfKey=$d conflicts with the dir already " +
              s"pinned on this SparkContext ($pinned); keeping the " +
              "pinned dir — setCheckpointDir is context-global and " +
              "re-pointing it mid-flight would mix two runs' " +
              "checkpoint files under one cleanup contract")
        // an eager checkpoint writes its files in the job that computes
        // the rows; a lazy one would compute them twice (see the bridge)
        if (eager) df.checkpoint(eager = true)
        else org.apache.spark.sql.GraftResidentBridge.storedCheckpoint(df)
      case None => df.localCheckpoint(eager)
    }
  }

  /** Total-order a result for the oracle's ORDER BY without paying its
    * tail twice. A global `orderBy` plans a RangePartitioning exchange,
    * and computing the range bounds executes the ENTIRE child above the
    * last materialized query stage a first time just to sample the sort
    * keys — then the real pass executes it again (measured r18:
    * e4_nested_filter re-ran its 600k-row collect_list aggregate, ~7 s
    * of CPU, once per pass; every narrow-map query re-ran its full text
    * pipeline). Checkpointing first (the guide's "materialise an
    * intermediate to truncate the plan") makes both passes cheap reads
    * of the materialized rows: compute once, sample the rows, shuffle
    * the rows. Same rows, same order, same hash — only the
    * re-execution is gone. Honors the durable-checkpoint switch like
    * every other [[Ckpt]] call site. Use on results whose plan above
    * the final sort is expensive (heavy aggregate / window / wide
    * narrow-map); a bare-scan child doesn't need it.
    *
    * LAZY (eager=false, r18 advisor): an eager checkpoint executes the
    * full query at DataFrame-CONSTRUCTION time, so merely building the
    * suite query (plan dumps, spec plan assertions) paid a full
    * execution. Lazy defers the final stage's compute + persist to the
    * FIRST action (the sort's range-bounds sampling pass — still
    * inside Bench's timed region, still exactly once); under AQE the
    * construction-time `execute()` does still materialize the
    * intermediate shuffle stages, so construction is cheaper, not
    * free. The second (real) pass reads persisted blocks as before. */
  def ordered(df: DataFrame, cols: org.apache.spark.sql.Column*): DataFrame = {
    val out = apply(df, eager = false).orderBy(cols: _*)
    lastOrdered = (df, out)
    out
  }

  /** Test observability only (the Streams.lastRunProgress pattern):
    * the most recent ordered() call's (pre-checkpoint child, returned
    * frame). The checkpoint hides the child subplan from the returned
    * plan AND — lazy since r19 — from the QueryExecutionListener
    * sweep, so HofGuardSpec's wiring assertions (r18 advisor: a
    * rewired query must not silently escape its operator-frame pins)
    * read the child here and identity-check the returned frame. */
  @volatile private[graft] var lastOrdered: (DataFrame, DataFrame) = _
}

/** Explicit-width spread for CPU-dense fan-out stages (shingling,
  * n-gram explodes, window-hash rolling, bucket fan-outs). The heavy
  * per-row compute runs in the stage that WRITES its downstream
  * shuffle — i.e. in the SCAN stage — and a scan's parallelism is the
  * input's SPLIT count: an unsplittable layout (single parquet row
  * group, gzip member, small single-file fixture) pins it at 1
  * whatever the box width (guide §2.5 "input skew: repartition
  * immediately after the read"). A keyless or implicit-width
  * `repartition(col)` does not fix it: AQE's BYTE-based partition
  * coalescing folds a few-hundred-KB doc exchange back to 1–2
  * partitions because it cannot see compute-per-byte. The width is
  * therefore pinned EXPLICITLY (user-specified numPartitions is final
  * — AQE does not coalesce it) to the session's shuffle width: a
  * CONF, not a box constant — the bench sets it from
  * SPARK_GRAFT_CPUS, a cluster sets its own. At corpus scale the
  * extra exchange moves the NARROW rows (documents before their
  * ~300× gram fan-out), a small fraction of the bytes the fan-out
  * emits into the next exchange. */
private[graft] object Spread {
  def byKey(df: DataFrame, key: org.apache.spark.sql.Column): DataFrame =
    df.repartition(
      df.sparkSession.sessionState.conf.numShufflePartitions, key)
}

/** Zero-job sizing for "materialize past this size" gates — the
  * gramWiden derived-input rule factored out: optimizer `rowCount`
  * when CBO has one, else `sizeInBytes` over the schema's default row
  * width. defaultSize UNDERestimates real text rows, so this
  * OVERestimates row counts — the safe direction for a gate whose
  * at-scale arm is the safe one. */
private[graft] object Sizing {
  /** Row bound above which a multiply-consumed hash projection is
    * worth checkpointing: below it the single-query-execution form
    * wins (AQE reuses the exchanges and the re-run aggregates overlap
    * — measured r18: materializing at fixture scale cost the minhash
    * family 15–25%); above it, each extra consumer re-runs a full
    * corpus scan + hash pass, which dwarfs one narrow materialization.
    * The r19 at-scale receipt (BENCH_NOTES / OPTIMIZATION_r19.md): at
    * 150k docs (30× sf0.1, past the gate) the gate-ON arm beats
    * forced-OFF on every gated family. The system property exists for
    * exactly that A/B (force off with a huge value / on with 0) — a
    * dev measurement knob, not a production switch; unset, the pinned
    * default applies. Read per call, so a malformed value fails the
    * gated operator with an error naming the property instead of
    * poisoning this object's initialization. */
  def MaterializeRowsMin: Long =
    sys.props.get("graft.materializeRowsMin").fold(1L << 17) { v =>
      v.trim.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"-Dgraft.materializeRowsMin must be a whole number of rows, got '$v'"))
    }

  def approxRows(df: DataFrame): Long = rowsOf(df.queryExecution.optimizedPlan)

  /** [[approxRows]] bounded by the plan's leaves. Without CBO a join's
    * estimate is the PRODUCT of its sides, so a join of two
    * thousand-row relations reads as a million rows; here a join
    * counts as its larger side and any other node as the sum of its
    * children (a union's rows add up; a filter, project or aggregate
    * keeps at most its child's). */
  def boundedRows(df: DataFrame): Long = {
    def bound(p: LogicalPlan): BigInt = p match {
      case _: LeafNode => rowsOf(p)
      case j: Join => j.children.map(bound).max
      case _ => p.children.map(bound).sum
    }
    val plan = df.queryExecution.optimizedPlan
    bound(plan).min(rowsOf(plan)).toLong
  }

  private def rowsOf(plan: LogicalPlan): Long = {
    val st = plan.stats
    st.rowCount.map(_.min(BigInt(Long.MaxValue)).toLong).getOrElse {
      val perRow =
        math.max(1L, plan.schema.map(_.dataType.defaultSize.toLong).sum + 8L)
      (st.sizeInBytes.min(BigInt(Long.MaxValue)) / perRow).toLong
    }
  }
}
