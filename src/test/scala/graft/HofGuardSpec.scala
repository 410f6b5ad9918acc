package graft

import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, Expression, ExprId, HigherOrderFunction,
  LambdaFunction, NamedLambdaVariable}

/** Guards against the interpreted-HOF quadratic class that cost
  * x_winnow_matches 8.4 minutes in round 8 (BENCH_NOTES.md): an
  * optimizer rule (CollapseProject / InferFiltersFromGenerate) inlines
  * a multi-pass HOF chain INSIDE another HOF's lambda, and interpreted
  * higher-order eval then re-computes the whole chain once per outer
  * element — O(len) work silently becomes O(len²)/O(len³) per row.
  *
  * Two layers:
  *  1. A structural sweep over every SparkEntry query's OPTIMIZED plan
  *     (where the inlining happens): any higher-order function that
  *     (a) sits inside an enclosing lambda, (b) iterates a collection
  *     that does NOT depend on any enclosing lambda variable
  *     (loop-invariant — it should have been a separate projection),
  *     and (c) whose collection argument is a non-trivial expression
  *     tree (an inlined chain, not a bare column) is flagged.
  *  2. Swap-back pins: the known-hot text paths must stay on their
  *     native one-pass expressions — the spec goes red if
  *     winnowSelectNative / shingleHashes / rolling-window hashing is
  *     reverted to its HOF twin (the twins exist as documented oracle
  *     semantics and parity targets, not as execution paths).
  */
class HofGuardSpec extends SparkSpec {

  /** Loop-invariant non-trivial HOFs evaluated inside a lambda. */
  private def hazards(root: Expression): Seq[String] = {
    val out = scala.collection.mutable.Buffer.empty[String]
    def trivial(c: Expression): Boolean = c match {
      case _: AttributeReference | _: NamedLambdaVariable => true
      case _ if c.foldable => true
      // a cheap wrapper (cast / field extraction) around a trivial core
      case _ => c.children.length == 1 && trivial(c.children.head)
    }
    def go(e: Expression, enclosing: Set[ExprId]): Unit = e match {
      case hof: HigherOrderFunction =>
        if (enclosing.nonEmpty) {
          val loopVariant = hof.arguments.exists(_.exists {
            case v: NamedLambdaVariable => enclosing.contains(v.exprId)
            case _ => false
          })
          if (!loopVariant && !hof.arguments.forall(trivial))
            out += s"${hof.prettyName} iterates a loop-invariant inlined chain " +
              s"inside an enclosing lambda (hoist it to its own projection): " +
              hof.simpleString(160)
        }
        hof.arguments.foreach(go(_, enclosing))
        hof.functions.foreach(go(_, enclosing))
      case l: LambdaFunction =>
        val bound = l.arguments.collect { case v: NamedLambdaVariable => v.exprId }
        go(l.function, enclosing ++ bound)
      case other => other.children.foreach(go(_, enclosing))
    }
    go(root, Set.empty)
    out.toSeq
  }

  test("no executed plan — returned OR interior — re-evaluates an inlined HOF chain per element") {
    // A QueryExecutionListener sweeps EVERY plan the query functions
    // execute, not just the returned frame: bpeTrain's per-round pair
    // census, ANN index builds, centroid collects — the interior
    // driver-loop plans a returned-plan walk cannot see (the r9
    // bpeTrain finding). Streaming queries are skipped: their
    // watermark/state plans are asserted in StreamingSpec.
    val found = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var current = ""
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        // `current` is read at delivery time, so with async delivery a
        // hazard can be attributed to the NEXT query — the label is a
        // debugging hint, not part of the assertion. A crashing sweep
        // must fail the test, never silently disable the guard.
        val q = current
        try qe.optimizedPlan
          .collect { case node => node.expressions.flatMap(hazards) }
          .flatten.foreach(h => found.add(s"$q [$funcName]: $h"))
        catch {
          case e: Throwable =>
            found.add(s"SWEEP ERROR near $q [$funcName]: $e")
        }
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    val names = SparkEntry.queries.keys.filterNot(_.startsWith("s_")).toSeq.sorted
    spark.listenerManager.register(listener)
    try {
      names.foreach { name =>
        current = name
        SparkEntry.queries(name)(spark, sf).count()
      }
      org.apache.spark.GraftTestBridges
        .waitUntilListenerBusEmpty(spark.sparkContext, 60000)
    } finally spark.listenerManager.unregister(listener)
    val bad = found.toArray.map(_.toString).toSeq.distinct
    assert(bad.isEmpty, s"quadratic-HOF hazards:\n${bad.mkString("\n")}")
  }

  test("the r8 winnow bug shape IS flagged by the hazard rule (rule self-test)") {
    import org.apache.spark.sql.functions._
    import graft.ops.TextAnalysis.tokens
    // the pre-fix formulation: per-position slice over an expression
    // chain captured from outside the lambda — exactly what the sweep
    // must catch if it ever reappears after optimizer inlining
    val df = Tables.t(spark, sf, "documents").select(
      transform(sequence(lit(1), size(tokens(col("text"))) - 4),
        i => array_min(slice(
          transform(tokens(col("text")), t => length(t).cast("long")),
          i, lit(4)))).as("mins"))
    val found = df.queryExecution.optimizedPlan
      .collect { case node => node.expressions.flatMap(hazards) }.flatten
    assert(found.nonEmpty,
      "the hazard rule failed to flag the known-bad winnow formulation")
  }

  test("tokenize-once: the split chain appears at most thrice per plan (bind pin)") {
    // The r9 audit found qualityScore inlining its tokenize ~23× per
    // row (and gopher/dsir/kn/collocations similar). The fix binds the
    // array as a multi-use non-cheap alias, which CollapseProject
    // keeps. This pin counts `filter(split(` occurrences in the
    // optimized plan: one for the binding projection, plus up to two
    // inside a pushed-down InferFiltersFromGenerate condition. More
    // means a refactor un-bound the alias and the per-reference
    // inlining is back.
    // r18: the queries now checkpoint before their final ORDER BY (the
    // sort-sampling recompute fix), which would make a returned-plan
    // count vacuous — so the pin binds to the OPERATOR frames, where
    // the tokenize chain actually lives.
    import org.apache.spark.sql.functions.col
    import graft.ops.{TextAnalysis => TA, Curation}
    def docs = Tables.t(spark, sf, "documents")
    val budget: Seq[(String, org.apache.spark.sql.DataFrame, Int)] = Seq(
      ("x_quality_score", TA.qualityScore(docs), 3),
      ("x_gopher_rules", TA.gopherRules(docs), 3),
      ("x_fingerprint", TA.fingerprints(docs), 3),
      ("x_blocklist",
        Curation.blocklistAudit(docs, Curation.BadTerms, Curation.BadPhrase), 3),
      ("x_intradoc_dedup", Curation.intraDocDedup(docs, 8), 4),
      ("x_winnow", TA.winnow(docs), 3),
      ("x_dsir_weights", TA.dsirWeights(docs, col("lang") === "en"), 3),
      // knLogprob materializes its corpus pass; the chain lives there
      ("x_kn_logprob", TA.knBigramCounts(docs), 3))
    val tok = "filter\\(split\\(".r
    budget.foreach { case (name, df, cap) =>
      val plan = df.queryExecution.optimizedPlan.toString
      val n = tok.findAllIn(plan).length
      assert(n <= cap,
        s"$name inlines the tokenize chain $n times (cap $cap) — " +
          "bind the token array as a multi-use column (CLAUDE.md rule)")
    }
  }

  test("hot text paths stay on their native expressions (swap-back pin)") {
    // r18: some returned plans begin at an eager-checkpoint LogicalRDD
    // (the recompute-avoidance materializations), so the pins examine
    // the PRE-materialization builder frames where the hot expressions
    // live — same hot path, same swap-back protection.
    def nativesOf(df: org.apache.spark.sql.Dataset[_]): Seq[String] =
      df.queryExecution.optimizedPlan.collect { case node =>
        node.expressions.flatMap(_.collect {
          case _: graft.vector.WinnowSelect => "WinnowSelect"
          case _: graft.vector.ShingleHashesSorted => "ShingleHashesSorted"
          case _: graft.vector.MinhashSignature => "MinhashSignature"
          case _: graft.vector.RollingWindowHashes => "RollingWindowHashes"
        })
      }.flatten
    def natives(name: String): Seq[String] =
      nativesOf(SparkEntry.queries(name)(spark, sf))
    assert(natives("x_winnow_matches").contains("WinnowSelect"),
      "x_winnow_matches must select fingerprints via the native WinnowSelect " +
        "(the HOF twin goes quadratic under CollapseProject inlining)")
    val sigPlan = nativesOf(graft.ops.Dedup.sigFrame(
      graft.ops.Dedup.corpusWithDups(Tables.t(spark, sf, "documents")), 8))
    assert(sigPlan.contains("ShingleHashesSorted") &&
      sigPlan.contains("MinhashSignature"),
      "the minhash sig pass must shingle+sign through the native expressions")
    assert(natives("x_substring_dedup").contains("RollingWindowHashes"),
      "x_substring_dedup must hash windows through RollingWindowHashes")
  }

  test("ordered-checkpoint queries stay WIRED to their pinned operators (r18 advisor)") {
    // The tokenize-budget and native pins above assert on OPERATOR
    // frames because the checkpoint hides the subplan from the
    // returned plan (and, with the r19 lazy checkpoint, from the
    // QueryExecutionListener sweep too). This closes the residual gap the
    // r18 advisor named: a suite query rewired AWAY from its pinned
    // operator would pass those pins. Ckpt.ordered records its
    // (child, result) pair; identity-checking the returned frame
    // proves the suite entry IS the ordered() of that child, and the
    // budget/native assertions then bind to the child the query
    // actually executes. An operator that materializes an inner frame
    // (knLogprob's corpus pass) runs that frame's checkpoint action
    // while the query is built; those plans count as the child's.
    val tok = "filter\\(split\\(".r
    val wired = Seq(
      ("x_fingerprint", 3),
      ("x_intradoc_dedup", 4),
      ("x_winnow", 3),
      ("x_kn_logprob", 3))
    val materialized =
      new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.QueryExecution]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = if (f.toLowerCase.contains("checkpoint")) materialized.add(qe)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    wired.foreach { case (name, cap) =>
      org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(spark.sparkContext, 60000)
      materialized.clear()
      spark.listenerManager.register(listener)
      val q = try {
        val built = SparkEntry.queries(name)(spark, sf)
        org.apache.spark.GraftTestBridges.waitUntilListenerBusEmpty(spark.sparkContext, 60000)
        built
      } finally spark.listenerManager.unregister(listener)
      val (child, result) = graft.ops.Ckpt.lastOrdered
      assert(result eq q,
        s"$name no longer returns Ckpt.ordered(<operator>) directly — " +
          "re-point this wiring assertion at however it now builds")
      val inner = materialized.toArray(Array.empty[org.apache.spark.sql.execution.QueryExecution])
        .filter(_ ne child.queryExecution).map(_.optimizedPlan)
      val n = (child.queryExecution.optimizedPlan +: inner.toSeq)
        .map(p => tok.findAllIn(p.toString).length).sum
      assert(n >= 1 && n <= cap,
        s"$name's EXECUTED child inlines the tokenize chain $n times " +
          s"(expected 1..$cap) — the suite query drifted from its pinned operator")
    }
  }
}
