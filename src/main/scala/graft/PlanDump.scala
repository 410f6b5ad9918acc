package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, FormattedMode, SimpleMode}

/** Dev tool: physical-plan evidence without running the engine.
  *
  * With no arguments (or `[sfDir] [out]`), writes the simple plans of
  * representative queries to PLANS.md — the evidence that the plans
  * have the right shape for scale (pushdown, TakeOrderedAndProject,
  * broadcast joins, exchange reuse). The session is pinned to
  * `local[4]` so the committed file's exchange widths do not depend on
  * the machine that regenerates it.
  *
  * With `<tag> <outDir> q1,q2,...`, writes the formatted plan of each
  * named suite query to `<outDir>/<name>_<tag>.txt` — the before/after
  * plan receipts an optimization note points at (sf dir via
  * SPARK_GRAFT_SF_DIR, default sf0.01; bench-shaped `local[cpus]`
  * session). */
object PlanDump {
  def main(args: Array[String]): Unit = args match {
    case Array(tag, outDir, names) =>
      val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
      val spark = GraftSession.local()
      Files.createDirectories(Paths.get(outDir))
      names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
        Files.writeString(Paths.get(s"$outDir/${n}_$tag.txt"),
          plan(spark, n, sfDir, FormattedMode))
        println(s"[plandump] wrote $outDir/${n}_$tag.txt")
      }
      spark.stop()
    case _ =>
      val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
      val out = args.lift(1).getOrElse("PLANS.md")
      val spark = GraftSession.local(cpus = 4)
      Files.writeString(Paths.get(out), plansMd(spark, sfDir))
      spark.stop()
  }

  private def plan(spark: SparkSession, name: String, sfDir: String,
      mode: ExplainMode): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(mode)

  private def plansMd(spark: SparkSession, sfDir: String): String = {
    val picks = Seq(
      "d1_topk_dense" -> "dense top-k: scan → codegen'd cosine projection → TakeOrderedAndProject (no global sort, no shuffle)",
      "e4_topk_filtered" -> "payload filter pushed into the parquet scan below scoring",
      "d2_topk_maxsim" -> "multi-vector MaxSim: one hash aggregate to build docs, broadcast 1-row query",
      "b4_embed_topk" -> "ingest→search: embedding is a pure map stage (native expressions), broadcast query",
      "x_dedup_minhash" -> "MinHash LSH: bucket-key repartition reused by both self-join sides; no crossJoin",
      "x_knn_join" -> "k-NN join: broadcast query side; rank window partitioned by query id only",
      "r_q3_top_orders" -> "dimension join broadcasts; only the final aggregate shuffles",
      "r_q1_pricing" -> "partial (map-side) aggregation before the one shuffle",
      "x_ann_ivf" -> "IVF probe: partition-pruned read of the persisted cluster-partitioned index (no rebuild, no full scan)",
      "x_quant_rerank" -> "int8 quantized candidate scan, full-precision rerank limited to the top candidates",
      "f7_sql_surface" -> "pure-SQL entry point resolves cosine_sim to the native expression: same TakeOrderedAndProject plan as d1",
      "x_bm25_topk" -> "BM25: query-term filter sits below the tf shuffle; top-k cut is TakeOrderedAndProject",
      "r_q5_region_revenue" -> "six-table join: nation/region broadcast, fact-side joins shuffle on keys, AQE reorders",
      "r_asof_join" -> "sort-merge as-of: union + running window, one shuffle on the partition key, no range probes",
      "x_decontaminate" -> "decontamination: eval n-gram set broadcasts; train side's only shuffle is the per-doc hit count",
      "x_stratified_sample" -> "stratified sampling: pure narrow map — hash, mod, compare in the scan's filter; the only exchange is the oracle's total ORDER BY (the bare operator is exchange-free, asserted in ScaleDesignSpec)",
      "x_pq_rerank" -> "product quantization: shuffle-free encode+ADC scan, TakeOrderedAndProject cuts, full-precision rerank on 20 rows",
      "x_bq_rerank" -> "binary quantization: codegen'd sign-bit packing, xor+popcount Hamming scan, TakeOrderedAndProject cuts",
      "q_recommend" -> "recommend: example vectors are plan literals; one narrow scoring pass, no shuffle, TakeOrderedAndProject",
      "q_search_groups" -> "grouped search: per-group max aggregate + TakeOrdered cut over group HEADERS first; survivors broadcast back, hit window never sees losing groups",
      "x_sparse_topk" -> "sparse search: query-dim IN-list pushed below the postings aggregate (posting-list read), broadcast query weights, integer dot",
      "e4_filter_dsl" -> "filter DSL: all three clauses (must-range, should-OR, must_not IN) land in PushedFilters — the composed filter costs nothing vs a hand-written predicate",
      "q_boost_formula" -> "formula boosting: boost terms fused into the cosine projection, same TakeOrderedAndProject as plain search, zero extra passes",
      "q_random_sample" -> "random sampling: hash-ordered TakeOrderedAndProject over a narrow projection, no shuffle",
      "x_hybrid_dbsf" -> "DBSF fusion: both lists are TakeOrdered cuts; mu/sigma are one-row aggregates broadcast back; fusion joins two <=n-row sides",
      "x_line_dedup" -> "line dedup: explode → min-agg on line hash → join back on the SAME key (exchange reuse) → per-doc rebuild",
      "x_unigram_logprob" -> "unigram LM: corpus counts derived from the tf rows (no second corpus pass), one-row total broadcast",
      "r_range_join" -> "interval join without an equi-key: 2-bucket fan-out makes it a plain equi-join — no CartesianProduct/BroadcastNestedLoopJoin anywhere",
      "r_above_avg_orders" -> "correlated-aggregate subquery decorrelated to one window over the correlation key — no per-row subquery execution",
      "x_chunk_embed" -> "RAG chunking + per-chunk embedding: pure narrow map (tokenize once, window, embed), zero shuffles",
      "x_rag_search" -> "composed RAG retrieval: narrow chunk fan-out, broadcast query, one map-side-combinable per-doc max, TakeOrderedAndProject cut",
      "x_knn_join_lsh" -> "LSH k-NN join: band-bucket equi-join, candidates deduped before vector fetch, bounded-heap topk_hits aggregate with map-side partial aggregation (no candidate-buffering window)",
      "q_prefetch_rescore" -> "prefetch→rescore: dense stage-1 column-prunes the token matrices; candidate ids broadcast back so MaxSim touches ~20 rows, not the corpus",
      "d1_topk_euclid" -> "Euclid metric search: same scan → codegen'd distance projection → TakeOrderedAndProject plan as cosine, ranked ASC",
      "x_clf_quality" -> "hashed linear classifier: weights are integer arithmetic on the token hash — no lookup join, pure narrow map in whole-stage codegen",
      "x_substring_dedup" -> "exact-substring dedup: rolling window-hash spans, span-hash bucket EQUI-join — no all-pairs comparison anywhere",
      "e4_nested_filter" -> "nested payload filter: the same-element exists() evaluates per-row inside codegen — no explode, no join for the nested condition",
      "x_dsir_weights" -> "DSIR importance weights: ONE (doc,bucket) shuffle; target and raw bucket counts are window sums over the same rows; totals broadcast; bucket-sorted per-doc fold",
      "q_named_vectors" -> "named-vector search: one column per vector name, so search(using=name) column-prunes to that vector's bytes — the other embeddings never leave the scan",
      "q_mrl_rescore" -> "Matryoshka staged search: 16-dim prefix ranking then full-dim rescore of 50 rows — both cuts TakeOrderedAndProject, no shuffle",
      "x_cluster_sample" -> "cluster-balanced sampling: narrow argmax assignment against broadcast centroids, one cluster_id window for the per-cluster quota",
      "q_facet_sampled" -> "bounded-work approx facet: deterministic hash draw filters BEFORE the aggregate — count state is 8 bytes/value and the aggregate consumes half the rows; TakeOrderedAndProject cut",
      "e4_geo_polygon" -> "geo polygon: bounding-box prefilter leads the compiled predicate, then the ray cast unrolls to literal CASE arithmetic — one narrow filter stage, no UDF, no join",
      "r_window_range" -> "RANGE-frame rolling window: one exchange on o_custkey, one in-partition sort, one Window — the time-interval frame adds nothing over the rows-frame plan",
      "x_dedup_bloom" -> "Bloom-gated incremental dedup: broadcast sketch probe is a narrow mapPartitions; only maybe-rows reach the confirming hash equi-join, definite-new rows union in shuffle-free",
      "q_formula_decay" -> "formula rescoring: prefetch cut and formula cut both TakeOrderedAndProject; the decay arithmetic inlines into the candidate projection (whole-stage codegen), touching prefetchN rows only",
      "x_blocklist" -> "blocklist audit: literal term set compiles into the codegen'd filter — per-token hash-set probe plus consecutive-token phrase scan, pure narrow map",
      "x_blocklist_join" -> "large-blocklist path: term TABLE broadcasts under the token explode; the only exchange is the map-side-combinable per-doc hit count",
      "m_resize_plan" -> "resize planning: integer dimension arithmetic in the scan projection — pure narrow map, no shuffle",
      "x_dedup_pagerank" -> "near-dup PageRank: cached symmetric edge list; each of the 3 fixed rounds is one edge-state join + one map-side-combinable per-node fold — no driver-side graph",
      "x_collocations" -> "PMI collocations: one pair shuffle + one token shuffle, vocabulary-sized unigram table broadcast onto pair counts, TakeOrderedAndProject cut",
      "x_multistage_rescore" -> "nested-prefetch funnel: bq Hamming -> int8 -> full-float, all three cuts TakeOrderedAndProject, zero exchanges",
      "x_salted_agg" -> "salted hot-key aggregate: (key, salt) pre-shuffle spreads the hot key, per-key merge runs over saltBuckets partials — layout changes, results don't",
      "r_events_funnel" -> "deadline funnel: per-stage filter + min-agg chained on user_id, conditional mins instead of per-user subqueries",
      "x_rp_distortion" -> "JL projection audit: literal +-1 matrix unrolls into the scan projection; sampled self-join is bounded; cut is TakeOrderedAndProject",
      "x_corpus_report" -> "corpus report: three bounded single-row aggregate sides crossed by broadcast — one doc pass, one token pass, one lang head",
      "x_kn_logprob" -> "Kneser-Ney: one corpus pass — the doc bigram tf is materialized and read by both the type table and the scoring join; a type table under the broadcast bound is collected once and its marginals counted on the driver (broadcast back), a larger one takes every model quantity as a window over itself — no countDistinct",
      "x_cluster_terms" -> "cluster topics: broadcast-centroid argmax assignment (narrow map) equi-joined to documents, then the two vocabulary-sized lift windows",
      "r_events_markov" -> "transition matrix: one user_id shuffle for the lag window, bounded (prev, next) count keys, exact integer ratios",
      "x_zipf_fit" -> "Zipf regression: four sums folded in rank order inside one vocabulary-bounded collected row — no corpus-sized float reduction",
      "q_query_batch" -> "universal batch: the heterogeneous request frame (query vector + exclusion list per request) broadcasts; ONE corpus scan scores every request, bounded-heap topk_hits ranks per request — N requests never mean N scans",
      "q_matrix_pairs" -> "distance matrix: absolute-count hash-ordered sample (TakeOrderedAndProject draw, broadcast-safe by construction — no eager guard count), pair side broadcast, rank window over sample-sized rows",
      "x_entropy_report" -> "entropy report: unigram and bigram-type tables only; sums fold type-sorted in one bounded row each")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of representative queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` on `$sfDir`. Regenerate: ")
    sb.append("`sbt \"runMain graft.PlanDump\"`.\n")
    picks.foreach { case (name, why) =>
      sb.append(s"\n## $name\n\n$why\n\n```\n")
      sb.append(plan(spark, name, sfDir, SimpleMode))
      sb.append("\n```\n")
    }
    sb.toString
  }
}
