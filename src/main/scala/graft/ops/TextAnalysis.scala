package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{BinaryType, LongType, StructField, StructType}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables.t
import graft.index.Embedder

/** Text-analysis operators for corpus pipelines (driver north star):
  * n-gram language identification, quality scoring, token counting,
  * and document fingerprinting over the `documents` table.
  *
  * Scale design: everything except lang-ID profile training is a
  * narrow per-row map. Lang-ID trains per-language token profiles with
  * one aggregation over the corpus (map-side combined), broadcasts the
  * tiny profile table, and classifies with a broadcast join — the
  * standard "small model, big data" shape.
  */
object TextAnalysis {

  /** Whitespace tokens (empties dropped). */
  def tokens(text: Column): Column =
    filter(split(text, " "), x => length(x) > 0)

  // -- token counting ----------------------------------------------

  /** Whitespace token count + a BPE-ish sub-token count (runs of
    * letters / digits / single other chars — the word-piece upper
    * bound) + char count. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .cast("long").as("n_sub_tokens"),
      length(col("text")).cast("long").as("n_chars_m"))

  // -- quality scoring ---------------------------------------------

  /** Heuristic quality score from length / mean word length /
    * stopword ratio — the standard cheap pre-filter signals for
    * training corpora. */
  def qualityScore(docs: DataFrame): DataFrame = {
    // tokenize once per row: the score arithmetic reads the token
    // array ~23 times; as a multi-use non-cheap alias the split chain
    // keeps its own projection instead of inlining per reference
    val toks = col("_toks")
    // null (not error) on empty docs: keeps ANSI mode safe at scale
    val nTok = when(size(toks) > 0, size(toks).cast("double"))
    // the LENGTH-CREDIT term uses the RAW count (0 for a token-free
    // doc), NOT the null-guarded one: least() ignores NULLs in both
    // engines, so least(NULL/50, 1.0) = 1.0 silently awarded an empty
    // document the FULL length credit (quality 0.5) while the oracle's
    // 0/50 scored it 0.0 — a live engine/oracle divergence on any
    // empty/whitespace doc (caught by the r10 perturbed-fixture
    // drill). coalesce also pins NULL text to 0 on both sides.
    val nTokRaw = coalesce(size(toks).cast("double"), lit(0.0))
    val meanWordLen = (length(col("text")).cast("double") - (nTok - 1)) / nTok
    val stopRatio =
      size(filter(toks, x => x.isin("the", "a", "of", "and"))).cast("double") / nTok
    docs.withColumn("_toks", tokens(col("text"))).select(
      col("doc_id"),
      round(meanWordLen, 6).as("mean_word_len"),
      round(stopRatio, 6).as("stop_ratio"),
      round(
        least(nTokRaw / 50.0, lit(1.0)) * 0.5 +
          when(meanWordLen.between(3.0, 8.0), 0.3).otherwise(0.0) +
          when(stopRatio.between(0.01, 0.5), 0.2).otherwise(0.0),
        6).as("quality"))
  }

  /** fastText-style linear quality classifier — the model-based filter
    * family (binary quality classifiers over hashed bag-of-words are
    * the standard corpus-selection step after heuristic rules). Each
    * token hashes into one of `dim` feature buckets; the bucket weight
    * here is a fixed deterministic mix of the bucket id (a stand-in
    * for trained weights — no training in this environment; in
    * production swap `bucketWeight` for a broadcast-joined learned
    * table, same plan shape). score = σ(bias + mean token weight);
    * null on token-free docs (guarded division, ANSI-safe).
    *
    * Scale: a narrow per-row map over the scan — the weight is pure
    * integer arithmetic on the hash (exact in both engines), so there
    * is no lookup table, no join, no shuffle, and the projection stays
    * inside whole-stage codegen. */
  def qualityClassifier(
      docs: DataFrame, dim: Int = 4096, bias: Double = -0.05,
      threshold: Double = 0.5): DataFrame = {
    val th = Embedder.tokenHashes(col("text"))
    def bucketWeight(h: Column): Column =
      ((h % dim) * lit(2654435761L) % 2003L - 1001L).cast("double") / 1001.0
    val wSum = aggregate(th, lit(0.0), (s, h) => s + bucketWeight(h))
    val nTok = when(size(th) > 0, size(th).cast("double"))
    val z = lit(bias) + wSum / nTok
    docs.select(
      col("doc_id"),
      round(lit(1.0) / (lit(1.0) + exp(-z)), 6).as("clf_score"))
      .withColumn("kept", col("clf_score") >= threshold)
  }

  // -- language identification -------------------------------------

  /** Train: per-(lang, token) frequency, keep each lang's top-`topN`
    * tokens as its profile. One corpus aggregation + a tiny result. */
  def langProfiles(docs: DataFrame, topN: Int = 10): DataFrame = {
    val counts = docs
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("lang")).orderBy(col("c").desc, col("tok").asc)
    counts.withColumn("r", row_number().over(w)).filter(col("r") <= topN)
      .select(col("lang").as("p_lang"), col("tok"), col("c"))
  }

  /** Classify: score = Σ over doc tokens that appear in the lang's
    * profile; predict argmax (alphabetical tiebreak). Profile side is
    * broadcast; the explode/count is map-side combinable. */
  def langId(docs: DataFrame, profiles: DataFrame): DataFrame = {
    val docToks = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("n"))
    val scored = docToks.join(broadcast(profiles), Seq("tok"))
      .groupBy(col("doc_id"), col("p_lang"))
      .agg(sum(col("n")).as("hits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("hits").desc, col("p_lang").asc)
    scored.withColumn("r", row_number().over(w)).filter(col("r") === 1)
      .select(col("doc_id"), col("p_lang").as("pred_lang"), col("hits"))
  }

  // -- fingerprinting ----------------------------------------------

  /** Word 5-grams at every position, space-joined — as a closure-free
    * shifted-slice zip_with chain: every lambda touches ONLY its own
    * variables, so no optimizer inlining can turn the token derivation
    * into per-element re-evaluation (the quadratic class HofGuardSpec
    * sweeps for; the original `element_at(toks, i)` indexing re-ran
    * the full tokenize chain 5× per position once inlined). */
  private[graft] def fiveGrams(a: Column): Column = {
    def sliceN(from: Int) = slice(a, lit(from), greatest(size(a) - 4, lit(0)))
    zip_with(
      zip_with(
        zip_with(sliceN(1), sliceN(2), (x, y) => concat(x, lit(" "), y)),
        sliceN(3), (x, y) => concat(x, lit(" "), y)),
      zip_with(sliceN(4), sliceN(5), (x, y) => concat(x, lit(" "), y)),
      (x, y) => concat(x, lit(" "), y))
  }

  /** Rolling-hash document fingerprint: min / max / count-distinct of
    * word 5-gram polynomial hashes (winnowing-style content signature,
    * robust to small edits at the ends). */
  def fingerprints(docs: DataFrame): DataFrame = {
    // tokenize ONCE per row: _toks is a multi-use non-cheap alias, so
    // CollapseProject keeps its projection instead of inlining the
    // split chain into each of fiveGrams' five slice arguments
    val grams = when(size(col("_toks")) >= 5, fiveGrams(col("_toks")))
      .otherwise(array(col("text")))
    docs
      .withColumn("_toks", tokens(col("text")))
      .withColumn("gh", transform(grams, g => Embedder.tokenHash(g)))
      .select(
        col("doc_id"),
        array_min(col("gh")).as("fp_min"),
        array_max(col("gh")).as("fp_max"),
        size(array_distinct(col("gh"))).cast("long").as("fp_card"))
  }

  // -- winnowing ---------------------------------------------------

  /** Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken —
    * SIGMOD'03, the MOSS signature): the minimum 5-gram hash of every
    * `w`-wide sliding window, deduplicated. Guarantees any shared run
    * of ≥ w+4 tokens between two documents shares a fingerprint,
    * while storing ~2/(w+1) of the grams — the overlap-detection
    * signature a plagiarism/near-dup stage actually stores. Pure
    * narrow map over the gram-hash array (min over a slice per
    * position); docs shorter than 5 tokens have no grams and drop. */
  def winnow(docs: DataFrame, w: Int = 4): DataFrame =
    winnowSelected(docs, w)
      .select(col("doc_id"),
        size(col("gh")).cast("long").as("n_grams"),
        size(col("sel")).cast("long").as("n_fp"),
        array_min(col("sel")).as("fp_min"),
        array_max(col("sel")).as("fp_max"))

  /** The selected fingerprint SETS behind [[winnow]] — (doc_id, gh,
    * sel); the spec asserts the SIGMOD'03 guarantee (shared ≥ w+4
    * token run ⇒ non-empty fingerprint intersection) on these. */
  /** Native one-pass fingerprint selection (text → distinct window
    * minima, first-occurrence order) — the hot-path twin of
    * [[winnowSelected]]'s `sel` column. */
  def winnowSelectNative(text: Column): Column =
    graft.vector.Kernels.ofExpr(graft.vector.WinnowSelect(
      graft.vector.Kernels.exprOf(text), 31L, Embedder.Prime))

  private[graft] def winnowSelected(docs: DataFrame, w: Int): DataFrame = {
    require(w == 4, "window width is pinned to 4 (the unrolled min chain)")
    // EVERY lambda below closes over NOTHING but its own variables: a
    // lambda that references an outer expression (the original
    // `element_at(toks, i)` / `slice(gh, i, w)` formulation) re-evaluates
    // that expression PER ELEMENT in interpreted HOF eval — and when an
    // optimizer rule inlines the whole pipeline into one expression
    // (InferFiltersFromGenerate did, through x_winnow_matches' explode),
    // the nesting goes O(len³) per row (measured: the sf0.1 bench went
    // from sub-second to minutes). Shifted-slice zip_with chains keep
    // each stage O(len) no matter how the optimizer inlines it.
    def winMins(h: Column) = {
      def s(from: Int) = slice(h, lit(from), greatest(size(h) - 3, lit(0)))
      when(size(h) >= 4,
        zip_with(
          zip_with(s(1), s(2), (x, y) => least(x, y)),
          zip_with(s(3), s(4), (x, y) => least(x, y)),
          (x, y) => least(x, y)))
        .otherwise(array(array_min(h)))
    }
    // _toks binds the tokenize ONCE (multi-use alias survives
    // CollapseProject); gh is likewise bound before winMins' 8 slices
    docs
      .withColumn("_toks", tokens(col("text")))
      .filter(size(col("_toks")) >= 5)
      .withColumn("gh",
        transform(fiveGrams(col("_toks")), g => Embedder.tokenHash(g)))
      .withColumn("sel", array_distinct(winMins(col("gh"))))
      .drop("_toks")
  }

  // -- corpus report -----------------------------------------------

  /** One-row corpus health report — the summary a curation run prints
    * first: volume (docs, tokens, vocabulary), diversity (languages,
    * sources, head language), exact-duplicate load, and the
    * high-quality share. Every cell is a count or an exact-integer
    * ratio — no float accumulation to drift between engines (the
    * quality threshold compares the per-doc 6dp-ROUNDED score both
    * engines already share).
    *
    * Scale: one doc-level aggregate pass + one token explode for the
    * vocabulary + a vocabulary-sized lang head — three bounded
    * single-row sides crossed together (all broadcast). At 100 TB the
    * vocabulary countDistinct is the one genuinely heavy cell; the
    * sketch twin is [[tokenCms]]/HLL, and the exact form stays the
    * oracle. */
  def corpusReport(docs: DataFrame, qualityMin: Double = 0.5): DataFrame = {
    val toks = tokens(col("text"))
    val base = docs.select(col("doc_id"), col("lang"), col("source"),
      size(toks).cast("long").as("n_toks"),
      md5(col("text").cast("binary")).as("sig"))
    val q = qualityScore(docs).select(col("doc_id"), col("quality"))
    val docStats = base.join(q, Seq("doc_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("n_tokens"),
        (count(lit(1)) - countDistinct(col("sig"))).as("exact_dup_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("source")).as("n_sources"),
        count(when(col("quality") >= qualityMin, 1)).as("n_high_quality"))
    val vocab = docs.select(explode(toks).as("w"))
      .agg(countDistinct(col("w")).as("n_vocab"))
    val topLang = docs.groupBy(col("lang")).agg(count(lit(1)).as("top_lang_docs"))
      .orderBy(col("top_lang_docs").desc, col("lang").asc).limit(1)
      .select(col("lang").as("top_lang"), col("top_lang_docs"))
    docStats.crossJoin(broadcast(vocab)).crossJoin(broadcast(topLang))
      .select(col("n_docs"), col("n_tokens"), col("exact_dup_docs"),
        col("n_vocab"), col("n_langs"), col("n_sources"),
        round(col("n_tokens").cast("double") / col("n_docs").cast("double"), 6)
          .as("avg_doc_tokens"),
        col("top_lang"), col("top_lang_docs"), col("n_high_quality"))
  }

  // -- collocations ------------------------------------------------

  /** PMI collocation mining: adjacent word pairs ranked by pointwise
    * mutual information — ln((c12/P) / ((c1/N)·(c2/N))) with c12 the
    * bigram count over P total bigrams and c1,c2 unigram counts over N
    * tokens. The classic phrase/compound detector (Church & Hanks
    * 1990) a tokenizer-vocab or stop-phrase stage runs; `minCount`
    * suppresses the unstable one-off pairs PMI notoriously inflates.
    *
    * Scale: one (pair) shuffle and one (token) shuffle, both map-side
    * combinable; the vocabulary-sized unigram table broadcasts onto
    * the pair counts; the cut is TakeOrderedAndProject. PMI is a
    * single ln of exact integer ratios — no float-sum ordering to
    * drift between engines. */
  def collocations(docs: DataFrame, k: Int, minCount: Int): DataFrame = {
    // tokenize once per row below each explode (the ngramsOfToks note)
    val toks = col("_toks")
    val bound = docs.withColumn("_toks", tokens(col("text")))
    val pairs = bound
      .select(explode(zip_with(
        slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val uni = bound.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val totals = pairs.agg(sum(col("c12")).as("p_tot"))
      .crossJoin(uni.agg(sum(col("c")).as("n_tot")))
    pairs.filter(col("c12") >= minCount)
      .join(broadcast(uni.select(col("w").as("w1"), col("c").as("c1"))), Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c").as("c2"))), Seq("w2"))
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("c12"),
        round(log((col("c12").cast("double") / col("p_tot").cast("double")) /
          ((col("c1").cast("double") / col("n_tot").cast("double")) *
            (col("c2").cast("double") / col("n_tot").cast("double")))), 6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(k)
  }

  // -- source divergence -------------------------------------------

  /** Per-source KL divergence from the corpus token distribution —
    * D(P_src ‖ P_corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) — the
    * data-mixing diagnostic that ranks how far each crawl/source has
    * drifted from the blend it feeds (0 = indistinguishable head
    * source; large = niche distribution a mixing stage should weight
    * deliberately). Every source token exists in the corpus by
    * construction, so no zero-denominator smoothing is needed.
    *
    * Scale: ONE (source, tok) tf shuffle; corpus counts come from a
    * window over those same tf rows keyed on tok (vocabulary-sized
    * state, the unigramLogprob device) and the grand total broadcasts.
    * The per-source sum folds a token-sorted list so both engines add
    * the same floats in the same order. */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val tf = docs
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok"))
      .agg(count(lit(1)).as("k"))
    val tot = tf.agg(sum(col("k")).as("tc"))
    tf.withColumn("c", sum(col("k")).over(Window.partitionBy(col("tok"))))
      .withColumn("st", sum(col("k")).over(Window.partitionBy(col("source"))))
      .crossJoin(broadcast(tot))
      .select(col("source"), col("tok"), col("st"),
        ((col("k").cast("double") / col("st").cast("double")) *
          log((col("k").cast("double") / col("st").cast("double")) /
            (col("c").cast("double") / col("tc").cast("double")))).as("v"))
      .groupBy(col("source"))
      .agg(max(col("st")).as("n_tokens"),
        sort_array(collect_list(struct(col("tok"), col("v")))).as("l"))
      .select(col("source"), col("n_tokens"),
        round(aggregate(col("l"), lit(0.0), (a, x) => a + x.getField("v")), 6)
          .as("kl"))
  }

  // -- winnow matching ---------------------------------------------

  /** The planted shared excerpt for x_winnow_matches (12 tokens — any
    * ≥ w+4 = 8-token shared run guarantees a shared fingerprint, so
    * every planted pair MUST surface; SIGMOD'03 Theorem). */
  private[graft] val WinnowMarker =
    "shared excerpt planted across documents for winnow match detection test run"

  /** Cross-document fingerprint matching — the MATCH half of
    * winnowing (MOSS's actual report): explode each document's
    * selected fingerprints, equi-join on the fingerprint value, count
    * shared prints per pair. The overlap-report companion to
    * [[winnow]]'s per-doc signature stats.
    *
    * Scale: the fingerprint table is ~2/(w+1) of the gram stream; the
    * join is a plain hash-shuffle EQUI-join on the fingerprint key
    * (never all-pairs), and the per-pair count is map-side
    * combinable. Hot fingerprints (boilerplate) are exactly the
    * [[minhashPairs]] bucket-cap situation — cap or drop the
    * head prints at web scale.
    *
    * Cost note: the explode makes `sel` single-use, so the optimizer
    * inlines the ENTIRE winnow pipeline both into the Generate and
    * into the `size(sel) > 0` filter InferFiltersFromGenerate derives
    * from it — the fingerprint column here is therefore the NATIVE
    * one-pass [[graft.vector.WinnowSelect]] (the HOF chain in
    * [[winnowSelected]] stays the oracle semantics; NativeParitySpec
    * pins them equal), with the x_winnow_matches suite cost dropping
    * 6.9s → sub-second at sf0.1. */
  def winnowMatches(docs: DataFrame, w: Int = 4): DataFrame = {
    require(w == 4, "window width is pinned to 4 (native fast path)")
    val toks = tokens(col("text"))
    // repartition on the join key BEFORE the self-join: both sides
    // reuse ONE exchange (the minhashPairs device), so the fingerprint
    // pipeline is computed once, not once per side
    val fps = docs
      .filter(size(toks) >= 5)
      .select(col("doc_id"),
        explode(winnowSelectNative(col("text"))).as("fp"))
      .repartition(col("fp"))
    fps.select(col("fp"), col("doc_id").as("id_a"))
      .join(fps.select(col("fp"), col("doc_id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  // -- length-bias audit -------------------------------------------

  /** Quality-vs-length bias audit: mean quality per fixed-width
    * token-count bucket — the covariate check that catches a "quality"
    * filter that is secretly a length filter (the classic curation
    * bias; Gopher §A2 reports exactly this table). Means are exact
    * integer micro-unit sums over the 6dp-rounded scores divided once
    * — order-free and engine-identical, the x_quality_corr device.
    * Fixed-width buckets, not ntile: no corpus-wide rank window, and
    * bucket identity is stable as the corpus grows. */
  def lengthQualityBias(docs: DataFrame, bucketWidth: Int = 20): DataFrame = {
    val q = qualityScore(docs).select(col("doc_id"), col("quality"))
    val n = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_toks"))
    n.join(q, Seq("doc_id"))
      .where(col("quality").isNotNull)
      .groupBy((col("n_toks") / bucketWidth).cast("long").as("len_bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(round(col("quality") * 1000000, 0).cast("long")).as("qsum"))
      .select(col("len_bucket"), col("n_docs"),
        round(col("qsum").cast("double") / col("n_docs").cast("double") / 1000000.0, 6)
          .as("mean_quality"))
  }

  // -- quality-signal agreement ------------------------------------

  /** Pearson correlation between the heuristic quality score and the
    * hashed-classifier score — the calibration audit that decides
    * whether two filter stages are redundant or complementary (near 1:
    * drop one; near 0: they gate different failure modes and both
    * earn their scan).
    *
    * Scale design: the 6dp-rounded scores scale EXACTLY to integer
    * micro-units, so every correlation sum is an order-free integer
    * aggregation (DECIMAL(38) accumulators; DuckDB's HUGEINT twin) —
    * no global rank window (the corpus_shuffle rule), no corpus-sized
    * sorted fold, fully distributed with map-side partials. The one
    * double division happens once, on exact integers both engines
    * agree on bit-for-bit. */
  def qualityAgreement(docs: DataFrame): DataFrame = {
    val h = qualityScore(docs).select(col("doc_id"), col("quality"))
    val c = qualityClassifier(docs).select(col("doc_id"), col("clf_score"))
    val j = h.join(c, Seq("doc_id"))
      .where(col("quality").isNotNull && col("clf_score").isNotNull)
      .select(
        round(col("quality") * 1000000, 0).cast("long").as("x"),
        round(col("clf_score") * 1000000, 0).cast("long").as("y"))
    val d = "decimal(38,0)"
    j.agg(count(lit(1)).as("n"),
        sum(col("x").cast(d)).as("sx"), sum(col("y").cast(d)).as("sy"),
        sum((col("x") * col("y")).cast(d)).as("sxy"),
        sum((col("x") * col("x")).cast(d)).as("sxx"),
        sum((col("y") * col("y")).cast(d)).as("syy"))
      .select(col("n"),
        round(
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          sqrt((col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
            (col("n").cast("double") * col("syy").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))),
          6).as("pearson_r"))
  }

  // -- Zipf fit ----------------------------------------------------

  /** Least-squares Zipf fit: regress ln(freq) on ln(rank) over the
    * frequency-ranked vocabulary — natural text sits near slope −1
    * (Zipf's law); a synthetic or truncated-vocabulary corpus
    * announces itself with a flat slope (this fixture's word soup
    * reads ≈ −0.18 with r² 0.06). One row: type count, slope, intercept, and the
    * fit's r².
    *
    * Scale: the regression folds four sums over the RANKED VOCABULARY
    * collected into one row (bounded, the LM-oracle device), each in
    * rank order so both engines add identical floats identically. */
  def zipfFit(docs: DataFrame): DataFrame = {
    val uni = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("w").asc)
    val xy = uni.withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("rnk"), log(col("rnk").cast("double")).as("x"),
        log(col("c").cast("double")).as("y"))
    def fold(field: String) =
      aggregate(col("l"), lit(0.0), (a, e) => a + e.getField(field))
    val sums = xy
      .agg(count(lit(1)).cast("double").as("n"),
        sort_array(collect_list(struct(col("rnk"), col("x"), col("y"),
          (col("x") * col("y")).as("xy"), (col("x") * col("x")).as("xx"),
          (col("y") * col("y")).as("yy")))).as("l"))
      .select(col("n"), fold("x").as("sx"), fold("y").as("sy"),
        fold("xy").as("sxy"), fold("xx").as("sxx"), fold("yy").as("syy"))
    sums.select(col("n").cast("long").as("n_types"),
        round((col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n")), 6).as("slope"),
        round((col("sy") - (col("sxy") - col("sx") * col("sy") / col("n")) /
          (col("sxx") - col("sx") * col("sx") / col("n")) * col("sx")) / col("n"), 6)
          .as("intercept"),
        round(
          ((col("sxy") - col("sx") * col("sy") / col("n")) *
            (col("sxy") - col("sx") * col("sy") / col("n"))) /
            ((col("sxx") - col("sx") * col("sx") / col("n")) *
              (col("syy") - col("sy") * col("sy") / col("n"))), 6).as("r2"))
  }

  // -- corpus entropy ----------------------------------------------

  /** Corpus entropy report: unigram entropy H(W) = −Σ p(w)·ln p(w) and
    * the bigram conditional entropy rate H(W₂|W₁) =
    * −Σ p(w₁,w₂)·ln p(w₂|w₁) — the compressibility / repetitiveness
    * summary (a boilerplate-heavy corpus shows a collapsing
    * conditional entropy long before eyeballing does; Shannon's
    * estimate of what a perfect bigram model could achieve). Nats.
    *
    * Scale: the sums run over TYPE tables (vocabulary / bigram-type
    * sized), not corpus rows; each is folded in type-sorted order
    * inside ONE collected row so both engines add identical floats in
    * identical order — the single-row collect is bounded by the type
    * table, the device every LM oracle here already uses. */
  def entropyReport(docs: DataFrame): DataFrame = {
    // tokenize once per row below each explode (the ngramsOfToks note)
    val toks = col("_toks")
    val bound = docs.withColumn("_toks", tokens(col("text")))
    val bgArr = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    val uni = bound.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val bg = bound.select(explode(bgArr).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy(col("w1"))))
    val h1 = uni
      .crossJoin(broadcast(uni.agg(sum(col("c")).as("n"))))
      .select(col("w"),
        (col("c").cast("double") / col("n").cast("double") *
          log(col("c").cast("double") / col("n").cast("double"))).as("v"))
      .agg(sort_array(collect_list(struct(col("w"), col("v")))).as("l"),
        count(lit(1)).as("n_types"))
      .select(round(-aggregate(col("l"), lit(0.0), (a, x) => a + x.getField("v")), 6)
        .as("h_unigram"), col("n_types").as("n_unigram_types"))
    val h2 = bg
      .crossJoin(broadcast(bg.agg(sum(col("c12")).as("p"))))
      .select(col("bg"),
        (col("c12").cast("double") / col("p").cast("double") *
          log(col("c12").cast("double") / col("c1").cast("double"))).as("v"))
      .agg(sort_array(collect_list(struct(col("bg"), col("v")))).as("l"),
        count(lit(1)).as("n_types"))
      .select(round(-aggregate(col("l"), lit(0.0), (a, x) => a + x.getField("v")), 6)
        .as("h_bigram_cond"), col("n_types").as("n_bigram_types"))
    h1.crossJoin(broadcast(h2))
  }

  // -- vocabulary coverage -----------------------------------------

  /** Vocabulary coverage curve: the fraction of token OCCURRENCES the
    * `k` most frequent types cover, at each requested k — the number
    * that sizes a tokenizer vocabulary or a stopword list ("the top 50
    * types are X% of the stream"). Counts are exact integers; the
    * share is one rounded ratio per row.
    *
    * Scale: one token shuffle; the vocabulary is CUT to the top
    * `max(ks)` types (TakeOrderedAndProject — per-partition heaps, no
    * global sort) BEFORE the ranking window, so the one-partition
    * window ranks max(ks) rows, never the vocabulary: every emitted
    * rank ≤ max(ks) and cumulative sums over the head are unaffected
    * by the dropped tail, so the cut is exactly output-preserving.
    * On open-web vocabularies where even the aggregate state is too
    * much, the same curve comes from the [[tokenCms]] sketch at fixed
    * memory. */
  def vocabCoverage(docs: DataFrame, ks: Seq[Int]): DataFrame = {
    require(ks.nonEmpty, "vocabCoverage needs at least one k")
    // refuse by name, not via the planner: limit(ks.max) throws an
    // AnalysisException on a non-positive max where the pre-cut
    // formulation returned an empty frame (r14 advisor)
    require(ks.forall(_ > 0),
      s"vocabCoverage ks must all be positive: ${ks.mkString(",")}")
    val uni = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("c").desc, col("w").asc)
    val tot = uni.agg(sum(col("c")).as("total"))
    uni.orderBy(col("c").desc, col("w").asc).limit(ks.max)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("covered", sum(col("c")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("rnk").isInCollection(ks.map(_.toLong)))
      .crossJoin(broadcast(tot))
      .select(col("rnk").as("k"), col("covered"), col("total"),
        round(col("covered").cast("double") / col("total").cast("double"), 6)
          .as("share"))
  }

  // -- heavy hitters / count-min sketch ----------------------------

  /** Exact global heavy hitters: the top-`k` tokens by occurrence —
    * the vocabulary head a tokenizer-training or stopword stage reads
    * first. One map-side-combinable (token) shuffle whose state is the
    * vocabulary, then a TakeOrderedAndProject cut. */
  def heavyHitters(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok").asc).limit(k)

  /** Count-min sketch of token occurrences (Cormode & Muthukrishnan
    * 2005): `depth` independent hash rows × `width` buckets, each cell
    * the count of occurrences hashing into it. The 100 TB twin of
    * [[heavyHitters]]'s exact aggregate: state is the FIXED depth·width
    * grid however large the vocabulary grows (exact counting's state
    * is the vocabulary itself — fine for words, fatal for n-grams/URLs
    * at web scale). Estimates are one-sided: never under the true
    * count, over by at most ≈ e·N/width with probability 1−e^−depth
    * (CmsSpec pins both sides on the fixture). One (row, bucket)
    * shuffle of bounded key cardinality; the sketch then BROADCASTS
    * wherever estimates are probed. */
  def tokenCms(docs: DataFrame, width: Int, depth: Int): DataFrame =
    docs.select(explode(tokens(col("text"))).as("tok"))
      .select(col("tok"),
        explode(typedLit((0 until depth).toList)).as("d"))
      .select(col("d"),
        pmod(Embedder.stringHash64(concat(col("d"), lit(":"), col("tok"))),
          lit(width.toLong)).as("bucket"))
      .groupBy(col("d"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))

  /** Probe the sketch: estimated count per candidate token = min over
    * the `depth` rows of the probed cell. The sketch side broadcasts
    * (≤ depth·width rows by construction). */
  def cmsEstimate(cms: DataFrame, candidates: DataFrame,
      width: Int, depth: Int): DataFrame =
    candidates.select(col("tok"),
        explode(typedLit((0 until depth).toList)).as("d"))
      .select(col("tok"), col("d"),
        pmod(Embedder.stringHash64(concat(col("d"), lit(":"), col("tok"))),
          lit(width.toLong)).as("bucket"))
      .join(broadcast(cms), Seq("d", "bucket"))
      .groupBy(col("tok"))
      .agg(min(col("cnt")).as("est"))

  // -- unigram language-model scoring ------------------------------

  /** Corpus-unigram log-probability per document — the cheap stand-in
    * for KenLM-perplexity quality bucketing (CCNet-style head/tail
    * selection): avg_logp = (Σ_t k_t·ln(c_t/T)) / n_toks, where c_t is
    * the token's corpus count and T the corpus token total.
    *
    * Scale: one (doc,tok) shuffle for per-doc term frequencies, one
    * map-side-combinable corpus count derived FROM those rows (no
    * second corpus pass), a broadcast of the one-row total. The corpus
    * count join shuffles on tok — skew-safe because k_t·ln(p_t) folds
    * per (doc,tok) before any per-doc reduction. Determinism: counts
    * are integral; the per-doc float sum folds over the term list
    * sorted by token (association written down — the BM25 pin). */
  def unigramLogprob(docs: DataFrame): DataFrame = {
    // r19 measured-and-rejected: the bigram treatment (spreadDocs +
    // explicit-width exchanges on the raw/tok/doc_id frames) ran every
    // stage at the session width but read 1.50× WORSE in the
    // interleaved in-suite A/B (quiet box, min-of-3, controls 1.00) —
    // the extra exchanges and fixed 32-task overhead cost more than
    // the single-task stages they parallelized. The natural
    // ENSURE_REQUIREMENTS exchange below tf is also the reuse point
    // the tot branch shares, so this shape tokenizes exactly once.
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("k"))
    // corpus count per token as a WINDOW over the tf rows — not a
    // groupBy+self-join, which would recompute tf and shuffle it twice
    // more (ScaleDesignSpec counts the exchanges). Skew profile is the
    // same as the join's shuffle on tok.
    val tot = tf.agg(sum(col("k")).as("tc"))
    tf.withColumn("c", sum(col("k")).over(Window.partitionBy(col("tok"))))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("tok"), col("k"),
        (col("k").cast("double") *
          log(col("c").cast("double") / col("tc").cast("double"))).as("v"))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("k")).as("n_toks"),
        sort_array(collect_list(struct(col("tok"), col("v")))).as("l"))
      .select(col("doc_id"), col("n_toks"),
        round(
          aggregate(col("l"), lit(0.0), (a, x) => a + x.getField("v")) /
            col("n_toks").cast("double"),
          6).as("avg_logp"))
  }

  /** Corpus-bigram conditional log-probability per document — the
    * Markov-1 upgrade of [[unigramLogprob]]: avg_logp2 =
    * (Σ k·ln P(w₂|w₁)) / n_bigrams with P(w₂|w₁) = c(w₁w₂)/c₁(w₁),
    * where c₁ sums bigram counts BY PREFIX so the conditional
    * normalizes exactly and every observed bigram has nonzero
    * probability — no smoothing constant to pin across engines.
    * Fluent text (common word transitions) scores higher than
    * word-salad with the same vocabulary, which unigram scoring
    * cannot distinguish.
    *
    * Scale: one (doc, bigram) shuffle; both corpus counts are WINDOW
    * sums over those rows (no second corpus pass, no self-join); the
    * per-doc float fold runs over the bigram-sorted term list
    * (association pinned, the unigram/BM25 rule). */
  /** Memoized per (session, file fingerprint): four operators widen
    * from the same corpus table in the suite, and shared sizing must
    * not pay four count jobs (r14 what's-wrong #2). The file listing —
    * not the canonicalized plan — is the key because two
    * `read.parquet` calls on the same path build relations that do NOT
    * compare equal (fresh FileIndex). The fingerprint includes each
    * file's LENGTH and MODIFICATION TIME (from the plan's FileIndex,
    * driver-side, zero jobs), not just its path: a table rewritten in
    * place reusing identical file names must MISS the memo, not reuse
    * a stale count (r15 advisor). Entries whose session's
    * SparkContext has stopped are evicted on the next insert — they
    * can never hit again and only pin the dead session. Bounded —
    * cleared past 64 entries (a sizing miss just re-counts; never
    * wrong). */
  private val gramCountMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), java.lang.Long]

  /** Job-free file fingerprint of a bare-relation plan: sorted
    * path:length:mtime triples read from the relation's FileIndex
    * (already listed at read time — no FS round-trips re-paid here).
    * Falls back to path-only `inputFiles` when the leaf is not a v1
    * file relation (weaker, but never wrong in the suite: DSv2 is off
    * for parquet by default and non-file leaves count directly). */
  private[graft] def fileFingerprint(
      docs: DataFrame,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): String =
    plan.collectFirst {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case hfs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            hfs.location.listFiles(Nil, Nil).iterator.flatMap(_.files)
              .map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}")
              .toArray.sorted.mkString(",")
          case _ => docs.inputFiles.sorted.mkString(",")
        }
    }.getOrElse(docs.inputFiles.sorted.mkString(","))

  /** Self-sized exchange width for the n-gram family's wide shuffles
    * (the lshAuto rule: the operator that knows its own fan-out sizes
    * its exchanges — a 5M-doc corpus explodes to ~1B gram rows, and
    * funneling that through the 32 session partitions was the r14
    * 4th-decade bottleneck). ~300 uni+bigrams per fixture doc; ~4M
    * gram rows per task measured as the sweet spot (dsir at 5M docs:
    * 32 parts = 186–239 s, 256 = 136–172, 1024 = 157–196). At or
    * below the session width the returned widen is the IDENTITY, so
    * the plan keeps its natural ENSURE_REQUIREMENTS exchanges (AQE
    * placement + map-side partial aggregation). The explicit
    * repartition keys always equal the downstream
    * aggregate/window/join keys, so Catalyst elides its own exchange
    * and the operator runs at the widened width. Values are
    * partition-order independent everywhere this is used (integer
    * counts, windows over them, and order-pinned float folds).
    * Sizing runs NO job on a derived input (optimizer stats) and at
    * most one memoized footer-count per bare table.
    *
    * r19 measured-and-rejected: an explicit-width sibling
    * (repartition at max(session, sized), never the identity) was
    * tried on the vocabulary-window inputs, per-doc regroups, and
    * multi-consumer raw gram frames — the single-task AQE-coalesced
    * window stages DID go 32-wide, but the interleaved in-suite A/B
    * (quiet box, min-of-3, byte-identical controls at 1.00) read it
    * 1.10–1.50× WORSE per query at sf0.1: the added exchanges, fixed
    * 32-task scheduling overhead, and lost map-side partial
    * aggregation cost more than the serialized stages they
    * parallelized, and on knLogprob the pinned raw exchange made all
    * three consumer branches re-aggregate the raw grams (2.3× worse
    * than re-tokenizing). The identity-at-or-below-session rule
    * stays; OPTIMIZATION_r19.md has the per-query table. */
  private def gramWiden(docs: DataFrame): (DataFrame, Seq[Column]) => DataFrame = {
    val (session, parts) = gramSizing(docs)
    if (parts <= session) (df, _) => df
    else (df, keys) => df.repartition(parts, keys: _*)
  }

  /** (session width, sized gram width) for [[gramWiden]] — the sizing
    * rules documented there. */
  private def gramSizing(docs: DataFrame): (Int, Int) = {
    val spark = docs.sparkSession
    val session = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val plan = docs.queryExecution.optimizedPlan
    val rows: Long =
      if (plan.children.isEmpty) {
        // bare relation (Tables.t, every suite/probe input): the count
        // is a parquet footer-metadata job (declared in BENCH_NOTES) —
        // run it ONCE per (session, table) via the memo, so repeated
        // widening off the same table shares one job. A file-less leaf
        // (LocalRelation test frame) just counts: its data is already
        // on the driver, and a schema-only key could collide.
        val files = docs.inputFiles
        if (files.isEmpty) docs.count()
        else {
          gramCountMemo.keySet.removeIf(_._1.sparkContext.isStopped)
          if (gramCountMemo.size > 64) gramCountMemo.clear()
          gramCountMemo.computeIfAbsent(
            (spark, fileFingerprint(docs, plan)), _ => docs.count(): java.lang.Long)
        }
      } else {
        // derived input (filter/join/transform): an eager count here
        // would scan the full upstream at OPERATOR-CONSTRUCTION time,
        // before the caller runs any action on the result (r14
        // what's-wrong #2) — size from optimizer statistics instead:
        // driver-side file listing propagated through the plan, ZERO
        // jobs. Without CBO rowCount, rows ≈ sizeInBytes / the
        // schema's defaultSize row width; defaultSize UNDERestimates
        // real text rows, so this OVERestimates rows and can only
        // over-widen — the safe direction under the 4096 cap (an
        // exchange too wide costs small-task overhead; one too narrow
        // was the r14 4th-decade bottleneck). Bounded by the leaves:
        // an inner join's estimate is otherwise the product of its
        // sides, and survivors ⋈ their quality scores planned every
        // widened exchange at the 4096 cap (~41k reduce tasks).
        Sizing.boundedRows(docs)
      }
    val parts =
      math.min(4096L, math.min(rows, Long.MaxValue / 300L) * 300L / 4000000L).toInt
    (session, parts)
  }

  /** Spread the raw documents across the session width BEFORE a
    * CPU-dense tokenize + n-gram explode. The Generate runs in the
    * stage that WRITES its downstream shuffle, i.e. in the SCAN stage
    * — and a scan's parallelism is the input's split count, which an
    * unsplittable layout (one parquet row group, a gzip member, a
    * small single-file fixture) pins at 1 whatever the box width (the
    * guide's "input skew: repartition immediately after the read").
    * A keyless/implicit-width repartition does not help: AQE's
    * byte-based coalescing folds the few-hundred-KB doc exchange back
    * to 1–2 partitions because it cannot see compute density — so the
    * width is pinned EXPLICITLY to the session's shuffle width (a
    * conf, not a box constant: the bench sets it per SPARK_GRAFT_CPUS,
    * a cluster sets its own). Cost at scale: one doc-sized exchange,
    * ~0.3% of the gram bytes the explode emits right after; the
    * gramWiden sizer still re-widens the gram-level exchanges past the
    * session width when the corpus demands it. */
  private def spreadDocs(docs: DataFrame): DataFrame =
    docs.repartition(
      docs.sparkSession.sessionState.conf.numShufflePartitions,
      col("doc_id"))

  def bigramLogprob(docs: DataFrame): DataFrame = {
    val widen = gramWiden(docs)
    val spread = spreadDocs(docs)
    val toks = tokens(col("text"))
    val bgArr = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    val tf = widen(spread.select(col("doc_id"), explode(bgArr).as("bg")),
        Seq(col("doc_id"), col("bg")))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("k"))
    val byBg = widen(tf, Seq(col("bg")))
      .withColumn("c2", sum(col("k")).over(Window.partitionBy(col("bg"))))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val scored = widen(byBg, Seq(col("w1")))
      .withColumn("c1", sum(col("k")).over(Window.partitionBy(col("w1"))))
      .select(col("doc_id"), col("bg"), col("k"),
        (col("k").cast("double") *
          log(col("c2").cast("double") / col("c1").cast("double"))).as("v"))
    widen(scored, Seq(col("doc_id")))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("k")).as("n_bigrams"),
        sort_array(collect_list(struct(col("bg"), col("v")))).as("l"))
      .select(col("doc_id"), col("n_bigrams"),
        round(
          aggregate(col("l"), lit(0.0), (a, x) => a + x.getField("v")) /
            col("n_bigrams").cast("double"),
          6).as("avg_logp2"))
  }

  /** Jelinek–Mercer interpolated LM score — the smoothing upgrade over
    * [[bigramLogprob]]: avg over bigrams of
    * ln(λ·P(w₂|w₁) + (1−λ)·P(w₂)), with the conditional exactly
    * prefix-normalized (as in bigramLogprob) and the unigram fallback
    * absorbing unseen-context mass. The standard fix for the
    * conditional-only score's blindness: a doc whose bigrams are rare
    * but whose words are common scores between the two extremes
    * instead of at the bigram floor.
    *
    * Scale: the bigram tf shuffle + its two vocabulary-sized windows
    * (the bigramLogprob shapes); the unigram model is a bounded
    * vocabulary table broadcast onto the bigram rows (at open-web
    * vocabulary, swap for the DSIR hashed-bucket model — same plan
    * shape, bounded by construction). Both mixing constants are
    * interpolated into the oracle text from the SAME Scala doubles, so
    * engines cannot disagree on 1−λ's last bit. Per-doc sums fold a
    * bigram-sorted list. */
  def interpLogprob(docs: DataFrame, lambda: Double = 0.7): DataFrame = {
    val widen = gramWiden(docs)
    val spread = spreadDocs(docs)
    val toks = tokens(col("text"))
    val bgArr = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    val tf = widen(spread.select(col("doc_id"), explode(bgArr).as("bg")),
        Seq(col("doc_id"), col("bg")))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("k"))
    // isnotnull(w2) pin: the scored⋈uni join infers it into the join's
    // copy of this subtree but not into nu's, which un-shares the
    // explode(toks) exchange and tokenizes the corpus twice (the
    // dsirWeights/knLogprob canonical-equality rule).
    val uni = widen(spread.select(explode(toks).as("w2"))
        .where(col("w2").isNotNull), Seq(col("w2")))
      .groupBy(col("w2")).agg(count(lit(1)).as("cu"))
    val nu = uni.agg(sum(col("cu")).as("nu"))
    val byBg = widen(tf, Seq(col("bg")))
      .withColumn("c2", sum(col("k")).over(Window.partitionBy(col("bg"))))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val scored = widen(byBg, Seq(col("w1")))
      .withColumn("c1", sum(col("k")).over(Window.partitionBy(col("w1"))))
      .join(broadcast(uni), Seq("w2"))
      .crossJoin(broadcast(nu))
      .select(col("doc_id"), col("bg"), col("k"),
        (col("k").cast("double") *
          log(lit(lambda) * (col("c2").cast("double") / col("c1").cast("double")) +
            lit(1.0 - lambda) * (col("cu").cast("double") / col("nu").cast("double"))))
          .as("v"))
    widen(scored, Seq(col("doc_id")))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sort_array(collect_list(struct(col("bg"), col("v")))).as("l"))
      .select(col("doc_id"), col("n_bigrams"),
        round(
          aggregate(col("l"), lit(0.0), (a, x) => a + x.getField("v")) /
            col("n_bigrams").cast("double"),
          6).as("avg_logp_jm"))
  }

  /** DuckDB twin of [[interpLogprob]] — constants rendered from the
    * identical Scala doubles. */
  private def duckInterpLogprob(lambda: Double): String = {
    val l1 = lambda.toString
    val l0 = (1.0 - lambda).toString
    s"""WITH tk AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents),
       |uni AS (SELECT w2, count(*)::BIGINT AS cu
       |  FROM (SELECT unnest(toks) AS w2 FROM tk) z GROUP BY w2),
       |nu AS (SELECT sum(cu)::DOUBLE AS nu FROM uni),
       |bgr AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
       |  FROM tk, (SELECT unnest(range(1, 100000)) AS i) ix
       |  WHERE i < len(toks)),
       |tf AS (SELECT doc_id, bg, count(*)::BIGINT AS k FROM bgr GROUP BY doc_id, bg),
       |w AS (SELECT doc_id, bg, k,
       |    sum(k) OVER (PARTITION BY bg) AS c2,
       |    string_split(bg, ' ')[1] AS w1,
       |    string_split(bg, ' ')[2] AS w2
       |  FROM tf),
       |w2t AS (SELECT *, sum(k) OVER (PARTITION BY w1) AS c1 FROM w),
       |v AS (SELECT doc_id, bg, k,
       |    k::DOUBLE * ln($l1 * (c2::DOUBLE / c1::DOUBLE)
       |      + $l0 * (u.cu::DOUBLE / (SELECT nu FROM nu))) AS v
       |  FROM w2t JOIN uni u USING (w2)),
       |g AS (SELECT doc_id, sum(k)::BIGINT AS n_bigrams,
       |    list(v ORDER BY bg ASC) AS l
       |  FROM v GROUP BY doc_id)
       |SELECT doc_id, n_bigrams,
       |  ROUND(list_reduce(list_prepend(0.0, l), (a, b) -> a + b)
       |    / n_bigrams::DOUBLE, 6) AS avg_logp_jm
       |FROM g ORDER BY doc_id""".stripMargin
  }

  /** Interpolated Kneser–Ney bigram score (Kneser & Ney 1995; Chen &
    * Goodman 1999's benchmark winner) — the LM-family capstone above
    * [[interpLogprob]]: absolute discounting plus the CONTINUATION
    * back-off, P(w₂|w₁) = max(c₁₂−D,0)/c₁ + (D·N₁₊(w₁·)/c₁)·P_cont(w₂)
    * with P_cont(w₂) = N₁₊(·w₂)/N₁₊(··) — "how many contexts does w₂
    * complete", the correction that stops frequent-but-context-bound
    * words (the "Francisco" effect) from inflating the back-off.
    *
    * Scale: one corpus pass. The per-document bigram counts
    * ([[knBigramCounts]]: tokenize, explode, one (doc, bigram) shuffle)
    * are materialized through the [[Ckpt]] switch, and both the type
    * statistics and the scoring join read them, so the tokenize +
    * explode runs once without relying on AQE exchange reuse. The
    * corpus bigram TYPE table (c₁₂ per bigram) then takes one of two
    * paths, chosen from plan statistics alone (no job):
    *  - at or under the session's broadcast bound
    *    (`spark.sql.autoBroadcastJoinThreshold`) it is collected in one
    *    job and c₁, N₁₊(w₁·), N₁₊(·w₂) and N₁₊(··) are counted on the
    *    driver as exact longs, keyed by the words' bytes as Spark groups
    *    them ([[knModelOnDriver]]); the model broadcasts back onto the
    *    bigram counts with N₁₊(··) as a literal.
    *  - past the bound, or at -1, every model quantity is a window over
    *    the type table (c₁ = Σc₁₂ by prefix, N₁₊ forward/backward =
    *    type counts by w₁/w₂, no countDistinct), joined back onto the
    *    bigram counts on the bigram key.
    * Both paths feed the same per-row expression over the same longs,
    * and per-doc sums fold a bigram-sorted list, so they return the
    * same rows. The discount renders into the oracle from the same
    * Scala double. */
  def knLogprob(docs: DataFrame, discount: Double = 0.75): DataFrame = {
    val widen = gramWiden(docs)
    val tfDoc = Ckpt(knBigramCounts(docs, widen), eager = false)
    val types = widen(tfDoc, Seq(col("bg")))
      .groupBy(col("bg")).agg(sum(col("k")).as("c12"))
    val modelled =
      if (Dedup.underBroadcastBound(types))
        tfDoc.join(broadcast(knModelOnDriver(types)), Seq("bg"))
      else knModelWindowed(tfDoc, types, widen)
    val d = lit(discount)
    modelled
      .select(col("doc_id"), col("bg"), col("k"),
        (col("k").cast("double") * log(
          greatest(col("c12").cast("double") - d, lit(0.0)) /
            col("c1").cast("double") +
          (d * col("n1f").cast("double") / col("c1").cast("double")) *
            (col("n1b").cast("double") / col("nall").cast("double"))))
          .as("v"))
      .transform(widen(_, Seq(col("doc_id"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("k")).as("n_bigrams"),
        sort_array(collect_list(struct(col("bg"), col("v")))).as("l"))
      .select(col("doc_id"), col("n_bigrams"),
        round(
          aggregate(col("l"), lit(0.0), (a, x) => a + x.getField("v")) /
            col("n_bigrams").cast("double"),
          6).as("avg_logp_kn"))
  }

  /** [[knLogprob]]'s corpus pass, before its materialization:
    * (doc_id, bg, k) bigram counts per document. */
  private[graft] def knBigramCounts(docs: DataFrame): DataFrame =
    knBigramCounts(docs, gramWiden(docs))

  private def knBigramCounts(
      docs: DataFrame, widen: (DataFrame, Seq[Column]) => DataFrame): DataFrame = {
    // tokenize once per row below the explode (Generate does no
    // subexpression elimination — the ngramsOfToks note)
    val toks = col("_toks")
    val bgArr = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    widen(spreadDocs(docs).withColumn("_toks", tokens(col("text")))
        .select(col("doc_id"), explode(bgArr).as("bg")),
        Seq(col("doc_id"), col("bg")))
      .groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("k"))
  }

  /** [[knLogprob]]'s model on the driver: one job collects the type
    * table `(bg, c12)`, and c₁, N₁₊(w₁·), N₁₊(·w₂) and N₁₊(··) are
    * counted exactly. Bigrams travel as bytes and the words are split
    * at the first space byte, so two words are one key exactly when
    * their bytes are equal — the grouping Spark applies — and no
    * decode can merge them (tokens hold no space, so the rest of the
    * bigram is w₂). Returns a local (bg, c12, c1, n1f, n1b, nall)
    * relation, N₁₊(··) as a literal column. */
  private def knModelOnDriver(types: DataFrame): DataFrame = {
    import java.nio.ByteBuffer
    val rows = types.select(col("bg").cast("binary"), col("c12")).collect()
    val bgs = rows.map(_.getAs[Array[Byte]](0))
    val c12 = rows.map(_.getLong(1))
    val space = bgs.map(_.indexOf(' '.toByte))
    def w1(i: Int) = ByteBuffer.wrap(bgs(i), 0, space(i))
    def w2(i: Int) = ByteBuffer.wrap(bgs(i), space(i) + 1, bgs(i).length - space(i) - 1)
    val c1 = scala.collection.mutable.HashMap.empty[ByteBuffer, Long]
    val n1f = scala.collection.mutable.HashMap.empty[ByteBuffer, Long]
    val n1b = scala.collection.mutable.HashMap.empty[ByteBuffer, Long]
    bgs.indices.foreach { i =>
      c1(w1(i)) = c1.getOrElse(w1(i), 0L) + c12(i)
      n1f(w1(i)) = n1f.getOrElse(w1(i), 0L) + 1L
      n1b(w2(i)) = n1b.getOrElse(w2(i), 0L) + 1L
    }
    val schema = StructType(StructField("bg", BinaryType) +:
      Seq("c12", "c1", "n1f", "n1b").map(StructField(_, LongType)))
    types.sparkSession.createDataFrame(java.util.Arrays.asList(bgs.indices.map(i =>
        Row(bgs(i), c12(i), c1(w1(i)), n1f(w1(i)), n1b(w2(i)))): _*), schema)
      .select(col("bg").cast("string").as("bg"), col("c12"), col("c1"), col("n1f"),
        col("n1b"), lit(bgs.length.toLong).as("nall"))
  }

  /** [[knLogprob]]'s model past the broadcast bound: windows over the
    * type table, joined back onto the bigram counts. */
  private def knModelWindowed(
      tfDoc: DataFrame,
      types: DataFrame,
      widen: (DataFrame, Seq[Column]) => DataFrame): DataFrame = {
    val types0 = types
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
    val types1 = widen(types0, Seq(col("w1")))
      .withColumn("c1", sum(col("c12")).over(Window.partitionBy(col("w1"))))
      .withColumn("n1f", count(lit(1)).over(Window.partitionBy(col("w1"))))
    val model = widen(types1, Seq(col("w2")))
      .withColumn("n1b", count(lit(1)).over(Window.partitionBy(col("w2"))))
    // count types0, not the windowed table: windows don't change the
    // row count, and counting below them keeps their exchanges out of
    // this branch
    val n1all = types0.agg(count(lit(1)).as("nall"))
    widen(tfDoc, Seq(col("bg"))).join(widen(model, Seq(col("bg"))), Seq("bg"))
      .crossJoin(broadcast(n1all))
  }

  /** DuckDB twin of [[knLogprob]] — discount rendered from the same
    * Scala double. */
  private def duckKnLogprob(discount: Double): String = {
    val dd = discount.toString
    s"""WITH tk AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents),
       |bgr AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
       |  FROM tk, (SELECT unnest(range(1, 100000)) AS i) ix
       |  WHERE i < len(toks)),
       |tfd AS (SELECT doc_id, bg, count(*)::BIGINT AS k FROM bgr GROUP BY doc_id, bg),
       |ty0 AS (SELECT bg, sum(k)::BIGINT AS c12,
       |    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
       |  FROM tfd GROUP BY bg),
       |ty AS (SELECT *,
       |    sum(c12) OVER (PARTITION BY w1) AS c1,
       |    count(*) OVER (PARTITION BY w1) AS n1f,
       |    count(*) OVER (PARTITION BY w2) AS n1b
       |  FROM ty0),
       |na AS (SELECT count(*)::DOUBLE AS nall FROM ty0),
       |v AS (SELECT doc_id, bg, k,
       |    k::DOUBLE * ln(
       |      greatest(c12::DOUBLE - $dd, 0.0) / c1::DOUBLE +
       |      ($dd * n1f::DOUBLE / c1::DOUBLE) * (n1b::DOUBLE / (SELECT nall FROM na))) AS v
       |  FROM tfd JOIN ty USING (bg)),
       |g AS (SELECT doc_id, sum(k)::BIGINT AS n_bigrams,
       |    list(v ORDER BY bg ASC) AS l
       |  FROM v GROUP BY doc_id)
       |SELECT doc_id, n_bigrams,
       |  ROUND(list_reduce(list_prepend(0.0, l), (a, b) -> a + b)
       |    / n_bigrams::DOUBLE, 6) AS avg_logp_kn
       |FROM g ORDER BY doc_id""".stripMargin
  }

  /** DSIR importance weight per document (Xie et al., NeurIPS 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * log-likelihood ratio of a TARGET (in-domain) hashed-n-gram
    * unigram model over the RAW corpus model,
    *
    *   w(doc) = (1/n) Σ_g k_g · [ ln p̂_t(bucket(g)) − ln p̂_r(bucket(g)) ]
    *
    * over unigram+bigram features hashed into `buckets` buckets
    * (the paper's hashed n-gram parameterization), each distribution
    * add-1 smoothed over the bucket space. Positive weight = the doc
    * looks more like the target than like the average of the corpus —
    * the score DSIR resamples on to select pretraining data matching
    * a high-quality domain.
    *
    * Scale: one (doc, bucket) corpus shuffle builds tf; the model is
    * a `buckets`-row table (map-side-combined groupBy, so the b-keyed
    * exchange carries ≤ buckets rows per task, not tf) BROADCAST back
    * onto tf — unlike [[unigramLogprob]]'s vocabulary-sized count
    * table, which can only be a window, the hashed bucket table is
    * bounded by construction, and that bound is what lets DSIR run at
    * 100 TB where an exact-vocabulary ratio model couldn't. Totals
    * broadcast; the per-doc float fold runs over the bucket-sorted
    * term list (association pinned, the unigram-LM rule).
    *
    * Determinism: bucket = polynomial token hash (CLAUDE.md portable
    * hash) mod `buckets`; all counts integer; the only float math is
    * the final ln/divide on pinned integers. */
  def dsirWeights(
      docs: DataFrame,
      targetPred: Column,
      buckets: Int = 10007): DataFrame = {
    // tokenize once per row: the bigram build + explode reference the
    // token array 6 times, and Generate does no subexpression
    // elimination (the ngramsOfToks note) — bind it first
    val toks = col("_toks")
    val bgArr = when(size(toks) >= 2,
      zip_with(
        slice(toks, lit(1), size(toks) - 1),
        slice(toks, lit(2), size(toks) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    // both wide shuffles — the gram aggregate AND the per-doc term
    // regroup — otherwise funnel ~1B and ~750M rows through the 32
    // session partitions at 5M docs (measured: 32 parts = 186–239 s,
    // 256 = 136–172, 1024 = 157–196); the shared family sizer applies
    val widen = gramWiden(docs)
    // The isnotnull(b) filter is a semantic no-op (b is a hash of an
    // exploded non-null gram, mod a nonzero literal) but load-bearing
    // for the plan: the tf⋈cb join INFERS it into the tf and cb
    // branches only, so the tot branch's copy of this subtree stopped
    // canonicalizing equal and AQE exchange reuse never fired — the
    // whole tokenize+explode+hash pass executed twice (r19 QueryProf:
    // two 1-task stages, 693+905 ms, writing the same 3.77 MB
    // exchange). Pinning the filter here makes every consumer branch
    // identical, so inference adds nothing and the exchange is built
    // once and reused.
    val grams = docs
      .withColumn("_toks", tokens(col("text")))
      .select(col("doc_id"), targetPred.as("is_target"),
        explode(concat(toks, bgArr)).as("g"))
      .select(col("doc_id"), col("is_target"),
        (Embedder.tokenHash(col("g")) % buckets).as("b"))
      .where(col("b").isNotNull)
    val tf = widen(grams, Seq(col("doc_id"), col("is_target"), col("b")))
      .groupBy(col("doc_id"), col("is_target"), col("b"))
      .agg(count(lit(1)).as("k"))
    val cb = tf.groupBy(col("b")).agg(
      sum(col("k")).as("cr"),
      sum(when(col("is_target"), col("k")).otherwise(0L)).as("ct"))
    val tot = cb.agg(sum(col("cr")).as("rt"), sum(col("ct")).as("tt"))
    widen(tf
      .join(broadcast(cb), Seq("b"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("b"), col("k"),
        (col("k").cast("double") *
          (log((col("ct") + 1).cast("double") /
              (col("tt") + buckets).cast("double")) -
            log((col("cr") + 1).cast("double") /
              (col("rt") + buckets).cast("double")))).as("v")),
      Seq(col("doc_id")))
      .groupBy(col("doc_id"))
      .agg(
        sum(col("k")).as("n_grams"),
        sort_array(collect_list(struct(col("b"), col("v")))).as("l"))
      .select(col("doc_id"), col("n_grams"),
        round(
          aggregate(col("l"), lit(0.0), (a, x) => a + x.getField("v")) /
            col("n_grams").cast("double"),
          6).as("dsir_weight"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al., LREC 2020):
    * each language's documents split into head / middle / tail
    * terciles by language-model score — the standard recipe for
    * quality-stratifying a web crawl before sampling (head = most
    * fluent third). The LM here is [[unigramLogprob]] (higher
    * avg_logp = more probable text); buckets are RANK-based
    * (`ntile(3)` over (score desc, doc_id)), which is exactly CCNet's
    * sort-then-cut-in-thirds and is integer-deterministic across
    * engines — no float boundary to pin.
    *
    * Scale: the ntile window sorts each language's scores on a single
    * partition — fine to ~100M docs/lang, but at full corpus scale use
    * [[pplBucketsApprox]]: tercile BOUNDARIES from
    * `percentile_approx` (one mergeable-sketch pass), bucketing as a
    * broadcast join + narrow map, no global sort. OpsSpec pins the
    * approx census against this exact one. */
  def pplBuckets(docs: DataFrame): DataFrame = {
    val scored = unigramLogprob(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("avg_logp").desc, col("doc_id").asc)
    scored.withColumn("nt", ntile(3).over(w))
      .select(col("lang"),
        when(col("nt") === 1, "head")
          .when(col("nt") === 2, "middle")
          .otherwise("tail").as("bucket"),
        col("avg_logp"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("avg_logp")).as("min_lp"),
        max(col("avg_logp")).as("max_lp"))
  }

  /** The 100 TB twin of [[pplBuckets]]: per-lang tercile boundaries
    * from one `percentile_approx` sketch pass (mergeable, no sort),
    * then a broadcast boundary join and a narrow bucket map. Bucket
    * edges are value-based here, so score ties at a boundary may land
    * one bucket over vs the rank-based exact cut — OpsSpec bounds the
    * census drift. */
  def pplBucketsApprox(docs: DataFrame): DataFrame = {
    val scored = unigramLogprob(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val bounds = scored.groupBy(col("lang"))
      .agg(percentile_approx(col("avg_logp"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(10000)).as("qs"))
    scored.join(broadcast(bounds), Seq("lang"))
      .select(col("lang"),
        when(col("avg_logp") >= element_at(col("qs"), 2), "head")
          .when(col("avg_logp") >= element_at(col("qs"), 1), "middle")
          .otherwise("tail").as("bucket"),
        col("avg_logp"))
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("avg_logp")).as("min_lp"),
        max(col("avg_logp")).as("max_lp"))
  }

  /** First step of byte-pair-encoding tokenizer training (Sennrich et
    * al., ACL 2016): corpus-wide frequencies of ADJACENT CHARACTER
    * PAIRS inside words — the statistic BPE maximizes when picking its
    * next merge (here over raw characters, i.e. the first merge
    * round; iterating = re-running over progressively merged symbol
    * streams). Top-k merge candidates by (count desc, pair asc).
    *
    * Scale: one narrow explode to a (pair) stream and one map-side-
    * combinable count — the classic word-count shape; the top-k cut is
    * TakeOrderedAndProject. Counts are integral: no float pins. */
  def bpePairs(docs: DataFrame, k: Int): DataFrame =
    docs.select(explode(tokens(col("text"))).as("word"))
      .select(explode(
        when(length(col("word")) >= 2,
          transform(sequence(lit(1), length(col("word")) - 1),
            i => col("word").substr(i, lit(2))))
          .otherwise(array().cast("array<string>"))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)

  // -- distinctive vocabulary --------------------------------------

  /** Top-`k` distinctive tokens per language by lift — the PMI-style
    * "what words characterize this slice" summary a corpus report
    * leads with: lift(tok, lang) = P(tok | lang) / P(tok). One
    * (lang,tok) aggregation; the per-lang and per-tok totals are
    * WINDOW sums over those rows (no self-joins, no recompute — the
    * unigram-LM lesson); only the global total is a broadcast scalar.
    * `minCount` suppresses one-off noise. Integral counts, one
    * rounded division chain, (lift desc, tok asc) rank ties. */
  def topicWords(docs: DataFrame, k: Int, minCount: Long,
      keyCol: String = "lang"): DataFrame = {
    val tf = docs
      .select(col(keyCol), explode(tokens(col("text"))).as("tok"))
      .groupBy(col(keyCol), col("tok")).agg(count(lit(1)).as("c"))
    val tot = tf.agg(sum(col("c")).as("tc"))
    val withTotals = tf
      .withColumn("key_c", sum(col("c")).over(Window.partitionBy(col(keyCol))))
      .withColumn("tok_c", sum(col("c")).over(Window.partitionBy(col("tok"))))
      .crossJoin(broadcast(tot))
      .filter(col("c") >= minCount)
      .select(col(keyCol), col("tok"), col("c"),
        round((col("c").cast("double") / col("key_c").cast("double")) /
          (col("tok_c").cast("double") / col("tc").cast("double")), 6).as("lift"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("lift").desc, col("tok").asc)
    withTotals.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  // -- query/oracle registry ---------------------------------------

  private def duckToks(e: String) =
    s"list_filter(string_split($e, ' '), x -> len(x) > 0)"

  /** Shared with Curation's oracle so the quality formula cannot
    * diverge between the two. */
  private[ops] def duckToksPublic(e: String): String = duckToks(e)

  /** CTE chain ending in q(doc_id, mean_word_len, stop_ratio, quality)
    * — the single SQL source of the quality formula; every oracle that
    * scores quality (x_quality_score, x_domain_cap) builds on it. */
  private[graft] def duckQualityCtes: String = duckQualityCtesFor("documents")

  /** CTE chain ending in sc(doc_id, clf_score) — the single SQL source
    * of the hashed-classifier score (x_clf_quality, x_quality_corr). */
  private def duckClfCtes: String =
    s"""toks AS (SELECT doc_id, ${Embedder.duckTokenHashes("text")} AS th FROM documents),
       |sc AS (SELECT doc_id,
       |  CASE WHEN len(th) > 0 THEN
       |    ROUND(1.0 / (1.0 + exp(-(-0.05 +
       |      list_sum(list_transform(th, h -> ((h % 4096) * 2654435761 % 2003 - 1001)::DOUBLE / 1001.0))
       |      / len(th)))), 6)
       |  END AS clf_score FROM toks)""".stripMargin

  /** Same CTE chain over an arbitrary source relation (must expose
    * doc_id + text) — lets composed pipelines score a filtered
    * corpus with the identical formula. */
  private[ops] def duckQualityCtesFor(tbl: String): String =
    s"""b AS (SELECT doc_id, len(text)::DOUBLE AS nc, len(${duckToks("text")})::DOUBLE AS nt,
       |  len(list_filter(${duckToks("text")}, x -> x IN ('the','a','of','and')))::DOUBLE AS ns
       |  FROM $tbl),
       |m AS (SELECT doc_id, (nc - (nt - 1)) / nt AS mwl, ns / nt AS sr, nt FROM b),
       |q AS (SELECT doc_id, ROUND(mwl, 6) AS mean_word_len, ROUND(sr, 6) AS stop_ratio,
       |  ROUND((least(coalesce(nt, 0) / 50.0, 1.0) * 0.5 +
       |    (CASE WHEN mwl BETWEEN 3.0 AND 8.0 THEN 0.3 ELSE 0.0 END) +
       |    (CASE WHEN sr BETWEEN 0.01 AND 0.5 THEN 0.2 ELSE 0.0 END))::DOUBLE, 6) AS quality
       |  FROM m)""".stripMargin

  // -- repetition signals ------------------------------------------

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, the
    * published quality filters for MassiveText): fraction of the doc
    * taken by its single most frequent word, and the fraction of
    * duplicate word-bigrams. High values mark boilerplate / SEO spam /
    * generation loops — the junk a pretraining mixture drops first.
    *
    * Scale: the top-word count is an explode + two-level aggregate
    * keyed on (doc_id, word) — map-side combinable, no skew (keys are
    * per-doc); the bigram stats are a pure narrow map over the token
    * array. One shuffle total. */
  def repetition(docs: DataFrame): DataFrame = {
    val tk = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val wc = tk.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val top = wc.groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_words"))
    // sequence(1, 0) would step BACKWARDS in Spark, so the <2-token
    // case is guarded explicitly (0 bigrams)
    val big = tk.select(col("doc_id"),
      greatest(size(col("toks")) - 1, lit(0)).cast("long").as("n_bigrams"),
      when(size(col("toks")) >= 2,
        size(array_distinct(transform(
          sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i), element_at(col("toks"), i + 1))))))
        .otherwise(0).cast("long").as("n_uniq"))
    // LEFT join from big (one row per doc always): a zero-token doc
    // has no wc/top rows but must still appear with n_words = 0
    big.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_words"), lit(0L)).as("n_words"),
        round(when(col("n_words") > 0,
          col("top_c").cast("double") / col("n_words")).otherwise(0d), 6)
          .as("top_word_frac"),
        round(when(col("n_bigrams") > 0,
          lit(1d) - col("n_uniq").cast("double") / col("n_bigrams")).otherwise(0d), 6)
          .as("dup_bigram_frac"))
  }

  // -- Gopher rule filter ------------------------------------------

  /** Gopher rule-based document filter (Rae et al. 2021 §A1.1, the
    * published MassiveText pre-filters): word-count bounds, mean word
    * length bounds, and a minimum fraction of words containing an
    * alphabetic character. Emits the signals AND the verdict so a
    * mixture builder can audit why a document was cut (bounds scaled
    * to the fixture's 10–110-word docs; production uses Gopher's
    * 50–100k). Pure narrow map — token array folds only, no shuffle,
    * embarrassingly parallel at any corpus size. */
  def gopherRules(
      docs: DataFrame,
      minWords: Long = 20L,
      maxWords: Long = 90L,
      minMeanLen: Double = 3.0,
      maxMeanLen: Double = 10.0,
      minAlphaFrac: Double = 0.8): DataFrame = {
    // tokenize once per row (multi-use alias, see qualityScore)
    val toks = col("_toks")
    val nW = size(toks).cast("long")
    val nWd = when(nW > 0, nW.cast("double"))
    val meanLen = aggregate(transform(toks, w => length(w).cast("long")),
      lit(0L), (a, x) => a + x).cast("double") / nWd
    val alphaFrac = size(filter(toks, w => w.rlike("[a-z]"))).cast("double") / nWd
    docs.withColumn("_toks", tokens(col("text"))).select(
      col("doc_id"),
      nW.as("n_words"),
      round(meanLen, 6).as("mean_word_len"),
      round(alphaFrac, 6).as("alpha_frac"),
      when(nW.between(minWords, maxWords) &&
        meanLen.between(minMeanLen, maxMeanLen) &&
        alphaFrac >= minAlphaFrac, 1L).otherwise(0L).as("keep"))
  }

  // -- boilerplate mining ------------------------------------------

  /** Cross-document boilerplate mining: word n-grams ranked by
    * DOCUMENT frequency — the repeated headers / footers / cookie
    * banners a web-corpus pipeline strips before training (the
    * cross-doc complement of [[repetition]]'s intra-doc signals).
    * Per-doc grams are already distinct ([[Curation.ngrams]]), so one
    * explode + count(*) keyed on the gram IS document frequency — a
    * single map-side-combinable shuffle. Production hashes grams to
    * 8-byte keys before the shuffle (~6× narrower); strings here keep
    * the semantics exactly checkable. Gram-key skew is bounded: a
    * gram's count ≤ corpus doc count, and the heavy hitters are
    * precisely the answer. */
  def boilerplateNgrams(docs: DataFrame, n: Int, minDf: Long, k: Int): DataFrame =
    docs.select(tokens(col("text")).as("_toks")) // bound below the explode (ngramsOfToks note)
      .select(explode(Curation.ngramsOfToks(col("_toks"), n)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDf)
      .orderBy(col("df").desc, col("gram").asc)
      .limit(k)

  // -- PII scrubbing -----------------------------------------------

  private[ops] val EmailPat = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  private[ops] val PhonePat = "555-[0-9]{4}"

  /** PII detection + redaction: count email/phone matches and emit the
    * redacted text's hash (the full redacted text is what a real
    * pipeline keeps; the hash makes the rewrite oracle-checkable
    * without megabyte outputs). Pure narrow map — two regex counts and
    * two global replaces per row, no shuffle, trivially parallel at
    * any scale. Patterns are deliberately RE2-safe (character classes
    * and counted repeats only) so the same regex text runs unchanged
    * on Spark's java.util.regex and DuckDB's RE2. */
  def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailPat)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(PhonePat)).cast("long").as("n_phones"),
      md5(regexp_replace(regexp_replace(col("text"), EmailPat, "<EMAIL>"),
        PhonePat, "<PHONE>")).as("redacted_hash"))

  // -- BPE tokenizer training --------------------------------------

  /** Distributed BPE merge training (Sennrich et al. 2016 — the GPT-2
    * tokenizer recipe; [[bpePairs]] is its round-1 statistic): ONE
    * corpus pass builds the (word, count) table, then every merge
    * round runs entirely on that BOUNDED vocabulary table — count
    * adjacent symbol pairs weighted by word frequency, take the global
    * argmax (count DESC, pair ASC — the deterministic tiebreak), fuse
    * the winning pair everywhere, repeat. At 100 TB the corpus pass is
    * the only corpus-sized cost; rounds iterate over a table the size
    * of the VOCABULARY, and each round's argmax is a one-row action —
    * the same bounded-collect class as the IVF centroid fetch.
    *
    * Merge application is sentinel-wrapped string replacement
    * (" a b " → " ab " inside " c h a t "): leftmost, non-overlapping,
    * separator-consuming — verified identical in Spark's
    * UTF8String.replace and DuckDB's replace(), which is what makes
    * the oracle exact. Inside a run of ONE repeated symbol (length
    * ≥ 4) this fuses the first pair then skips one extra symbol where
    * canonical BPE fuses every other pair; the rule is deterministic,
    * spec-pinned, and applied identically by both engines.
    *
    * Returns one row per round: (round, pair, cnt). */
  def bpeTrain(docs: DataFrame, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words0 = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .select(
        concat(lit(" "), concat_ws(" ", split(col("w"), "")), lit(" ")).as("sym"),
        col("n"))
    var cur = words0.cache()
    val merges = Seq.newBuilder[(Long, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // bind the symbol split once and build adjacent pairs closure-
      // free: this loop's plans are interior (executed per round, not
      // part of the returned frame), so the HofGuardSpec sweep cannot
      // see them — the element_at(syms, i) capture it flags elsewhere
      // re-split the symbol string per pair position here too
      val syms = col("_syms")
      val width = greatest(size(syms) - 1, lit(0))
      val pairCol = zip_with(
        slice(syms, lit(1), width), slice(syms, lit(2), width),
        (a, b) => concat(a, lit(" "), b))
      val bestRows = cur.withColumn("_syms", split(trim(col("sym")), " "))
        .select(explode(pairCol).as("pair"), col("n"))
        .groupBy(col("pair")).agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("pair").asc)
        .limit(1).collect()
      if (bestRows.isEmpty) {
        // no adjacent pair remains (empty corpus, or every word fused
        // to a single symbol — rounds > achievable merges): the merge
        // list is simply shorter than asked, not a crash
        exhausted = true
      } else {
        val best = bestRows.head
        val pair = best.getString(0)
        merges += ((r.toLong, pair, best.getLong(1)))
        val next = cur.select(
          call_function("replace", col("sym"),
            lit(s" $pair "), lit(s" ${pair.replace(" ", "")} ")).as("sym"),
          col("n")).cache()
        next.count() // materialize before releasing the parent round
        cur.unpersist()
        cur = next
      }
      r += 1
    }
    cur.unpersist()
    merges.result().toDF("round", "pair", "cnt")
  }

  /** Apply trained BPE merges: segment every document into subword
    * tokens under the merge list [[bpeTrain]] produced — the encode
    * side of the tokenizer, and the number a training pipeline
    * actually bills by (subword count per document).
    *
    * Scale: each DISTINCT word is encoded once (the merge folds are
    * per-word string replaces on the bounded vocabulary table) and the
    * per-word subword length joins back onto the corpus token stream —
    * the corpus-sized side only pays an explode + a join on the word
    * key + one per-doc sum, never the merge arithmetic. */
  def bpeEncode(docs: DataFrame, merges: Seq[String]): DataFrame = {
    val sym0 = concat(lit(" "), concat_ws(" ", split(col("w"), "")), lit(" "))
    val symN = merges.foldLeft(sym0)((c, m) =>
      call_function("replace", c, lit(s" $m "), lit(s" ${m.replace(" ", "")} ")))
    val wordLens = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n_occ"))
      .select(col("w"), col("n_occ"),
        size(split(trim(symN), " ")).cast("long").as("n_sub"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .join(wordLens, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("n_sub")).as("n_subwords"))
  }

  /** DuckDB twin of [[bpeTrain]]: the same rounds unrolled as CTE
    * chains (pair census → argmax → sentinel-wrapped replace). */
  private val DuckToksExpr = "list_filter(string_split(text, ' '), x -> len(x) > 0)"

  /** Shared CTE chain for the BPE oracles: w0 (vocabulary), then
    * s0..sN carrying (tok, sym, n) through each unrolled merge. */
  private def duckBpeCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH w0 AS (SELECT tok, count(*) AS n FROM (
         |    SELECT unnest($DuckToksExpr) AS tok FROM documents) z GROUP BY tok),
         |s0 AS (SELECT tok, ' ' || array_to_string(string_split(tok, ''), ' ') || ' ' AS sym, n
         |  FROM w0)""".stripMargin)
    for (r <- 1 to rounds) {
      sb.append(s""",
        |p$r AS (SELECT pr, sum(n) AS c FROM (
        |    SELECT unnest(list_transform(range(1, len(sy)), i -> sy[i] || ' ' || sy[i+1])) AS pr, n
        |    FROM (SELECT string_split(trim(sym), ' ') AS sy, n FROM s${r - 1}) q
        |    WHERE len(sy) >= 2) z GROUP BY pr),
        |m$r AS (SELECT pr, c FROM p$r ORDER BY c DESC, pr ASC LIMIT 1),
        |s$r AS (SELECT tok, replace(sym, ' ' || (SELECT pr FROM m$r) || ' ',
        |    ' ' || replace((SELECT pr FROM m$r), ' ', '') || ' ') AS sym, n FROM s${r - 1})"""
        .stripMargin)
    }
    sb.toString
  }

  private[ops] def duckBpeTrain(rounds: Int): String = {
    val union = (1 to rounds)
      .map(r => s"SELECT $r::BIGINT AS round, pr AS pair, c::BIGINT AS cnt FROM m$r")
      .mkString("\n  UNION ALL ")
    s"${duckBpeCtes(rounds)}\nSELECT round, pair, cnt FROM (\n  $union) u ORDER BY round"
  }

  /** DuckDB twin of [[bpeEncode]] under the merges [[duckBpeTrain]]
    * derives — same CTE chain, then the corpus token stream joins the
    * final per-word segmentation. */
  private[ops] def duckBpeEncode(rounds: Int): String =
    s"""${duckBpeCtes(rounds)}
       |SELECT d.doc_id, count(*)::BIGINT AS n_words,
       |  sum(len(string_split(trim(s.sym), ' ')))::BIGINT AS n_subwords
       |FROM (SELECT doc_id, unnest($DuckToksExpr) AS tok FROM documents) d
       |JOIN s$rounds s ON d.tok = s.tok
       |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  // -- keyword extraction ------------------------------------------

  /** Per-DOCUMENT keyword extraction: top-`k` tokens by tf·idf — the
    * tagging/labeling pass a corpus catalog runs (the per-doc
    * complement of [[topicWords]]' per-language lift ranking).
    * idf = ln(N/df) on exact integer counts; the score is rounded to
    * 6dp BEFORE ranking so a sub-rounding tie can never order the two
    * engines differently (token ASC breaks rounded ties).
    *
    * Scale: one (doc, token) shuffle builds tf; df is a window sum
    * over the SAME rows keyed by token (no self-join, no second
    * corpus pass); the corpus size N is a one-row aggregate broadcast
    * back; the final per-doc top-k window partitions by doc_id — tiny
    * partitions, no skew surface. */
  def keywordsTfidf(docs: DataFrame, k: Int = 3): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).cast("double").as("n"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("tok"))).cast("double"))
    val total = docs.agg(count(lit(1)).cast("double").as("n_docs"))
    val scored = withDf.crossJoin(broadcast(total))
      .withColumn("score", round(col("n") * log(col("n_docs") / col("df")), 6))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("tok").asc)
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("tok"), col("score"))
  }

  // -- text normalization ------------------------------------------

  private[ops] val CtrlPat = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"
  private[ops] val WsPat = "[ \\t\\n\\r]+"

  /** Text normalization — the cleanup pass a web pipeline runs BEFORE
    * any hashing or dedup (C4 strips control characters and collapses
    * whitespace; CCNet normalizes before LM scoring), because two
    * byte-different copies of the same page must hash equal for every
    * downstream exact/MinHash signature to see them as duplicates.
    * Three steps: strip ASCII control chars (tab/newline/CR excepted —
    * they are whitespace, handled next), collapse every whitespace run
    * to one space, trim. Both regexes are RE2-safe so the identical
    * pattern text runs on Spark's java.util.regex and DuckDB's RE2.
    * Emits raw/clean lengths plus the cleaned text's md5, so the
    * REWRITE is oracle-checked, not just the counts. Pure narrow map —
    * no shuffle at any scale. */
  def normalizeText(docs: DataFrame): DataFrame = {
    val clean = trim(regexp_replace(regexp_replace(col("text"), CtrlPat, ""), WsPat, " "))
    docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n_raw"),
      length(clean).cast("long").as("n_clean"),
      md5(clean).as("clean_hash"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_token_count" -> ((s, dir) =>
      tokenCounts(t(s, dir, "documents")).orderBy(col("doc_id"))),

    // The fixture text is already single-spaced ASCII, so the query
    // plants a tab-space prefix, a double-newline suffix and a 0x01
    // control byte on every 7th doc in BOTH engines — normalization
    // must strip exactly those (planted docs collapse to text + " end";
    // the rest pass through with clean == raw).
    "x_normalize_text" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(lit("\t "), col("text"), lit(" \n\nend\u0001")))
          .otherwise(col("text")))
      normalizeText(planted).orderBy(col("doc_id"))
    }),
    "x_quality_score" -> ((s, dir) =>
      qualityScore(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "x_clf_quality" -> ((s, dir) =>
      qualityClassifier(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "x_bigram_logprob" -> ((s, dir) =>
      bigramLogprob(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "x_interp_logprob" -> ((s, dir) =>
      interpLogprob(t(s, dir, "documents")).orderBy(col("doc_id"))),
    "x_kn_logprob" -> ((s, dir) =>
      Ckpt.ordered(knLogprob(t(s, dir, "documents")), col("doc_id"))),
    "x_lang_id" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      langId(d, langProfiles(d)).orderBy(col("doc_id"))
    }),
    "x_fingerprint" -> ((s, dir) =>
      Ckpt.ordered(fingerprints(t(s, dir, "documents")), col("doc_id"))),
    "x_repetition" -> ((s, dir) =>
      Ckpt.ordered(repetition(t(s, dir, "documents")), col("doc_id"))),
    // The fixture has no PII, so the query plants deterministic
    // synthetic emails (every 7th doc) and phone numbers (every 11th)
    // in BOTH engines, then counts + redacts them.
    "x_pii_scrub" -> ((s, dir) => {
      val planted = t(s, dir, "documents")
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact a"), col("doc_id"), lit("@mail.com now")))
            .otherwise(col("text")))
        .withColumn("text",
          when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" call 555-0142 today")))
            .otherwise(col("text")))
      Ckpt.ordered(piiScrub(planted), col("doc_id"))
    }),

    "x_gopher_rules" -> ((s, dir) =>
      gopherRules(t(s, dir, "documents")).orderBy(col("doc_id"))),

    "x_unigram_logprob" -> ((s, dir) =>
      unigramLogprob(t(s, dir, "documents")).orderBy(col("doc_id"))),

    // DSIR data selection: English as the stand-in target domain (the
    // paper's "formal text" target); every doc scored by how much more
    // likely its hashed n-grams are under the target model than the
    // corpus model. The en/non-en weight gap is spec-asserted.
    "x_dsir_weights" -> ((s, dir) =>
      dsirWeights(t(s, dir, "documents"), col("lang") === "en")
        .orderBy(col("doc_id"))),

    "x_topic_words" -> ((s, dir) =>
      topicWords(t(s, dir, "documents"), k = 5, minCount = 5L)
        .orderBy(col("lang"), col("rnk"))),

    "x_keywords_tfidf" -> ((s, dir) =>
      Ckpt.ordered(keywordsTfidf(t(s, dir, "documents")),
        col("doc_id"), col("rnk"))),

    "x_bpe_merges" -> ((s, dir) =>
      bpeTrain(t(s, dir, "documents"), rounds = 3)
        .orderBy(col("round"))),

    // encode under the merges the trainer just derived: train (3
    // bounded-table rounds) then segment the corpus — the full
    // tokenizer pipeline end-to-end against one oracle
    "x_bpe_encode" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val merges = bpeTrain(d, rounds = 3).collect()
        .sortBy(_.getLong(0)).map(_.getString(1)).toSeq
      bpeEncode(d, merges).orderBy(col("doc_id"))
    }),

    "x_winnow" -> ((s, dir) =>
      Ckpt.ordered(winnow(t(s, dir, "documents")), col("doc_id"))),

    // Vocabulary size per language — exact count(distinct) here (the
    // oracle-checkable definition); at true scale the same query runs
    // with approx_count_distinct (HLL++, one pass, mergeable sketches,
    // no distinct shuffle) — OpsSpec pins the sketch within 5% of this
    // exact answer so the swap is evidence-backed.
    "x_heavy_hitters" -> ((s, dir) =>
      heavyHitters(t(s, dir, "documents"), 20)),

    "x_vocab_coverage" -> ((s, dir) =>
      vocabCoverage(t(s, dir, "documents"), Seq(1, 2, 5, 10, 20))
        .orderBy(col("k"))),

    "x_entropy_report" -> ((s, dir) =>
      entropyReport(t(s, dir, "documents"))),

    "x_zipf_fit" -> ((s, dir) =>
      zipfFit(t(s, dir, "documents"))),

    "x_quality_corr" -> ((s, dir) =>
      qualityAgreement(t(s, dir, "documents"))),

    "x_length_bias" -> ((s, dir) =>
      lengthQualityBias(t(s, dir, "documents"))
        .orderBy(col("len_bucket"))),

    // every 25th doc gets the 12-token marker appended in BOTH engines
    // — those pairs must match (plus any organic shared 5-grams)
    "x_winnow_matches" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 25 === 0,
          concat(col("text"), lit(" " + WinnowMarker))).otherwise(col("text")))
      winnowMatches(planted).orderBy(col("id_a"), col("id_b"))
    }),

    "x_source_divergence" -> ((s, dir) =>
      Ckpt.ordered(sourceDivergence(t(s, dir, "documents")), col("source"))),

    "x_collocations" -> ((s, dir) =>
      collocations(t(s, dir, "documents"), k = 20, minCount = 5)),

    "x_corpus_report" -> ((s, dir) =>
      corpusReport(t(s, dir, "documents"))),

    "x_distinct_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("lang"))
        .agg(countDistinct(col("tok")).as("n_vocab"), count(lit(1)).as("n_tokens"))
        .orderBy(col("lang"))),

    // The fixture's word-soup corpus has no natural repeated 8-grams,
    // so the query plants a deterministic boilerplate footer on every
    // 9th doc in BOTH engines — the miner must surface exactly the
    // planted footer gram (junction grams differ per doc, df = 1,
    // filtered by min_df = 2).
    "x_boilerplate" -> ((s, dir) => {
      val planted = t(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 9 === 0,
          concat(col("text"), lit(FooterMarker))).otherwise(col("text")))
      boilerplateNgrams(planted, 8, minDf = 2L, k = 20)
    }),

    // Corpus length profile: exact interpolated token-count quartiles
    // per language — the distribution summary a mixture designer reads
    // before setting sequence budgets. Exact `percentile` (not the
    // t-digest approx variant) because both engines define it as R-7
    // linear interpolation over integers — deterministic; at true
    // scale swap in percentile_approx and drop the oracle to
    // rows-only, as documented here.
    "x_token_quantiles" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("lang"), size(tokens(col("text"))).cast("long").as("nt"))
        .groupBy(col("lang"))
        .agg(
          round(expr("percentile(nt, 0.25)"), 6).as("p25"),
          round(expr("percentile(nt, 0.5)"), 6).as("p50"),
          round(expr("percentile(nt, 0.75)"), 6).as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("lang"))),

    "x_ppl_buckets" -> ((s, dir) =>
      pplBuckets(t(s, dir, "documents"))
        .orderBy(col("lang"), col("bucket"))),

    "x_bpe_pairs" -> ((s, dir) =>
      bpePairs(t(s, dir, "documents"), k = 20))
  )

  private val FooterMarker =
    " foot0 foot1 foot2 foot3 foot4 foot5 foot6 foot7"

  /** Unigram-LM CTE chain ending in lp(doc_id, n_toks, avg_logp) —
    * the single SQL source of the LM-score formula; x_unigram_logprob
    * and x_ppl_buckets both build on it so they cannot diverge. */
  private def duckUnigramCtes: String =
    s"""tf AS (SELECT doc_id, tok, count(*) AS k FROM (
       |    SELECT doc_id, unnest(${duckToks("text")}) AS tok FROM documents) z
       |  GROUP BY doc_id, tok),
       |cnt AS (SELECT tok, sum(k)::BIGINT AS c FROM tf GROUP BY tok),
       |tot AS (SELECT sum(c)::BIGINT AS tc FROM cnt),
       |terms AS (SELECT doc_id, tok, k,
       |    k::DOUBLE * ln(c::DOUBLE / tc::DOUBLE) AS v
       |  FROM tf JOIN cnt USING (tok), tot),
       |agg AS (SELECT doc_id, sum(k)::BIGINT AS n_toks,
       |    list(v ORDER BY tok) AS l FROM terms GROUP BY doc_id),
       |lp AS (SELECT doc_id, n_toks,
       |  ROUND(list_reduce(l, (a,b) -> a+b) / n_toks::DOUBLE, 6) AS avg_logp
       |  FROM agg)""".stripMargin

  def oracles: Map[String, String] = Map(
    "x_bpe_merges" -> duckBpeTrain(3),
    "x_bpe_encode" -> duckBpeEncode(3),

    // identical tf / window-df / ln(N/df) arithmetic; the score is
    // rounded BEFORE ranking in both engines so sub-rounding ties
    // cannot order differently
    "x_keywords_tfidf" ->
      s"""WITH tf AS (SELECT doc_id, tok, count(*)::DOUBLE AS n FROM (
         |    SELECT doc_id, unnest(${duckToks("text")}) AS tok FROM documents) z
         |  GROUP BY doc_id, tok),
         |d AS (SELECT doc_id, tok, n,
         |    (count(*) OVER (PARTITION BY tok))::DOUBLE AS df FROM tf),
         |nd AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
         |s AS (SELECT doc_id, tok, ROUND(n * ln(n_docs / df), 6) AS score
         |  FROM d CROSS JOIN nd),
         |r AS (SELECT doc_id, tok, score,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok ASC)::BIGINT AS rnk
         |  FROM s)
         |SELECT doc_id, rnk, tok, score FROM r WHERE rnk <= 3
         |ORDER BY doc_id, rnk""".stripMargin,

    // same planting (chr(9)=\t prefix, chr(10)=\n suffix runs, chr(1)
    // control byte), same two RE2 regexes, same trim — the md5 of the
    // cleaned text pins the rewrite byte-for-byte
    "x_normalize_text" ->
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0
         |      THEN chr(9) || ' ' || text || ' ' || chr(10) || chr(10) || 'end' || chr(1)
         |      ELSE text END AS text
         |  FROM documents),
         |c AS (SELECT doc_id, text,
         |    trim(regexp_replace(regexp_replace(text,
         |      '$CtrlPat', '', 'g'), '$WsPat', ' ', 'g')) AS clean
         |  FROM p)
         |SELECT doc_id, length(text)::BIGINT AS n_raw,
         |  length(clean)::BIGINT AS n_clean, md5(clean) AS clean_hash
         |FROM c ORDER BY doc_id""".stripMargin,

    "x_winnow" -> {
      val gramExpr = (1 to 5).map(j => s"toks[i+${j - 1}]").mkString(" || ' ' || ")
      s"""WITH b AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents),
         |g AS (SELECT doc_id,
         |    list_transform(range(1, len(toks) - 4 + 1), i -> $gramExpr) AS grams
         |  FROM b WHERE len(toks) >= 5),
         |h AS (SELECT doc_id,
         |    list_transform(grams, g -> ${Embedder.duckStringHash("g")}) AS gh
         |  FROM g),
         |s AS (SELECT doc_id, len(gh)::BIGINT AS n_grams,
         |    list_distinct(list_transform(range(1, greatest(len(gh) - 3, 1) + 1),
         |      i -> list_aggregate(gh[i:i+3], 'min'))) AS sel
         |  FROM h)
         |SELECT doc_id, n_grams, len(sel)::BIGINT AS n_fp,
         |  list_aggregate(sel, 'min') AS fp_min,
         |  list_aggregate(sel, 'max') AS fp_max
         |FROM s ORDER BY doc_id""".stripMargin
    },

    "x_topic_words" ->
      s"""WITH tf AS (SELECT lang, tok, count(*) AS c FROM (
         |    SELECT lang, unnest(${duckToks("text")}) AS tok FROM documents) z
         |  GROUP BY lang, tok),
         |t AS (SELECT sum(c)::BIGINT AS tc FROM tf),
         |wt AS (SELECT lang, tok, c,
         |    sum(c) OVER (PARTITION BY lang) AS lang_c,
         |    sum(c) OVER (PARTITION BY tok) AS tok_c
         |  FROM tf),
         |lf AS (SELECT lang, tok, c,
         |    ROUND((c::DOUBLE / lang_c::DOUBLE) / (tok_c::DOUBLE / tc::DOUBLE), 6) AS lift
         |  FROM wt, t WHERE c >= 5),
         |r AS (SELECT lang, tok, c, lift,
         |    row_number() OVER (PARTITION BY lang ORDER BY lift DESC, tok ASC) AS rnk
         |  FROM lf)
         |SELECT lang, tok, c, lift, rnk FROM r WHERE rnk <= 5
         |ORDER BY lang, rnk""".stripMargin,

    "x_winnow_matches" -> {
      val gramExpr = (1 to 5).map(j => s"toks[i+${j - 1}]").mkString(" || ' ' || ")
      s"""WITH p AS (SELECT doc_id,
         |    CASE WHEN doc_id % 25 = 0 THEN text || ' ' || '$WinnowMarker'
         |      ELSE text END AS text
         |  FROM documents),
         |b AS (SELECT doc_id, ${duckToks("text")} AS toks FROM p),
         |g AS (SELECT doc_id,
         |    list_transform(range(1, len(toks) - 4 + 1), i -> $gramExpr) AS grams
         |  FROM b WHERE len(toks) >= 5),
         |h AS (SELECT doc_id,
         |    list_transform(grams, g -> ${Embedder.duckStringHash("g")}) AS gh
         |  FROM g),
         |s AS (SELECT doc_id,
         |    list_distinct(list_transform(range(1, greatest(len(gh) - 3, 1) + 1),
         |      i -> list_aggregate(gh[i:i+3], 'min'))) AS sel
         |  FROM h),
         |f AS (SELECT doc_id, unnest(sel) AS fp FROM s)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS n_shared
         |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY id_a, id_b ORDER BY id_a, id_b""".stripMargin
    },

    "x_length_bias" ->
      s"""WITH $duckQualityCtes,
         |nt AS (SELECT doc_id, len(${duckToks("text")})::BIGINT AS n_toks FROM documents),
         |lb AS (SELECT n_toks // 20 AS len_bucket,
         |    ROUND(quality * 1000000, 0)::BIGINT AS qi
         |  FROM nt JOIN q USING (doc_id) WHERE quality IS NOT NULL)
         |SELECT len_bucket, count(*)::BIGINT AS n_docs,
         |  ROUND(sum(qi)::DOUBLE / count(*)::DOUBLE / 1000000.0, 6) AS mean_quality
         |FROM lb GROUP BY len_bucket ORDER BY len_bucket""".stripMargin,

    "x_quality_corr" ->
      s"""WITH $duckQualityCtes,
         |$duckClfCtes,
         |xy AS (SELECT ROUND(quality * 1000000, 0)::BIGINT AS x,
         |    ROUND(clf_score * 1000000, 0)::BIGINT AS y
         |  FROM q JOIN sc USING (doc_id)
         |  WHERE quality IS NOT NULL AND clf_score IS NOT NULL),
         |s AS (SELECT count(*)::BIGINT AS n,
         |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |    sum(x * x) AS sxx, sum(y * y) AS syy
         |  FROM xy)
         |SELECT n,
         |  ROUND((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE) /
         |    sqrt((n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE) *
         |      (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)), 6) AS pearson_r
         |FROM s""".stripMargin,

    "x_zipf_fit" ->
      s"""WITH uni AS (SELECT w, count(*)::BIGINT AS c
         |  FROM (SELECT unnest(${duckToks("text")}) AS w FROM documents) z
         |  GROUP BY w),
         |xy AS (SELECT row_number() OVER (ORDER BY c DESC, w ASC) AS rnk,
         |    ln(row_number() OVER (ORDER BY c DESC, w ASC)::DOUBLE) AS x,
         |    ln(c::DOUBLE) AS y
         |  FROM uni),
         |ls AS (SELECT count(*)::DOUBLE AS n,
         |    list(x ORDER BY rnk) AS lx, list(y ORDER BY rnk) AS ly,
         |    list(x * y ORDER BY rnk) AS lxy, list(x * x ORDER BY rnk) AS lxx,
         |    list(y * y ORDER BY rnk) AS lyy
         |  FROM xy),
         |s AS (SELECT n,
         |    list_reduce(list_prepend(0.0, lx), (a, b) -> a + b) AS sx,
         |    list_reduce(list_prepend(0.0, ly), (a, b) -> a + b) AS sy,
         |    list_reduce(list_prepend(0.0, lxy), (a, b) -> a + b) AS sxy,
         |    list_reduce(list_prepend(0.0, lxx), (a, b) -> a + b) AS sxx,
         |    list_reduce(list_prepend(0.0, lyy), (a, b) -> a + b) AS syy
         |  FROM ls)
         |SELECT n::BIGINT AS n_types,
         |  ROUND((sxy - sx * sy / n) / (sxx - sx * sx / n), 6) AS slope,
         |  ROUND((sy - (sxy - sx * sy / n) / (sxx - sx * sx / n) * sx) / n, 6) AS intercept,
         |  ROUND(((sxy - sx * sy / n) * (sxy - sx * sy / n)) /
         |    ((sxx - sx * sx / n) * (syy - sy * sy / n)), 6) AS r2
         |FROM s""".stripMargin,

    "x_entropy_report" ->
      s"""WITH tk AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents),
         |uni AS (SELECT w, count(*)::BIGINT AS c
         |  FROM (SELECT unnest(toks) AS w FROM tk) z GROUP BY w),
         |un AS (SELECT sum(c)::DOUBLE AS n FROM uni),
         |u1 AS (SELECT w,
         |    (c::DOUBLE / (SELECT n FROM un)) * ln(c::DOUBLE / (SELECT n FROM un)) AS v
         |  FROM uni),
         |h1 AS (SELECT ROUND(-list_reduce(list_prepend(0.0,
         |      (SELECT list(v ORDER BY w ASC) FROM u1)), (a, b) -> a + b), 6) AS h_unigram,
         |    (SELECT count(*)::BIGINT FROM uni) AS n_unigram_types),
         |bgr AS (SELECT toks[i] || ' ' || toks[i+1] AS bg
         |  FROM tk, (SELECT unnest(range(1, 100000)) AS i) ix
         |  WHERE i < len(toks)),
         |bt0 AS (SELECT bg, count(*)::BIGINT AS c12,
         |    string_split(bg, ' ')[1] AS w1 FROM bgr GROUP BY bg),
         |bt AS (SELECT *, sum(c12) OVER (PARTITION BY w1) AS c1 FROM bt0),
         |bp AS (SELECT sum(c12)::DOUBLE AS p FROM bt0),
         |b1 AS (SELECT bg,
         |    (c12::DOUBLE / (SELECT p FROM bp)) * ln(c12::DOUBLE / c1::DOUBLE) AS v
         |  FROM bt),
         |h2 AS (SELECT ROUND(-list_reduce(list_prepend(0.0,
         |      (SELECT list(v ORDER BY bg ASC) FROM b1)), (a, b) -> a + b), 6) AS h_bigram_cond,
         |    (SELECT count(*)::BIGINT FROM bt0) AS n_bigram_types)
         |SELECT h_unigram, n_unigram_types, h_bigram_cond, n_bigram_types
         |FROM h1, h2""".stripMargin,

    "x_vocab_coverage" ->
      s"""WITH uni AS (SELECT w, count(*)::BIGINT AS c
         |  FROM (SELECT unnest(${duckToks("text")}) AS w FROM documents) z
         |  GROUP BY w),
         |r AS (SELECT w, c,
         |    row_number() OVER (ORDER BY c DESC, w ASC) AS rnk,
         |    sum(c) OVER (ORDER BY c DESC, w ASC
         |      ROWS UNBOUNDED PRECEDING) AS covered,
         |    (SELECT sum(c) FROM uni) AS total
         |  FROM uni)
         |SELECT rnk::BIGINT AS k, covered::BIGINT AS covered,
         |  total::BIGINT AS total,
         |  ROUND(covered::DOUBLE / total::DOUBLE, 6) AS share
         |FROM r WHERE rnk IN (1, 2, 5, 10, 20) ORDER BY k""".stripMargin,

    "x_heavy_hitters" ->
      s"""SELECT tok, count(*) AS n
         |FROM (SELECT unnest(${duckToks("text")}) AS tok FROM documents) z
         |GROUP BY tok ORDER BY n DESC, tok ASC LIMIT 20""".stripMargin,

    "x_corpus_report" ->
      s"""WITH $duckQualityCtes,
         |tk AS (SELECT doc_id, lang, source, text, ${duckToks("text")} AS toks
         |  FROM documents),
         |ds AS (SELECT count(*)::BIGINT AS n_docs,
         |    sum(len(toks))::BIGINT AS n_tokens,
         |    (count(*) - count(DISTINCT md5(text)))::BIGINT AS exact_dup_docs,
         |    count(DISTINCT lang)::BIGINT AS n_langs,
         |    count(DISTINCT source)::BIGINT AS n_sources
         |  FROM tk),
         |vc AS (SELECT count(DISTINCT w)::BIGINT AS n_vocab
         |  FROM (SELECT unnest(toks) AS w FROM tk) z),
         |hq AS (SELECT count(*)::BIGINT AS n_high_quality FROM q
         |  WHERE quality >= 0.5),
         |tl AS (SELECT lang AS top_lang, count(*)::BIGINT AS top_lang_docs
         |  FROM documents GROUP BY lang
         |  ORDER BY top_lang_docs DESC, lang ASC LIMIT 1)
         |SELECT n_docs, n_tokens, exact_dup_docs, n_vocab, n_langs, n_sources,
         |  ROUND(n_tokens::DOUBLE / n_docs::DOUBLE, 6) AS avg_doc_tokens,
         |  top_lang, top_lang_docs, n_high_quality
         |FROM ds, vc, hq, tl""".stripMargin,

    "x_collocations" ->
      s"""WITH tk AS (SELECT ${duckToks("text")} AS toks FROM documents),
         |pr AS (SELECT toks[i] AS w1, toks[i+1] AS w2
         |  FROM tk, (SELECT unnest(range(1, 100000)) AS i) ix
         |  WHERE i < len(toks)),
         |pairs AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM pr GROUP BY w1, w2),
         |uni AS (SELECT w, count(*)::BIGINT AS c
         |  FROM (SELECT unnest(toks) AS w FROM tk) z GROUP BY w),
         |tot AS (SELECT (SELECT sum(c12) FROM pairs) AS p_tot,
         |  (SELECT sum(c) FROM uni) AS n_tot)
         |SELECT w1, w2, c12,
         |  ROUND(ln((c12::DOUBLE / p_tot::DOUBLE) /
         |    ((u1.c::DOUBLE / n_tot::DOUBLE) * (u2.c::DOUBLE / n_tot::DOUBLE))), 6) AS pmi
         |FROM pairs
         |JOIN uni u1 ON u1.w = w1
         |JOIN uni u2 ON u2.w = w2, tot
         |WHERE c12 >= 5
         |ORDER BY pmi DESC, w1 ASC, w2 ASC LIMIT 20""".stripMargin,

    "x_source_divergence" ->
      s"""WITH tf AS (SELECT source, tok, count(*)::BIGINT AS k
         |  FROM (SELECT source, unnest(${duckToks("text")}) AS tok FROM documents) z
         |  GROUP BY source, tok),
         |w AS (SELECT source, tok, k,
         |    sum(k) OVER (PARTITION BY tok) AS c,
         |    sum(k) OVER (PARTITION BY source) AS st,
         |    (SELECT sum(k) FROM tf) AS tc
         |  FROM tf),
         |v AS (SELECT source, st, tok,
         |    (k::DOUBLE / st::DOUBLE) *
         |      ln((k::DOUBLE / st::DOUBLE) / (c::DOUBLE / tc::DOUBLE)) AS v
         |  FROM w),
         |g AS (SELECT source, max(st)::BIGINT AS n_tokens,
         |    list(v ORDER BY tok ASC) AS l
         |  FROM v GROUP BY source)
         |SELECT source, n_tokens,
         |  ROUND(list_reduce(list_prepend(0.0, l), (a, b) -> a + b), 6) AS kl
         |FROM g ORDER BY source""".stripMargin,

    "x_distinct_tokens" ->
      s"""SELECT lang, count(DISTINCT tok) AS n_vocab, count(*) AS n_tokens
         |FROM (SELECT lang, unnest(${duckToks("text")}) AS tok FROM documents) z
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "x_unigram_logprob" ->
      s"""WITH $duckUnigramCtes
         |SELECT doc_id, n_toks, avg_logp
         |FROM lp ORDER BY doc_id""".stripMargin,

    "x_dsir_weights" ->
      s"""WITH base AS (SELECT doc_id, lang = 'en' AS ist, ${duckToks("text")} AS tk
         |    FROM documents),
         |g AS (SELECT doc_id, ist, unnest(list_concat(tk,
         |      list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]))) AS g
         |  FROM base),
         |tf AS (SELECT doc_id, ist, (${Embedder.duckStringHash("g")}) % 10007 AS b,
         |    count(*) AS k
         |  FROM g GROUP BY 1, 2, 3),
         |cb AS (SELECT b, sum(k)::BIGINT AS cr,
         |    sum(CASE WHEN ist THEN k ELSE 0 END)::BIGINT AS ct
         |  FROM tf GROUP BY b),
         |tot AS (SELECT sum(cr)::BIGINT AS rt, sum(ct)::BIGINT AS tt FROM cb),
         |terms AS (SELECT doc_id, b, k,
         |    k::DOUBLE * (ln((ct + 1)::DOUBLE / (tt + 10007)::DOUBLE)
         |               - ln((cr + 1)::DOUBLE / (rt + 10007)::DOUBLE)) AS v
         |  FROM tf JOIN cb USING (b), tot),
         |agg AS (SELECT doc_id, sum(k)::BIGINT AS n_grams,
         |    list(v ORDER BY b) AS l FROM terms GROUP BY doc_id)
         |SELECT doc_id, n_grams,
         |  ROUND(list_reduce(l, (a, x) -> a + x) / n_grams::DOUBLE, 6) AS dsir_weight
         |FROM agg ORDER BY doc_id""".stripMargin,

    "x_ppl_buckets" ->
      s"""WITH $duckUnigramCtes,
         |lg AS (SELECT lp.doc_id, lp.avg_logp, d.lang
         |  FROM lp JOIN documents d USING (doc_id)),
         |nt AS (SELECT lang, avg_logp, ntile(3) OVER (
         |    PARTITION BY lang ORDER BY avg_logp DESC, doc_id ASC) AS nt FROM lg)
         |SELECT lang,
         |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
         |  count(*) AS n_docs, min(avg_logp) AS min_lp, max(avg_logp) AS max_lp
         |FROM nt GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,

    "x_bpe_pairs" ->
      s"""SELECT pair, count(*) AS cnt FROM (
         |  SELECT unnest(list_transform(range(1, length(word)), i -> substr(word, i, 2))) AS pair
         |  FROM (SELECT unnest(${duckToks("text")}) AS word FROM documents) w) z
         |GROUP BY pair ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin,

    "x_interp_logprob" -> duckInterpLogprob(0.7),
    "x_kn_logprob" -> duckKnLogprob(0.75),

    "x_bigram_logprob" ->
      s"""WITH tf AS (SELECT doc_id, bg, count(*) AS k FROM (
         |    SELECT doc_id,
         |      unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])) AS bg
         |    FROM (SELECT doc_id, ${duckToks("text")} AS tk FROM documents) y) z
         |  GROUP BY doc_id, bg),
         |c2t AS (SELECT bg, sum(k)::BIGINT AS c2 FROM tf GROUP BY bg),
         |c1t AS (SELECT string_split(bg, ' ')[1] AS w1, sum(k)::BIGINT AS c1
         |  FROM tf GROUP BY 1),
         |terms AS (SELECT doc_id, bg, k,
         |    k::DOUBLE * ln(c2::DOUBLE / c1::DOUBLE) AS v
         |  FROM tf JOIN c2t USING (bg)
         |  JOIN c1t ON string_split(tf.bg, ' ')[1] = c1t.w1),
         |agg AS (SELECT doc_id, sum(k)::BIGINT AS n_bigrams,
         |    list(v ORDER BY bg) AS l FROM terms GROUP BY doc_id)
         |SELECT doc_id, n_bigrams,
         |  ROUND(list_reduce(l, (a,b) -> a+b) / n_bigrams::DOUBLE, 6) AS avg_logp2
         |FROM agg ORDER BY doc_id""".stripMargin,

    "x_boilerplate" ->
      s"""WITH planted AS (SELECT doc_id, CASE WHEN doc_id % 9 = 0
         |    THEN text || '$FooterMarker' ELSE text END AS text FROM documents),
         |g AS (SELECT doc_id, unnest(${Curation.duckNgrams("text", 8)}) AS gram FROM planted),
         |dfq AS (SELECT gram, count(*) AS df FROM g GROUP BY gram)
         |SELECT gram, df FROM dfq WHERE df >= 2
         |ORDER BY df DESC, gram ASC LIMIT 20""".stripMargin,
    "x_token_count" ->
      s"""SELECT doc_id, len(${duckToks("text")}) AS n_ws_tokens,
         |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_sub_tokens,
         |  len(text) AS n_chars_m
         |FROM documents ORDER BY doc_id""".stripMargin,

    "x_quality_score" ->
      s"""WITH $duckQualityCtes
         |SELECT doc_id, mean_word_len, stop_ratio, quality FROM q ORDER BY doc_id""".stripMargin,

    // bucket weight = exact integer mix of (hash % dim); sigmoid over
    // the token-mean — same left-to-right fold as the Scala aggregate
    "x_clf_quality" ->
      s"""WITH $duckClfCtes
         |SELECT doc_id, clf_score, clf_score >= 0.5 AS kept
         |FROM sc ORDER BY doc_id""".stripMargin,

    "x_lang_id" ->
      s"""WITH toks AS (SELECT doc_id, lang, unnest(${duckToks("text")}) AS tok FROM documents),
         |profiles AS (SELECT lang AS p_lang, tok, c FROM (
         |  SELECT lang, tok, count(*) AS c,
         |    row_number() OVER (PARTITION BY lang ORDER BY count(*) DESC, tok ASC) AS r
         |  FROM toks GROUP BY lang, tok) z WHERE r <= 10),
         |dt AS (SELECT doc_id, tok, count(*) AS n FROM toks GROUP BY doc_id, tok),
         |scored AS (SELECT doc_id, p_lang, sum(n)::BIGINT AS hits FROM dt JOIN profiles USING (tok)
         |  GROUP BY doc_id, p_lang)
         |SELECT doc_id, p_lang AS pred_lang, hits FROM (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, p_lang ASC) AS r
         |  FROM scored) z WHERE r = 1
         |ORDER BY doc_id""".stripMargin,

    "x_gopher_rules" ->
      s"""WITH tk AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents),
         |m AS (SELECT doc_id, len(toks)::BIGINT AS n_words,
         |    list_sum(list_transform(toks, w -> len(w)::BIGINT))::DOUBLE
         |      / len(toks)::DOUBLE AS ml,
         |    len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))::DOUBLE
         |      / len(toks)::DOUBLE AS af
         |  FROM tk)
         |SELECT doc_id, n_words, ROUND(ml, 6) AS mean_word_len,
         |  ROUND(af, 6) AS alpha_frac,
         |  (CASE WHEN n_words BETWEEN 20 AND 90 AND ml BETWEEN 3.0 AND 10.0
         |    AND af >= 0.8 THEN 1 ELSE 0 END)::BIGINT AS keep
         |FROM m ORDER BY doc_id""".stripMargin,

    "x_token_quantiles" ->
      s"""SELECT lang,
         |  ROUND(quantile_cont(nt, 0.25), 6) AS p25,
         |  ROUND(quantile_cont(nt, 0.5), 6) AS p50,
         |  ROUND(quantile_cont(nt, 0.75), 6) AS p75,
         |  count(*) AS n
         |FROM (SELECT lang, len(${duckToks("text")})::BIGINT AS nt FROM documents) z
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "x_repetition" ->
      s"""WITH tk AS (SELECT doc_id, ${duckToks("text")} AS toks FROM documents),
         |wc AS (SELECT doc_id, w, count(*) AS c FROM (
         |  SELECT doc_id, unnest(toks) AS w FROM tk) z GROUP BY doc_id, w),
         |top AS (SELECT doc_id, max(c)::BIGINT AS top_c, sum(c)::BIGINT AS n_words
         |  FROM wc GROUP BY doc_id),
         |big AS (SELECT doc_id, greatest(len(toks) - 1, 0)::BIGINT AS n_bigrams,
         |  CASE WHEN len(toks) >= 2 THEN len(list_distinct(list_transform(
         |    range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])))
         |  ELSE 0 END::BIGINT AS n_uniq FROM tk)
         |SELECT b.doc_id, COALESCE(t.n_words, 0)::BIGINT AS n_words,
         |  ROUND(CASE WHEN t.n_words > 0 THEN top_c::DOUBLE / t.n_words ELSE 0 END, 6) AS top_word_frac,
         |  ROUND(CASE WHEN n_bigrams > 0 THEN 1 - n_uniq::DOUBLE / n_bigrams ELSE 0 END, 6) AS dup_bigram_frac
         |FROM big b LEFT JOIN top t USING (doc_id) ORDER BY doc_id""".stripMargin,

    "x_pii_scrub" ->
      s"""WITH p1 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0
         |    THEN text || ' contact a' || doc_id::VARCHAR || '@mail.com now'
         |    ELSE text END AS text FROM documents),
         |p2 AS (SELECT doc_id, CASE WHEN doc_id % 11 = 0
         |    THEN text || ' call 555-0142 today' ELSE text END AS text FROM p1)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$EmailPat'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(text, '$PhonePat'))::BIGINT AS n_phones,
         |  md5(regexp_replace(regexp_replace(text, '$EmailPat', '<EMAIL>', 'g'),
         |    '$PhonePat', '<PHONE>', 'g')) AS redacted_hash
         |FROM p2 ORDER BY doc_id""".stripMargin,

    "x_fingerprint" ->
      s"""WITH g AS (SELECT doc_id, CASE WHEN len(${duckToks("text")}) >= 5 THEN
         |    list_transform(range(1, len(${duckToks("text")}) - 3), i ->
         |      ${duckToks("text")}[i] || ' ' || ${duckToks("text")}[i+1] || ' ' || ${duckToks("text")}[i+2] || ' ' || ${duckToks("text")}[i+3] || ' ' || ${duckToks("text")}[i+4])
         |    ELSE [text] END AS grams FROM documents),
         |h AS (SELECT doc_id, list_transform(grams, x -> ${Embedder.duckStringHash("x")}) AS gh FROM g)
         |SELECT doc_id, list_min(gh) AS fp_min, list_max(gh) AS fp_max,
         |  len(list_distinct(gh)) AS fp_card
         |FROM h ORDER BY doc_id""".stripMargin
  )
}
