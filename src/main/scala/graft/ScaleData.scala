package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synthesizes the ~K× corpus for the out-of-suite scale-curve
  * measurements ([[ScaleBench]], BENCH_NOTES "scale curves"): unions K
  * deterministic salt-perturbed copies of an SF dir's documents /
  * embeddings / events fixtures into an output dir with the same
  * `<table>.parquet` layout, so every suite query runs on it
  * unchanged. The capability being scaled is the reference's
  * ingest+dedup loop
  * (`with_colpali_v1.3/incremental_indexing_colpali_with_qdrant.py:204-286`)
  * at ~10× its corpus.
  *
  * Copy 0 is the identity, so every fixture id the suite's queries
  * reference (query vector 0, centroids < 8, the PQ codebook rows)
  * still exists. Copies 1..K−1 perturb CONTENT, not just ids:
  *  - documents: a per-copy alphabet/digit rotation (`translate`)
  *    rewrites every token — and with it every shingle, minhash band,
  *    and line hash — while preserving lengths, token counts, and the
  *    planted-dup structure inside each copy;
  *  - embeddings: a per-copy cyclic dimension rotation moves every
  *    vector's direction while preserving its norm;
  *  - events: id/user offsets widen the key spaces; the raw `ts`
  *    column passes through UNTOUCHED (same on-disk encoding — the
  *    Tables.TsCodec rule), so 10× events means 10× traffic density
  *    in the same time range: per-window and join state scale 10×.
  *
  * Content perturbation is the point: K stacked EXACT copies would
  * band every original with its 9 clones, exploding every LSH
  * self-join quadratically — measuring a pathological distribution,
  * not scale. Rotated copies behave like fresh corpus (more distinct
  * shingles, buckets, clusters at the same density).
  *
  * Id offsets clear every planted-fixture offset the suite uses
  * (dups +1e6, excerpts +4e6, incremental +2e6/+3e6): documents step
  * 1e7 per copy, events 1e8. Deterministic end to end — no RNG, no
  * wall-clock.
  */
object ScaleData {

  private val Lower = "abcdefghijklmnopqrstuvwxyz"
  private val Upper = Lower.toUpperCase
  private val Digits = "0123456789"

  /** Deterministic per-copy permutation of an alphabet (seeded
    * Fisher–Yates over an LCG keyed by `c`): unlike a rotation (only
    * |s| distinct variants — copies 26 apart would be EXACT content
    * duplicates and band together), permutations stay distinct for
    * any copy count, so a 100× corpus is 100 genuinely fresh-looking
    * shards. Pure function of (s, c) — reproducible across runs. */
  private def perm(s: String, c: Int): String = {
    val a = s.toCharArray
    var state = 0x9E3779B97F4A7C15L * (c + 1)
    def next(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      java.lang.Long.remainderUnsigned(state >>> 17, bound).toInt
    }
    var i = a.length - 1
    while (i > 0) {
      val j = next(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    new String(a)
  }

  /** documents copy c: per-copy letter/digit permutation, ids shifted
    * by c·1e7. */
  private[graft] def docsCopy(docs: DataFrame, c: Int): DataFrame = {
    val text =
      if (c == 0) col("text")
      else translate(col("text"),
        Lower + Upper + Digits,
        perm(Lower, c) + perm(Upper, c) + perm(Digits, c))
    docs.select(
      (col("doc_id") + lit(c * 10000000L)).as("doc_id"),
      text.as("text"),
      col("lang"), col("source"), col("n_chars"))
  }

  /** embeddings copy c: dimensions cyclically rotated by c·7, then
    * per-copy deterministic SIGN FLIPS keyed on (copy, dim index) via
    * murmur3 — each copy is a rigid transform (norms and every
    * intra-copy pairwise similarity preserved EXACTLY, so the planted
    * dup structure carries over), and with 2^dim sign patterns the
    * transforms stay distinct for any realistic copy count. Rotation
    * alone has only `dim` variants — the r12 advisor caught copy 128
    * as an exact content duplicate of copy 0 at dim 64 (worse at
    * smaller dims), reintroducing the duplicate-banding pathology this
    * synthesizer exists to avoid. */
  private[graft] def embCopy(emb: DataFrame, c: Int): DataFrame = {
    val dim = size(col("embedding"))
    val shift = lit(c * 7) % dim
    val rotated =
      if (c == 0) col("embedding")
      else {
        val r = concat(
          slice(col("embedding"), shift + 1, dim - shift),
          slice(col("embedding"), lit(1), shift))
        transform(r, (x, i) =>
          when(pmod(hash(lit(c), i), lit(2)) === 1, -x).otherwise(x))
      }
    emb.select(
      (col("vec_id") + lit(c * 10000000L)).as("vec_id"),
      rotated.as("embedding"),
      col("label"))
  }

  /** events copy c: fresh event/user key ranges, raw ts untouched
    * (default) — K× rows in the same time range = K× traffic DENSITY.
    * With `spanUs` > 0 (SPARK_GRAFT_SCALE_TS_EXTEND=1) copy c shifts
    * its timestamps by c·spanUs instead: the time AXIS extends with
    * the corpus and per-window density stays at the fixture's — the
    * shape real event history grows in, and the synthesis the
    * range-join/sessionization curves need to separate "operator
    * scales badly" from "output volume is quadratic by densification"
    * (the r13 r_range_join retraction). The shift rides the fixture's
    * own ts encoding via Tables.TsCodec — never an inlined assumption
    * (the encoding has already changed once). */
  private[graft] def eventsCopy(spanUs: Long)(ev: DataFrame, c: Int): DataFrame = {
    val codec = Tables.tsCodec(ev.schema)
    val ts =
      if (spanUs <= 0 || c == 0) col("ts")
      else codec.fromMicros(codec.toMicros + lit(c * spanUs)).as("ts")
    ev.select(
      (col("event_id") + lit(c * 100000000L)).as("event_id"),
      ts.as("ts"),
      (col("user_id") + lit(c * 10000000L)).as("user_id"),
      col("event_type"), col("value"), col("props"))
  }

  /** TPC-H copy c: every surrogate key shifts by c·1e7 IN LOCKSTEP
    * across fact and dimension (an order's lineitems, customer, part,
    * and supplier all land in the same copy — referential integrity
    * per copy), while nation/region stay the fixed shared alphabet,
    * exactly TPC-H's own scaling rule (dates/amounts untouched: 10×
    * rows in the same date range = density growth, like events). */
  private[graft] def tpchCopy(keys: Seq[String])(df: DataFrame, c: Int): DataFrame =
    df.select(df.columns.map { name =>
      if (keys.contains(name)) (col(name) + lit(c * 10000000L)).as(name)
      else col(name)
    }: _*)

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SCALE_SRC", "/root/testdata/sf0.1")
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/graft_scale/x10")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val spark = GraftSession.local()
    // optional table subset (SPARK_GRAFT_SCALE_TABLES, comma list):
    // the deepest decades are built per-family — a 1000×-events corpus
    // for the stateful-streaming curves has no use for 1000× documents
    val tableSel = sys.env.get("SPARK_GRAFT_SCALE_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def want(name: String): Boolean = tableSel.forall(_.contains(name))
    // multiple output files per table: a 10× corpus arriving as one
    // file would serialize its scan on row-group boundaries — at scale
    // data comes in many splits, and the curve should measure that
    def build(name: String, copy: (DataFrame, Int) => DataFrame, files: Int): Long =
      if (!want(name)) -1L
      else {
        val base = Tables.t(spark, src, name)
        val all = (0 until copies).map(copy(base, _)).reduce(_ unionByName _)
        all.repartition(files)
          .write.mode("overwrite").parquet(s"$out/$name.parquet")
        spark.read.parquet(s"$out/$name.parquet").count()
      }
    val nd = build("documents", docsCopy, math.max(4, copies * 8 / 10))
    val ne = build("embeddings", embCopy, math.max(2, copies * 4 / 10))
    // time-extension mode: copy c shifts its events by c·(fixture span
    // + one hour) so copies never interleave and per-window density
    // stays at the fixture's
    val tsSpanUs: Long =
      if (sys.env.get("SPARK_GRAFT_SCALE_TS_EXTEND").exists(_ == "1") &&
          want("events")) {
        val raw = Tables.t(spark, src, "events")
        val us = Tables.tsCodec(raw.schema).toMicros
        val mm = raw.agg(min(us).as("lo"), max(us).as("hi")).head
        mm.getLong(1) - mm.getLong(0) + 3600L * 1000000L
      } else 0L
    val nv = build("events", eventsCopy(tsSpanUs), math.max(8, copies * 16 / 10))
    val nl = build("lineitem",
      tpchCopy(Seq("l_orderkey", "l_partkey", "l_suppkey")),
      math.max(8, copies * 16 / 10))
    val no = build("orders", tpchCopy(Seq("o_orderkey", "o_custkey")),
      math.max(4, copies * 8 / 10))
    val nc = build("customer", tpchCopy(Seq("c_custkey")),
      math.max(2, copies * 4 / 10))
    val np = build("part", tpchCopy(Seq("p_partkey")),
      math.max(2, copies * 4 / 10))
    val ns = build("supplier", tpchCopy(Seq("s_suppkey")), 2)
    // fixed shared alphabets — copied once, never scaled (TPC-H's rule)
    Seq("nation", "region").filter(want).foreach { name =>
      Tables.t(spark, src, name).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/$name.parquet")
    }
    spark.stop()
    println(s"""{"out":"$out","copies":$copies,"documents":$nd,"embeddings":$ne,"events":$nv,"lineitem":$nl,"orders":$no,"customer":$nc,"part":$np,"supplier":$ns}""")
  }
}
