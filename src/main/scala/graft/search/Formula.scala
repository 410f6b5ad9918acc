package graft.search

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.t

/** Qdrant formula queries — `query_points` with a `formula` rescoring
  * stage (Qdrant 1.14 "score boosting"): the prefetch stage ranks by
  * vector similarity, then a user-supplied arithmetic formula over
  * `$score` and payload fields re-ranks the candidates. The reference
  * itself sticks to plain `query_points`
  * (`with_vdr-2b-multi-v1/query_vdr_2b_multi_v1.py:78-83`), but
  * formula rescoring is the sibling call on the same client a
  * reference user reaches for when "semantically closest" needs a
  * freshness / popularity / tag nudge.
  *
  * Design: one AST ([[FormulaExpr]]) compiled to BOTH backends — a
  * Catalyst [[Column]] tree for execution and a DuckDB SQL string for
  * the oracle — so engine and oracle cannot drift (the same guard
  * expressions, the same decay constants). The compiled Column is pure
  * `functions._` arithmetic: it inlines into the candidate projection
  * and stays inside whole-stage codegen.
  *
  * Scale design: the formula only ever touches the `prefetchN`
  * candidates that survive stage 1 (a D1 `TakeOrderedAndProject` plan
  * over the corpus), so its cost is O(N), not O(corpus) — at 100 TB
  * the corpus pass is the similarity scan alone, with payload columns
  * pruned out of it when the formula is what needs them (they are
  * re-read for N rows only if stage 1 didn't carry them; here N is
  * tens of rows so we just carry the needed payload columns through
  * the cut).
  *
  * Decay semantics follow Qdrant's documented closed forms, value 1 at
  * `x = target` falling to `midpoint` at `|x − target| = scale`:
  *   gauss: exp(ln(m)/s² · (x−t)²)
  *   exp:   exp(ln(m)/s · |x−t|)
  *   lin:   max(0, (m−1)/s · |x−t| + 1)
  */
sealed trait FormulaExpr {
  /** Catalyst compilation; `score` is the prefetch-stage `$score`. */
  def toColumn(score: Column): Column
  /** DuckDB compilation; `scoreExpr` names the prefetch score. */
  def toDuck(scoreExpr: String): String
}

/** `"$score"` — the prefetch-stage similarity. */
case object FScore extends FormulaExpr {
  def toColumn(score: Column): Column = score
  def toDuck(scoreExpr: String): String = scoreExpr
}

/** A payload field referenced by name (numeric). */
final case class FKey(key: String) extends FormulaExpr {
  def toColumn(score: Column): Column = col(key).cast("double")
  def toDuck(scoreExpr: String): String = s"($key)::DOUBLE"
}

final case class FConst(v: Double) extends FormulaExpr {
  def toColumn(score: Column): Column = lit(v)
  def toDuck(scoreExpr: String): String = s"($v)"
}

/** A filter condition used as a number (Qdrant: true→1.0, false→0.0).
  * Carries its own DuckDB twin: the Filter DSL compiles to Catalyst
  * only, and a formula condition is a leaf the query author writes
  * once per backend — same convention as every other oracle pair. */
final case class FCond(cond: Cond, duck: String) extends FormulaExpr {
  def toColumn(score: Column): Column =
    when(cond.toColumn, 1.0d).otherwise(0.0d)
  def toDuck(scoreExpr: String): String =
    s"(CASE WHEN $duck THEN 1.0 ELSE 0.0 END)"
}

final case class FSum(terms: Seq[FormulaExpr]) extends FormulaExpr {
  require(terms.nonEmpty, "sum of no terms")
  def toColumn(score: Column): Column =
    terms.map(_.toColumn(score)).reduce(_ + _)
  def toDuck(scoreExpr: String): String =
    terms.map(_.toDuck(scoreExpr)).mkString("(", " + ", ")")
}

final case class FMult(factors: Seq[FormulaExpr]) extends FormulaExpr {
  require(factors.nonEmpty, "product of no factors")
  def toColumn(score: Column): Column =
    factors.map(_.toColumn(score)).reduce(_ * _)
  def toDuck(scoreExpr: String): String =
    factors.map(_.toDuck(scoreExpr)).mkString("(", " * ", ")")
}

/** Guarded division with Qdrant's `by_zero_default` (ANSI mode stays
  * ON — an unguarded `/ 0` would raise, and Qdrant's API defines the
  * fallback anyway). */
final case class FDiv(num: FormulaExpr, den: FormulaExpr,
    byZeroDefault: Double = 0.0) extends FormulaExpr {
  def toColumn(score: Column): Column = {
    val d = den.toColumn(score)
    when(d === 0.0d, byZeroDefault).otherwise(num.toColumn(score) / d)
  }
  def toDuck(scoreExpr: String): String = {
    val d = den.toDuck(scoreExpr)
    s"(CASE WHEN $d = 0 THEN ($byZeroDefault) ELSE ${num.toDuck(scoreExpr)} / $d END)"
  }
}

final case class FNeg(x: FormulaExpr) extends FormulaExpr {
  def toColumn(score: Column): Column = -x.toColumn(score)
  def toDuck(scoreExpr: String): String = s"(-${x.toDuck(scoreExpr)})"
}

final case class FAbs(x: FormulaExpr) extends FormulaExpr {
  def toColumn(score: Column): Column = abs(x.toColumn(score))
  def toDuck(scoreExpr: String): String = s"abs(${x.toDuck(scoreExpr)})"
}

/** sqrt clamped at 0 (Qdrant: neg → NaN; both engines' NaN orderings
  * differ, so the portable contract clamps — documented deviation). */
final case class FSqrt(x: FormulaExpr) extends FormulaExpr {
  def toColumn(score: Column): Column =
    sqrt(greatest(x.toColumn(score), lit(0.0d)))
  def toDuck(scoreExpr: String): String =
    s"sqrt(greatest(${x.toDuck(scoreExpr)}, 0.0))"
}

final case class FPow(base: FormulaExpr, exponent: Double) extends FormulaExpr {
  def toColumn(score: Column): Column = pow(base.toColumn(score), exponent)
  def toDuck(scoreExpr: String): String =
    s"pow(${base.toDuck(scoreExpr)}, $exponent)"
}

/** exp(x). */
final case class FExp(x: FormulaExpr) extends FormulaExpr {
  def toColumn(score: Column): Column = exp(x.toColumn(score))
  def toDuck(scoreExpr: String): String = s"exp(${x.toDuck(scoreExpr)})"
}

/** ln(1 + max(x, 0)): the log1p popularity-damping form. Raw ln
  * diverges at 0 and Spark yields NULL on non-positives where DuckDB
  * errors — log1p-of-clamp is total on both engines. */
final case class FLog1p(x: FormulaExpr) extends FormulaExpr {
  def toColumn(score: Column): Column =
    log1p(greatest(x.toColumn(score), lit(0.0d)))
  def toDuck(scoreExpr: String): String =
    s"ln(1.0 + greatest(${x.toDuck(scoreExpr)}, 0.0))"
}

/** Qdrant's `geo_distance` formula variable: haversine meters from a
  * fixed query point to the payload's (lat, lon) — the input Qdrant's
  * geo-boosted search feeds into a decay kernel. Both compilations
  * share the multiplication-form haversine the geo filters use, so
  * the IEEE op sequence is identical across engines. */
final case class FGeoDist(latKey: String, lonKey: String,
    lat: Double, lon: Double) extends FormulaExpr {
  def toColumn(score: Column): Column =
    GeoRadius.haversineMeters(col(latKey), col(lonKey), lat, lon)
  def toDuck(scoreExpr: String): String =
    GeoRadius.duckHaversineMeters(latKey, lonKey, lat, lon)
}

sealed abstract class FDecay extends FormulaExpr {
  def x: FormulaExpr
  def target: Double
  def scale: Double
  def midpoint: Double
  require(scale > 0, "decay scale must be positive")
  require(midpoint > 0 && midpoint < 1, "decay midpoint must be in (0,1)")
}

/** exp(ln(m)/s² · (x−t)²). */
final case class FGaussDecay(x: FormulaExpr, target: Double, scale: Double,
    midpoint: Double = 0.5) extends FDecay {
  private def lambda = math.log(midpoint) / (scale * scale)
  def toColumn(score: Column): Column = {
    val d = x.toColumn(score) - lit(target)
    exp(lit(lambda) * d * d)
  }
  def toDuck(scoreExpr: String): String = {
    val d = s"(${x.toDuck(scoreExpr)} - ($target))"
    s"exp(($lambda) * $d * $d)"
  }
}

/** exp(ln(m)/s · |x−t|). */
final case class FExpDecay(x: FormulaExpr, target: Double, scale: Double,
    midpoint: Double = 0.5) extends FDecay {
  private def lambda = math.log(midpoint) / scale
  def toColumn(score: Column): Column =
    exp(lit(lambda) * abs(x.toColumn(score) - lit(target)))
  def toDuck(scoreExpr: String): String =
    s"exp(($lambda) * abs(${x.toDuck(scoreExpr)} - ($target)))"
}

/** max(0, (m−1)/s · |x−t| + 1) — hits exactly 0 at |x−t| = s/(1−m). */
final case class FLinDecay(x: FormulaExpr, target: Double, scale: Double,
    midpoint: Double = 0.5) extends FDecay {
  private def slope = (midpoint - 1.0) / scale
  def toColumn(score: Column): Column =
    greatest(lit(0.0d),
      lit(slope) * abs(x.toColumn(score) - lit(target)) + lit(1.0d))
  def toDuck(scoreExpr: String): String =
    s"greatest(0.0, ($slope) * abs(${x.toDuck(scoreExpr)} - ($target)) + 1.0)"
}

object Formula {

  /** Two-stage formula query: stage 1 is the D1 dense-cosine plan cut
    * to `prefetchN` (TakeOrderedAndProject; payload columns named by
    * `carry` ride through the cut), stage 2 evaluates `formula` over
    * the candidates and re-cuts to `k`. Both stage scores are rounded
    * to 6 before use so the oracle's arithmetic sees identical inputs.
    * `query` is the query vector: a literal or a column of `points`.
    */
  def formulaQuery(
      points: DataFrame,
      query: Column,
      idCol: String,
      vecCol: String,
      formula: FormulaExpr,
      carry: Seq[String],
      prefetchN: Int,
      k: Int,
      metric: String): DataFrame = {
    // similarity metrics rank DESC, distance metrics ASC — Qdrant's
    // $score carries whichever the collection is configured with (the
    // ONE mapping in TopK.metricFn; the formula's own output always
    // ranks DESC — score boosting is bigger-is-better by definition)
    val (scoreOf, asc) = TopK.metricFn(metric)
    val cands = points
      .select(col(idCol) +: carry.map(col) :+
        round(scoreOf(col(vecCol), query), 6).as("prefetch_score"): _*)
      .orderBy(if (asc) col("prefetch_score").asc else col("prefetch_score").desc,
        col(idCol).asc)
      .limit(prefetchN)
    cands
      .withColumn("score", round(formula.toColumn(col("prefetch_score")), 6))
      .select(col(idCol), col("prefetch_score"), col("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
  }

  /** [[formulaQuery]] against the query vector in the one-row
    * `queryVec` frame (column `qv`), broadcast onto the scan. */
  def formulaQuery(
      points: DataFrame,
      queryVec: DataFrame,
      idCol: String,
      vecCol: String,
      formula: FormulaExpr,
      carry: Seq[String],
      prefetchN: Int,
      k: Int,
      metric: String = "cosine"): DataFrame =
    formulaQuery(points.crossJoin(broadcast(queryVec)), col("qv"), idCol, vecCol,
      formula, carry, prefetchN, k, metric)

  /** DuckDB twin of [[formulaQuery]] over the embeddings fixture with
    * query = stored vector `qid` — same two rounded stages. */
  private def duckFormulaQuery(qid: Long, formula: FormulaExpr,
      prefetchN: Int, k: Int,
      extra: Seq[(String, String)] = Nil): String = {
    val cos = "list_cosine_similarity(embedding::DOUBLE[], " +
      s"(SELECT embedding FROM embeddings WHERE vec_id = $qid)::DOUBLE[])"
    val extraSel = extra.map { case (n, e) => s"$e AS $n, " }.mkString
    s"""WITH cands AS (
       |  SELECT vec_id, label, $extraSel ROUND($cos, 6) AS prefetch_score
       |  FROM embeddings
       |  ORDER BY prefetch_score DESC, vec_id ASC LIMIT $prefetchN)
       |SELECT vec_id, prefetch_score,
       |  ROUND(${formula.toDuck("prefetch_score")}, 6) AS score
       |FROM cands
       |ORDER BY score DESC, vec_id ASC LIMIT $k""".stripMargin
  }

  // Demo formulas (each exercises a distinct slice of the node set;
  // together they cover every FormulaExpr case).

  /** `$score + 0.25·[label = 3] − 0.1·|label − 5|/10`: tag boost plus
    * a mild payload penalty — Sum/Mult/Cond/Div/Abs/Neg/Const/Key. */
  val boostFormula: FormulaExpr = FSum(Seq(
    FScore,
    FMult(Seq(FConst(0.25), FCond(MatchValue("label", 3), "label = 3"))),
    FNeg(FDiv(FMult(Seq(FConst(0.1), FAbs(FSum(Seq(FKey("label"), FConst(-5.0)))))),
      FConst(10.0)))))

  /** `0.6·$score + 0.2·gauss + 0.1·exp + 0.1·lin` over label distance
    * to 5 — the three decay kernels side by side, plus
    * Sqrt/Pow/Exp/Log1p in a tiebreaker term so the whole node set is
    * oracle-covered. */
  val decayFormula: FormulaExpr = FSum(Seq(
    FMult(Seq(FConst(0.6), FScore)),
    FMult(Seq(FConst(0.2), FGaussDecay(FKey("label"), target = 5, scale = 2))),
    FMult(Seq(FConst(0.1), FExpDecay(FKey("label"), target = 5, scale = 2))),
    FMult(Seq(FConst(0.1), FLinDecay(FKey("label"), target = 5, scale = 4))),
    FMult(Seq(FConst(0.01),
      FSqrt(FLog1p(FPow(FExp(FMult(Seq(FConst(0.5), FKey("label")))), 0.5)))))))

  /** Qdrant's geo-boosted search: 0.7·$score + 0.3·gauss-decay of the
    * haversine distance to a query point, midpoint at 2000 km — the
    * "semantically close AND nearby" ranking. Payload coordinates are
    * synthesized from the id by the geo-fixture arithmetic (the
    * e4_geo device). */
  val geoFormula: FormulaExpr = FSum(Seq(
    FMult(Seq(FConst(0.7), FScore)),
    FMult(Seq(FConst(0.3),
      FGaussDecay(FGeoDist("lat", "lon", lat = 40.7, lon = -74.0),
        target = 0.0, scale = 2000000.0)))))

  private val PrefetchN = 50
  private val K = 10

  /** The synthesized (lat, lon) payload, one definition per engine —
    * identical to the e4 geo fixture's arithmetic, keyed on vec_id. */
  private def withGeo(e: DataFrame): DataFrame = e.select(
    col("vec_id"), col("embedding"),
    ((col("vec_id") * 3571 % 17000) / 100.0 - 85.0).as("lat"),
    ((col("vec_id") * 6763 % 35000) / 100.0 - 175.0).as("lon"))

  private val duckGeoCols = Seq(
    "lat" -> "(vec_id * 3571 % 17000) / 100.0 - 85.0",
    "lon" -> "(vec_id * 6763 % 35000) / 100.0 - 175.0")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_formula_geo" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      formulaQuery(withGeo(e), qv, "vec_id", "embedding", geoFormula,
        carry = Seq("lat", "lon"), PrefetchN, K)
    }),
    "q_formula_boost" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      formulaQuery(e, qv, "vec_id", "embedding", boostFormula,
        carry = Seq("label"), PrefetchN, K)
    }),
    "q_formula_decay" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      val qv = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
      formulaQuery(e, qv, "vec_id", "embedding", decayFormula,
        carry = Seq("label"), PrefetchN, K)
    })
  )

  def oracles: Map[String, String] = Map(
    "q_formula_boost" -> duckFormulaQuery(0, boostFormula, PrefetchN, K),
    "q_formula_decay" -> duckFormulaQuery(0, decayFormula, PrefetchN, K),
    "q_formula_geo" -> duckFormulaQuery(0, geoFormula, PrefetchN, K,
      extra = duckGeoCols)
  )
}
