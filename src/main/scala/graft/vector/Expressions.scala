package graft.vector

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the hot kernels (SURVEY.md §4:
  * "functional first, optimize only on bench evidence" — the bench
  * evidence arrived: the HOF formulations spend ~30µs per lambda
  * round-trip, which turns a 5k-row embedding stage into ~16s).
  *
  * Each expression is semantically identical to its HOF twin in
  * [[Kernels]] / graft.index.Embedder (same left-to-right double
  * accumulation, same zero guards), so DuckDB oracles are unchanged;
  * KernelsSpec cross-checks native vs HOF on fixture data. Evaluation
  * is a tight JVM loop over ArrayData — no per-element boxing, no
  * lambda dispatch. CodegenFallback costs one virtual call per row,
  * irrelevant next to the per-element win.
  */
object NativeKernels {

  /** Java-callable entry points for generated code (doGenCode emits a
    * single static-style call; the loop itself is pre-compiled JVM
    * code, so scoring stays inside the whole-stage-codegen pipeline
    * with no per-row fallback projection). Element types are encoded
    * as a flag: 0=float, 1=double. */
  def cosineJava(a: ArrayData, b: ArrayData, aT: Int, bT: Int): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = elem(a, aT, i)
      val y = elem(b, bT, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  private def elem(a: ArrayData, t: Int, i: Int): Double = t match {
    case 0 => a.getFloat(i).toDouble
    case 1 => a.getDouble(i)
    case 2 => a.getLong(i).toDouble
    case 3 => a.getInt(i).toDouble
  }

  /** MaxSim late interaction over ArrayData matrices: Σ_{q∈Q} max_{d∈D}
    * cosine(q,d); null when any query token has no valid doc token
    * (zero vectors / length mismatches skipped like the HOF twin). */
  def maxSimJava(q: ArrayData, d: ArrayData, qT: Int, dT: Int): java.lang.Double = {
    var sum = 0.0
    var i = 0
    while (i < q.numElements()) {
      val qv = q.getArray(i)
      var best = Double.NaN
      var j = 0
      while (j < d.numElements()) {
        val c = cosineJava(qv, d.getArray(j), qT, dT)
        if (c != null) {
          val cd = c.doubleValue()
          if (best.isNaN || cd > best) best = cd
        }
        j += 1
      }
      if (best.isNaN) return null
      sum += best
      i += 1
    }
    java.lang.Double.valueOf(sum)
  }

  /** Flat ±1 sign matrix for the banded-LSH hyperplanes (minstd
    * double-round parity, graft.ops.Similarity.planeSign) — computed
    * once per (plane-count, dim) and shared across rows/tasks. */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Double]]()

  private def planeSigns(nPlanes: Int, dim: Int): Array[Double] =
    signCache.computeIfAbsent((nPlanes, dim), _ => {
      val a = new Array[Double](nPlanes * dim)
      var m = 0
      while (m < nPlanes) {
        var i = 1
        while (i <= dim) {
          val h = (((m.toLong * dim + i) * 48271L) % 2147483647L * 48271L) % 2147483647L
          a(m * dim + i - 1) = if (h % 2 == 1) 1.0 else -1.0
          i += 1
        }
        m += 1
      }
      a
    })

  /** All `bands` sign-LSH band buckets of one vector in a single pass:
    * out(b) = Σ_k 2^k · [dot(v, plane_{b·r+k}) > 0]. The HOF twin
    * evaluates bands×planes separate zip_with/aggregate dots per row;
    * this is one pre-compiled loop over a cached sign matrix. */
  def bandedBucketsJava(
      v: ArrayData, vT: Int, bands: Int, planesPerBand: Int, dim: Int): ArrayData = {
    val nPlanes = bands * planesPerBand
    val signs = planeSigns(nPlanes, dim)
    val n = math.min(v.numElements(), dim)
    val out = new Array[Long](bands)
    var m = 0
    while (m < nPlanes) {
      val base = m * dim
      var dot = 0.0
      var i = 0
      while (i < n) { dot += elem(v, vT, i) * signs(base + i); i += 1 }
      if (dot > 0) out(m / planesPerBand) += 1L << (m % planesPerBand)
      m += 1
    }
    new GenericArrayData(out)
  }

  /** Packed sign bits (binary quantization): bit k set iff
    * v(start+k) > 0, k ∈ [0, nBits). Out-of-range dims contribute 0.
    * NaN sets its bit: SQL comparison semantics (Spark and DuckDB both
    * order NaN above every number, so the HOF twin's `x > 0` is true
    * for NaN) — Java primitive compare would silently disagree. */
  def signBitsJava(v: ArrayData, vT: Int, start: Int, nBits: Int): Long = {
    var out = 0L
    var k = 0
    val n = v.numElements()
    while (k < nBits) {
      val i = start + k
      if (i < n) {
        val x = elem(v, vT, i)
        if (x > 0.0 || x.isNaN) out |= 1L << k
      }
      k += 1
    }
    out
  }

  /** PQ encode: per subspace, the 1-based index of the nearest
    * codebook centroid (squared L2, first-min tie-break — exactly the
    * HOF twin's array_position(array_min)). One pre-compiled loop:
    * m × k × subDim multiply-adds, no per-centroid array allocation. */
  def pqEncodeJava(
      v: ArrayData, vT: Int, cb: Array[Array[Float]],
      m: Int, subDim: Int): ArrayData = {
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var bestIdx = 0
      var best = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val diff = elem(v, vT, off + i) - cent(off + i).toDouble
          d += diff * diff
          i += 1
        }
        if (d < best) { best = d; bestIdx = c }
        c += 1
      }
      out(s) = bestIdx + 1
      s += 1
    }
    new GenericArrayData(out)
  }

  /** PQ decode: concatenation of the coded centroids' subvectors
    * (float, like the stored codebook). */
  def pqDecodeJava(
      codes: ArrayData, cb: Array[Array[Float]],
      m: Int, subDim: Int): ArrayData = {
    val out = new Array[Float](m * subDim)
    var s = 0
    while (s < m) {
      val cent = cb(codes.getInt(s) - 1)
      val off = s * subDim
      var i = 0
      while (i < subDim) { out(off + i) = cent(off + i); i += 1 }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** v / ‖v‖ as array<double>; null marker for the zero vector. Two
    * passes over the row's own array — the HOF twin re-evaluates the
    * whole norm aggregate once PER ELEMENT (the quadratic-lambda trap),
    * which is why normalize-at-ingest paths use this expression. */
  def normalizeJava(v: ArrayData, vT: Int): ArrayData = {
    val n = v.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) { val x = elem(v, vT, i); ss += x * x; i += 1 }
    val norm = math.sqrt(ss)
    if (norm == 0.0) return null
    val out = new Array[Double](n)
    i = 0
    while (i < n) { out(i) = elem(v, vT, i) / norm; i += 1 }
    new GenericArrayData(out)
  }

  def jaccardJava(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements(); val m = b.numElements()
    if (n == 0 && m == 0) return null
    var i = 0; var j = 0; var inter = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    java.lang.Double.valueOf(inter.toDouble / (n + m - inter).toDouble)
  }

  def embedJava(hs: ArrayData, dim: Int): ArrayData = {
    val out = new Array[Double](dim)
    var i = 0
    while (i < hs.numElements()) {
      val h = hs.getLong(i)
      out((h % dim).toInt) += 1.0 - 2.0 * ((h / dim) % 2).toDouble
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Flags mirror [[getD]] exactly so interpreted eval and codegen
    * accept the same element types. */
  private[vector] def typeFlag(et: DataType): Int = et match {
    case FloatType => 0
    case DoubleType => 1
    case LongType => 2
    case IntegerType => 3
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  private[vector] def getD(a: ArrayData, et: DataType, i: Int): Double = et match {
    case FloatType => a.getFloat(i).toDouble
    case DoubleType => a.getDouble(i)
    case LongType => a.getLong(i).toDouble
    case IntegerType => a.getInt(i).toDouble
    case _ => throw new IllegalArgumentException(s"unsupported element type $et")
  }

  /** dot, |a|², |b|² in one pass; returns null-marker NaN triple via
    * array to keep allocation low. */
  private[vector] def dotNorms(a: ArrayData, ae: DataType, b: ArrayData, be: DataType): (Double, Double, Double) = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = getD(a, ae, i); val y = getD(b, be, i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    (dot, na, nb)
  }

  private[vector] def cosineOrNull(a: ArrayData, ae: DataType, b: ArrayData, be: DataType): Any = {
    if (a.numElements() != b.numElements()) return null
    val (dot, na, nb) = dotNorms(a, ae, b, be)
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else dot / denom
  }

  /** One-pass Minkowski distance for the Qdrant Euclid/Manhattan
    * metrics: p=2 → √Σ(aᵢ−bᵢ)², p=1 → Σ|aᵢ−bᵢ|. Null on length
    * mismatch like the other kernels. Java-callable for codegen. */
  def minkowskiJava(
      a: ArrayData, b: ArrayData, aT: Int, bT: Int,
      manhattan: Boolean): java.lang.Double = {
    if (a.numElements() != b.numElements()) return null
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = elem(a, aT, i) - elem(b, bT, i)
      acc += (if (manhattan) math.abs(d) else d * d)
      i += 1
    }
    java.lang.Double.valueOf(if (manhattan) acc else math.sqrt(acc))
  }
}

/** Cosine similarity over two numeric arrays; null if lengths differ
  * or either vector is zero (matches Kernels.cosine's guard).
  * Generates a single call into the pre-compiled loop so the scoring
  * projection stays inside whole-stage codegen. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  @transient private lazy val ae = left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val be = right.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(l: Any, r: Any): Any =
    NativeKernels.cosineOrNull(l.asInstanceOf[ArrayData], ae, r.asInstanceOf[ArrayData], be)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val aF = NativeKernels.typeFlag(ae)
    val bF = NativeKernels.typeFlag(be)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("cos")
      s"""
         |java.lang.Double $r = graft.vector.NativeKernels.cosineJava($a, $b, $aF, $bF);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot product (sequential left fold, doubles); null when lengths
  * differ, so nullable regardless of children. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  @transient private lazy val ae = left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val be = right.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) return null
    NativeKernels.dotNorms(a, ae, b, be)._1
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Euclidean (L2) distance √Σ(aᵢ−bᵢ)² — the Qdrant `Distance.EUCLID`
  * metric. Null on length mismatch; smaller = closer, so top-k ranks
  * ASC. Codegen'd call into the pre-compiled loop like MaxSim. */
case class EuclideanDist(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  @transient private lazy val ae = left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val be = right.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val res = NativeKernels.minkowskiJava(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      NativeKernels.typeFlag(ae), NativeKernels.typeFlag(be), manhattan = false)
    if (res == null) null else res.doubleValue()
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val aF = NativeKernels.typeFlag(ae)
    val bF = NativeKernels.typeFlag(be)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("euclid")
      s"""
         |java.lang.Double $r = graft.vector.NativeKernels.minkowskiJava($a, $b, $aF, $bF, false);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Manhattan (L1) distance Σ|aᵢ−bᵢ| — the Qdrant `Distance.MANHATTAN`
  * metric. Null on length mismatch; ranks ASC like Euclid. */
case class ManhattanDist(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  @transient private lazy val ae = left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val be = right.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val res = NativeKernels.minkowskiJava(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      NativeKernels.typeFlag(ae), NativeKernels.typeFlag(be), manhattan = true)
    if (res == null) null else res.doubleValue()
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val aF = NativeKernels.typeFlag(ae)
    val bF = NativeKernels.typeFlag(be)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("manhat")
      s"""
         |java.lang.Double $r = graft.vector.NativeKernels.minkowskiJava($a, $b, $aF, $bF, true);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** MaxSim late interaction: Σ_{q∈Q} max_{d∈D} cosine(q,d); pairs with
  * zero vectors are skipped like array_max skips nulls; null when a
  * query token has no valid doc token (matches the HOF twin).
  * Generates a single call into the pre-compiled nested loop so the
  * D2 scoring projection stays inside whole-stage codegen (was
  * CodegenFallback in round 1 — one virtual call per row). */
case class MaxSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  @transient private lazy val qe =
    left.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[ArrayType].elementType
  @transient private lazy val de =
    right.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(l: Any, r: Any): Any = {
    val res = NativeKernels.maxSimJava(
      l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData],
      NativeKernels.typeFlag(qe), NativeKernels.typeFlag(de))
    if (res == null) null else res.doubleValue()
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val qF = NativeKernels.typeFlag(qe)
    val dF = NativeKernels.typeFlag(de)
    nullSafeCodeGen(ctx, ev, (q, d) => {
      val r = ctx.freshName("maxsim")
      s"""
         |java.lang.Double $r = graft.vector.NativeKernels.maxSimJava($q, $d, $qF, $dF);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Feature-hash embedding from token poly-hashes (Embedder.embedRaw
  * twin): bucket = h mod dim, sign = 1-2·((h div dim) mod 2),
  * embedding[b] += sign. One pass, exact integer-in-double math. */
case class FeatureHashEmbed(child: Expression, dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    NativeKernels.embedJava(v.asInstanceOf[ArrayData], dim)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = graft.vector.NativeKernels.embedJava($c, $dim);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** v / ‖v‖ (Kernels.normalizeHof twin): null on the zero vector, same
  * left-to-right double fold as the HOF so oracles are unchanged. */
case class L2Normalize(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  @transient private lazy val et =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(v: Any): Any =
    NativeKernels.normalizeJava(v.asInstanceOf[ArrayData], NativeKernels.typeFlag(et))
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val f = NativeKernels.typeFlag(et)
    nullSafeCodeGen(ctx, ev, v => {
      val r = ctx.freshName("nrm")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $r =
         |  graft.vector.NativeKernels.normalizeJava($v, $f);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Banded sign-LSH buckets (graft.ops.Similarity.bandedBuckets twin):
  * element b is the r-bit bucket of band b over hash-derived ±1
  * hyperplanes. One generated call per row replaces bands×planes HOF
  * dot products — the hot path of embedding-LSH dedup. */
case class BandedSignBuckets(
    child: Expression, bands: Int, planesPerBand: Int, dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  @transient private lazy val et =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(v: Any): Any =
    NativeKernels.bandedBucketsJava(
      v.asInstanceOf[ArrayData], NativeKernels.typeFlag(et), bands, planesPerBand, dim)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val f = NativeKernels.typeFlag(et)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.vector.NativeKernels.bandedBucketsJava($v, $f, $bands, $planesPerBand, $dim);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Packed sign bits (Quantize.bqBitsHof twin): BIGINT with bit k set
  * iff component start+k is positive — Qdrant's binary-quantization
  * storage word. One generated call per row replaces a 32-element
  * zip_with/aggregate HOF pair in the candidate scan, the part of a
  * BQ search that touches every vector. */
case class SignBitsPack(child: Expression, start: Int, nBits: Int)
    extends UnaryExpression {
  require(nBits > 0 && nBits < 64, "packed word must fit a signed long")
  override def dataType: DataType = LongType
  @transient private lazy val et =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(v: Any): Any =
    NativeKernels.signBitsJava(
      v.asInstanceOf[ArrayData], NativeKernels.typeFlag(et), start, nBits)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val f = NativeKernels.typeFlag(et)
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.vector.NativeKernels.signBitsJava($v, $f, $start, $nBits);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** PQ encode (Quantize.pqCodesHof twin): array<int> of 1-based
  * nearest-centroid indices, one per subspace. The codebook is an
  * index-build-time constant embedded as a codegen reference object
  * (same device as the reference's driver-side model weights). */
case class PqEncode(
    child: Expression, cb: Array[Array[Float]], m: Int, subDim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  @transient private lazy val et =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def nullSafeEval(v: Any): Any =
    NativeKernels.pqEncodeJava(
      v.asInstanceOf[ArrayData], NativeKernels.typeFlag(et), cb, m, subDim)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val f = NativeKernels.typeFlag(et)
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "float[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.vector.NativeKernels.pqEncodeJava($v, $f, $cbRef, $m, $subDim);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** PQ decode (Quantize.pqDecodeHof twin): the reconstructed
  * array<float> for a code array. */
case class PqDecode(
    child: Expression, cb: Array[Array[Float]], m: Int, subDim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    NativeKernels.pqDecodeJava(v.asInstanceOf[ArrayData], cb, m, subDim)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "float[][]")
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.vector.NativeKernels.pqDecodeJava($v, $cbRef, $m, $subDim);")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** MinHash signature from shingle hashes (Dedup.minhashSig twin):
  * sig_i = min_h ((2i+3)h + 7i+1) mod P. Null on empty input. */
/** Polynomial rolling hash of the WHOLE string, spaces included —
  * the scalar sibling of [[PolyTokenHashes]] for hashing lines /
  * shingles / n-grams that already contain separators. The HOF twin
  * is `Embedder.tokenHash` (split per char → ascii → fold), which
  * allocates a one-char-string array per value; this loop does the
  * same fold over code points with zero allocation (NativeParitySpec
  * pins the equality). */
case class PolyStringHash(child: Expression, mult: Long, prime: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val s = v.toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * mult + cp) % prime
      i += Character.charCount(cp)
    }
    h
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinhashSignature(child: Expression, k: Int, prime: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val a = 2L * i + 3; val b = 7L * i + 1
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val x = (hs.getLong(j) * a + b) % prime
        if (x < best) best = x
        j += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Wide-hash MinHash signature (Dedup.minhashPairsAuto's hot path):
  * sig_i = min_h ((h XOR seed_i) mod prime) over 60-bit shingle
  * hashes, seeds derived from `seedBase` by the same driver-side
  * xorshift as the HOF twin (Dedup.minhashSigXorHof). Multiply-free —
  * h < 2⁶⁰ XOR a 60-bit seed stays non-negative in a Long, so the
  * plain % IS pmod and nothing can overflow under ANSI. One pass per
  * (i, element): the k×m work the interpreted per-element HOF lambda
  * made 8× slower at fixture scale (measured 6.0 s vs 0.7 s at sf0.1
  * before this native existed). */
case class MinhashSigXor(child: Expression, k: Int, prime: Long, seedBase: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  private lazy val seeds: Array[Long] = {
    var x = seedBase
    Array.fill(k) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      x & ((1L << 60) - 1)
    }
  }
  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData]
    val n = hs.numElements()
    if (n == 0) return null
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val s = seeds(i)
      var best = Long.MaxValue
      var j = 0
      while (j < n) {
        val x = (hs.getLong(j) ^ s) % prime
        if (x < best) best = x
        j += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 32-bit SimHash from token hashes (Dedup.simhash twin): bit j set
  * iff Σ_tokens (2·bit_j(h)−1) > 0. */
case class SimhashBits(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = {
    val hs = v.asInstanceOf[ArrayData]
    val counts = new Array[Long](32)
    var i = 0
    while (i < hs.numElements()) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 32) {
        counts(j) += ((h >> j) & 1L) * 2L - 1L
        j += 1
      }
      i += 1
    }
    var fp = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) fp |= 1L << j
      j += 1
    }
    fp
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sorted-distinct poly-hashes of word n-gram shingles, one pass
  * (twin of Dedup.shingles + tokenHash + array_distinct + array_sort):
  * tokenize on spaces (empties dropped), hash each n-token window
  * joined by single spaces with the 31/1000003 poly hash; texts with
  * fewer than n tokens hash the raw text as one shingle. */
case class ShingleHashesSorted(child: Expression, n: Int, mult: Long, prime: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def hashRange(s: String, from: Int, until: Int, init: Long): Long = {
    var h = init
    var i = from
    while (i < until) {
      h = (h * mult + s.codePointAt(i)) % prime
      i += Character.charCount(s.codePointAt(i))
    }
    h
  }

  override def nullSafeEval(v: Any): Any = {
    val s = v.toString
    // token boundaries (start, end) of non-empty runs
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    var inTok = false
    while (i < s.length) {
      if (s.charAt(i) == ' ') {
        if (inTok) { ends += i; inTok = false }
      } else if (!inTok) { starts += i; inTok = true }
      i += 1
    }
    if (inTok) ends += s.length
    val nTok = starts.length
    val out =
      if (nTok < n) Array(hashRange(s, 0, s.length, 0L))
      else {
        val a = new Array[Long](nTok - n + 1)
        var w = 0
        while (w <= nTok - n) {
          var h = 0L
          var t = 0
          while (t < n) {
            if (t > 0) h = (h * mult + ' '.toInt) % prime
            h = hashRange(s, starts(w + t), ends(w + t), h)
            t += 1
          }
          a(w) = h
          w += 1
        }
        a
      }
    java.util.Arrays.sort(out)
    // unique in place
    var len = 0
    var k = 0
    while (k < out.length) {
      if (len == 0 || out(len - 1) != out(k)) { out(len) = out(k); len += 1 }
      k += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, len))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Jaccard similarity of two SORTED distinct long arrays via merge
  * intersection — O(n+m), no per-pair allocation. Callers pre-sort
  * once per document (array_sort), not per candidate pair. Matches
  * size(array_intersect)/size(array_union) on distinct inputs. */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(l: Any, r: Any): Any =
    NativeKernels.jaccardJava(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("jac")
      s"""
         |java.lang.Double $r = graft.vector.NativeKernels.jaccardJava($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** All length-`window` rolling poly-hash values of a token-hash array
  * in ONE O(L) pass — the exact-substring-dedup hot path. out[i] is
  * the left fold of hashes[i..i+window) with (h*31 + t) mod `mod`,
  * the same number the HOF twin computes per offset in O(window);
  * here each next window re-derives from the previous in O(1) via
  * h' = ((h − t_out·31^{window−1}) · 31 + t_in) mod M. Token hashes
  * are < 2^21 and mod < 2^31, so every intermediate fits a Long with
  * headroom. Empty output when the doc is shorter than the window. */
case class RollingWindowHashes(child: Expression, window: Int, mod: Long)
    extends UnaryExpression with CodegenFallback {
  require(window > 0, "rolling hash needs a positive window")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // 31^(window-1) mod M — the leading token's weight in the fold
  private lazy val pow: Long = {
    var p = 1L; var i = 1
    while (i < window) { p = p * 31L % mod; i += 1 }
    p
  }
  override def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val n = arr.numElements()
    if (n < window) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - window + 1)
    var h = 0L
    var i = 0
    while (i < window) { h = (h * 31L + arr.getLong(i)) % mod; i += 1 }
    out(0) = h
    var s = 0
    while (s + window < n) {
      h = ((h - arr.getLong(s) * pow % mod + mod) % mod * 31L +
        arr.getLong(s + window)) % mod
      out(s + 1) = h
      s += 1
    }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Token poly-hashes in one pass (Embedder.tokenHashes twin): split on
  * single spaces, drop empties, fold (a*mult + codepoint) mod prime
  * per token. */
case class PolyTokenHashes(child: Expression, mult: Long, prime: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any = {
    val s = v.toString
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var h = 0L
    var inTok = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp == ' ') {
        if (inTok) { out += h; h = 0L; inTok = false }
      } else {
        h = (h * mult + cp) % prime
        inTok = true
      }
      i += Character.charCount(cp)
    }
    if (inTok) out += h
    new GenericArrayData(out.toArray)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The bounded (score, id) heap behind every top-k that ranks without
  * a sort: it keeps the best `k` pairs, score DESC then id ASC on ties,
  * and evicts the worst pair first. [[TopKHits]] is its aggregate form;
  * [[graft.search.TopK.literalBatch]] keeps one per request in each
  * partition and merges them on the driver. One ordering, so the two
  * cannot rank ties differently. */
final class HitHeap(k: Int) {
  // dequeue removes the max of the ordering, so with best-first
  // ascending the head is the WORST pair (lowest score, then highest id)
  private val heap = scala.collection.mutable.PriorityQueue.empty(HitHeap.bestFirst)

  def offer(score: Double, id: Long): this.type = {
    val p = (score, id)
    if (heap.size < k) heap.enqueue(p)
    else if (HitHeap.bestFirst.lt(p, heap.head)) { heap.dequeue(); heap.enqueue(p) }
    this
  }

  def offerAll(pairs: Iterable[(Double, Long)]): this.type = {
    pairs.foreach { case (s, id) => offer(s, id) }
    this
  }

  /** The kept pairs, best first. */
  def best: Array[(Double, Long)] = heap.toArray.sorted(HitHeap.bestFirst)
}

object HitHeap {
  val bestFirst: Ordering[(Double, Long)] = Ordering.by { case (s, id) => (-s, id) }
}

/** Bounded top-k aggregate over a [[HitHeap]]: keeps the best `k`
  * (score, id) pairs per group — the aggregate the LSH k-NN join ranks
  * with instead of a row_number window, which would buffer and sort
  * EVERY candidate per query before cutting. As a
  * TypedImperativeAggregate it participates in partial aggregation
  * (ObjectHashAggregate): each map task pre-reduces its candidate
  * stream to k pairs, so the per-query shuffle payload is O(k), not
  * O(candidates) — the same map-side-combine argument as a partial
  * sum, applied to ranking.
  *
  * Order: score DESC, id ASC on ties — identical to the window
  * formulation and the DuckDB oracle's ORDER BY, so results are
  * bit-equal. Eval emits the heap sorted best-first as
  * array<struct<score, vec_id>>; posexplode turns position into rank.
  */
case class TopKHits(
    scoreChild: Expression,
    idChild: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends org.apache.spark.sql.catalyst.expressions.aggregate
    .TypedImperativeAggregate[HitHeap] {

  require(k > 0, "top-k aggregate needs k > 0")

  // input validation at ANALYSIS time: without this, a mistyped child
  // survives planning and dies as a ClassCastException inside update()
  // mid-job. Coercion (float score, int id) happens in the
  // Kernels.topKHits wrapper, which casts before constructing this.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (scoreChild.dataType, idChild.dataType) match {
      case (DoubleType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (s, i) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"topk_hits expects (DOUBLE score, BIGINT id), got ($s, $i)")
    }

  override def createAggregationBuffer(): HitHeap = new HitHeap(k)

  override def update(buf: HitHeap, input: org.apache.spark.sql.catalyst.InternalRow): HitHeap = {
    val s = scoreChild.eval(input)
    val id = idChild.eval(input)
    if (s != null && id != null) buf.offer(s.asInstanceOf[Double], id.asInstanceOf[Long])
    buf
  }

  override def merge(buf: HitHeap, other: HitHeap): HitHeap = buf.offerAll(other.best)

  override def eval(buf: HitHeap): Any =
    new GenericArrayData(buf.best.map { case (s, id) =>
      org.apache.spark.sql.catalyst.InternalRow(s, id)
    })

  override def serialize(buf: HitHeap): Array[Byte] = {
    val pairs = buf.best
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * pairs.length)
    bb.putInt(pairs.length)
    pairs.foreach { case (s, id) => bb.putDouble(s); bb.putLong(id) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): HitHeap = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = createAggregationBuffer()
    (0 until bb.getInt).foreach(_ => buf.offer(bb.getDouble, bb.getLong))
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("score", DoubleType, nullable = false),
      StructField("vec_id", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(scoreChild, idChild)
  override def prettyName: String = "topk_hits"
  override def withNewMutableAggBufferOffset(offset: Int): TopKHits =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKHits =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(scoreChild = newChildren(0), idChild = newChildren(1))
}

/** Winnowing fingerprint selection in one native pass (the
  * Schleimer/Wilkerson/Aiken SIGMOD'03 signature behind
  * TextAnalysis.winnowSelected, with window width pinned at 4 and
  * 5-word grams): tokenize on spaces, poly-hash each 5-gram (the same
  * `(h·mult + cp) mod prime` walk as the HOF twin, spaces included),
  * take the minimum of every 4-wide window, emit first-occurrence
  * distinct minima. The HOF formulation stays beside it as the
  * documented oracle semantics (NativeParitySpec pins equality); this
  * exists because the interpreted HOF chain was the sf0.1 suite's
  * hottest query once x_winnow_matches exploded fingerprints over it.
  * Fewer than 5 tokens → empty array (callers filter those rows).
  */
case class WinnowSelect(child: Expression, mult: Long, prime: Long)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def hashRange(s: String, from: Int, until: Int, init: Long): Long = {
    var h = init
    var i = from
    while (i < until) {
      val cp = s.codePointAt(i)
      h = (h * mult + cp) % prime
      i += Character.charCount(cp)
    }
    h
  }

  override def nullSafeEval(v: Any): Any = {
    val s = v.toString
    val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    var inTok = false
    while (i < s.length) {
      if (s.charAt(i) == ' ') {
        if (inTok) { ends += i; inTok = false }
      } else if (!inTok) { starts += i; inTok = true }
      i += 1
    }
    if (inTok) ends += s.length
    val nTok = starts.length
    if (nTok < 5) return new GenericArrayData(Array.empty[Long])
    val g = nTok - 4
    val gh = new Array[Long](g)
    var w = 0
    while (w < g) {
      var h = 0L
      var t = 0
      while (t < 5) {
        if (t > 0) h = (h * mult + ' '.toInt) % prime
        h = hashRange(s, starts(w + t), ends(w + t), h)
        t += 1
      }
      gh(w) = h
      w += 1
    }
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    if (g < 4) {
      var m = gh(0); var k = 1
      while (k < g) { if (gh(k) < m) m = gh(k); k += 1 }
      seen.add(m)
    } else {
      var p = 0
      while (p <= g - 4) {
        var m = gh(p); var k = p + 1
        while (k < p + 4) { if (gh(k) < m) m = gh(k); k += 1 }
        seen.add(m)
        p += 1
      }
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
