package graft.perfbench

import scala.collection.mutable

/** Brute force over a dense collection, outside Spark, with the engine's
  * own arithmetic: float components widened to double, one sequential
  * fold, scores rounded half-up to 6 places, ties broken by id. The
  * base collection's answers are computed once for the query pool;
  * points written later are merged in at check time. */
final class Truth(ids: Array[Long], val vecs: Array[Array[Float]], labels: Array[Int]) {
  import Truth._

  val baseRows: Int = ids.length
  private var dense: IndexedSeq[Seq[(Long, Double)]] = IndexedSeq.empty
  private var filtered: IndexedSeq[Seq[(Long, Double)]] = IndexedSeq.empty
  private var queries: Array[Array[Float]] = Array.empty
  private var filters: IndexedSeq[Int => Boolean] = IndexedSeq.empty
  private val added = mutable.ArrayBuffer.empty[(Long, Array[Float], Int)]

  def precompute(qs: Array[Array[Float]], fs: IndexedSeq[Int => Boolean]): Unit = {
    queries = qs
    filters = fs
    dense = qs.indices.map(i => topOf(ids.indices.iterator.map(j =>
      ids(j) -> score(qs(i), vecs(j)))))
    filtered = qs.indices.map(i => topOf(ids.indices.iterator.filter(j =>
      fs(i)(labels(j))).map(j => ids(j) -> score(qs(i), vecs(j)))))
  }

  def add(points: Seq[(Long, Array[Float], Int)]): Unit = added ++= points

  /** Exact top-k for pool query `qi` over the base plus every point added. */
  def top(qi: Int, filtered: Boolean): Seq[(Long, Double)] = {
    val base = if (filtered) this.filtered(qi) else dense(qi)
    val extra = added.iterator
      .filter(p => !filtered || filters(qi)(p._3))
      .map(p => p._1 -> score(queries(qi), p._2))
    topOf(base.iterator ++ extra)
  }

  /** Share of the base top-k an approximate answer found. */
  def recall(got: Seq[(Long, Double)], qi: Int): Double = {
    val want = dense(qi).map(_._1).toSet
    got.count(g => want.contains(g._1)).toDouble / want.size
  }
}

object Truth {
  val K = 10
  private val Eps = 1e-6

  /** Scores agree rank by rank, and ids agree wherever the score is
    * clear of a tie at the k-th place. */
  def sameTopK(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Boolean =
    got.size == want.size &&
      got.zip(want).forall { case (g, w) => math.abs(g._2 - w._2) <= Eps } && {
        val cut = want.lastOption.map(_._2 + Eps).getOrElse(0.0)
        got.filter(_._2 > cut).map(_._1).toSet == want.filter(_._2 > cut).map(_._1).toSet
      }

  /** The k best by score, id-ascending on ties. A bounded heap keeps
    * k plus a margin by raw score; rounding can only merge neighbours,
    * and ties at the k-th place are left to [[sameTopK]]. */
  def topOf(scored: Iterator[(Long, Double)]): Seq[(Long, Double)] = {
    val keep = K + 5
    val heap = new java.util.PriorityQueue[(Long, Double)](keep + 1,
      (a: (Long, Double), b: (Long, Double)) => java.lang.Double.compare(a._2, b._2))
    scored.foreach { x =>
      if (heap.size < keep) heap.add(x)
      else if (x._2 > heap.peek()._2) { heap.poll(); heap.add(x) }
    }
    heap.toArray(Array.empty[(Long, Double)]).toSeq
      .map { case (id, s) => id -> round6(s) }
      .sortBy { case (id, s) => (-s, id) }.take(K)
  }

  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  def score(q: Array[Float], v: Array[Float]): Double = cosine(q, v)

  /** Exact MaxSim top-k: per query token the best doc token, summed. */
  def maxSimTop(docs: Array[(Long, Array[Array[Float]])], q: Seq[Seq[Float]],
      k: Int): Seq[(Long, Double)] = {
    val qs = q.map(_.toArray)
    topOf(docs.iterator.map { case (id, toks) =>
      id -> qs.map(qv => toks.map(cosine(qv, _)).max).sum
    }).take(k)
  }

  def normalize(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    v.map(x => (x / n).toFloat)
  }
}
