package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.api.{CollectionConfig, VectorCollection}
import graft.search.{Filter, MatchValue, RangeCond}

/** The read path next to an incremental indexer: one client in a
  * closed loop with no think time. Requests come in decks of 20 whose
  * order the seed shuffles: 18 reads (dense, payload-filtered and
  * Filter-DSL searches, IVF `searchAnn`, 16-query `searchBatch`,
  * multi-vector `searchMaxSim`) and 2 `upsertIncremental` writes of new
  * points into the collection being searched. Dense, filtered, batch
  * and MaxSim answers are checked against a brute-force answer. */
final class SearchMix(ctx: Ctx) extends Workload {
  import SearchMix._

  val name = "search_mix"
  private val spark = ctx.spark
  private val tr = ctx.tracer

  private val copies = Gen.copies(ctx.rng, VecCopies + FreshCopies)
  private val queries = new Array[Array[Float]](Pool)
  private val labelOf = Array.fill(Pool)(ctx.rng.nextInt(10))
  private val deckSeed = ctx.rng.nextLong()

  private var dense: VectorCollection = _
  private var multi: VectorCollection = _
  private var truth: Truth = _
  private var multiDocs: Array[(Long, Array[Array[Float]])] = _
  private var fresh: DataFrame = _
  private var upserts = 0
  private var rowsTotal = 0L

  def setup(dir: String): Unit = {
    val vectors = Gen.vectorCopies(Gen.baseVectors(spark, BaseVectors),
      copies.take(VecCopies))
    dense = VectorCollection.ensure(spark, s"$dir/dense", vectors,
      CollectionConfig(idCol = "vec_id", vectorCol = "embedding", dim = Gen.Dim,
        multiVector = false))
    dense.upsert(vectors)
    dense.buildIvfIndex(IvfClusters, IvfIters)
    // the FIXTURES multi-vector grouping: doc = vec_id % N, token
    // vectors in vec_id order
    val vecs = spark.read.parquet(dense.path)
    val mv = vecs.groupBy((col("vec_id") % MultiDocs).as("doc_id"))
      .agg(sort_array(collect_list(struct(col("vec_id"), col("embedding")))).as("t"))
      .select(col("doc_id"), col("t.embedding").as("vecs"))
    multi = VectorCollection.ensure(spark, s"$dir/multi", mv,
      CollectionConfig(idCol = "doc_id", vectorCol = "vecs", dim = Gen.Dim,
        multiVector = true))
    multi.upsert(mv)
    // brute-force ground truth, computed outside Spark
    val rows = vecs.select("vec_id", "embedding", "label").collect()
    truth = new Truth(rows.map(_.getLong(0)),
      rows.map(_.getSeq[Float](1).toArray), rows.map(_.getInt(2)))
    multiDocs = spark.read.parquet(multi.path).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        r.getAs[scala.collection.Seq[scala.collection.Seq[Float]]]("vecs")
          .map(_.toArray).toArray)
    val pick = new java.util.SplittableRandom(deckSeed)
    (0 until Pool).foreach { i =>
      val v = truth.vecs(pick.nextInt(truth.vecs.length))
      queries(i) = Truth.normalize(v.map(x => x + 0.3f * (pick.nextFloat() * 2 - 1)))
    }
    truth.precompute(queries, (0 until Pool).map(i => filterOf(i)._2))
    // the new points the writes bring: copy indices of their own
    fresh = Gen.vectorCopies(Gen.baseVectors(spark, BaseVectors), copies.drop(VecCopies))
    upserts = 0
    rowsTotal = truth.vecs.length.toLong
  }

  /** Every request type once against the last set-up's collections. */
  override def warm(): Unit = {
    val r = new java.util.SplittableRandom(1L)
    Kinds.distinct.foreach(k => request(k, r, timed = false))
  }

  def sizes: Map[String, Any] = Map(
    "dense_rows" -> truth.vecs.length, "dense_bytes" -> Disk.bytes(dense.path),
    "multi_bytes" -> Disk.bytes(multi.path), "dim" -> Gen.Dim, "label_values" -> 10,
    "ivf_clusters" -> IvfClusters, "ivf_lloyd_iters" -> IvfIters, "nprobe" -> NProbe,
    "multi_docs" -> MultiDocs, "multi_tokens_per_doc" -> truth.vecs.length / MultiDocs,
    "query_pool" -> Pool, "k" -> K, "batch_queries" -> BatchQueries,
    "maxsim_query_tokens" -> MaxSimTokens, "upsert_rows" -> UpsertRows,
    "deck" -> Kinds.size, "clients" -> 1, "loop" -> "closed")

  def measure(): Unit = {
    val order = new java.util.SplittableRandom(deckSeed)
    var decks = 0
    while (decks == 0 || ctx.timeLeft) {
      decks += 1
      shuffled(Kinds, order).foreach(k => request(k, order, timed = true))
    }
    ctx.info("decks") = decks
  }

  private def shuffled(xs: Seq[String], r: java.util.SplittableRandom): Seq[String] = {
    val a = xs.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  /** Filter `i` of the pool: label equality for even entries, a
    * Filter-DSL range with an exclusion for odd ones. */
  private def filterOf(i: Int): (Column, Int => Boolean) = {
    val l = labelOf(i)
    if (i % 2 == 0) (col("label") === l, _ == l)
    else {
      val lo = l % 7
      val f = Filter(must = Seq(RangeCond("label", gte = Some(lo), lte = Some(lo + 3))),
        mustNot = Seq(MatchValue("label", lo + 1)))
      (f.toColumn, lab => lab >= lo && lab <= lo + 3 && lab != lo + 1)
    }
  }

  private def hits(df: DataFrame, id: String): Seq[(Long, Double)] =
    df.collect().map(r => r.getAs[Long](id) -> r.getAs[Double]("score")).toSeq

  private def request(kind: String, r: java.util.SplittableRandom, timed: Boolean): Unit = {
    def op[T](units: Long)(body: => T)(verify: T => Unit): Unit =
      if (timed) ctx.op(kind, units)(body)(verify)
      else verify(body)
    val qi = r.nextInt(Pool)
    val q = queries(qi).toSeq
    kind match {
      case "dense" =>
        op(1)(tr.query("search", "dense")(dense.search(q, K))(hits(_, "vec_id"))) { got =>
          tr.last.counts("scored_rows") = rowsTotal.toDouble
          ctx.check("dense.topk", Truth.sameTopK(got, truth.top(qi, filtered = false)),
            s"query $qi: $got")
        }
      case "filtered" =>
        val (f, _) = filterOf(qi)
        op(1)(tr.query("search", "filtered")(dense.search(q, K, f))(hits(_, "vec_id"))) { got =>
          tr.last.counts("hits") = got.size.toDouble
          ctx.check("filtered.topk", Truth.sameTopK(got, truth.top(qi, filtered = true)),
            s"query $qi: $got")
        }
      case "ann" =>
        op(1)(tr.query("api", "searchAnn")(dense.searchAnn(q, K, NProbe))(hits(_, "vec_id"))) { got =>
          val s = tr.last
          s.counts("collection_rows") = truth.baseRows.toDouble
          s.counts("recall_at_10") = truth.recall(got, qi)
          ctx.check("ann.rows", got.size == K, s"query $qi returned ${got.size} rows")
        }
      case "batch" =>
        val qs = (0 until BatchQueries).map(_ => r.nextInt(Pool))
        op(1)(tr.query("search", "batch")(
            dense.searchBatch(qs.zipWithIndex.map { case (i, j) => (j.toLong, queries(i).toSeq) }, K))(
            _.collect().map(x => (x.getAs[Long]("q_id"), x.getAs[Long]("vec_id"),
              x.getAs[Double]("score"))).toSeq)) { got =>
          tr.last.counts("query_rows") = (rowsTotal * BatchQueries).toDouble
          qs.zipWithIndex.foreach { case (i, j) =>
            val mine = got.filter(_._1 == j).sortBy(_._3)(Ordering[Double].reverse)
              .map(x => x._2 -> x._3)
            ctx.check("batch.topk", Truth.sameTopK(mine, truth.top(i, filtered = false)),
              s"batch query $i: $mine")
          }
        }
      case "maxsim" =>
        val m = (0 until MaxSimTokens).map(_ => queries(r.nextInt(Pool)).toSeq)
        op(1)(tr.query("vector", "maxsim")(multi.searchMaxSim(m, K))(hits(_, "doc_id"))) { got =>
          tr.last.counts("docs") = MultiDocs.toDouble
          ctx.check("maxsim.topk", Truth.sameTopK(got, Truth.maxSimTop(multiDocs, m, K)),
            s"maxsim: $got")
        }
      case "upsert" =>
        val perCopy = BaseVectors / UpsertRows
        require(upserts < perCopy * FreshCopies, "fresh points exhausted")
        val lo = copies(VecCopies + upserts / perCopy) * 10000000L +
          (upserts % perCopy) * UpsertRows
        val batch = fresh.filter(col("vec_id").between(lo, lo + UpsertRows - 1))
        op(UpsertRows.toLong)(tr.call("api", "upsertIncremental")(
            dense.upsertIncremental(batch))) { n =>
          tr.last.counts("rows_written") = n.toDouble
          tr.last.counts("collection_rows") = rowsTotal.toDouble
          ctx.check("upsert.rows", n == UpsertRows, s"wrote $n of $UpsertRows")
          truth.add(batch.select("vec_id", "embedding", "label").collect().map(x =>
            (x.getLong(0), x.getSeq[Float](1).toArray, x.getInt(2))).toSeq)
          rowsTotal += n
        }
        upserts += 1
    }
  }
}

object SearchMix {
  val BaseVectors = 2000
  val VecCopies = 2
  val IvfClusters = 8
  val IvfIters = 1
  val NProbe = 2
  val MultiDocs = 400
  val Pool = 64
  val K = 10
  val BatchQueries = 16
  val MaxSimTokens = 8
  val UpsertRows = 100
  val FreshCopies = 3
  /** One deck: 18 reads, 2 writes. */
  val Kinds: Seq[String] =
    Seq.fill(5)("dense") ++ Seq.fill(4)("filtered") ++ Seq.fill(4)("ann") ++
      Seq.fill(2)("batch") ++ Seq.fill(3)("maxsim") ++ Seq.fill(2)("upsert")
}

