package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4)

  val sf: String = "/root/testdata/sf0.001"

  /** One PINNED reliable-checkpoint dir for the whole test JVM:
    * [[graft.ops.Ckpt]] pins the FIRST dir applied per SparkContext
    * (setCheckpointDir is context-global — a second dir would mix two
    * runs' files under one cleanup contract), so every durable-mode
    * test shares this dir and asserts a file-count INCREASE, not mere
    * presence. Never deleted mid-suite: a later durable test still
    * checkpoints under it. */
  lazy val ckptDir: String =
    java.nio.file.Files.createTempDirectory("graft-test-ckpt").toString

  /** Regular files under a dir (0 if the dir does not exist). */
  def ckptFiles(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_)).count()
      finally s.close()
    }
  }
}

/** Base: shared session + small helpers. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def sf: String = TestSpark.sf

  private def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    a.indices.foreach { i =>
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact cosine top-k ids over the rows of the collection at `path`
    * that pass `filter`, computed outside Spark's scoring from a fresh
    * (schema-inferring) read; scores round to 6 places before the id
    * tiebreak, as the engine's do. */
  def bruteTopK(path: String, q: Seq[Float], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      filter: org.apache.spark.sql.Column = org.apache.spark.sql.functions.lit(true)): Seq[Long] =
    spark.read.parquet(path).filter(filter).select(idCol, vecCol).collect()
      .map(r => r.getLong(0) -> BigDecimal(cosine(r.getSeq[Float](1), q))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .sortBy { case (id, s) => (-s, id) }
      .take(k).map(_._1).toSeq
}
