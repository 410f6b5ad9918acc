package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ScaleData

/** Seeded inputs. Two fixed bases shaped like the sf0.1 fixtures (a
  * documents table and a 64-d unit-norm embeddings table) are expanded
  * by ScaleData's content-perturbing copies; the seed picks which copy
  * indices a run gets, so every seed sees the same sizes and structure
  * with different content. */
object Gen {

  val Dim = 64

  private val Vocab = Seq(
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "the", "of", "and", "vector", "join")
  private val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")

  /** `n` documents like the sf0.1 fixture: 8–80 words from a 31-word
    * vocabulary, five languages, twenty sources. Deterministic. */
  def baseDocs(spark: SparkSession, n: Long): DataFrame = {
    val id = col("id")
    val nTok = (lit(8) + pmod(hash(id, lit(3)), lit(73))).cast("int")
    val word = (i: org.apache.spark.sql.Column) => element_at(typedlit(Vocab),
      (pmod(xxhash64(id, i, lit(11)), lit(Vocab.size.toLong)) + 1).cast("int"))
    spark.range(n).select(
        id.as("doc_id"),
        array_join(transform(sequence(lit(1), nTok), word), " ").as("text"),
        element_at(typedlit(Langs),
          (pmod(hash(id, lit(5)), lit(Langs.size)) + 1).cast("int")).as("lang"),
        concat(lit("src"), pmod(hash(id, lit(7)), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** `n` unit vectors around 32 fixed centres, labels 0–9. Deterministic. */
  def baseVectors(spark: SparkSession, n: Int): DataFrame = {
    val r = new java.util.SplittableRandom(42L)
    val centres = Array.fill(32)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
    val rows = (0 until n).map { i =>
      val c = centres(i % centres.length)
      val v = Array.tabulate(Dim)(d => c(d) + 0.7 * (r.nextDouble() * 2 - 1))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType, nullable = false)))
    spark.createDataFrame(rows.asJava, schema)
  }

  /** `k` distinct copy indices drawn from the run's generator. */
  def copies(rng: java.util.SplittableRandom, k: Int): Seq[Int] =
    Iterator.continually(1 + rng.nextInt(99999)).distinct.take(k).toSeq

  def docsCopies(base: DataFrame, cs: Seq[Int]): DataFrame =
    cs.map(ScaleData.docsCopy(base, _)).reduce(_ unionByName _)

  def vectorCopies(base: DataFrame, cs: Seq[Int]): DataFrame =
    cs.map(ScaleData.embCopy(base, _)).reduce(_ unionByName _)

  /** Write `df` as `files` parquet files and return (rows, bytes). */
  def write(df: DataFrame, path: String, files: Int): (Long, Long) = {
    df.repartition(files).write.mode("overwrite").parquet(path)
    (df.sparkSession.read.parquet(path).count(), Disk.bytes(path))
  }

  /** Write `df` as the single file `<dir>/documents.parquet`, the layout
    * the streaming indexer reads. */
  def writeSingle(df: DataFrame, dir: String): Long = {
    val stage = s"$dir.stage"
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    new java.io.File(dir).mkdirs()
    val target = new java.io.File(dir, "documents.parquet")
    java.nio.file.Files.move(part.toPath, target.toPath)
    Disk.delete(stage)
    target.length()
  }
}

object Disk {
  def bytes(path: String): Long = {
    val f = new java.io.File(path)
    if (!f.exists()) 0L
    else if (f.isFile) {
      if (f.getName.endsWith(".crc")) 0L else f.length()
    } else f.listFiles().map(c => bytes(c.getPath)).sum
  }

  def delete(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles().foreach(c => delete(c.getPath))
    f.delete()
  }
}
