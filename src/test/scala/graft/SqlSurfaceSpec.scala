package graft

import org.apache.spark.sql.functions._

/** The GraftExtensions SQL functions must resolve in a plain
  * spark.sql(...) call and agree with the DataFrame kernels. */
class SqlSurfaceSpec extends SparkSpec {

  test("the suite session carries GraftSession's settings") {
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.extensions") === "graft.GraftExtensions")
  }

  test("GraftSession is the only main-code file that builds a SparkSession") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"no $root under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    val builders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          Files.readString(p).contains("SparkSession.builder"))
        .map(root.relativize(_).toString).toList
      finally walk.close()
    assert(builders === List("graft/GraftSession.scala"))
  }

  test("cosine_sim / dot_product / max_sim resolve in SQL and match kernels") {
    val r = spark.sql(
      """SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
        |  dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  max_sim(array(array(1.0D, 0.0D)), array(array(0.0D, 1.0D), array(1.0D, 0.0D))) AS m
        |""".stripMargin).head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1) - 11.0) < 1e-12)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("token_hashes + feature_hash_embed compose in SQL like the Embedder") {
    import graft.index.Embedder
    val viaSql = spark.sql(
      "SELECT feature_hash_embed(token_hashes('fast table scan'), 64) AS v")
      .head.getSeq[Double](0)
    val viaApi = spark.range(1)
      .select(Embedder.embedRaw(Embedder.tokenHashes(lit("fast table scan"))).as("v"))
      .head.getSeq[Double](0)
    assert(viaSql === viaApi)
  }

  test("banded_sign_buckets in SQL matches the DataFrame operator") {
    import graft.ops.Similarity
    import graft.Tables.t
    val e = t(spark, sf, "embeddings").limit(20)
    e.createOrReplaceTempView("sql_surface_emb")
    val viaSql = spark.sql(
      "SELECT vec_id, banded_sign_buckets(embedding, 10, 5) AS b FROM sql_surface_emb")
    val viaApi = e.select(col("vec_id"),
      Similarity.bandedBuckets(col("embedding"), 10, 5).as("b"))
    assert(viaSql.exceptAll(viaApi).count() === 0L)
    assert(viaApi.exceptAll(viaSql).count() === 0L)
  }

  test("sign_bits and l2_normalize resolve in SQL and match the DataFrame operators") {
    import graft.ops.Quantize
    import graft.vector.Kernels
    val emb = graft.Tables.t(spark, sf, "embeddings")
    emb.createOrReplaceTempView("sql_emb2")
    val viaSql = spark.sql(
      "SELECT sign_bits(embedding, 0, 32) AS lo, sign_bits(embedding, 32, 32) AS hi, " +
        "l2_normalize(embedding) AS n FROM sql_emb2")
    val viaApi = emb.select(
      Quantize.bqBits(col("embedding"), 0).as("lo"),
      Quantize.bqBits(col("embedding"), 32).as("hi"),
      Kernels.normalize(col("embedding")).as("n"))
    assert(viaSql.exceptAll(viaApi).count() === 0L)
    assert(viaApi.exceptAll(viaSql).count() === 0L)
  }

  test("optimizer rule: cosine over pre-normalized vectors rewrites to dot product") {
    Tables.t(spark, sf, "embeddings").createOrReplaceTempView("sql_emb")
    val q = spark.sql(
      """SELECT e.vec_id,
        |  ROUND(cosine_sim(l2_normalize(e.embedding), l2_normalize(q.embedding)), 6) AS score
        |FROM sql_emb e,
        |  (SELECT embedding FROM sql_emb WHERE vec_id = 0) q
        |ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin)
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(!optimized.toLowerCase.contains("cosinesim"),
      s"CosineSim over two L2Normalize inputs must rewrite away:\n$optimized")
    assert(optimized.toLowerCase.contains("dotproduct"),
      s"rewritten plan must score with DotProduct:\n$optimized")
    // the rewrite is algebraically exact: same rows, same scores as
    // the unrewritten cosine over raw vectors
    val plain = spark.sql(
      """SELECT e.vec_id,
        |  ROUND(cosine_sim(e.embedding, q.embedding), 6) AS score
        |FROM sql_emb e,
        |  (SELECT embedding FROM sql_emb WHERE vec_id = 0) q
        |ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin)
    assert(q.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      plain.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // cosine over NON-normalized inputs is untouched
    val raw = spark.sql(
      "SELECT cosine_sim(embedding, embedding) FROM sql_emb LIMIT 1")
    assert(raw.queryExecution.optimizedPlan.toString.toLowerCase.contains("cosinesim"))
  }

  test("normalized-cosine rewrite honors its session opt-out config") {
    Tables.t(spark, sf, "embeddings").createOrReplaceTempView("sql_emb")
    val sql =
      """SELECT vec_id,
        |  ROUND(cosine_sim(l2_normalize(embedding), l2_normalize(embedding)), 6) AS s
        |FROM sql_emb""".stripMargin
    // opted out: the ulp-sensitive user keeps the exact cosine fold
    spark.conf.set(NormalizedCosineToDot.confKey, "false")
    try {
      val off = spark.sql(sql).queryExecution.optimizedPlan.toString.toLowerCase
      assert(off.contains("cosinesim") && !off.contains("dotproduct"),
        s"rule must be inert when ${NormalizedCosineToDot.confKey}=false:\n$off")
    } finally spark.conf.unset(NormalizedCosineToDot.confKey)
    // default: rewrite applies
    val on = spark.sql(sql).queryExecution.optimizedPlan.toString.toLowerCase
    assert(on.contains("dotproduct") && !on.contains("cosinesim"))
  }

  test("wrong arity is rejected with the function name and expected count") {
    val e = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1.0D))").collect()
    }
    assert(e.getMessage.contains("cosine_sim expects 2 arguments"))
  }

  test("non-literal dim argument is rejected with a clear error") {
    val e = intercept[Exception] {
      spark.sql("SELECT feature_hash_embed(token_hashes('x'), cast(id AS int)) FROM range(1)")
        .collect()
    }
    assert(e.getMessage.contains("integer literal"))
  }
}
