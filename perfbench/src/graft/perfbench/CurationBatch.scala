package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.ops.{Curation, Dedup, TextAnalysis}

/** The LLM-data pipeline over a documents corpus: near-duplicate pairs
  * → connected components → keeper anti-join → quality cut → Kneser–Ney
  * scores of the surviving documents → split assignment, written out.
  * Each stage consumes the previous stage's persisted, derived output,
  * as a pipeline that keeps its stage outputs does. Pipeline runs
  * repeat until the run's time is up; every output is checked against
  * the DuckDB oracle afterwards. */
final class CurationBatch(ctx: Ctx) extends Workload {
  import CurationBatch._

  val name = "curation_batch"
  private val spark = ctx.spark
  private val tr = ctx.tracer
  private val copies = Gen.copies(ctx.rng, Copies)

  private var corpusPath: String = _
  private var docs = 0L
  private var bytes = 0L
  private var runs = 0
  private var lastStages: Option[Stages] = None

  private case class Stages(survivors: DataFrame, kept: DataFrame, cached: Seq[DataFrame])

  def setup(dir: String): Unit = {
    val corpus = Gen.docsCopies(Gen.baseDocs(spark, BaseDocs), copies)
    corpusPath = s"$dir/corpus"
    val (n, b) = Gen.write(corpus, corpusPath, 4)
    docs = n
    bytes = b
  }

  /** One pipeline run over the first documents of the corpus. */
  override def warm(): Unit = {
    val slice = spark.read.parquet(corpusPath).orderBy("doc_id").limit(WarmDocs)
    Gen.write(slice, ctx.dir("warm_corpus"), 2)
    pipeline(spark.read.parquet(ctx.dir("warm_corpus")), ctx.dir("warm_out")).cached
      .foreach(_.unpersist())
    Disk.delete(ctx.dir("warm_out"))
  }

  def sizes: Map[String, Any] = Map(
    "corpus_rows" -> docs, "corpus_bytes" -> bytes, "planted_dups" -> docs / 25,
    "quality_min" -> QualityMin, "loop" -> "closed", "clients" -> 1)

  def measure(): Unit = {
    val outs = scala.collection.mutable.ArrayBuffer.empty[String]
    while (runs == 0 || ctx.timeLeft) {
      runs += 1
      val out = ctx.dir(s"out$runs")
      lastStages.foreach(_.cached.foreach(_.unpersist()))
      ctx.op("pipeline", docs) {
        pipeline(spark.read.parquet(corpusPath), out)
      } { st =>
        lastStages = Some(st)
        outs += out
      }
    }
    ctx.info("runs") = runs
    // the oracle check runs outside the JVM, on the same corpus
    ctx.info("corpus") = corpusPath
    ctx.info("outputs") = outs.toSeq
    ctx.info("oracle_pipeline_sql") = Curation.oracles("x_corpus_pipeline")
    ctx.info("oracle_kn_sql") = TextAnalysis.oracles("x_kn_logprob")
    ctx.info("oracle_minhash_sql") = Dedup.duckMinhashPairs()
  }

  private def persisted(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  private def pipeline(docs: DataFrame, out: String): Stages = {
    val corpus = tr.query("ops", "Dedup.corpusWithDups")(
      Dedup.corpusWithDups(docs))(persisted)
    val pairs = tr.query("ops", "Dedup.minhashPairs")(
      Dedup.minhashPairs(corpus).select(col("id_a"), col("id_b")))(persisted)
    tr.last.counts("pairs") = pairs.count().toDouble
    tr.last.counts("docs") = corpus.count().toDouble
    val cc = tr.query("ops", "Dedup.clusters")(Dedup.clusters(pairs))(persisted)
    val survivors = tr.query("ops", "keeperAntiJoin")({
      val nonKeepers = cc.filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      docs.join(nonKeepers, Seq("doc_id"), "left_anti")
    })(persisted)
    val kept = tr.query("ops", "TextAnalysis.qualityScore")(
      TextAnalysis.qualityScore(survivors)
        .filter(col("quality") >= QualityMin)
        .select(col("doc_id"), col("quality")))(persisted)
    val kn = tr.query("ops", "TextAnalysis.knLogprob")(
      TextAnalysis.knLogprob(survivors.join(kept, Seq("doc_id"), "left_semi")))(persisted)
    tr.query("ops", "Curation.withSplit")(
      Curation.withSplit(survivors.select(col("doc_id"), col("lang")))
        .join(kept, Seq("doc_id"))
        .join(kn, Seq("doc_id"))
        .select("doc_id", "lang", "quality", "split", "n_bigrams", "avg_logp_kn")) {
      _.write.mode("overwrite").parquet(out)
    }
    Stages(survivors, kept, Seq(corpus, pairs, cc, survivors, kept, kn))
  }

  /** `knLogprob` sizes its exchanges from optimizer statistics. Fed the
    * inner join of the survivors with their quality scores (the shape a
    * pipeline that needs both columns writes) it plans far wider
    * exchanges than on the semi join the timed pipeline uses, and runs
    * minutes instead of seconds, so only its plan is taken here. */
  override def probe(): Seq[(String, Option[String])] = {
    lastStages.foreach { st =>
      val joined = TextAnalysis.knLogprob(st.survivors.join(st.kept, Seq("doc_id")))
      ctx.info("kn_planned_tasks_joined_input") = plannedReduceTasks(joined)
      st.cached.foreach(_.unpersist())
    }
    Nil
  }
}

object CurationBatch {
  val BaseDocs = 3000L
  val Copies = 1
  val WarmDocs = 1000
  val QualityMin = 0.7

  /** Reduce partitions summed over the plan's explicit repartitions,
    * the exchanges `knLogprob` sizes itself. */
  def plannedReduceTasks(df: DataFrame): Long = {
    def exchanges(p: SparkPlan): Seq[Long] = p.collect {
      case a: AdaptiveSparkPlanExec => exchanges(a.inputPlan)
      case s: ShuffleExchangeExec => Seq(s.outputPartitioning.numPartitions.toLong)
    }.flatten
    exchanges(df.queryExecution.executedPlan).sum
  }
}
