package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart, SparkListenerJobEnd}
import org.apache.spark.sql.SparkSession

/** Dev profiling harness (optimization rounds): run named suite
  * queries with a stage-level listener and print, per stage, the wall
  * time, task count, input/shuffle volumes and executor CPU time —
  * the Spark-UI "Stages" table for a headless box (guide §1/§7.1).
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
  *     sbt "runMain graft.QueryProf q1,q2"
  *
  * Reps: one untimed sf0.001 warm-up pass (JIT + codegen), then
  * SPARK_GRAFT_REPS (default 2) timed passes; stage metrics are
  * collected on the LAST pass only (steady state). Forcing matches
  * Bench exactly (`queryExecution.toRdd.count()`).
  *
  * Codegen: the last pass's generated-class compiles (the count of
  * `CodegenMetrics.METRIC_COMPILATION_TIME`) and their total time
  * (`CodeGenerator.compileTime`; the histogram only keeps a sample of
  * its values). Both are JVM-wide, which in local mode covers the
  * driver's and the tasks' compiles alike.
  */
object QueryProf {
  private case class StageRow(
      id: Int, name: String, ms: Long, tasks: Int,
      inputMB: Double, shReadMB: Double, shWriteMB: Double,
      cpuMs: Long, records: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    val names = args.headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("x_dedup_clusters_star"))
    // A/B knob: SPARK_GRAFT_EXTRA_CONF="k1=v1;k2=v2"
    val extra = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";").map(_.trim).filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }
    val spark = GraftSession.local(extra = extra)

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    @volatile var record = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val si = e.stageInfo
          val m = si.taskMetrics
          val ms = (for (a <- si.completionTime; b <- si.submissionTime)
            yield a - b).getOrElse(-1L)
          stages.add(StageRow(
            si.stageId, si.name.linesIterator.next().take(80), ms,
            si.numTasks,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.remoteBytesRead / 1e6 +
              m.shuffleReadMetrics.localBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6,
            m.executorCpuTime / 1000000L,
            m.inputMetrics.recordsRead))
        }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (record) jobStart.put(e.jobId, System.nanoTime())
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (record) Option(jobStart.get(e.jobId)).foreach { t0 =>
          jobs.add((e.jobId, (System.nanoTime() - t0) / 1000000L))
        }
    })

    // SPARK_GRAFT_PRINT_PLAN=1: after the last rep, print the EXECUTED
    // adaptive plan (ReusedExchange / final join strategies visible —
    // the static formatted plan under AQE shows the full unshared tree
    // and hides what actually ran).
    val printPlan = sys.env.get("SPARK_GRAFT_PRINT_PLAN").contains("1")
    // Unwrapped operator frames: a Ckpt.ordered suite query hides its
    // whole subplan behind the checkpoint's LogicalRDD, so its stage
    // receipts can't be tied to plan nodes. `op_<name>` profiles the
    // operator with a plain orderBy instead (same work, visible plan).
    val devFrames: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] =
      Map(
        "op_kn_logprob" -> ((s, dir) =>
          graft.ops.TextAnalysis.knLogprob(Tables.t(s, dir, "documents"))
            .orderBy(org.apache.spark.sql.functions.col("doc_id"))))
    // listener events arrive async: both edges of a recording window
    // wait for the bus to drain, so the window holds exactly its own
    // rep's events (a fixed sleep raced a backlogged bus)
    def drain(): Unit =
      if (!org.apache.spark.GraftListenerBridge.drained(spark.sparkContext, 30000))
        System.err.println(
          "[prof] listener bus not drained in 30 s - stage tables may be incomplete")
    def compiles(): (Long, Long) = (
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
    names.foreach { n =>
      val q = devFrames.getOrElse(n, SparkEntry.queries(n))
      // warm-up (untimed, small sf)
      try q(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count()
      catch { case _: Throwable => }
      drain()
      var last = 0.0
      var codegen = (0L, 0L)
      (1 to reps).foreach { r =>
        stages.clear(); jobs.clear(); jobStart.clear()
        record = r == reps
        // phase split (guide §1 / VERDICT r18 item 8): tBuild = query
        // construction + analysis (any eager work a query fn does),
        // tPlan = Catalyst optimize + initial physical planning,
        // tExec = execution incl. AQE per-stage replanning. AQE's
        // replan time is NOT separable from tExec here — what this
        // isolates is the driver-side pre-execution cost per query.
        val c0 = compiles()
        val t0 = System.nanoTime()
        val df = q(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.queryExecution.toRdd.count()
        val t3 = System.nanoTime()
        val c1 = compiles()
        last = (t3 - t0) / 1e9
        codegen = (c1._1 - c0._1, c1._2 - c0._2)
        drain()
        record = false
        println(f"[prof] $n rep $r: $last%.3f s " +
          f"(build ${(t1 - t0) / 1e9}%.3f, plan ${(t2 - t1) / 1e9}%.3f, " +
          f"exec ${(t3 - t2) / 1e9}%.3f)")
        if (printPlan && r == reps)
          println(s"== $n executed plan ==\n" +
            df.queryExecution.executedPlan.toString)
      }
      println(f"== $n: last rep $last%.3f s, ${jobs.size} jobs, ${stages.size} stages, " +
        f"${codegen._1} codegen compiles (${codegen._2 / 1e9}%.3f s) ==")
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      println("jobs(ms): " + js.map { case (id, ms) => s"$id:$ms" }.mkString(" "))
      val ss = stages.asScala.toSeq.sortBy(-_.ms)
      println(f"${"stage"}%6s ${"ms"}%7s ${"tasks"}%5s ${"cpuMs"}%7s " +
        f"${"inMB"}%8s ${"shRdMB"}%8s ${"shWrMB"}%8s ${"recs"}%10s  name")
      ss.foreach { s =>
        println(f"${s.id}%6d ${s.ms}%7d ${s.tasks}%5d ${s.cpuMs}%7d " +
          f"${s.inputMB}%8.2f ${s.shReadMB}%8.2f ${s.shWriteMB}%8.2f " +
          f"${s.records}%10d  ${s.name}")
      }
    }
    spark.stop()
  }
}
