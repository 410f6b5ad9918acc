package graft

import org.apache.spark.sql.functions._

/** Executor-loss drill for the reliable-checkpoint durability contract
  * (r16 verdict #4): "with `spark.graft.checkpointDir` set, losing an
  * executor costs re-reading checkpoint files, never a dead job" was
  * spec-asserted for OUTPUT EQUALITY only — never actually drilled
  * under a real executor death. This main runs [[graft.ops.Similarity.semDedup]]
  * twice on a planted corpus — a clean reference run, then a run
  * during which a REAL executor JVM is SIGKILLed — and compares drop
  * sets.
  *
  * Run it under a REAL multi-process master (each executor its own
  * JVM, so the kill is a genuine process death, not a thread stop):
  * {{{
  * sbt package
  * SPARK_GRAFT_DRILL_KILL_MS=8000 /opt/spark/bin/spark-submit \
  *   --master 'local-cluster[2,4,3072]' \
  *   --conf spark.graft.checkpointDir=/tmp/graft_drill_ckpt \
  *   --class graft.CkptDrill target/scala-2.13/&lt;repo&gt;.jar
  * }}}
  *
  * The killer thread scans /proc for CoarseGrainedExecutorBackend
  * children and `kill -9`s one mid-run; the standalone worker
  * relaunches a fresh executor and the lost tasks replay from the
  * reliable checkpoint files. Without the conf (localCheckpoint mode)
  * the same kill loses executor-resident blocks with TRUNCATED
  * lineage — unrecomputable, a dead job — which is exactly why the
  * durable switch exists; mode=local drills that negative leg
  * (outcome recorded, not asserted: Spark may or may not have
  * scheduled the doomed blocks on the killed executor).
  *
  * Prints one JSON line:
  * `{"metric":"ckpt_drill","mode":...,"killed":N,"match":true,...}`. */
object CkptDrill {

  /** PIDs of live executor JVMs (CoarseGrainedExecutorBackend)
    * belonging to THIS application — the app id rides the executor
    * command line (`--app-id`), and without the filter a concurrent
    * Spark job on the same box could have ITS executor killed (a
    * false pass here plus collateral damage there — r17 review). */
  private def executorPids(appId: String): Seq[Long] = {
    val proc = java.nio.file.Paths.get("/proc")
    val out = scala.collection.mutable.Buffer.empty[Long]
    val dirs = java.nio.file.Files.list(proc)
    try dirs.forEach { d =>
      val name = d.getFileName.toString
      if (name.forall(_.isDigit)) {
        try {
          val cmd = new String(
            java.nio.file.Files.readAllBytes(d.resolve("cmdline")), "UTF-8")
          if (cmd.contains("CoarseGrainedExecutorBackend") &&
              cmd.contains(appId)) out += name.toLong
        } catch { case _: Exception => () } // raced exit — skip
      }
    }
    finally dirs.close()
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("SPARK_GRAFT_DRILL_MODE", "durable")
    val killAfterMs = sys.env.getOrElse("SPARK_GRAFT_DRILL_KILL_MS", "8000").toLong
    val dir = sys.env.getOrElse("SPARK_GRAFT_DRILL_DIR", "/tmp/graft_scale/x10")
    // master + checkpointDir come from spark-submit; this main only
    // asserts it is NOT running single-JVM local (a thread-local kill
    // would drill nothing). 8 shuffle partitions = the 2 × 4 executor
    // cores of the documented local-cluster.
    val spark = GraftSession.submitted(cpus = 8)
    val master = spark.sparkContext.master
    require(master.startsWith("local-cluster") || master.startsWith("spark://"),
      s"the drill needs real executor processes, got master=$master")
    if (mode == "durable")
      require(spark.conf.getOption("spark.graft.checkpointDir").nonEmpty,
        "durable mode needs --conf spark.graft.checkpointDir=...")
    else spark.conf.unset("spark.graft.checkpointDir")

    def drops(): Seq[Long] =
      graft.ops.Similarity
        .semDedupProbe(spark, dir)
        .filter(col("dropped")).select(col("vec_id"))
        .collect().map(_.getLong(0)).sorted.toSeq

    val appId = spark.sparkContext.applicationId

    // clean reference run (also JIT/codegen warm-up, so the killed
    // run's timing window is stable)
    val t0 = System.nanoTime()
    val clean = drops()
    val cleanSecs = (System.nanoTime() - t0) / 1e9
    System.err.println(
      f"[drill] clean run: ${clean.size} drops in $cleanSecs%.1f s " +
        f"(executors: ${executorPids(appId).mkString(",")})")

    // killed run: SIGKILL one executor JVM mid-flight. The kill's
    // TIMESTAMP is recorded so a kill that lands only after the run
    // already completed can never certify the drill (r17 review: the
    // post-run join window made exactly that false pass possible —
    // and the first x10 negative-leg attempt showed runs finishing
    // before a late timer).
    val killed = new java.util.concurrent.atomic.AtomicLong(0L)
    val killedAtNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    // Post-kill RECOVERY evidence (r17 advisor): a kill timestamp
    // before tEnd alone still certifies a kill that lands in the
    // sliver after the expensive stages — require that the driver also
    // OBSERVED the executor loss and that tasks kept completing after
    // the kill (lost work actually replayed on the relaunched
    // executor), or the drill drilled nothing.
    val postKillTaskEnds = new java.util.concurrent.atomic.AtomicLong(0L)
    val executorRemovals = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onExecutorRemoved(
          e: org.apache.spark.scheduler.SparkListenerExecutorRemoved): Unit =
        if (killedAtNanos.get() != 0L) executorRemovals.incrementAndGet()
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        // only SUCCESSFUL post-kill task ends are recovery evidence:
        // the killed executor's own tasks also emit (FAILED) task-end
        // events, which would certify a kill that recovered nothing
        // (r18 advisor)
        if (killedAtNanos.get() != 0L && e.reason == org.apache.spark.Success)
          postKillTaskEnds.incrementAndGet()
    })
    val killer = new Thread(() => {
      Thread.sleep(killAfterMs)
      executorPids(appId).headOption.foreach { pid =>
        System.err.println(s"[drill] kill -9 executor pid $pid")
        new ProcessBuilder("kill", "-9", pid.toString).start().waitFor()
        killedAtNanos.set(System.nanoTime())
        killed.set(pid)
      }
    })
    killer.setDaemon(true)
    val t1 = System.nanoTime()
    killer.start()
    val result =
      try Right(drops())
      catch { case e: Exception => Left(e.toString.take(300)) }
    val tEnd = System.nanoTime()
    val killedSecs = (tEnd - t1) / 1e9
    killer.join(1000)
    // listener events are delivered async — DRAIN the bus before
    // reading the recovery counters (a fixed sleep raced a backlogged
    // bus and flaked the drill). A drain that times out still reports
    // the clean-vs-killed result already computed: the counters are
    // then lower bounds, and certification below needs them nonzero.
    val busDrained = org.apache.spark.GraftListenerBridge
      .drained(spark.sparkContext, 30000)
    val killLandedMidRun = killed.get() != 0L && killedAtNanos.get() < tEnd &&
      executorRemovals.get() > 0L && postKillTaskEnds.get() > 0L
    val json = result match {
      case Right(ds) =>
        val ok = ds == clean
        s""""completed":true,"match":$ok,"drops":${ds.size}"""
      case Left(err) =>
        s""""completed":false,"match":false,"error":${JsonOut.jsonStr(err)}"""
    }
    spark.stop()
    // Locale.ROOT seconds: the JSON line must stay machine-parseable
    // on a comma-decimal default locale (r17 advisor)
    def f1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    println(
      s"""{"metric":"ckpt_drill","mode":"$mode","dir":"$dir",""" +
        s""""clean_drops":${clean.size},"killed_pid":${killed.get()},""" +
        s""""kill_mid_run":$killLandedMidRun,"bus_drained":$busDrained,""" +
        s""""post_kill_task_ends":${postKillTaskEnds.get()},""" +
        s""""executor_removals":${executorRemovals.get()},""" +
        s""""clean_secs":${f1(cleanSecs)},"killed_secs":${f1(killedSecs)},$json}""")
    // durable mode is the CONTRACT: fail the process unless a kill
    // landed DURING the run and the drop set still matched
    if (mode == "durable" &&
        (!killLandedMidRun || !result.toOption.contains(clean))) {
      System.err.println(
        if (!killLandedMidRun)
          s"[drill] FAIL: no executor kill landed inside the run window" +
            s" with observed recovery (killed_pid=${killed.get()}," +
            s" executor_removals=${executorRemovals.get()}," +
            s" post_kill_task_ends=${postKillTaskEnds.get()}," +
            s" bus_drained=$busDrained," +
            s" killAfterMs=$killAfterMs vs run ${killedSecs}s) - tune" +
            " SPARK_GRAFT_DRILL_KILL_MS; nothing was drilled"
        else "[drill] FAIL: drop set diverged after executor loss")
      sys.exit(1)
    }
  }
}
