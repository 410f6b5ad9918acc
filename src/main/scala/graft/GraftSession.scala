package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every graft main and the test suite
  * build their session here, so the settings the engine's results
  * depend on cannot drift between entry points.
  *
  *  - `nanosAsLong` + the UTC session time zone: `events.ts` is read
  *    only through [[Tables.TsCodec]], whose conversions are exact
  *    under exactly these two settings;
  *  - `GraftExtensions`: the SQL surface (`cosine_sim`, …) that the
  *    pure-SQL queries resolve against;
  *  - no UI and WARN logging: the mains are headless and print their
  *    own one-line results.
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, read once; unset means every core the JVM
    * sees. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(Runtime.getRuntime.availableProcessors)(_.trim.toInt)

  /** `local[cpus]` with `cpus` shuffle partitions. `extra` entries are
    * applied after the shared settings and before `getOrCreate`, so
    * they can override any of them (QueryProf's A/B conf). */
  def local(cpus: Int = GraftSession.cpus,
      extra: Seq[(String, String)] = Nil): SparkSession =
    build(Some(s"local[$cpus]"), cpus, extra)

  /** For a `spark-submit` launch: keeps the master the launcher set;
    * `cpus` is the cluster's total executor cores. */
  def submitted(cpus: Int): SparkSession = build(None, cpus, Nil)

  private def build(master: Option[String], cpus: Int,
      extra: Seq[(String, String)]): SparkSession = {
    val settings = Seq(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.ui.enabled" -> "false") ++ extra
    val builder = master.foldLeft(SparkSession.builder())(_.master(_))
    val spark = settings.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Streaming-run scratch (checkpoints, fixture sources, sinks — all
    * throwaway per-run state) goes to tmpfs when the box has one: the
    * offset/commit-log and state-snapshot fsyncs were a fixed
    * ~0.2-0.5 s disk tax inside every timed streaming query. A real
    * deployment's checkpointLocation is durable storage by definition;
    * this only moves the bounded-fixture scaffolding.
    *
    * The run dir is per process and deleted at JVM exit: tmpfs is RAM,
    * so leaked checkpoint/sink dirs would otherwise accumulate across
    * runs until /dev/shm (and with it, memory) fills.
    * `SPARK_GRAFT_STREAM_SCRATCH` names another parent dir. */
  def tmpfsStreamScratch(spark: SparkSession): Unit = {
    val shm = new java.io.File("/dev/shm")
    sys.env.get("SPARK_GRAFT_STREAM_SCRATCH")
      .orElse(if (shm.isDirectory && shm.canWrite) Some(shm.getPath) else None)
      .foreach { d =>
        val runDir = java.nio.file.Paths.get(d,
          s"graft_stream_${java.lang.ProcessHandle.current.pid}")
        spark.conf.set("spark.graft.stream.scratchDir", runDir.toString)
        java.lang.Runtime.getRuntime.addShutdownHook(new Thread(() => {
          if (java.nio.file.Files.exists(runDir)) {
            val walk = java.nio.file.Files.walk(runDir)
            try walk.sorted(java.util.Comparator.reverseOrder())
              .forEach(f => java.nio.file.Files.deleteIfExists(f))
            finally walk.close()
          }
        }, "graft-stream-scratch-clean"))
      }
  }
}
