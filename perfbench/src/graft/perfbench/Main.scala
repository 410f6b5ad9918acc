package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** A workload: `setup` builds inputs and prebuilt state under a fresh
  * directory (called several times; the last call's state is used),
  * `measure` runs the timed loop, `probe` runs untimed checks of known
  * defects afterwards. */
trait Workload {
  def name: String
  def setup(dir: String): Unit
  /** Warm caches and compiled code once after the last set-up. */
  def warm(): Unit = ()
  def sizes: Map[String, Any]
  def measure(): Unit
  /** (what was tried, its failure) for each untimed probe. */
  def probe(): Seq[(String, Option[String])] = Nil
}

/** Runs one workload in one JVM and writes its raw record (spans, ops,
  * checks, failures, parallelism) as JSON for `perfbench/run.py`.
  *
  * {{{
  * Main --workload search_mix --seed 7 --seconds 10 --trace 0 \
  *   --work <dir> --out <file>
  * }}}
  */
object Main {
  val Cpus = 4
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/streaming")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try run(spark, opt, work, sessionS)
    finally spark.stop()
  }

  private def run(spark: SparkSession, opt: Map[String, String], work: String,
      sessionS: Double): Unit = {
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, opt("seed").toLong, opt("seconds").toDouble,
      traceMode = opt("trace") == "1")
    val w: Workload = opt("workload") match {
      case "bulk_index" => new BulkIndex(ctx)
      case "search_mix" => new SearchMix(ctx)
      case "curation_batch" => new CurationBatch(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = (1 to SetupReps).map { r =>
      val a = System.nanoTime()
      w.setup(ctx.dir(s"setup$r"))
      (System.nanoTime() - a) / 1e9
    }
    val w0 = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - w0) / 1e9
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    tracer.drain()
    val task0 = tracer.taskCpuNs
    val cpu0 = os.getProcessCpuTime
    val wall0 = System.nanoTime()
    ctx.startClock()
    w.measure()
    val measureS = (System.nanoTime() - wall0) / 1e9
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    tracer.drain()
    val taskCpuS = (tracer.taskCpuNs - task0) / 1e9
    tracer.tracing = ctx.traceMode
    val probes = w.probe()
    tracer.tracing = false
    tracer.drain()
    val record = Map(
      "workload" -> w.name,
      "seed" -> ctx.seed,
      "seconds" -> ctx.seconds,
      "trace" -> ctx.traceMode,
      "session_s" -> sessionS,
      "setup_rep_s" -> setupS,
      "warm_s" -> warmS,
      "measure_s" -> measureS,
      "process_cpu_s" -> cpuS,
      "task_cpu_s" -> taskCpuS,
      "peak_rss_mb" -> peakRssMb,
      "parallelism" -> Map(
        "cpus" -> Runtime.getRuntime.availableProcessors,
        "master" -> spark.sparkContext.master,
        "default_parallelism" -> spark.sparkContext.defaultParallelism,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
        "max_concurrent_tasks" -> tracer.maxConcurrentTasks),
      "sizes" -> w.sizes,
      "extra" -> ctx.info,
      "ops" -> ctx.ops.map(o => Map(
        "kind" -> o.kind, "start_s" -> (o.startNs - tracer.t0) / 1e9,
        "end_s" -> (o.endNs - tracer.t0) / 1e9, "traced" -> o.traced,
        "ok" -> o.ok, "units" -> o.units)),
      "spans" -> tracer.spans.map(_.toMap(tracer.t0)),
      "checks" -> ctx.checks.map { case (k, v) => k -> Map("ok" -> v(0), "bad" -> v(1)) },
      "failures" -> ctx.failures.map { case (k, v) => Map("op" -> k, "message" -> v) },
      "probes" -> probes.map { case (what, err) =>
        Map("probe" -> what, "failed" -> err.isDefined, "message" -> err.orNull) })
    tracer.close()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.writeValue(new java.io.File(opt("out")), toJava(record))
  }

  /** VmHWM of this process, in MB. */
  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case o: Option[_] => o.map(toJava).orNull
    case x => x
  }
}
