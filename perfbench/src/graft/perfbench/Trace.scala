package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

/** Spark work attributed to one span. Written only from the listener
  * bus thread and read after the bus has drained. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "cpu_ns" -> cpuNs,
    "gc_ms" -> gcMs, "sched_delay_ms" -> schedDelayMs,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "fetch_wait_ms" -> fetchWaitMs,
    "spill_bytes" -> spillBytes, "records_read" -> recordsRead,
    "bytes_written" -> bytesWritten)
}

/** One timed call into a layer. `build` is the call that returns the
  * DataFrame (eager loops inside it included), `plan` is physical
  * planning, `exec` the forcing action; an eager call that returns no
  * DataFrame is all `exec`. */
final class Span(
    val id: Int, val parent: Int, val layer: String, val name: String,
    val traced: Boolean) {
  var startNs = 0L
  var endNs = 0L
  var buildNs = 0L
  var planNs = 0L
  var execNs = 0L
  var error: Option[String] = None
  val counts = mutable.LinkedHashMap.empty[String, Double]
  val spark = new SparkWork

  def toMap(t0: Long): Map[String, Any] = Map(
    "id" -> id, "parent" -> parent, "layer" -> layer, "name" -> name,
    "traced" -> traced, "start_s" -> (startNs - t0) / 1e9,
    "end_s" -> (endNs - t0) / 1e9, "build_s" -> buildNs / 1e9,
    "plan_s" -> planNs / 1e9, "exec_s" -> execNs / 1e9,
    "error" -> error.orNull, "counts" -> counts.toMap,
    "spark" -> (if (traced) spark.toMap else null))
}

/** Spans around the benchmark's calls into each layer, plus a
  * SparkListener that attributes jobs, stages and task metrics to the
  * innermost open span through a local property set around the call.
  *
  * The listener is always registered, so both modes pay the same
  * event delivery; only while `tracing` is on does a span set the
  * property, so only then is Spark work attributed. A run that traces
  * can switch it off for alternate iterations to measure its own
  * overhead. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.Key

  @volatile var tracing = false
  private val all = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  @volatile private var taskCpu = 0L
  val t0: Long = System.nanoTime()

  sc.addSparkListener(this)

  def spans: Seq[Span] = all.toSeq
  /** The most recently opened span. */
  def last: Span = all.last
  /** Executor CPU of every task that has ended so far (drain first). */
  def taskCpuNs: Long = taskCpu

  /** Most tasks running at one instant: each task occupies a slot from
    * launch through deserialization, run and result serialization (an
    * end at the same millisecond as a launch frees the slot first). */
  def maxConcurrentTasks: Int = Tracer.maxOverlap(taskSpans.toSeq)

  /** Time `body` as a span of `layer`/`name`. A throw is recorded on
    * the span and rethrown. */
  def span[T](layer: String, name: String)(body: Span => T): T = {
    val s = new Span(all.size + 1, open.headOption.map(_.id).getOrElse(0),
      layer, name, tracing)
    all += s
    byId.put(s.id, s)
    val prev = sc.getLocalProperty(Key)
    if (s.traced) sc.setLocalProperty(Key, s.id.toString)
    open = s :: open
    s.startNs = System.nanoTime()
    try body(s)
    catch {
      case e: Throwable =>
        s.error = Some(Tracer.describe(e))
        throw e
    } finally {
      s.endNs = System.nanoTime()
      open = open.tail
      if (s.traced) sc.setLocalProperty(Key, prev)
    }
  }

  /** A call that returns a DataFrame, split into build, plan and exec. */
  def query[T](layer: String, name: String)(build: => DataFrame)(
      force: DataFrame => T): T =
    span(layer, name) { s =>
      val a = System.nanoTime()
      val df = build
      val b = System.nanoTime()
      df.queryExecution.executedPlan
      val c = System.nanoTime()
      val r = force(df)
      s.buildNs = b - a
      s.planNs = c - b
      s.execNs = System.nanoTime() - c
      r
    }

  /** An eager call (an action inside the program): all exec. */
  def call[T](layer: String, name: String)(body: => T): T =
    span(layer, name) { s =>
      val a = System.nanoTime()
      val r = body
      s.execNs = System.nanoTime() - a
      r
    }

  /** Wait until every event posted so far has reached this listener. */
  def drain(): Unit =
    org.apache.spark.GraftListenerBridge.waitUntilListenerBusEmpty(sc, 60000L)

  def close(): Unit = sc.removeSparkListener(this)

  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty(Key)))
      .map(id => byId.get(id.toInt)).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = spanOf(e.properties)
    if (s != null) {
      s.spark.jobs += 1
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, s))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stageSpan.get(e.stageInfo.stageId)
    if (s != null) s.spark.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (m != null) {
      taskCpu += m.executorCpuTime
      taskSpans += (e.taskInfo.launchTime -> (e.taskInfo.launchTime +
        m.executorDeserializeTime + m.executorRunTime + m.resultSerializationTime))
    }
    if (s != null && m != null) {
      val w = s.spark
      w.tasks += 1
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.schedDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
      w.recordsRead += m.inputMetrics.recordsRead
      w.bytesWritten += m.outputMetrics.bytesWritten
    }
  }
}

object Tracer {
  val Key = "perfbench.span"

  def maxOverlap(intervals: Seq[(Long, Long)]): Int =
    intervals.flatMap { case (a, b) => Seq((a, 1), (b, -1)) }
      .sortBy { case (t, d) => (t, d) }
      .scanLeft(0)(_ + _._2).max

  /** Exception class, message and the first program frame. */
  def describe(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val at = root.getStackTrace.find(_.getClassName.startsWith("graft."))
      .map(f => s" at ${f.getFileName}:${f.getLineNumber}").getOrElse("")
    (s"${root.getClass.getName}: ${Option(root.getMessage).getOrElse("")}" + at)
      .take(400)
  }
}
