package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One operation of a workload's timed loop: a request, a write call
  * or a pipeline run. `units` is its work in the workload's unit
  * (rows written, requests, documents). */
final case class Op(
    kind: String, startNs: Long, endNs: Long, traced: Boolean,
    ok: Boolean, units: Long)

/** What a workload runs against: the session, the tracer, its own
  * working directory, the seeded generator and the failure ledger.
  * With `traceMode` on, tracing alternates per operation kind so one
  * run yields traced spans and an untraced control for its overhead. */
final class Ctx(
    val spark: SparkSession,
    val tracer: Tracer,
    val work: String,
    val seed: Long,
    val seconds: Double,
    val traceMode: Boolean) {

  val rng = new java.util.SplittableRandom(seed)
  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val checks = mutable.LinkedHashMap.empty[String, Array[Long]]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private val kindCount = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var wrong = false
  private var deadlineNs = Long.MaxValue

  def startClock(): Unit =
    deadlineNs = System.nanoTime() + (seconds * 1e9).toLong
  def timeLeft: Boolean = System.nanoTime() < deadlineNs

  /** A correctness check. A failed one inside [[op]] fails that op. */
  def check(name: String, ok: Boolean, detail: => String): Boolean = {
    val c = checks.getOrElseUpdate(name, Array(0L, 0L))
    if (ok) c(0) += 1
    else {
      c(1) += 1
      wrong = true
      if (failures.size < 20) failures += (name -> detail.take(400))
    }
    ok
  }

  /** Run one timed operation; a throw or a failed check counts it
    * failed. `verify` checks the result outside the timed interval. */
  def op[T](kind: String, units: Long)(body: => T)(
      verify: T => Unit = (_: T) => ()): Option[T] = {
    val traced = traceMode && kindCount(kind) % 2 == 0
    tracer.tracing = traced
    kindCount(kind) += 1
    wrong = false
    val a = System.nanoTime()
    var b = a
    val r =
      try {
        val v = body
        b = System.nanoTime()
        tracer.tracing = false
        verify(v)
        Some(v)
      } catch {
        case e: Exception =>
          if (b == a) b = System.nanoTime()
          if (failures.size < 20) failures += (kind -> Tracer.describe(e))
          None
      }
    tracer.tracing = false
    ops += Op(kind, a, b, traced, r.isDefined && !wrong, units)
    r
  }

  def dir(name: String): String = s"$work/$name"
}
