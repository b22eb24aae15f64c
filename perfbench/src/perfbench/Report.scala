package perfbench

import java.util.Locale

import scala.collection.mutable.ArrayBuffer

/** Op accounting for one kind of op. A throw, a cap overrun or a
  * result the oracle rejects counts as a failure and adds no latency
  * sample; only checked-correct ops add samples. */
final class Recorder(val name: String) {
  val latMs = ArrayBuffer[Double]()
  var attempted = 0
  var failed = 0
  var items = 0L
  var busyMs = 0.0
  val errors = ArrayBuffer[String]()

  /** Times `op`, then checks its value with `check` (None = correct,
    * Some(reason) = wrong). Returns the op's value whenever it
    * completed, correct or not. */
  def run[T](items: Int)(op: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val out =
      try Right(op)
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    val ms = (System.nanoTime() - t0) / 1e6
    val verdict = out.fold(err => Some(err), v =>
      try check(v) catch { case e: Throwable => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}") })
    verdict match {
      case None =>
        latMs += ms; busyMs += ms; this.items += items
        out.toOption
      case Some(err) =>
        failed += 1
        if (errors.length < 5) errors += err
        out.toOption
    }
  }

  def p(q: Double): Double = Stats.percentile(latMs.toSeq, q)

  /** Items per second of busy time; NaN without a correct op. */
  def rate: Double = if (busyMs > 0) items / (busyMs / 1000.0) else Double.NaN
}

object Stats {
  /** Linear-interpolated percentile; NaN on an empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}

/** JSON text with locale-free numbers. A non-finite value is written
  * as `null` with an `error` beside it, never as a sentinel number. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append("\\u%04x".formatLocal(Locale.ROOT, c.toInt))
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Full-precision, locale-independent number text. */
  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) java.lang.Long.toString(v.toLong)
    else java.lang.Double.toString(v)

  def metric(value: Double, unit: String): String =
    if (value.isNaN || value.isInfinite)
      s"""{"value": null, "unit": ${str(unit)}, "error": ${str(s"non-finite value ($value)")}}"""
    else s"""{"value": ${num(value)}, "unit": ${str(unit)}}"""

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) => s"${str(n)}: ${metric(v, u)}" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Human-readable lines printed before the final JSON line. */
object Table {
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else String.format(Locale.ROOT, "%.4f", Double.box(v))

  def line(name: String, v: Double, unit: String, note: String = ""): String =
    String.format(Locale.ROOT, "  %-28s %16s %-6s %s", name, fmt(v), unit, note)
}
