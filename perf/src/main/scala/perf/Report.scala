package perf

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Order statistics over latency samples. */
object Stats {
  /** Nearest-rank percentile, `p` in (0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p * s.length).toInt - 1))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.length

  /** The highest whole percentile with at least ten samples above it, or
    * None below twenty samples (where only the median is supported). */
  def tailPct(n: Int): Option[Int] = {
    val p = math.floor(100.0 * (n - 10) / n).toInt
    if (n < 20) None else Some(math.min(99, p))
  }
}

/** The run's outcome: attempts and named failures, the end-to-end and
  * per-layer metrics, and a human-readable report of the metrics under
  * the names the workload defines them by. */
final class Report(val workload: String) {
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer[String]()
  val endToEnd = LinkedHashMap[String, (Double, String)]()
  val perLayer = LinkedHashMap[String, (Double, String)]()
  val lines = ArrayBuffer[String]()

  /** Count one operation; it fails if it threw or any of `misses` is set. */
  def op(misses: Seq[String]): Unit = {
    attempted += 1
    if (misses.nonEmpty) {
      failed += 1
      if (failures.length < 50) failures ++= misses
    }
  }

  def e2e(name: String, value: Double, unit: String): Unit =
    endToEnd(name) = (value, unit)

  def layer(name: String, value: Double, unit: String): Unit =
    perLayer(name) = (value, unit)

  /** A report line: the workload's own name for a metric, with its unit
    * and sample count. */
  def say(name: String, value: Double, unit: String, n: Int = -1): Unit =
    lines += (f"$name%-26s $value%14.4f $unit" + (if (n >= 0) s"  (n=$n)" else ""))

  /** Latency samples under their workload name: median, plus the highest
    * percentile the sample count supports. */
  def latency(name: String, xs: Seq[Double]): Unit = {
    say(s"${name}_p50_ms", Stats.median(xs), "ms", xs.length)
    Stats.tailPct(xs.length).foreach(p =>
      say(s"${name}_p${p}_ms", Stats.pct(xs, p / 100.0), "ms", xs.length))
  }

  def correct: Boolean = failed == 0 && attempted > 0

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** The final JSON line: `metrics` holds the end-to-end set, or the
    * per-layer set for a traced run. */
  def json(traced: Boolean): String = {
    val ms = (if (traced) perLayer else endToEnd).map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
