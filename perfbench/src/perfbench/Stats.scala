package perfbench

/** Order statistics and the one-line JSON result. */
object Stats {
  /** Nearest-rank percentile (p in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    s(math.min(s.size - 1, math.max(0, rank - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The highest of p50/p75/p90/p95/p99 that leaves at least ten
    * samples above it, with that percentile and the sample count. A
    * sample too small for any of them reports p50.
    */
  final case class Tail(pct: Int, value: Double, samples: Int)

  def tail(xs: Seq[Double]): Tail = {
    val n = xs.size
    val pct = Seq(99, 95, 90, 75, 50).find(p => n - math.ceil(p / 100.0 * n) >= 10).getOrElse(50)
    Tail(pct, percentile(xs, pct), n)
  }
}

object Json {
  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  /** The result line: {"correct", "attempted", "failed", "metrics"}. */
  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""${esc(n)}": {"value": ${num(v)}, "unit": "${esc(u)}"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
