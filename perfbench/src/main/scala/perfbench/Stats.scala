package perfbench

/** Small numeric and output helpers. */
object Stats {
  /** Linear-interpolated percentile (the same rule as numpy's default);
    * `p` in [0, 100]. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den

  /** A metric as the result line carries it. */
  final case class Metric(name: String, value: Double, unit: String)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** The final result line: exactly `correct`, `attempted`, `failed` and
    * `metrics`. */
  def resultLine(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String = {
    val m = ms.map(x => s"${jsonString(x.name)}: {\"value\": ${num(x.value)}, \"unit\": ${jsonString(x.unit)}}")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}}"""
  }
}
