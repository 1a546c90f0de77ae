package perfbench

/** Order statistics over one run's samples. */
object Stats {
  /** Linear-interpolated percentile, `p` in [0, 100]. */
  def pct(xs: scala.collection.Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: scala.collection.Seq[Double]): Double = pct(xs, 50)

  /** The highest of p50/p90/p95/p99 that still has at least ten samples
    * above it, or None when there are fewer than twenty samples. */
  def tail(xs: scala.collection.Seq[Double]): Option[(String, Double)] =
    Seq(99.0, 95.0, 90.0, 50.0).find(p => xs.size * (100 - p) / 100 >= 10)
      .map(p => (s"p${p.toInt}", pct(xs, p)))

  /** `{n, p50, tail}` summary of a latency sample, for the report. */
  def summary(xs: scala.collection.Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else Map("n" -> xs.size, "p50" -> median(xs)) ++
      tail(xs).filter(_._1 != "p50").map { case (k, v) => k -> v }
}
