package graft.perfbench

/** Order statistics the report uses. */
object Stats {

  /** The percentile actually reported for a requested `p` over `n`
    * samples: the highest percentile that still has at least 10 samples
    * beyond it, capped at `p` and never below the median. With 36 samples
    * a requested p90 becomes p72; with 20 or fewer it is the median. */
  def effectivePercentile(p: Double, n: Int): Double = {
    val cap = if (n <= 0) 0.0 else 100.0 * (n - 10) / n
    math.max(50.0, math.min(p, cap))
  }

  /** Linear-interpolated percentile (numpy's default rule). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = p / 100.0 * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** `percentile` at the effective rank for `p`. */
  def reported(xs: Seq[Double], p: Double): Double =
    percentile(xs, effectivePercentile(p, xs.size))

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Geometric mean: every operation's relative change counts alike,
    * however long the operation (TPC-H's power metric uses it too). */
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
