package abrbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolated percentile (the "R7" definition numpy and
    * Python's `statistics.quantiles(method="inclusive")` share).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p out of range")
    val s = xs.sorted.toIndexedSeq
    val r = (s.size - 1) * p / 100.0
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Highest of the given percentiles that leaves at least `beyond`
    * samples above it, or None when even the lowest does not.
    */
  def tail(xs: Seq[Double], candidates: Seq[Double] = Seq(99, 95, 90),
           beyond: Int = 10): Option[(Double, Double)] =
    candidates.sorted.reverse
      .find(p => xs.size * (100 - p) / 100.0 >= beyond)
      .map(p => p -> percentile(xs, p))
}
