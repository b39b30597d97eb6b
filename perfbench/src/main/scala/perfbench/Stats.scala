package perfbench

/** Order statistics reported by the benchmark. Every percentile carries the
  * sample count it was taken from, so a p90 over 12 samples is never read
  * as if it came from 12 000. */
object Stats {

  /** A percentile together with its sample count and the number of samples
    * strictly above the percentile's rank (the tail that supports it). */
  final case class Pct(p: Double, value: Double, n: Int, beyond: Int)

  /** Percentile by linear interpolation between closest ranks (the same
    * definition as numpy's default and Python's `statistics.quantiles`
    * with method="inclusive"). */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p >= 0 && p <= 100, s"percentile $p outside [0, 100]")
    val s = xs.sorted.toArray
    val rank = p / 100.0 * (s.length - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.length - 1)
    val v = s(lo) + (s(hi) - s(lo)) * (rank - lo)
    Pct(p, v, s.length, s.length - 1 - math.ceil(rank).toInt)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50).value
}
