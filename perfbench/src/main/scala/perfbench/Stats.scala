package perfbench

/** Summary statistics used by every workload. */
object Stats {

  /** Percentiles are reported only when at least this many samples lie
    * beyond them; with fewer, the tail value is one or two samples and
    * moves from run to run on noise alone. */
  val MinSamplesBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Number of samples ranked strictly above the q-quantile of n. */
  def samplesBeyond(n: Int, q: Double): Int = n - math.ceil(q * n).toInt

  /** The q-quantile (0 < q < 1, linear interpolation between closest
    * ranks), or None when fewer than [[MinSamplesBeyond]] samples lie
    * beyond it. */
  def percentile(xs: Seq[Double], q: Double): Option[Double] = {
    require(q > 0 && q < 1, s"quantile must be in (0, 1), got $q")
    if (samplesBeyond(xs.size, q) < MinSamplesBeyond) None
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      Some(s(lo) + (s(hi) - s(lo)) * (pos - lo))
    }
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
