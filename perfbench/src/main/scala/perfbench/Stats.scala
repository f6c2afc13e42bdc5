package perfbench

/** Order statistics for the benchmark's timings.
  *
  * A percentile is nearest-rank: p of n sorted samples is the sample at
  * 1-based rank ceil(p·n/100). The reported tail is the highest whole
  * percentile, at most [[TailCap]], that leaves at least [[MinBeyond]]
  * samples ranked above it; with too few samples for even the median to
  * qualify, the tail falls back to the median and is flagged as such.
  */
object Stats {
  val TailCap = 90
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty && p > 0 && p <= 100, s"percentile $p of ${xs.length} samples")
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  private def rank(n: Int, p: Int): Int = math.max(1, math.ceil(p * n / 100.0 - 1e-9).toInt)

  /** Samples ranked strictly above percentile p of n. */
  def beyond(n: Int, p: Int): Int = n - rank(n, p)

  /** The highest percentile ≤ cap with at least `minBeyond` samples
    * beyond it; None when no percentile qualifies.
    */
  def tailPercentile(n: Int, cap: Int = TailCap, minBeyond: Int = MinBeyond): Option[Int] =
    (cap to 1 by -1).find(p => beyond(n, p) >= minBeyond)

  /** (value, percentile used) of the reported tail: the supported
    * percentile when it is at least the median, else the median (p50).
    */
  def tail(xs: Seq[Double]): (Double, Int) =
    tailPercentile(xs.length).filter(_ >= 50) match {
      case Some(p) => (percentile(xs, p), p)
      case None => (median(xs), 50)
    }
}
