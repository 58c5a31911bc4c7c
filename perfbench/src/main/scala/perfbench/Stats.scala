package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the value at rank ceil(p/100 · n). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(1, math.ceil(p / 100 * s.size).toInt) - 1)
  }

  /** The tail: (percentile, value, samples beyond it) for the highest
    * percentile on the ladder that still has at least `minBeyond` samples
    * above its nearest rank; None below 2 · minBeyond samples. */
  val ladder: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double, Int)] =
    if (xs.size < 2 * minBeyond) None
    else ladder.iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100 * xs.size).toInt)
      (p, percentile(xs, p), xs.size - rank)
    }.find(_._3 >= minBeyond)
}
