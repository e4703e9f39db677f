package perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail reading: the highest percentile with at least ten samples
    * beyond it, i.e. the (n-10)-th smallest of n samples (nearest rank).
    * Returns (value, percentile), or None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None
    else {
      val s = xs.sorted
      val k = s.size - 10
      Some((s(k - 1), 100.0 * k / s.size))
    }
}
