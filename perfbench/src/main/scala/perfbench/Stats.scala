package perfbench

/** Order statistics of latency samples. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Quantile `p` of weighted samples, interpolated: each sample sits at
    * the middle of its share of the cumulative weight, and the quantile is
    * read off linearly between the two samples around `p` (with equal
    * weights, the median of an even count is the mean of the middle two).
    * When whole modes of a mix make up exactly `p` of the weight (two of
    * four equally weighted top-k modes, for the median), the quantile then
    * lies between the two modes instead of jumping from one to the other
    * with rounding. */
  def weighted(xs: Seq[(Double, Double)], p: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sortBy(_._1).toIndexedSeq
    val total = s.map(_._2).sum
    val pos = s.map(_._2).scanLeft(0.0)(_ + _).sliding(2).map(c => (c(0) + c(1)) / 2 / total).toIndexedSeq
    val i = pos.indexWhere(_ >= p)
    if (i == 0) s.head._1
    else if (i < 0) s.last._1
    else s(i - 1)._1 + (s(i)._1 - s(i - 1)._1) * (p - pos(i - 1)) / (pos(i) - pos(i - 1))
  }

  /** Latency samples of a mix of operation kinds, each kind weighted by its
    * share of the specified mix, so how many of each kind one run happened
    * to draw does not move the percentiles. */
  def mixWeights[A](samples: Seq[A], kind: A => String, share: Map[String, Double]): Seq[Double] = {
    val counts = samples.groupBy(kind).map { case (k, xs) => k -> xs.size }
    samples.map(x => share.getOrElse(kind(x), 0.0) / counts(kind(x)))
  }
}
