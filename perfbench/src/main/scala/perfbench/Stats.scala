package perfbench

/** Order statistics used by every metric. Percentiles are nearest-rank,
  * so a reported value is always one that was measured. */
object Stats {

  /** A percentile as reported: the level it was taken at, its value and
    * the number of samples it was taken from. */
  final case class Tail(level: Double, value: Double, samples: Int)

  /** The middle value, or the mean of the two middle values. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` ∈ (0, 1] of a non-empty sample, with
    * `p` taken in whole percent (integer rank arithmetic, no rounding
    * drift at p90 · 100 samples). */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val percent = math.round(p * 100).toInt
    s(math.max(0, (percent * s.size + 99) / 100 - 1))
  }

  /** The percentile rule: the highest level ≤ `want` (in whole percent)
    * that leaves at least `beyond` samples above the reported one, so a
    * tail figure is never the single worst draw. None when the sample has
    * too few values for any level. */
  def tail(xs: Seq[Double], want: Double, beyond: Int = 10): Option[Tail] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val percent = math.min(math.round(want * 100).toInt, 100 * (n - beyond) / n)
      if (percent <= 0) None else Some(Tail(percent / 100.0, pct(xs, percent / 100.0), n))
    }
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Geometric mean of positive values: each one weighs by its ratio, so
    * a fast query moves it as much as a slow one. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geometric mean of an empty or non-positive sample")
    math.exp(xs.map(math.log).sum / xs.size)
  }
}
