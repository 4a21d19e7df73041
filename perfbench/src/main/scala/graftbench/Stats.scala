package graftbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Linear-interpolated quantile (`q` in [0, 1]) of unsorted samples. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** A tail: the highest percentile that still has at least ten samples
    * beyond it. With `n` samples that is the value with exactly ten larger
    * ranks above it, at percentile `100 * (n - 10) / n`. */
  final case class Tail(percentile: Double, value: Double, samples: Int)

  val TailSamplesBeyond = 10

  /** None when fewer than `TailSamplesBeyond + 1` samples exist. */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    if (n <= TailSamplesBeyond) None
    else {
      val s = xs.sorted
      Some(Tail(100.0 * (n - TailSamplesBeyond) / n, s(n - TailSamplesBeyond - 1), n))
    }
  }
}
