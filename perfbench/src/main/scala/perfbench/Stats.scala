package perfbench

/** Timing summaries: a median plus the highest percentile the sample
  * supports, i.e. with at least ten samples beyond it.
  */
object Stats {

  /** Linear-interpolated quantile, `q` in [0, 1], of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val r = q * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Arithmetic mean; 0 for an empty sample (a layer that did no work). */
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** `tailPct` is the highest of 99/95/90/75/50 with at least ten samples
    * beyond it (0 when even the median has fewer); `p90` is reported
    * regardless, and `n` says how far to trust it.
    */
  final case class Summary(n: Int, p50: Double, p90: Double, tailPct: Int,
      tail: Double) {
    def describe(unit: String): String = {
      val t = if (tailPct > 0) f"p$tailPct=$tail%.4f" else "no percentile has 10 samples beyond it"
      f"n=$n p50=$p50%.4f p90=$p90%.4f $t ($unit)"
    }
  }

  val TailCandidates: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** The highest candidate percentile p with n·(1 − p/100) ≥ 10. */
  def supportedTail(n: Int): Int =
    TailCandidates.find(p => n * (100 - p) >= 1000).getOrElse(0)

  def summarize(xs: Seq[Double]): Summary = {
    val p = supportedTail(xs.size)
    Summary(xs.size, median(xs), quantile(xs, 0.9), p,
      if (p > 0) quantile(xs, p / 100.0) else Double.NaN)
  }
}
