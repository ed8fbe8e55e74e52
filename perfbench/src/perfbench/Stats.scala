package perfbench

/** Order statistics over raw samples. No histograms: a bucketed estimate
  * cannot resolve a change smaller than its bucket width.
  */
object Stats {

  /** Fewest samples that must lie strictly above a reported percentile. */
  val MinBeyond = 10

  /** 1-based nearest rank of quantile `q` among `n` samples. */
  def rank(n: Int, q: Double): Int = math.max(1, math.ceil(q * n - 1e-9).toInt)

  /** Samples above the nearest-rank `q` quantile. */
  def beyond(n: Int, q: Double): Int = n - rank(n, q)

  def supported(n: Int, q: Double): Boolean = beyond(n, q) >= MinBeyond

  /** Nearest-rank quantile of unsorted samples; NaN when there are none. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.toArray
      java.util.Arrays.sort(s)
      s(rank(s.length, q) - 1)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Duration of `[start, end)` not covered by any child interval. Children
    * are clipped to the parent and overlaps among them count once.
    */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    (end - start) - covered
  }
}
