package perfbench

/** Order statistics and interval arithmetic shared by the runner and the
  * tracer. */
object Stats {
  /** Samples that must lie strictly beyond a reported tail percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `p`-th percentile, defined only when at least
    * [[MinBeyond]] samples lie beyond it (so p90 needs 100 samples). */
  def tailPercentile(xs: Seq[Double], p: Double): Option[Double] = {
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt
    if (rank < 1 || s.size - rank < MinBeyond) None else Some(s(rank - 1))
  }

  /** Total length of the union of half-open intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children's intervals cover (children clipped to the span). */
  def selfTime(start: Double, end: Double, children: Seq[(Double, Double)]): Double =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end)) })
}
