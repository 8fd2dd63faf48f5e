package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** The `q`-th percentile (0 < q < 100) of `xs`, by the nearest-rank
    * rule. Refuses a percentile with fewer than 10 samples beyond it:
    * a tail figure resting on a handful of samples is noise, so the
    * caller must measure more or report a lower percentile. The median
    * needs at least one sample. */
  def percentile(xs: Array[Double], q: Double): Double = {
    require(q > 0 && q < 100, s"percentile $q outside (0, 100)")
    require(xs.nonEmpty, "percentile of no samples")
    val sorted = xs.sorted
    val n = sorted.length
    val rank = math.max(1, math.ceil(q / 100.0 * n).toInt)
    if (q > 50) {
      val beyond = n - rank
      require(beyond >= 10,
        f"p$q%.0f of $n samples has $beyond beyond it; at least 10 are needed")
    }
    sorted(rank - 1)
  }

  /** The highest of p99, p95, p90 and p75 that has at least 10
    * samples beyond it, with the sample count. */
  def tail(xs: Array[Double]): Map[String, Double] =
    Seq(99, 95, 90, 75).find(q => xs.length - math.ceil(q / 100.0 * xs.length) >= 10) match {
      case Some(q) => Map(s"p$q" -> percentile(xs, q), "n" -> xs.length.toDouble)
      case None => Map("n" -> xs.length.toDouble)
    }

  def median(xs: Array[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Size of the union of `[start, end)` intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
