package perfbench

/** Percentiles as the benchmark reports them. */
object Stats {

  /** Nearest-rank percentile (q in (0, 1]) of a non-empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Median, or 0 for a layer the workload never reached. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Candidate tail percentiles, highest first. */
  val TailLadder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** Samples strictly above the nearest-rank position of `q`. */
  def beyond(n: Int, q: Double): Int =
    n - math.max(1, math.ceil(q * n).toInt)

  /** The highest percentile of [[TailLadder]] that has at least `minBeyond`
    * samples beyond it, with its value; None when even the median lacks
    * them. A tail read from fewer samples is one or two outliers, not a
    * percentile. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[(Double, Double)] =
    TailLadder.find(q => beyond(xs.size, q) >= minBeyond)
      .map(q => q -> percentile(xs, q))

  /** Label for a percentile: 0.95 -> "p95", 0.999 -> "p99.9". */
  def label(q: Double): String = {
    val p = BigDecimal(q * 100).setScale(1, BigDecimal.RoundingMode.HALF_UP)
    "p" + (if (p.isWhole) p.toInt.toString else p.toString)
  }

  /** Timing summary: p50, the supported tail, and the sample count. */
  def summary(xs: Seq[Double]): Map[String, Any] =
    if (xs.isEmpty) Map("n" -> 0)
    else {
      val t = tail(xs)
      Map("n" -> xs.size, "p50" -> median(xs),
        "tail_q" -> t.map(x => label(x._1)), "tail" -> t.map(_._2),
        "max" -> xs.max)
    }
}
