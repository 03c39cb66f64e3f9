package graftbench

/** Order statistics for the result line. `tail` is the highest of the
  * listed percentiles that still has at least ten samples above it, so
  * a short run reports p90 rather than a p99 resting on one sample. */
object Stats {
  private val TailPcts = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    // nearest-rank
    val rank = math.ceil(p / 100.0 * s.length).toInt.max(1).min(s.length)
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50.0)

  /** (percentile used, value). Falls back to the maximum when even the
    * median lacks ten samples beyond it. */
  def tail(xs: Seq[Double]): (Double, Double) =
    TailPcts.find(p => xs.length * (1.0 - p / 100.0) >= 10.0) match {
      case Some(p) => (p, pct(xs, p))
      case None => (100.0, xs.max)
    }
}
