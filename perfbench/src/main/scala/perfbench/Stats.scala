package perfbench

/** Order statistics used for every reported timing. */
object Stats {
  /** Linear-interpolated quantile (numpy's default), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    if (pos == lo) s(lo) // a failed operation's +inf must not turn 0 * inf into NaN
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The median latency of each operation kind, combined as their
    * geometric mean. Each kind weighs alike whatever its length, and the
    * figure rests on every sample: the plain median of a mix of unlike
    * operations falls in the gap between two of them and moves with the
    * one or two samples that straddle it. With one kind it is the median. */
  def kindMedianGmean(ops: Seq[(String, Double)]): Double = {
    require(ops.nonEmpty, "no operations")
    val logs = ops.groupBy(_._1).values.map(k => math.log(median(k.map(_._2)))).toSeq
    math.exp(logs.sum / logs.size)
  }

  /** The `q` quantile only when at least ten samples lie beyond it, so a
    * tail percentile never rests on a handful of values: p90 needs 100
    * samples. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.size * (1 - q) + 1e-9 >= 10) Some(quantile(xs, q)) else None
}
