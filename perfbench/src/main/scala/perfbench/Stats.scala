package perfbench

/** A timing summary: median, the highest standard percentile that leaves at
  * least [[Stats.TailBeyond]] samples above it, and the sample count. */
final case class Summary(n: Int, p50: Double, tailPct: Double, tail: Double)

object Stats {
  val TailBeyond = 10
  private val Percentiles = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0)

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(p: Double, n: Int): Int =
    math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)

  /** Nearest-rank percentile of `xs`. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    s(rank(p, s.size) - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** [[median]], or 0 for a layer the run recorded no samples of. */
  def medianOrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** The highest percentile in [[Percentiles]] with at least
    * [[TailBeyond]] samples beyond its rank; None when `n` is too small
    * for any of them. */
  def tailPercentile(n: Int): Option[Double] =
    Percentiles.find(p => n - rank(p, n) >= TailBeyond)

  /** Mean over kinds of each kind's median, for samples tagged with their
    * kind. The median of a mixed stream jumps between the kinds' clusters;
    * a per-kind median moves only when more than half of that kind's
    * samples do, so a stall that hits a few queries leaves it in place. */
  def mixMedian(xs: Seq[(String, Double)]): Double = {
    val meds = xs.groupBy(_._1).values.map(g => median(g.map(_._2))).toSeq
    meds.sum / meds.size
  }

  /** Median and tail of `xs`; the tail is NaN when there are too few
    * samples to leave ten beyond any listed percentile. */
  def summary(xs: Seq[Double]): Summary = {
    val tp = tailPercentile(xs.size)
    Summary(xs.size, if (xs.isEmpty) Double.NaN else median(xs),
      tp.getOrElse(Double.NaN),
      tp.map(percentile(xs, _)).getOrElse(Double.NaN))
  }
}
