package perfbench

/** Order statistics used for every reported timing. */
object Stats {

  /** Nearest-rank percentile (`p` in 0..100) of a non-empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 100, s"percentile $p outside 0..100")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.length).toInt
    s(math.max(0, math.min(s.length - 1, rank - 1)))
  }

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Samples strictly above the nearest-rank `p` percentile. */
  def beyond(n: Int, p: Double): Int = n - math.ceil(p / 100.0 * n).toInt

  /** Percentiles a tail metric may report, highest first. */
  private val TailLadder = Seq(99.9, 99, 95, 90, 75, 50)
  /** Samples a tail percentile must leave beyond it. */
  private val TailMinBeyond = 10

  /** The highest of [[TailLadder]] that leaves at least [[TailMinBeyond]]
    * samples beyond it in a sample of `n`, or None when even p50 does not. */
  def tailPercentile(n: Int): Option[Double] =
    TailLadder.find(p => beyond(n, p) >= TailMinBeyond)

  /** Length of the union of `[start, end)` intervals clipped to
    * `[lo, hi)`. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of a lazy layer measured by materializing it and, apart,
    * the input it consumes: the difference, never below zero. */
  def layerSelf(withInput: Double, inputAlone: Double): Double =
    math.max(0.0, withInput - inputAlone)
}
