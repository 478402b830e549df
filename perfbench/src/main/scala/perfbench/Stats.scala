package perfbench

/** Small statistics helpers shared by the workloads and the self-test. */
object Stats {

  /** Linear-interpolated percentile (numpy's default), q in [0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Percentiles the tail metric may report, highest first. */
  val TailLadder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9, 0.75, 0.5)

  /** The highest ladder percentile with at least `beyond` samples
    * strictly above its rank, so the tail figure always rests on that
    * many observations. Falls back to the median for tiny samples. */
  def tailPercentile(n: Int, beyond: Int = 10): Double =
    TailLadder.find(q => n - math.ceil(q * n) >= beyond).getOrElse(0.5)

  final case class Tail(value: Double, percentile: Double, samples: Int, beyond: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    val q = tailPercentile(xs.size, beyond)
    Tail(percentile(xs, q), q, xs.size, xs.size - math.ceil(q * xs.size).toInt)
  }

  /** Total length covered by the union of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(iv => iv._2 > iv._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    covered
  }

  /** Wall time of [t0, t1) during which no interval was active. */
  def gap(t0: Long, t1: Long, intervals: Seq[(Long, Long)]): Long =
    (t1 - t0) - unionLength(intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) })
}
