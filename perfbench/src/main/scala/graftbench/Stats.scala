package graftbench

/** Order statistics for per-operation latencies. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0 < p <= 100) and the number of
    * samples strictly beyond its rank. */
  def percentile(xs: Seq[Double], p: Double): (Double, Int) = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    (s(rank - 1), s.size - rank)
  }

  final case class Tail(percentile: Double, value: Double, beyond: Int)

  val TailCandidates: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  /** The highest of [[TailCandidates]] with at least `minBeyond` samples
    * beyond it; None when even the median has fewer. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Option[Tail] =
    TailCandidates.iterator.map { p =>
      val (v, beyond) = percentile(xs, p)
      Tail(p, v, beyond)
    }.find(_.beyond >= minBeyond)
}
