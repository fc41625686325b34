package graftbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Samples that must lie strictly above a reported tail percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Nearest-rank percentile `p` (0 < p < 100), or None when fewer than
    * `minBeyond` samples lie above its rank: a tail figure resting on a
    * handful of samples is noise, so it is withheld rather than printed. */
  def percentile(xs: Seq[Double], p: Double,
                 minBeyond: Int = MinBeyond): Option[Double] = {
    require(p > 0 && p < 100, s"percentile must be in (0, 100), got $p")
    if (xs.isEmpty) return None
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.size).toInt)
    if (s.size - rank < minBeyond) None else Some(s(rank - 1))
  }

  /** The highest of p99, p95, p90 and p75 that `xs` can report, as
    * (percentile, value). */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    Seq(99, 95, 90, 75).iterator.flatMap(p => percentile(xs, p).map(p -> _)).nextOption()
}
