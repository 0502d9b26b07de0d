package graft.perfbench

/** Order statistics the benchmark reports. Every timing is a median plus a
  * tail; the tail is the highest percentile on a fixed ladder that still
  * has at least [[MinBeyond]] samples above it, so a tail is never read off
  * a handful of samples and two runs with similar sample counts report the
  * same percentile. */
object Stats {
  val MinBeyond = 10
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  final case class Tail(pct: Double, value: Double, n: Int)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.length / 2
    if (s.length % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2.0
  }

  /** Nearest-rank percentile position (1-based) of `pct` in `n` samples. */
  def rank(pct: Double, n: Int): Int = math.max(1, math.ceil(pct / 100.0 * n - 1e-9).toInt)

  /** The tail of `xs`, or None when even the median has fewer than
    * [[MinBeyond]] samples above it (fewer than 20 samples). */
  def tail(xs: Seq[Double]): Option[Tail] = {
    val s = xs.sorted
    val n = s.length
    TailLadder.find(p => n - rank(p, n) >= MinBeyond).map(p => Tail(p, s(rank(p, n) - 1), n))
  }

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), s"geomean needs positive samples: $xs")
    math.exp(xs.map(math.log).sum / xs.length)
  }
}
