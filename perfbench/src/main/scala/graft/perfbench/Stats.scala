package graft.perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile. Refuses a percentile that has fewer than
    * `minBeyond` samples above it: with too few, the figure is one or two
    * outliers, not a tail.
    */
  def percentile(xs: Seq[Double], p: Double, minBeyond: Int = 10): Double = {
    require(p > 0 && p < 100, s"percentile $p out of (0, 100)")
    val n = xs.size
    val rank = math.ceil(p / 100.0 * n).toInt
    require(n - rank >= minBeyond,
      s"p$p of $n samples has ${n - rank} beyond it; need $minBeyond")
    xs.sorted.apply(rank - 1)
  }

  /** Smallest sample count that `percentile(_, p, minBeyond)` accepts. */
  def samplesFor(p: Double, minBeyond: Int = 10): Int =
    Iterator.from(1).find(n => n - math.ceil(p / 100.0 * n).toInt >= minBeyond).get
}
