package perfbench

/** Order statistics for timings. A percentile is only reported when at
  * least ten samples lie beyond it; anything less would let one or two
  * stragglers set the number. */
object Stats {
  val MinBeyond = 10

  /** Nearest-rank percentile, `p` in (0, 1]. Refuses (throws) when fewer
    * than [[MinBeyond]] samples lie above the chosen rank, except for the
    * median, which needs only one sample. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 1, s"percentile $p out of (0, 1]")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p * s.length).toInt)
    if (p > 0.5 && s.length - rank < MinBeyond)
      throw new IllegalArgumentException(
        f"p${p * 100}%.0f of ${s.length} samples leaves ${s.length - rank} beyond it; need $MinBeyond")
    s(rank - 1)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** The highest percentile up to p95 that has at least ten samples beyond
    * it (p95 from 200 samples on); the maximum when no percentile above the
    * median has ten samples beyond it. */
  def tail(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val rank = math.min(math.ceil(0.95 * s.length).toInt, s.length - MinBeyond)
    if (rank <= math.ceil(0.5 * s.length).toInt) s.last else s(rank - 1)
  }
}
