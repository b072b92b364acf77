package migbench

/** Order statistics for latency samples. */
object Stats {

  /** Samples a reported tail percentile must leave beyond it. */
  val TailBeyond = 10
  /** The smallest sample whose tail lies above its median. */
  val MinTailSamples = 2 * TailBeyond + 2

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(rank(s.length, p) - 1)
  }

  private def rank(n: Int, p: Int): Int = math.max(1, math.ceil(p * n / 100.0).toInt)

  /** The highest whole percentile with at least [[TailBeyond]] samples
    * strictly beyond its nearest rank, with its value; None when the
    * sample is too small to have one. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] =
    (99 to 1 by -1).find(p => xs.length - rank(xs.length, p) >= TailBeyond)
      .map(p => p -> percentile(xs, p))

  /** Relative change of the second half's median over the first half's,
    * in op order; 0 with fewer than two samples. */
  def drift(xs: Seq[Double]): Double =
    if (xs.length < 2) 0.0
    else {
      val (a, b) = xs.splitAt(xs.length / 2)
      median(b) / median(a) - 1
    }
}
