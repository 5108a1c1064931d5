package graft.perfbench

/** Order statistics for the reported timings. */
object Stats {

  /** Samples a percentile needs beyond it before a run may report it. */
  val MinTail = 10

  /** Nearest-rank percentile: the smallest sample with at least `q` of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Samples strictly above the nearest-rank `q` percentile's rank. */
  def beyond(n: Int, q: Double): Int = n - math.max(1, math.ceil(q * n).toInt)

  /** Fewest samples for which `q` has [[MinTail]] samples beyond it. */
  def samplesFor(q: Double): Int =
    Iterator.from(1).find(n => beyond(n, q) >= MinTail).get
}
