package yamonbench

/** Order statistics for the benchmark's records.
  *
  * Percentiles use the nearest-rank definition on the sorted samples. A
  * tail percentile is only as good as the samples beyond it, so
  * [[percentile]] refuses to report one with fewer than [[minBeyond]]
  * samples on its far side; a run that needs such a number must measure
  * more, not quote a noisy extreme.
  */
object Stats {

  val minBeyond = 10

  final class TooFewSamples(msg: String) extends IllegalArgumentException(msg)

  /** Samples strictly beyond the `p`-th percentile (0 < p < 100) in `n`. */
  def beyond(n: Int, p: Double): Int = {
    val rank = math.ceil(p / 100.0 * n).toInt
    n - math.max(rank, 1)
  }

  /** Nearest-rank `p`-th percentile of `xs`; refuses when fewer than
    * [[minBeyond]] samples lie beyond it (on the larger side for p ≥ 50,
    * the smaller side below).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    val n = xs.size
    val far = if (p >= 50) beyond(n, p) else beyond(n, 100 - p)
    if (far < minBeyond)
      throw new TooFewSamples(
        s"p$p of $n samples has $far beyond it; at least $minBeyond needed")
    val s = xs.sorted
    s(math.max(math.ceil(p / 100.0 * n).toInt, 1) - 1)
  }

  /** Median (mean of the middle pair for even counts). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Quartiles as Python's `statistics.quantiles(xs, n=4)` (exclusive
    * method) gives them: (q1, median, q3). Needs two samples.
    */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.size >= 2, "quartiles need two samples")
    val s = xs.sorted
    val n = s.size
    def q(j: Int): Double = {
      val m = n + 1
      val idx = j * m / 4
      val frac = (j * m % 4).toDouble / 4
      val lo = math.min(math.max(idx - 1, 0), n - 1)
      val hi = math.min(idx, n - 1)
      if (idx < 1) s(0) else s(lo) + (s(hi) - s(lo)) * frac
    }
    (q(1), median(s), q(3))
  }

  /** Record form of a sample set: median, quartiles and count. */
  def summary(xs: Seq[Double]): Json.Obj = {
    val base = Seq("n" -> Json.Num(xs.size.toDouble))
    if (xs.isEmpty) Json.Obj(base)
    else if (xs.size == 1) Json.Obj(base :+ ("median" -> Json.Num(xs.head)))
    else {
      val (q1, med, q3) = quartiles(xs)
      Json.Obj(base ++ Seq("median" -> Json.Num(med), "q1" -> Json.Num(q1),
        "q3" -> Json.Num(q3)))
    }
  }
}
