package perfbench

/** Order statistics for latency samples. */
object Stats {

  /** Percentile `p` (0-100) with linear interpolation between closest
    * ranks (numpy's default method).
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted.toIndexedSeq
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  def mean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    xs.sum / xs.size
  }

  /** The mean of `(class, value)` samples with each class weighted by
    * `weights` instead of by its count, over the classes that have samples.
    */
  def weightedMean(xs: Seq[(String, Double)], weights: Map[String, Double]): Double = {
    val byClass = xs.groupBy(_._1).toSeq.collect { case (c, vs) if weights.contains(c) =>
      weights(c) -> mean(vs.map(_._2))
    }
    require(byClass.nonEmpty, "no samples")
    byClass.map { case (w, m) => w * m }.sum / byClass.map(_._1).sum
  }
}
