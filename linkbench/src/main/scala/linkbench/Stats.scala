package linkbench

/** Summary statistics used for every reported timing. */
object Stats {

  /** First, second and third quartile by the same rule as Python's
    * `statistics.quantiles(xs, n=4)` (method "exclusive"), so the
    * numbers in a result record match what the A/B script computes. A
    * single sample is its own quartiles. */
  def quartiles(xs: Seq[Double]): (Double, Double, Double) = {
    require(xs.nonEmpty, "no samples")
    val d = xs.sorted.toIndexedSeq
    val n = d.length
    if (n == 1) return (d(0), d(0), d(0))
    val m = n + 1
    def q(i: Int): Double = {
      val j = math.min(math.max(i * m / 4, 1), n - 1)
      val delta = i * m - j * 4
      (d(j - 1) * (4 - delta) + d(j) * delta) / 4.0
    }
    (q(1), q(2), q(3))
  }

  def median(xs: Seq[Double]): Double = quartiles(xs)._2

  /** Progressive recall (PGR): the area under the recall curve sampled
    * at the checkpoints, normalized by the area an ideal linker would
    * reach, one that verifies every qualifying pair first and so has
    * found min(rank, total) of them by each checkpoint. 1.0 is an
    * ideal ordering; 0.0 finds nothing. `checkpoints` holds
    * (rank, qualifying pairs found up to that rank). */
  def pgr(checkpoints: Seq[(Long, Long)], totalQualifying: Long): Double = {
    val ideal = checkpoints.map { case (rank, _) => math.min(rank, totalQualifying) }.sum
    if (ideal == 0) 0.0 else checkpoints.map(_._2).sum.toDouble / ideal
  }
}
