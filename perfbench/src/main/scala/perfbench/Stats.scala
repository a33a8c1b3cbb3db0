package perfbench

import org.apache.commons.math3.special.Beta

/** Sample arithmetic shared by every workload. */
object Stats {

  /** Harrell-Davis estimate of the `p`-th percentile: a weighted mean of
    * every order statistic, with the weights a Beta(p(n+1), (1-p)(n+1))
    * distribution puts on each rank's share of [0, 1]. A run has only a few
    * dozen operations, so a nearest-rank p90 is one of the five slowest and
    * jumps between rows whose latencies lie far apart; this estimate moves
    * smoothly with all of the tail.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    val s = xs.sorted
    val n = s.size
    val (a, b) = (p / 100 * (n + 1), (1 - p / 100) * (n + 1))
    val cdf = (0 to n).map(i => Beta.regularizedBeta(i.toDouble / n, a, b))
    s.indices.map(i => s(i) * (cdf(i + 1) - cdf(i))).sum
  }

  /** Middle sample, or the mean of the two middle samples. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

/** One reported metric: its value, unit and how many samples it summarises. */
final case class Metric(value: Double, unit: String, n: Int)

/** Named sample series for one run, summarised into [[Metric]]s. */
final class Samples {
  private val series =
    scala.collection.mutable.LinkedHashMap.empty[String, (String, Vector[Double])]

  def add(name: String, unit: String, v: Double): Unit = {
    val (_, xs) = series.getOrElse(name, (unit, Vector.empty))
    series(name) = (unit, xs :+ v)
  }

  def median(name: String): Option[Metric] =
    series.get(name).filter(_._2.nonEmpty)
      .map { case (u, xs) => Metric(Stats.median(xs), u, xs.size) }
}
