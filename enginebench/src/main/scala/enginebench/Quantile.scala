package enginebench

import org.apache.commons.math3.special.Beta

/** Harrell-Davis quantile estimator: a Beta-weighted mean of all order
  * statistics instead of a single one. A workload's latencies cluster
  * per query with gaps between queries, so a plain order statistic
  * jumps from one query's cluster to the next between runs; the
  * weighted mean moves smoothly.
  * (Harrell and Davis, "A new distribution-free quantile estimator",
  * Biometrika 69(3), 1982.) */
object Quantile {
  def harrellDavis(sorted: Seq[Double], p: Double): Double = {
    val n = sorted.size
    require(n > 0, "no samples")
    val a = p * (n + 1)
    val b = (1 - p) * (n + 1)
    var prev = 0.0
    sorted.zipWithIndex.map { case (x, i) =>
      val cur = Beta.regularizedBeta((i + 1).toDouble / n, a, b)
      val w = cur - prev
      prev = cur
      w * x
    }.sum
  }
}
