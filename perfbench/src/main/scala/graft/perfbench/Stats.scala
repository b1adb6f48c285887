package graft.perfbench

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it, as
    * (percentile, value); None with fewer than eleven samples. The value is
    * the sample at that rank, so exactly ten samples lie above it. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.length
    if (n < 11) None
    else {
      val s = xs.sorted
      val rank = n - 11 // zero-based; ten samples lie above this one
      Some((100.0 * (rank + 1) / n, s(rank)))
    }
  }

  /** Peak resident set size of this process, in MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
