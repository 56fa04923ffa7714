package perfbench

/** The benchmark's arithmetic, kept free of Spark so its own tests can
  * pin it: percentiles, rates, span self time and the failure share. */
object Stats {

  /** Nearest-rank percentile (`p` in 0..100) of the samples. */
  def percentile(samples: Seq[Double], p: Double): Double = {
    require(samples.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile must be in (0, 100], got $p")
    val sorted = samples.sorted
    val rank = math.ceil(p / 100.0 * sorted.size).toInt
    sorted(math.max(1, rank) - 1)
  }

  /** Median; the mean of the two middle samples for an even count. */
  def median(samples: Seq[Double]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val s = samples.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Count of samples ranked after percentile `p` (ties ignored), i.e.
    * how many samples the nearest-rank rule leaves above the cut. */
  def rankedBeyond(n: Int, p: Double): Int = {
    require(n > 0, "no samples")
    n - math.max(1, math.ceil(p / 100.0 * n).toInt)
  }

  /** Megabytes (10^6 bytes) per second. */
  def mbPerSec(bytes: Long, seconds: Double): Double = {
    require(seconds > 0, s"rate over a non-positive time: $seconds")
    bytes / 1e6 / seconds
  }

  /** Operations that failed or gave wrong output ÷ operations attempted. */
  def errorRate(attempted: Int, failed: Int): Double = {
    require(attempted > 0, "error rate of no operations")
    require(failed >= 0 && failed <= attempted, s"failed=$failed of attempted=$attempted")
    failed.toDouble / attempted
  }

  /** Share of all CPU time the hypervisor stole between two
    * `(steal, total)` readings of the host's CPU counters. */
  def stealShare(before: (Long, Long), after: (Long, Long)): Double = {
    val total = after._2 - before._2
    if (total <= 0) 0.0 else (after._1 - before._1).toDouble / total
  }

  /** A wall time with the stolen share of the CPUs taken out: what the
    * interval would have lasted had the guest kept its CPUs. */
  def unstolen(seconds: Double, stealShare: Double): Double = {
    require(stealShare >= 0 && stealShare < 1, s"steal share must be in [0, 1), got $stealShare")
    seconds * (1 - stealShare)
  }

  /** Length of the union of half-open intervals [start, end). */
  def coveredLength(intervals: Seq[(Long, Long)]): Long = {
    val sorted = intervals.filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    sorted.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of a span: its duration minus the part of its interval
    * that its children cover (children clipped to the parent). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long = {
    val clipped = children.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - coveredLength(clipped)
  }
}
