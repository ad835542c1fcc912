package perfbench

/** Order statistics with the benchmark's reporting rules. */
object Stats {
  /** Linear-interpolated quantile (the "inclusive" definition). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The median, or None without samples (every op failed). */
  def medianOption(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None else Some(median(xs))

  /** Minimum samples that must lie strictly above a reported p90. */
  val TailSamples = 10

  /** p90, reported only when at least [[TailSamples]] samples lie beyond
    * it; with fewer, the tail is too thin to be a percentile.
    */
  def p90(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val v = quantile(xs, 0.9)
      if (xs.count(_ > v) >= TailSamples) Some(v) else None
    }

  /** How late each invocation was issued: start minus due, never
    * negative (an invocation is never issued early).
    */
  def lateness(due: Seq[Double], issued: Seq[Double]): Seq[Double] = {
    require(due.size == issued.size, "one issue time per due time")
    due.zip(issued).map { case (d, i) => math.max(0.0, i - d) }
  }

  /** Latency of an open-loop invocation: completion minus due time, so
    * time spent waiting behind a running invocation counts.
    */
  def latencies(due: Seq[Double], done: Seq[Double]): Seq[Double] =
    due.zip(done).map { case (d, c) => c - d }

  /** Whether a backlog grows across a segment: the second half's median
    * lateness exceeds the first half's by more than `slackS`.
    */
  def backlogGrows(late: Seq[Double], slackS: Double): Boolean =
    late.size >= 4 && {
      val (a, b) = late.splitAt(late.size / 2)
      median(b) - median(a) > slackS
    }
}
