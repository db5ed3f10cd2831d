package perfbench

/** The benchmark's own metric arithmetic, kept free of Spark so it can be
  * tested on hand-made inputs. */
object Stats {

  /** Linear-interpolation quantile (`q` in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile, no higher than `cap`, that still has at least
    * `beyond` samples above it: with n samples that is 1 - beyond/n.
    * A tail percentile backed by fewer samples is one outlier's value, so
    * a small sample reports a lower percentile rather than a fake p99.
    * Returns None when the sample cannot back even the median. */
  def tailLevel(n: Int, cap: Double = 0.99, beyond: Int = 10): Option[Double] = {
    val level = math.min(cap, 1.0 - beyond.toDouble / n)
    if (n <= 0 || level < 0.5) None else Some(level)
  }

  /** `quantile` at [[tailLevel]]; falls back to the maximum when the
    * sample is too small to back any tail percentile. */
  def tail(xs: Seq[Double], cap: Double = 0.99, beyond: Int = 10): Double =
    tailLevel(xs.size, cap, beyond).fold(xs.max)(quantile(xs, _))

  /** Backlog-growth rule for one rung of an open-loop rate ladder.
    * `samples` are (seconds, files waiting) taken at each batch commit
    * within the rung. The backlog grows when its least-squares trend over
    * the rung adds more than `tolerance` files, where the caller passes
    * the number of files the generator writes in one trigger interval:
    * a system that keeps up ends every trigger with at most about one
    * interval's worth of files waiting, whatever the rate. Fewer than
    * two samples (at most one commit in the whole rung) counts as
    * growth: the system did not keep pace with the trigger. */
  def backlogGrows(samples: Seq[(Double, Double)], tolerance: Double): Boolean = {
    if (samples.size < 2) return true
    val n = samples.size.toDouble
    val mt = samples.map(_._1).sum / n
    val mb = samples.map(_._2).sum / n
    val sxx = samples.map { case (t, _) => (t - mt) * (t - mt) }.sum
    if (sxx == 0) return true
    val slope = samples.map { case (t, b) => (t - mt) * (b - mb) }.sum / sxx
    slope * (samples.last._1 - samples.head._1) > tolerance
  }

  /** Event-to-result latency of every event, in ms: from the time the
    * event was DUE to be created (its slot in the open-loop schedule,
    * not the moment the generator got round to writing it) until the
    * commit of the batch that carried it. Measuring from the due time
    * charges a generator stall, and any queue behind it, to latency.
    * `dueMs(i)` and `commitMs(i)` belong to event i; an event with no
    * commit (lost) has no latency and is reported by the caller. */
  def latenciesMs(dueMs: Seq[Double], commitMs: Seq[Double]): Seq[Double] = {
    require(dueMs.size == commitMs.size, "one commit time per event")
    dueMs.zip(commitMs).map { case (d, c) => c - d }
  }

  /** Highest rung that meets both limits, given each rung's result in
    * ladder order. The ladder climbs until the first rung that fails, so
    * a rung above a failure never counts. */
  def maxSustained(rungs: Seq[(Double, Boolean)]): Option[Double] =
    rungs.takeWhile(_._2).lastOption.map(_._1)

  def geoMean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}
