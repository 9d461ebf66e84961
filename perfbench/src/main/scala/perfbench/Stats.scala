package perfbench

/** The harness's own arithmetic: percentiles, interval unions, span self
  * time and failure counting. Pure functions, unit-tested in StatsSpec. */
object Stats {

  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (pos - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The tail percentiles a timing may report. */
  val TailPercentiles: Seq[Int] = Seq(99, 95, 90, 75)

  /** The highest tail percentile that leaves at least `beyond` samples
    * above it, or None when even the 75th does not. */
  def reportablePercentile(n: Int, beyond: Int = 10): Option[Int] =
    TailPercentiles.find(p => n - math.ceil(n * p / 100.0).toInt >= beyond)

  /** Total length covered by a set of half-open [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    for ((s, e) <- intervals.filter { case (s, e) => e > s }.sortBy(_._1)) {
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of it that its
    * children cover. Children are clipped to the span first. */
  def selfTime(span: (Long, Long), children: Seq[(Long, Long)]): Long = {
    val (s, e) = span
    val clipped = children.map { case (cs, ce) => (math.max(cs, s), math.min(ce, e)) }
    (e - s) - unionLength(clipped)
  }

  /** Items per second of one cycle of calls: each slot is (calls per
    * cycle, items per call, ms per call), and the rate is the cycle's items
    * over the cycle's time, 0 for a cycle that takes no time. */
  def cycleRate(slots: Seq[(Int, Double, Double)]): Double = {
    val ms = slots.map { case (n, _, t) => n * t }.sum
    if (ms <= 0) 0.0 else slots.map { case (n, items, _) => n * items }.sum / (ms / 1000)
  }

  /** Counts operations and those that failed, either by throwing or by
    * returning a wrong answer. */
  final class FailureCount {
    private var attempted0 = 0
    private var failed0 = 0
    private val reasons0 = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    def ok(): Unit = attempted0 += 1
    def fail(reason: String): Unit = {
      attempted0 += 1; failed0 += 1
      reasons0(reason) = reasons0.getOrElse(reason, 0) + 1
    }
    def attempted: Int = attempted0
    def failed: Int = failed0
    def ratio: Double = if (attempted0 == 0) 0.0 else failed0.toDouble / attempted0
    def reasons: Map[String, Int] = reasons0.toMap
  }
}
