package graft.bench

/** The harness's arithmetic, kept free of Spark so the self-tests pin
  * it directly. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p < 1) of `xs`, or None when the
    * sample cannot support it. The rule: a tail percentile needs at
    * least 10 samples beyond it (p90 needs 100 samples, p99 needs
    * 1000); the median needs one sample. A percentile read off fewer
    * tail samples is one or two outliers, not a distribution. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p outside (0, 1)")
    val n = xs.size
    val beyond = math.min(p, 1 - p) * n
    if (n == 0 || (p != 0.5 && beyond < 10 - 1e-9)) None
    else {
      val sorted = xs.sorted
      Some(sorted(math.max(0, math.ceil(p * n).toInt - 1)))
    }
  }

  /** Median (the p50 case of [[percentile]]); the mean of the two middle
    * samples on an even count, so two passes report their midpoint. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Merge half-open intervals [start, end) into disjoint sorted ones. */
  def union(intervals: Seq[(Long, Long)]): Seq[(Long, Long)] =
    intervals.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((a0, b0) :: rest, (a, b)) if a <= b0 =>
          (a0, math.max(b0, b)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse

  /** Length of the union of `intervals`. Overlapping jobs (concurrent
    * jobs of one operation) count once, so a sum of job walls can never
    * exceed the wall it sits in. */
  def covered(intervals: Seq[(Long, Long)]): Long =
    union(intervals).map { case (a, b) => b - a }.sum

  /** Length of [start, end) that no interval in `busy` covers: the
    * driver-only gap of a window whose jobs are `busy`. */
  def gap(start: Long, end: Long, busy: Seq[(Long, Long)]): Long = {
    val clipped = busy.map { case (a, b) =>
      (math.max(a, start), math.min(b, end)) }
    (end - start) - covered(clipped)
  }

  /** Self time of a span: its wall minus the union of its children's
    * intervals, clipped to the span. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    gap(start, end, children)
}
