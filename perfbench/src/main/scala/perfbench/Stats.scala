package perfbench

/** Pure statistics behind the benchmark's metrics (unit-tested in StatsSpec). */
object Stats {

  /** Quantile with linear interpolation between closest ranks (NumPy's
    * default), `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Percentiles a timing may be reported at, with the share of samples
    * beyond each in parts per 100 000 (integers keep the rule exact). */
  val Ladder: Seq[(String, Long)] =
    Seq("p50" -> 50000L, "p90" -> 10000L, "p99" -> 1000L, "p99.9" -> 100L, "p99.99" -> 10L)

  /** The highest percentile of the ladder that has at least `minBeyond` of
    * `n` samples beyond it, or None when even the median has fewer. */
  def topPercentile(n: Long, minBeyond: Long = 10): Option[String] =
    Ladder.filter { case (_, beyond) => n * beyond >= minBeyond * 100000L }
      .lastOption.map(_._1)

  /** One applied micro-batch: when its sink call ended and the highest
    * sequence number the target held afterwards. */
  final case class Applied(endNs: Long, maxSeq: Long)

  /** Commit-to-apply latency of rows `firstId until firstId + commitNs.length`
    * (row `firstId + i` committed at `commitNs(i)`): the time from its commit
    * to the end of the first batch, in end order, whose target shows a
    * sequence number at or beyond the row's. Rows no batch reached are
    * returned as missing. */
  def applyLatencies(firstId: Long, commitNs: Array[Long],
                     applied: Seq[Applied]): (Array[Double], Int) = {
    val batches = applied.sortBy(_.endNs)
    val out = Array.newBuilder[Double]
    var missing = 0
    var b = 0
    var i = 0
    while (i < commitNs.length) {
      val id = firstId + i
      while (b < batches.size && batches(b).maxSeq < id) b += 1
      if (b < batches.size) out += (batches(b).endNs - commitNs(i)) / 1e6
      else missing += 1
      i += 1
    }
    (out.result(), missing)
  }

  /** Total length covered by the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Union length of the intervals after clipping each to `[lo, hi)`. */
  def clippedUnion(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long =
    unionLength(intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })
}
