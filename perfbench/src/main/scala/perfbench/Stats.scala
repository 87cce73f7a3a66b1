package perfbench

/** The benchmark's own arithmetic over samples and interval sets. Kept
  * free of Spark so the unit specs pin it exactly. */
object Stats {

  /** Linear-interpolation quantile (the numpy / R-7 definition):
    * position q·(n−1) in the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    require(q >= 0.0 && q <= 1.0, s"quantile $q outside [0, 1]")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile that still has at least `beyond`
    * samples above it in a sample of `n` — the tail a run of that size
    * can actually resolve. None when the sample is too small to resolve
    * even the median that way. */
  def tailPercentile(n: Int, beyond: Int = 10): Option[Int] =
    if (n <= 0) None
    else {
      // p such that n·(100 − p)/100 ≥ beyond, in integers
      val p = (100L * (n - beyond) / n).toInt
      if (p >= 50) Some(p) else None
    }

  /** Share of attempted operations that failed, a failed output check
    * included. */
  def failedFrac(attempted: Long, failed: Long): Double = {
    require(attempted > 0, "no operation attempted")
    require(failed >= 0 && failed <= attempted,
      s"failed count $failed outside [0, $attempted]")
    failed.toDouble / attempted
  }

  /** Half-open interval [start, end) on one clock. */
  final case class Interval(start: Double, end: Double) {
    def length: Double = math.max(0.0, end - start)
  }

  /** Sorted, disjoint union of `xs` (empty intervals dropped). */
  def union(xs: Seq[Interval]): Seq[Interval] =
    xs.filter(_.length > 0).sortBy(_.start).foldLeft(List.empty[Interval]) {
      case (last :: rest, i) if i.start <= last.end =>
        Interval(last.start, math.max(last.end, i.end)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  def totalLength(xs: Seq[Interval]): Double = union(xs).map(_.length).sum

  /** The parts of `outer` not covered by any of `holes`. */
  def subtract(outer: Interval, holes: Seq[Interval]): Seq[Interval] = {
    val out = Seq.newBuilder[Interval]
    var cursor = outer.start
    for (h <- union(holes) if h.end > outer.start && h.start < outer.end) {
      if (h.start > cursor) out += Interval(cursor, h.start)
      cursor = math.max(cursor, h.end)
    }
    if (cursor < outer.end) out += Interval(cursor, outer.end)
    out.result()
  }

  /** Total length of the overlap between two interval sets. */
  def overlap(a: Seq[Interval], b: Seq[Interval]): Double = {
    val ub = union(b)
    union(a).map { i =>
      ub.map(j => math.max(0.0, math.min(i.end, j.end) - math.max(i.start, j.start))).sum
    }.sum
  }
}
