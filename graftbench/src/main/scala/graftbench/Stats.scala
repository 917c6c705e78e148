package graftbench

/** Pure helpers behind the benchmark's numbers; unit-tested on their own. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail latency with the percentile it sits at and how many samples
    * lie beyond it. */
  case class Tail(value: Double, percentile: Double, beyond: Int, n: Int)

  /** The highest percentile that has at least ten samples beyond it: with
    * n sorted samples that is the (n-10)-th smallest, i.e. the value with
    * exactly ten larger samples after it. With ten or fewer samples no
    * percentile qualifies; the maximum is reported with `beyond = 0`. */
  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) Tail(s.last, 100.0, 0, n)
    else Tail(s(n - beyond - 1), 100.0 * (n - beyond) / n, beyond, n)
  }

  /** A closed time interval [start, end] in nanoseconds. */
  case class Interval(start: Long, end: Long) {
    def length: Long = math.max(0L, end - start)
  }

  /** Total length covered by the union of the intervals. */
  def unionLength(xs: Seq[Interval]): Long = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    xs.filter(_.length > 0).sortBy(_.start).foreach { iv =>
      if (iv.start > curE) {
        covered += math.max(0L, curE - curS)
        curS = iv.start; curE = iv.end
      } else curE = math.max(curE, iv.end)
    }
    covered + math.max(0L, curE - curS)
  }

  /** Clip intervals to `within` and trim overlaps so that they are
    * disjoint: an interval that starts inside an earlier one starts where
    * that one ends; intervals left empty are dropped. The order of the
    * input is kept for intervals that survive. */
  def disjoint(xs: Seq[Interval], within: Interval): Seq[Option[Interval]] = {
    val clipped = xs.map(iv => Interval(math.max(iv.start, within.start),
      math.min(iv.end, within.end)))
    val order = clipped.indices.sortBy(i => (clipped(i).start, i))
    val out = Array.fill[Option[Interval]](xs.size)(None)
    var frontier = Long.MinValue
    order.foreach { i =>
      val iv = clipped(i)
      val s = math.max(iv.start, frontier)
      if (iv.end > s) { out(i) = Some(Interval(s, iv.end)); frontier = iv.end }
    }
    out.toSeq
  }

  /** Self time of a span: its length minus the part its children cover. */
  def selfTime(span: Interval, children: Seq[Interval]): Long =
    span.length - unionLength(children.map(c =>
      Interval(math.max(c.start, span.start), math.min(c.end, span.end))))

  /** Attribute each job to the window (by index) in which it was
    * submitted; jobs submitted outside every window map to None. Windows
    * are half-open [start, end) so that back-to-back windows never both
    * claim a job. */
  def attribute(jobStarts: Seq[Long], windows: Seq[Interval]): Seq[Option[Int]] =
    jobStarts.map(t => windows.indexWhere(w => t >= w.start && t < w.end))
      .map(i => if (i < 0) None else Some(i))
}
