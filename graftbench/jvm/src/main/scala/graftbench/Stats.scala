package graftbench

/** The harness arithmetic, kept free of Spark so it can be unit-tested. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Median of each operation kind's samples, then the geometric mean of the
    * medians: every kind weighs the same however many samples it has and
    * however long it runs. */
  def geomeanOfMedians(byKind: Map[String, Seq[Double]]): Double = {
    require(byKind.nonEmpty && byKind.values.forall(_.nonEmpty),
      "every kind needs at least one sample")
    val logs = byKind.values.map(xs => math.log(median(xs)))
    math.exp(logs.sum / logs.size)
  }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
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

  /** A span's self time: its duration minus the union of its children's
    * intervals, each clipped to the span. Overlapping children (a Spark job
    * running while a nested span is open) count once. */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - unionLength(children.map { case (s, e) =>
      (math.max(s, start), math.min(e, end))
    })

  /** Host steal jiffies from the aggregate `cpu` line of /proc/stat (the
    * eighth value after the label), or -1 when the line has none. */
  def stealJiffies(procStat: String): Long =
    procStat.linesIterator.find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(_(8).toLong).getOrElse(-1L)

  /** Steal jiffies per second between two /proc/stat readings taken
    * `seconds` apart; -1 when either reading has no steal column. */
  def stealRate(before: String, after: String, seconds: Double): Double = {
    val a = stealJiffies(before)
    val b = stealJiffies(after)
    if (a < 0 || b < 0 || seconds <= 0) -1.0 else (b - a) / seconds
  }
}
