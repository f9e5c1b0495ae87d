package perfbench

/** The benchmark's arithmetic, kept free of Spark and I/O so it is unit
  * tested on fixed inputs.
  */
object Stats {

  /** Percentile `p` in [0, 100] by linear interpolation between closest
    * ranks (the definition numpy uses by default). NaN on no samples.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(p >= 0 && p <= 100, s"percentile must be in [0, 100], got $p")
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toIndexedSeq
      val h = (s.length - 1) * p / 100.0
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Total length of the union of half-open intervals `[start, end)`. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s
        curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Driver gap of one call: its wall time minus the time at least one
    * Spark task was running inside `[start, end)`. Tasks are clipped to
    * the call's window; the result is never negative.
    */
  def driverGap(start: Long, end: Long, tasks: Seq[(Long, Long)]): Long = {
    val clipped = tasks.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    math.max(0L, (end - start) - unionLength(clipped))
  }

  /** Self time per span id: the span's duration minus the part of it its
    * direct children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(c =>
        (math.max(c.start, s.start), math.min(c.end, s.end)))
      s.id -> ((s.end - s.start) - unionLength(covered))
    }.toMap
  }

  /** Self time summed per layer; a span's layer is its name up to the
    * first dot (`search.exact` belongs to `search`).
    */
  def layerSelfTimes(spans: Seq[Span]): Map[String, Long] = {
    val self = selfTimes(spans)
    spans.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map(s => self(s.id)).sum
    }
  }
}
