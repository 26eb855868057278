package perfbench

/** Metric extractors. Pure functions, checked by [[SelfCheck]]. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank percentile: the smallest sample with at least `p`% of the
    * samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100 * s.length).toInt
    s(math.min(s.length, math.max(rank, 1)) - 1)
  }

  /** The highest of the usual tail percentiles that has at least
    * `minBeyond` samples above it among `n` samples — the only tail a run
    * of that size can report. None when even the median has fewer.
    */
  def tailPercentile(n: Int, minBeyond: Int = 10,
                     candidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)): Option[Double] =
    candidates.find(p => n * (100 - p) / 100 >= minBeyond - 1e-9)

  /** A span's self time: its duration minus the part of its interval that
    * its children cover. Children may overlap one another (models built
    * concurrently), so the covered part is the union of their intervals,
    * clipped to the parent's.
    */
  def selfTimeNs(parent: Span, children: Seq[Span]): Long = {
    val clipped = children
      .map(c => (math.max(c.startNs, parent.startNs), math.min(c.endNs, parent.endNs)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a; curEnd = b
      } else curEnd = math.max(curEnd, b)
    }
    if (curEnd > curStart) covered += curEnd - curStart
    parent.durNs - covered
  }

  /** Entries a [[graft.serve.ResultCache]] evicted between two `stats`
    * snapshots (hits, misses, size). Every miss inserts one entry, so the
    * entries that left are the misses not accounted for by growth. Valid
    * while nothing calls `invalidate` or `clear` in between.
    */
  def evictions(before: (Long, Long, Int), after: (Long, Long, Int)): Long =
    (after._2 - before._2) - (after._3 - before._3)

  /** Hit share of the lookups between two `stats` snapshots. */
  def hitRatio(before: (Long, Long, Int), after: (Long, Long, Int)): Double = {
    val hits = after._1 - before._1
    val lookups = hits + after._2 - before._2
    if (lookups == 0) 0.0 else hits.toDouble / lookups
  }
}
