package graftbench

/** Order statistics and interval arithmetic shared by the end-to-end
  * metrics and the traced per-layer breakdown. Pure functions, unit
  * tested in StatsSpec. */
object Stats {

  /** Linear-interpolated percentile (`p` in [0, 100]) of a non-empty
    * sample — the same rule as numpy's default. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Percentiles a tail may be reported at, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99, 95, 90, 75, 50)

  /** A tail latency: `value` at `percentile`, with `beyond` samples of
    * `n` lying above that percentile. */
  final case class Tail(value: Double, percentile: Double, n: Int,
      beyond: Int)

  /** Samples a tail percentile must leave above it. */
  val MinBeyond = 10

  /** The highest percentile of [[TailLadder]] that still has at least
    * [[MinBeyond]] samples above it. A sample too small for even the
    * median to qualify reports its maximum, with `beyond = 0`, so the
    * artifact says plainly that no honest tail exists at that size. */
  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val n = xs.size
    TailLadder.find(p => n * (100 - p) / 100.0 >= MinBeyond) match {
      case Some(p) =>
        Tail(percentile(xs, p), p, n, math.floor(n * (100 - p) / 100.0).toInt)
      case None => Tail(xs.max, 100, n, 0)
    }
  }

  /** Tracing overhead from measured ops given as (position in their
    * iteration, traced, wall time): at each position that has both
    * kinds, the traced minus the untraced median, averaged over those
    * positions, so each position weighs the same on both sides however
    * the traced ops fall. 0 when no position has both. */
  def tracingOverhead(ops: Seq[(Int, Boolean, Double)]): Double = {
    val diffs = ops.groupBy(_._1).values.toSeq.flatMap { at =>
      val (t, u) = at.partition(_._2)
      if (t.isEmpty || u.isEmpty) None
      else Some(median(t.map(_._3)) - median(u.map(_._3)))
    }
    if (diffs.isEmpty) 0.0 else diffs.sum / diffs.size
  }

  /** Union of half-open intervals, merged and sorted. */
  def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] =
    iv.filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft(List.empty[(Long, Long)]) {
        case ((ps, pe) :: rest, (s, e)) if s <= pe =>
          (ps, math.max(pe, e)) :: rest
        case (acc, x) => x :: acc
      }.reverse

  /** Total length covered by the intervals (overlaps counted once). */
  def covered(iv: Seq[(Long, Long)]): Long =
    union(iv).map { case (s, e) => e - s }.sum

  /** Length of `[start, end)` covered by the intervals, clipped to it. */
  def coveredWithin(start: Long, end: Long, iv: Seq[(Long, Long)]): Long =
    covered(iv.map { case (s, e) => (math.max(s, start), math.min(e, end)) })

  /** A span's self time: its duration minus the part of it that its
    * children cover (children that overlap each other count once). */
  def selfTime(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - coveredWithin(start, end, children)

  /** Time inside `[start, end)` during which no stage ran — query
    * planning, scheduling and result handling between stages. */
  def gap(start: Long, end: Long, stages: Seq[(Long, Long)]): Long =
    selfTime(start, end, stages)
}
