package graftbench

/** Order statistics the benchmark reports. Percentiles are nearest-rank. */
object Stats {

  /** 1-based nearest rank of percentile `p` among `n` samples; the
    * tolerance keeps decimal percentiles such as 99.9 exact. */
  private def rank(n: Int, p: Double): Int =
    math.min(math.max(math.ceil(p * n / 100.0 - 1e-9).toInt, 1), n)

  /** Nearest-rank percentile `p` (0-100] of sorted values. */
  def percentile(sorted: Array[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of no samples")
    sorted(rank(sorted.length, p) - 1)
  }

  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else percentile(xs.toArray.sorted, 50.0)

  /** Candidate tail percentiles, lowest first. */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 99.0, 99.9, 99.99, 99.999)

  /** Samples strictly above the nearest-rank position of `p`. */
  def beyond(n: Int, p: Double): Int = n - rank(n, p)

  final case class Tail(percentile: Double, value: Double, beyond: Int, samples: Int)

  /** The highest ladder percentile with at least 10 samples beyond it;
    * the median when there are too few samples for any. */
  def tail(values: Array[Double]): Tail = tail(values, Array.tabulate(values.length)(_.toLong))

  /** As above, where samples sharing a group are one sample for the
    * "10 beyond" rule: records applied by one micro-batch share its
    * stall, so ten records of one batch are not ten independent cases. */
  def tail(values: Array[Double], groups: Array[Long]): Tail = {
    require(values.length == groups.length, "one group per sample")
    val order = values.indices.sortBy(values(_)).toArray
    val sorted = order.map(values(_))
    def groupsBeyond(p: Double): Int = {
      val seen = scala.collection.mutable.HashSet.empty[Long]
      var i = sorted.length - beyond(sorted.length, p)
      while (i < sorted.length && seen.size < 10) { seen += groups(order(i)); i += 1 }
      seen.size
    }
    val p = Ladder.filter(groupsBeyond(_) >= 10).lastOption.getOrElse(50.0)
    Tail(p, percentile(sorted, p), beyond(sorted.length, p), sorted.length)
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Length of `window` covered by the union of `intervals`. */
  def coveredWithin(window: (Long, Long), intervals: Iterable[(Long, Long)]): Long =
    unionLength(intervals.map { case (s, e) =>
      (math.max(s, window._1), math.min(e, window._2))
    })
}
