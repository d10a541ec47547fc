package graft.perfbench

/** Order statistics the benchmark reports. Percentiles are nearest-rank:
  * the smallest sample with at least q% of the samples at or below it. */
object Stats {

  def percentile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "percentile of no samples")
    val rank = math.ceil(q / 100.0 * s.length).toInt
    s(math.min(math.max(rank, 1), s.length) - 1)
  }

  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  /** Samples strictly above the q-th percentile's rank. */
  def beyond(n: Int, q: Double): Int =
    n - math.min(math.max(math.ceil(q / 100.0 * n).toInt, 1), n)

  /** Highest whole percentile that leaves at least `atLeast` of `n`
    * samples beyond it (0 when the run is too short for any). */
  def tailPercentile(n: Int, atLeast: Int = 10): Int =
    (99 to 0 by -1).find(q => beyond(n, q) >= atLeast).getOrElse(0)

  /** A timing as reported: sample count, median, and the tail — the
    * highest percentile with at least ten samples beyond it — when the run
    * has enough samples for one above the median. */
  def timing(xs: Seq[Double]): Map[String, Any] = {
    val q = tailPercentile(xs.size)
    Map("n" -> xs.size, "p50" -> median(xs)) ++
      (if (q > 50) Map("tail_percentile" -> q, "tail" -> percentile(xs, q))
       else Map("tail" -> "unresolved: fewer than 20 samples"))
  }
}
