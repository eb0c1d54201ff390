package perfbench

/** End-to-end metrics of an untraced timed region. */
final case class EndToEnd(metrics: Map[String, Map[String, Any]], tailPercentile: Int,
                          samples: Int)

object Stats {
  /** Linear-interpolation quantile of sorted values, q in [0, 1]. */
  def quantile(sorted: Seq[Double], q: Double): Double = {
    val pos = q * (sorted.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, sorted.size - 1)
    sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it
    * (the median when there are fewer than twenty samples).
    */
  def tailPercentile(n: Int): Int =
    math.max(50, math.floor(100.0 * (1.0 - 10.0 / n) + 1e-9).toInt)

  def endToEnd(recs: Seq[Main.OpRec], setupSeconds: Double, heapMb: Double): EndToEnd = {
    val times = recs.map(_.seconds).sorted
    val n = times.size
    val failed = recs.count(_.failures.nonEmpty)
    val p = tailPercentile(n)
    def m(v: Double, unit: String) = Map("value" -> v, "unit" -> unit)
    EndToEnd(Map(
      "setup_s" -> m(setupSeconds, "s"),
      "ops_per_min" -> m(if (n == 0) 0.0 else 60.0 * n / times.sum, "1/min"),
      "op_p50_s" -> m(if (n == 0) 0.0 else quantile(times, 0.5), "s"),
      "op_tail_s" -> m(if (n == 0) 0.0 else quantile(times, p / 100.0), "s"),
      "ok_frac" -> m(if (n == 0) 0.0 else 1.0 - failed.toDouble / n, "frac"),
      "driver_heap_mb" -> m(heapMb, "MB")), p, n)
  }
}
