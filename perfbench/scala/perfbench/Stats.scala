package perfbench

/** Order statistics used by every workload. */
object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of unsorted samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.toIndexedSeq.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** For each (key, seq) event: the first instant at which a document
    * of that key carrying `seq` or a later one was sent, or None.
    * `docs` are (key, seq, time) sends of one index.
    */
  def servedAt(docs: Iterable[(Long, Long, Long)]): (Long, Long) => Option[Long] = {
    val byKey = docs.groupBy(_._1).map { case (k, ds) =>
      val sorted = ds.toArray.sortBy(_._3)
      val times = sorted.map(_._3)
      val runMax = sorted.map(_._2).scanLeft(Long.MinValue)(math.max).tail
      k -> (times, runMax)
    }
    (key, seq) => byKey.get(key).flatMap { case (times, runMax) =>
      // runMax is non-decreasing: binary search the first index >= seq
      var lo = 0
      var hi = runMax.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (runMax(mid) >= seq) hi = mid else lo = mid + 1
      }
      if (lo < times.length) Some(times(lo)) else None
    }
  }
}
