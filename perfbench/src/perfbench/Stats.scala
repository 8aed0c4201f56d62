package perfbench

/** Order statistics used by every report. */
object Stats {
  /** Nearest-rank percentile `p` (0..100) of `xs`; NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val rank = math.ceil(p / 100.0 * s.size).toInt
      s(math.min(s.size, math.max(1, rank)) - 1)
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Emission latencies in ms: for each window that reached the sink, its
    * arrival time minus the time its last event was due for release.
    * Windows without a release time (flushed by the end-of-stream
    * sentinel) are not samples. */
  def emitLatenciesMs[K](lastDueNs: Map[K, Long], arrivalNs: Map[K, Long]): Seq[Double] =
    arrivalNs.toSeq.flatMap { case (k, at) =>
      lastDueNs.get(k).map(due => (at - due) / 1e6)
    }
}
