package perfbench

import graft.sim.Simulator
import graft.streaming.VitalPoint

/** Self-tests of the benchmark's own measurement and checks.
  *
  * {{{ perfbench.SelfTest <work-dir> }}} exits 0 when every case passes. */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  /** Latency and percentiles on a hand-built release/emission log. */
  def latencyLog(): Unit = {
    // window i: last event due at i ms, row reaches the sink (i + 1) ms
    // later; one more window was flushed at the end and has no due time
    val due = (1 to 20).map(i => (i, 0L) -> i * 1000000L).toMap
    val arrival = due.map { case (k, d) => k -> (d + k._1 * 1000000L) } + ((99, 0L) -> 5L)
    val lat = Stats.emitLatenciesMs(due, arrival)
    check("latency samples exclude windows without a due time", lat.size == 20, s"n=${lat.size}")
    check("latencies are arrival minus due", lat.sorted == (1 to 20).map(_.toDouble), s"$lat")
    check("p50 of 1..20 ms is 10 ms", Stats.percentile(lat, 50) == 10.0,
      s"${Stats.percentile(lat, 50)}")
    check("p75 of 1..20 ms is 15 ms", Stats.percentile(lat, 75) == 15.0,
      s"${Stats.percentile(lat, 75)}")
    val big = (1 to 1000).map(_.toDouble)
    check("p99 of 1..1000 is 990", Stats.percentile(big, 99) == 990.0)
  }

  /** A planted wrong window average, a missing window and a duplicated
    * window each fail the streaming check, naming the window. */
  def plantedWindow(workDir: String): Unit = {
    val spark = Sessions.batch(1, workDir)
    try {
      val sim = new Simulator(seed = 3L, tickSeconds = 0.2, patients = 3)
      val events = sim.run(40.0).map(e =>
        VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble))
      val ref = Streams.reference(spark, events)
      val rows = ref.toSeq.sortBy(_._1).map { case ((p, ms), r) =>
        WinRow(p, ms, r.n, r.avg, r.anomaly, alert = false, arrivalNs = 0L)
      }
      check("the reference's own rows pass", Streams.compare(ref, rows).isEmpty,
        Streams.compare(ref, rows).take(3).mkString("; "))
      val k = rows.size / 2
      val bad = rows.updated(k, rows(k).copy(avg = rows(k).avg + 0.5))
      val msgs = Streams.compare(ref, bad)
      check("a wrong window average fails, naming the window",
        msgs.size == 1 && msgs.head.contains(s"patient=${rows(k).patient} start_ms=${rows(k).startMs}"),
        msgs.mkString("; "))
      check("a missing window fails", Streams.compare(ref, rows.patch(k, Nil, 1)).size == 1)
      check("a window emitted twice fails", Streams.compare(ref, rows :+ rows(k)).size == 1)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    latencyLog()
    plantedWindow(args(0))
    println(if (failures == 0) "scala self-tests passed" else s"$failures scala self-tests FAILED")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
