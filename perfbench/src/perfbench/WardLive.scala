package perfbench

import graft.sim.Simulator
import graft.streaming.VitalPoint
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable.ArrayBuffer

/** Open-loop latency workload: one ward of patients on the simulator's
  * 0.2 s tick, released by one generator thread on a fixed wall schedule
  * into a MemoryStream. The simulated clock runs `SpanS / seconds` times
  * faster than wall time so one run reaches the bradycardia alert (onset
  * at 30 s, first alert near 120 s of simulated time).
  *
  * Delivery is hostile: arrival order is jittered inside the watermark
  * delay, about 1% of events arrive far too late to count, and a tenth of
  * the patients go silent halfway through. */
object WardLive {
  val Patients = 50
  val TickS = 0.2
  val SpanS = 150.0
  /** Watermark delay. A window's latency is this wait (in wall time, about
    * 1.2 s at 20 s runs) plus two to three micro-batches; the fixed part
    * damps the run-to-run swings of the batch duration on a shared machine. */
  val DelayMs = 10000L
  val JitterMs = 1500
  val SlotNs = 20000000L
  /** Share of all events planted far-late... */
  val FarLateShare = 0.01
  /** ...released this long after their event time: with at most
    * `JitterMs` of reordering and `DelayMs` of watermark delay, the
    * watermark has passed them unless the stream falls this far behind.
    * At 40 s, a run under heavy hypervisor steal fell that far behind and
    * let 4 of 356 through. */
  val FarLateMs = 80000L
  /** Patients whose id is a multiple of this go silent halfway. */
  val SilentEvery = 10
  /** The run is invalid when the generator's p99 lateness exceeds this... */
  val LagLimitMs = 50.0
  /** ...or the backlog (events released but not yet consumed) over the last
    * tenth of the schedule exceeds this many seconds of offered events: the
    * backlog grew instead of draining after a stall. */
  val BacklogLimitS = 3.0
  /** The reported tail. Windows emitted by one micro-batch share its
    * completion time, so the independent samples are the batches (30 to 40
    * a run): p75 is the highest percentile with about ten beyond it, and
    * p99 of the windows is just the slowest batch. */
  val TailPercentile = 75.0
}

final class WardLive(ctx: Ctx) extends Workload {
  import WardLive._

  private var sim: Simulator = _
  /** Events in release order, with the schedule slot each is due in and
    * whether it was planted far-late. */
  private var events: Array[VitalPoint] = _
  private var slot: Array[Int] = _
  private var late: Array[Boolean] = _

  def offeredRate: Double = Patients / TickS * SpanS / ctx.seconds

  def generate(): Unit = {
    sim = new Simulator(seed = ctx.seed, tickSeconds = TickS, patients = Patients)
    val rnd = new scala.util.Random(ctx.seed * 7919L + 1L)
    val spanMs = (SpanS * 1000).toLong
    val all = sim.run(SpanS).map(e =>
      VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble))
      .filterNot(v => v.patient_id % SilentEvery == 0 &&
        v.event_time.getTime - sim.originMs >= spanMs / 2)
    val simMs = all.map(_.event_time.getTime - sim.originMs)
    val eligible = all.indices.filter(i => simMs(i) + FarLateMs + 1000 < spanMs)
    val farLate = rnd.shuffle(eligible).take((all.size * FarLateShare).round.toInt).toSet
    val timed = all.indices.map { i =>
      if (farLate(i)) (i, simMs(i) + FarLateMs + rnd.nextInt(1000))
      else (i, simMs(i) + rnd.nextInt(JitterMs))
    }.sortBy(_._2)
    val nsPerSimMs = 1e6 * ctx.seconds / SpanS
    events = timed.map(t => all(t._1)).toArray
    late = timed.map(t => farLate(t._1)).toArray
    slot = timed.map(t => math.ceil(t._2 * nsPerSimMs / SlotNs).toInt).toArray
  }

  /** A short closed-loop pass through the same pipeline. */
  def warmUp(): Unit = {
    val warm = new Simulator(seed = ctx.seed + 1, tickSeconds = TickS, patients = 20)
      .run(60.0).map(e => VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble))
    val out = new ConcurrentLinkedQueue[WinRow]()
    val (mem, q) = Streams.start(ctx.spark, s"$DelayMs milliseconds", sim.originMs,
      ctx.freshDir("warm"), out)
    try {
      warm.grouped(warm.size / 10).foreach { c => mem.addData(c); q.processAllAvailable() }
      Streams.flush(mem, q, sim.originMs)
    } finally q.stop()
  }

  def measure(): Outcome = {
    val spark = ctx.spark
    val t = ctx.tracer
    val probe = new StreamProbe(t)
    spark.streams.addListener(probe)
    val out = new ConcurrentLinkedQueue[WinRow]()
    val (mem, q) = Streams.start(spark, s"$DelayMs milliseconds", sim.originMs,
      ctx.freshDir("ckpt"), out)
    probe.queryId = q.id.toString
    t.measuredQueries.add(q.id.toString)

    val lagsMs = ArrayBuffer.empty[Double]
    val backlog = ArrayBuffer.empty[Long]
    val t0 = System.nanoTime() + 50000000L
    var endNs = 0L
    t.span("ward.run") {
      val runSpan = t.current
      probe.parent = runSpan
      val gen = new Thread(() => {
        var i = 0
        while (i < events.length) {
          val k = slot(i)
          val due = t0 + k * SlotNs
          var now = System.nanoTime()
          while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
          var j = i
          while (j < events.length && slot(j) == k) j += 1
          mem.addData(events.slice(i, j).toSeq)
          val done = System.nanoTime()
          lagsMs += (now - due) / 1e6
          backlog += j - probe.processed.get()
          t.record("gen.release", runSpan, t.toUs(now), t.toUs(done),
            Map("events" -> (j - i).toString))
          i = j
        }
      }, "perfbench-generator")
      gen.start()
      gen.join()
      val deadline = System.nanoTime() + 60000000000L
      while (probe.processed.get() < events.length && System.nanoTime() < deadline)
        Thread.sleep(1)
      endNs = System.nanoTime()
    }
    Streams.flush(mem, q, sim.originMs)
    q.stop()
    org.apache.spark.PerfbenchShim.drainListeners(spark.sparkContext)
    spark.streams.removeListener(probe)

    val rows = out.toArray(Array.empty[WinRow]).toSeq
    val failures = ArrayBuffer.empty[String]

    // windows closed by regular input (not by the end-of-stream sentinel)
    // are latency samples, timed from when their last on-time event was due
    val onTime = events.indices.filterNot(late)
    val maxTs = events.map(_.event_time.getTime).max
    val lastDue = onTime.groupBy(i => (events(i).patient_id,
      Streams.windowStart(events(i).event_time.getTime, sim.originMs)))
      .collect { case (k @ (_, ws), is) if ws + Streams.WindowMs + DelayMs < maxTs =>
        k -> (t0 + is.map(slot).max * SlotNs)
      }
    val arrival = rows.groupBy(r => (r.patient, r.startMs)).map { case (k, rs) => k -> rs.map(_.arrivalNs).min }
    val lat = Stats.emitLatenciesMs(lastDue, arrival)

    val expected = Streams.reference(spark, onTime.map(events))
    failures ++= Streams.compare(expected, rows)
    val planted = late.count(identity)
    val dropped = probe.dropped
    if (dropped != planted)
      failures += s"watermark dropped $dropped rows; $planted far-late events were planted"
    val emitted = rows.map(r => (r.patient, r.startMs)).toSet
    onTime.map(events).filter(_.patient_id % SilentEvery == 0)
      .groupMapReduce(_.patient_id)(_.event_time.getTime)(math.max).toSeq.sorted
      .foreach { case (p, ts) =>
        val ws = Streams.windowStart(ts, sim.originMs)
        if (!emitted.contains((p, ws)))
          failures += s"window patient=$p start_ms=$ws: silent patient's final window not emitted"
      }
    val alerts = rows.filter(r => r.alert && r.patient != Streams.SentinelPatient)
    alerts.filter(_.patient != sim.bradyPatient).foreach { r =>
      failures += s"window patient=${r.patient} start_ms=${r.startMs}: false bradycardia alert"
    }
    val firstAlertS = alerts.filter(_.patient == sim.bradyPatient).map(_.startMs).minOption
      .map(ms => (ms - sim.originMs) / 1000.0)
    firstAlertS match {
      case None => failures += s"patient ${sim.bradyPatient}: no bradycardia alert"
      case Some(s) if s < sim.bradyOnsetS || s > sim.bradyOnsetS + sim.bradyDurationS =>
        failures += s"patient ${sim.bradyPatient}: first alert at sim ${s}s is outside the glide"
      case _ => ()
    }
    val lagP99 = Stats.percentile(lagsMs.toSeq, 99)
    val backlogLimit = offeredRate * BacklogLimitS
    val backlogEnd = Stats.median(backlog.drop(backlog.size * 9 / 10).map(_.toDouble).toSeq)
    val invalid = lagP99 > LagLimitMs || backlogEnd > backlogLimit
    if (invalid) failures += f"open loop invalid: generator lag p99 $lagP99%.1f ms " +
      f"(limit $LagLimitMs%.0f), backlog over the last tenth $backlogEnd%.0f events " +
      f"(limit $backlogLimit%.0f)"

    val workS = (endNs - t0) / 1e9
    val c = t.countsFor("stream")
    Outcome(
      attempted = expected.size,
      failures = failures.toSeq,
      invalid = invalid,
      e2e = Seq(
        "latency_p50_ms" -> Stats.percentile(lat, 50),
        "latency_tail_ms" -> Stats.percentile(lat, TailPercentile),
        "work_s" -> workS),
      named = Seq(
        ("emit_latency_p50_ms", Stats.percentile(lat, 50), "ms"),
        ("emit_latency_p75_ms", Stats.percentile(lat, TailPercentile), "ms"),
        ("emit_latency_p90_ms", Stats.percentile(lat, 90), "ms"),
        ("emit_latency_p99_ms", Stats.percentile(lat, 99), "ms"),
        ("emit_latency_samples", lat.size.toDouble, "count"),
        ("emitting_batches", probe.all.count(_.numInputRows > 0).toDouble, "count"),
        ("offered_eps", offeredRate, "1/s")),
      layer = Streams.layerMetrics(probe, rows) ++ Seq(
        "stream.shuffle_write_bytes" -> c.shuffleWriteBytes.toDouble,
        "stream.task_run_s" -> c.taskRunMs / 1000.0,
        "stream.busy_share" -> c.taskRunMs / 1000.0 / (ctx.slots * workS),
        "gen.lag_ms_p99" -> lagP99,
        "gen.backlog_max_events" -> backlog.max.toDouble),
      info = Seq("first_alert_sim_s" -> firstAlertS.getOrElse(-1.0),
        "events" -> events.length, "far_late_planted" -> planted))
  }
}
