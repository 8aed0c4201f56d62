package perfbench

import graft.ops.Health
import graft.streaming.{HealthScore, StreamingHealth, VitalPoint}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** One emitted window as the benchmark sink saw it. */
final case class WinRow(patient: Int, startMs: Long, n: Long, avg: Double,
    anomaly: Boolean, alert: Boolean, arrivalNs: Long)

/** Expected content of one window, from the batch reference. */
final case class WinRef(n: Long, avg: Double, anomaly: Boolean)

/** Progress of the measured streaming query: rows consumed (for the open
  * loop's backlog) and every progress report. When tracing, each report
  * becomes a `stream.batch` span with its `durationMs` phases as children,
  * laid end to end in the order the micro-batch runs them. */
final class StreamProbe(t: Tracer) extends StreamingQueryListener {
  val processed = new AtomicLong(0)
  val reports = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile var queryId: String = ""
  /** The span micro-batch spans are parented to. */
  @volatile var parent: Long = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.id.toString == queryId) {
      processed.addAndGet(p.numInputRows)
      reports.add(p)
      if (t.enabled) recordSpans(p)
    }
  }

  private def recordSpans(p: StreamingQueryProgress): Unit = {
    val startUs = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
    val id = t.record("stream.batch", parent, startUs,
      startUs + d.getOrElse("triggerExecution", 0L) * 1000L,
      Map("batch" -> p.batchId.toString, "rows" -> p.numInputRows.toString),
      id = t.batchSpanId(queryId, p.batchId))
    var at = startUs
    Streams.Phases.foreach { ph =>
      d.get(ph).filter(_ > 0).foreach { ms =>
        t.record(s"stream.$ph", id, at, at + ms * 1000L)
        at += ms * 1000L
      }
    }
  }

  def all: Seq[StreamingQueryProgress] = reports.asScala.toSeq.sortBy(_.batchId)
  def dropped: Long = all.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
}

object Streams {
  /** Micro-batch phases in the order a micro-batch runs them. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** Patient id of the far-future event that closes every open window. */
  val SentinelPatient = 0
  val WindowMs = 1000L
  val MinTraining = 30

  /** The fused health pipeline on a MemoryStream, appending each
    * micro-batch's rows to `out` with their arrival time. */
  def start(spark: SparkSession, delay: String, originMs: Long, ckpt: String,
      out: ConcurrentLinkedQueue[WinRow]): (MemoryStream[VitalPoint], StreamingQuery) = {
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val scored = StreamingHealth.score(mem.toDF(), watermarkDelay = delay,
      windowMs = WindowMs, minTraining = MinTraining, originMs = originMs)
    val sink: (Dataset[HealthScore], Long) => Unit = (ds, _) => {
      val rows = ds.collect()
      val now = System.nanoTime()
      rows.foreach(r => out.add(WinRow(r.patient_id, r.window_start_ms, r.n_events,
        r.observed_value, r.is_anomaly, r.is_alert, now)))
    }
    val q = scored.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt).foreachBatch(sink).start()
    (mem, q)
  }

  def sentinel(originMs: Long, i: Int): VitalPoint =
    VitalPoint(SentinelPatient, new java.sql.Timestamp(originMs + 1000000000L + i), 0.0)

  /** Feed the sentinel twice (the first raises the watermark, the second
    * fires the timers it made due) and wait for both. */
  def flush(mem: MemoryStream[VitalPoint], q: StreamingQuery, originMs: Long): Unit =
    (1 to 2).foreach { i => mem.addData(Seq(sentinel(originMs, i))); q.processAllAvailable() }

  def windowStart(tsMs: Long, originMs: Long): Long =
    tsMs - java.lang.Math.floorMod(tsMs - originMs, WindowMs)

  /** The untimed batch reference (`ops.Health.windowedAvg` then
    * `detectAnomalies`) over `events`. */
  def reference(spark: SparkSession, events: Seq[VitalPoint]): Map[(Int, Long), WinRef] = {
    import spark.implicits._
    val windowed = Health.windowedAvg(events.toDF(), "patient_id", "event_time",
      "value", s"${WindowMs / 1000} second")
    Health.detectAnomalies(windowed, "patient_id", "window_start", "avg_value",
      "window_start", minTraining = MinTraining)
      .select(col("patient_id"), unix_millis(col("window_start")), col("n_events"),
        col("avg_value"), col("report.is_anomaly"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> WinRef(r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
  }

  /** Check emitted windows against the reference: each expected window is
    * emitted once with the same count, average (to 1e-9) and anomaly flag,
    * and nothing else is emitted. Returns one message per failed window. */
  def compare(expected: Map[(Int, Long), WinRef], got: Seq[WinRow]): Seq[String] = {
    val byKey = got.filter(_.patient != SentinelPatient).groupBy(r => (r.patient, r.startMs))
    val bad = Seq.newBuilder[String]
    expected.toSeq.sortBy(_._1).foreach { case (k @ (p, ms), ref) =>
      byKey.get(k) match {
        case None => bad += s"window patient=$p start_ms=$ms: not emitted"
        case Some(rs) if rs.size > 1 => bad += s"window patient=$p start_ms=$ms: emitted ${rs.size} times"
        case Some(Seq(r)) =>
          if (r.n != ref.n || math.abs(r.avg - ref.avg) > 1e-9 || r.anomaly != ref.anomaly)
            bad += s"window patient=$p start_ms=$ms: got (n=${r.n}, avg=${r.avg}, anomaly=${r.anomaly}) " +
              s"want (n=${ref.n}, avg=${ref.avg}, anomaly=${ref.anomaly})"
        case Some(_) => ()
      }
    }
    byKey.keys.filterNot(expected.contains).toSeq.sorted.foreach { case (p, ms) =>
      bad += s"window patient=$p start_ms=$ms: emitted but not expected"
    }
    bad.result()
  }

  /** Per-layer metrics from the progress reports of the measured query. */
  def layerMetrics(probe: StreamProbe, rows: Seq[WinRow]): Seq[(String, Double)] = {
    val ps = probe.all
    def phase(k: String) = Stats.mean(ps.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val trig = ps.map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))
    val ops = ps.flatMap(_.stateOperators)
    val last = ps.reverse.find(_.stateOperators.nonEmpty).map(_.stateOperators.head)
    Seq(
      "stream.batches" -> ps.size.toDouble,
      "stream.trigger_ms_p50" -> Stats.percentile(trig, 50),
      "stream.trigger_ms_p99" -> Stats.percentile(trig, 99),
      "stream.planning_ms" -> phase("queryPlanning"),
      "stream.wal_commit_ms" -> phase("walCommit"),
      "stream.commit_offsets_ms" -> phase("commitOffsets"),
      "stream.latest_offset_ms" -> phase("latestOffset"),
      "stream.add_batch_ms" -> phase("addBatch"),
      "state.commit_ms" -> Stats.mean(ps.filter(_.stateOperators.nonEmpty)
        .map(_.stateOperators.map(_.commitTimeMs.toDouble).sum)),
      "state.rows_total" -> last.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.memory_bytes" -> ops.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0),
      "state.rows_updated" -> ops.map(_.numRowsUpdated.toDouble).sum,
      "stream.rows_dropped_by_watermark" -> probe.dropped.toDouble,
      "sink.windows" -> rows.count(_.patient != SentinelPatient).toDouble,
      "sink.alerts" -> rows.count(r => r.patient != SentinelPatient && r.alert).toDouble)
  }
}
