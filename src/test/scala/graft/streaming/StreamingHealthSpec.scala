package graft.streaming

import graft.SparkSpec
import graft.ops.Health
import graft.sim.Simulator
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The reference's implicit acceptance fixture (SURVEY.md §5): patient
  * 1's injected bradycardia must raise heartbeat alerts — for patient 1
  * only, never during warm-up — and the streaming pipeline must agree
  * with the batch ops on identical input. */
class StreamingHealthSpec extends SparkSpec {

  private val WindowMs = 5000L
  private val MinTrain = 20
  private val Threshold = 40.0

  private lazy val sim = new Simulator(seed = 11L, tickSeconds = 1.0, patients = 5)
  private lazy val vitals: Seq[VitalPoint] = sim.run(300.0).map { e =>
    VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble)
  }

  private lazy val scoredRows = {
    import spark.implicits._
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val scored = StreamingHealth.score(mem.toDF(), watermarkDelay = "5 seconds",
      windowMs = WindowMs, minTraining = MinTrain, alertThreshold = Threshold,
      originMs = sim.originMs)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString
    val q = scored.toDF().writeStream.format("memory").queryName("scored")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // feed in event-time order but in several batches so the watermark
      // ratchets between them (out-of-order WITHIN a batch is exercised
      // separately below); then a far-future sentinel closes everything
      vitals.grouped(400).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
      // watermark ratchets between batches: the first sentinel batch
      // raises it, the second lets timers fire against the raised value
      (1 to 2).foreach { i =>
        mem.addData(VitalPoint(999,
          new java.sql.Timestamp(sim.originMs + 10_000_000L + i), 0.0))
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table("scored").collect().map { r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4),
        if (r.isNullAt(10)) None else Some(r.getDouble(10)), r.getBoolean(14))
    }.toSeq // (patient, window_start, n, avg, flagged, forecast, alert)
  }

  test("golden scenario: bradycardia alerts fire, for patient 1 only") {
    val alerts = scoredRows.filter(_._7)
    assert(alerts.nonEmpty, "expected bradycardia alerts")
    assert(alerts.forall(_._1 == 1),
      s"alerts for unexpected patients: ${alerts.map(_._1).distinct}")
  }

  test("golden scenario: no alert before the forecaster is warm") {
    val minAlertStart = sim.originMs + (MinTrain - 1).toLong * WindowMs
    assert(scoredRows.filter(_._7).forall(_._2 >= minAlertStart))
  }

  test("golden scenario: first alert lands within the reference's latency bound") {
    // BASELINE.md scenario row (health_simulator.py:110-129): onset 30 s,
    // HR glides 65→20 over 180 s, alert threshold forecast < 40. The
    // first alert may not precede both the onset and the warm-up, and
    // must land DURING the glide — detection that misses the 180 s
    // excursion entirely would be clinically useless.
    val alerts = scoredRows.filter(_._7)
    assert(alerts.nonEmpty)
    val firstMs = alerts.map(_._2).min - sim.originMs
    val onsetMs = (sim.bradyOnsetS * 1000).toLong
    val warmEndMs = MinTrain.toLong * WindowMs
    assert(firstMs >= math.max(onsetMs, warmEndMs - WindowMs),
      s"first alert at ${firstMs}ms precedes onset/warm-up")
    // HR crosses 40 bpm at onset + 180*(65-40)/(65-20) = 130 s; the
    // 1-step trend forecast leads the observation by up to one window
    val crossMs = onsetMs + (sim.bradyDurationS * 1000 * 25.0 / 45.0).toLong
    val glideEndMs = onsetMs + (sim.bradyDurationS * 1000).toLong
    assert(firstMs <= glideEndMs + 2 * WindowMs,
      s"first alert at ${firstMs}ms missed the glide (ends ${glideEndMs}ms)")
    info(s"detection latency: first alert at ${firstMs}ms, " +
      s"HR crossed threshold at ~${crossMs}ms, onset ${onsetMs}ms")
  }

  test("no window flags anomalous during detector warm-up") {
    // warm-up = first MinTrain windows per patient
    val byPatient = scoredRows.groupBy(_._1)
    byPatient.foreach { case (_, rows) =>
      val warmup = rows.sortBy(_._2).take(MinTrain)
      assert(warmup.forall(!_._5))
    }
  }

  test("every complete window is emitted exactly once per patient") {
    (1 to 5).foreach { p =>
      val rows = scoredRows.filter(_._1 == p)
      assert(rows.map(_._2).distinct.size == rows.size, s"dup windows for $p")
      assert(rows.size == 60, s"patient $p emitted ${rows.size} windows")
    }
  }

  test("streaming output equals the batch ops on identical input") {
    import spark.implicits._
    val df = vitals.toDF()
    val windowed = Health.windowedAvg(df, "patient_id", "event_time", "value", "5 seconds")
    val flagged = Health.detectAnomalies(windowed, "patient_id", "window_start",
      "avg_value", "window_start", minTraining = MinTrain)
    val batch = flagged.select(col("patient_id"),
      unix_millis(col("window_start")).as("ms"), col("n_events"),
      col("avg_value"), col("report.is_anomaly").as("flag"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(batch.size == scoredRows.size)
    scoredRows.foreach { case (p, ms, n, avg, flag, _, _) =>
      val (bn, bavg, bflag) = batch((p, ms))
      assert(bn == n, s"count mismatch at ($p,$ms)")
      assert(math.abs(bavg - avg) < 1e-9, s"avg mismatch at ($p,$ms)")
      assert(bflag == flag, s"flag mismatch at ($p,$ms)")
    }
  }

  test("late events are dropped at the watermark; a closed window never reopens") {
    import spark.implicits._
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val scored = StreamingHealth.score(mem.toDF(), watermarkDelay = "2 seconds",
      windowMs = 10000L, minTraining = 999, alertThreshold = 0.0,
      originMs = sim.originMs)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString
    val q = scored.toDF().writeStream.format("memory").queryName("late")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    def at(sec: Long, v: Double) =
      VitalPoint(7, new java.sql.Timestamp(sim.originMs + sec * 1000), v)
    try {
      mem.addData(at(1, 10.0), at(6, 20.0)); q.processAllAvailable()
      // watermark is now 6s-2s=4s: an event at t=2 is late (ts <= wm).
      // Spark's stateful-operator late-row filter drops it BEFORE the
      // processor — engine semantics this test pins down.
      mem.addData(at(2, 30.0)); q.processAllAvailable()
      // close window [0,10): push watermark past 10s
      mem.addData(at(15, 40.0)); q.processAllAvailable()
      mem.addData(at(30, 50.0)); q.processAllAvailable()
      // watermark now 28s: window [0,10) fired long ago -> event at t=3
      // is beyond-late and must be dropped, not reopen the window
      mem.addData(at(3, 60.0)); q.processAllAvailable()
      (1 to 2).foreach { i =>
        mem.addData(VitalPoint(999,
          new java.sql.Timestamp(sim.originMs + 10_000_000L + i), 0.0))
        q.processAllAvailable()
      }
    } finally q.stop()
    val rows = spark.table("late").filter(col("patient_id") === 7)
      .select("window_start_ms", "n_events", "observed_value").collect()
      .map(r => (r.getLong(0) - sim.originMs, r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((0L, 2L, 15.0), (10000L, 1L, 40.0), (30000L, 1L, 50.0)),
      s"got ${rows.toSeq}")
  }

  test("a row between the two watermarks is folded into its window, not dropped") {
    // Spark filters late rows with the PREVIOUS batch's watermark but
    // hands the processor the current one: in the 4th batch below the
    // filter uses 8.5 s while the processor sees 18 s, so the 9.2 s row
    // reaches a window that ended before the processor's watermark
    import spark.implicits._
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = spark.conf.getOption(noData)
    spark.conf.set(noData, "false")
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val scored = StreamingHealth.score(mem.toDF(), watermarkDelay = "2 seconds",
      windowMs = 1000L, minTraining = 999, alertThreshold = 0.0,
      originMs = sim.originMs)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString
    val q = try scored.toDF().writeStream.format("memory").queryName("between")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    finally prev.fold(spark.conf.unset(noData))(spark.conf.set(noData, _))
    def at(ms: Long) = VitalPoint(7, new java.sql.Timestamp(sim.originMs + ms), 1.0)
    val dropped = try {
      Seq(10000L, 10500L, 20000L, 9200L).foreach { ms =>
        mem.addData(at(ms)); q.processAllAvailable()
      }
      (1 to 2).foreach { i =>
        mem.addData(VitalPoint(999,
          new java.sql.Timestamp(sim.originMs + 10_000_000L + i), 0.0))
        q.processAllAvailable()
      }
      q.recentProgress.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    } finally q.stop()
    val rows = spark.table("between").filter(col("patient_id") === 7)
      .select("window_start_ms", "n_events").collect()
      .map(r => (r.getLong(0) - sim.originMs, r.getLong(1))).sortBy(_._1).toSeq
    assert(rows.contains((9000L, 1L)), s"the 9.2 s row vanished: $rows")
    assert(rows.map(_._2).sum + dropped == 4, s"windows $rows, $dropped dropped")
  }

  test("out-of-order arrival within the watermark is folded correctly") {
    import spark.implicits._
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val scored = StreamingHealth.score(mem.toDF(), watermarkDelay = "60 seconds",
      windowMs = WindowMs, minTraining = 3, alertThreshold = 0.0,
      originMs = sim.originMs)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString
    val q = scored.toDF().writeStream.format("memory").queryName("ooo")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    // shuffle arrival order within 25 s blocks — within the 60 s
    // watermark delay, so nothing is legitimately droppable
    val rnd = new scala.util.Random(5)
    val blocks = vitals
      .filter(v => v.patient_id == 2 && v.event_time.getTime < sim.originMs + 100_000)
      .sortBy(_.event_time.getTime).grouped(25).map(rnd.shuffle(_)).toSeq
    try {
      blocks.foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
      (1 to 2).foreach { i =>
        mem.addData(VitalPoint(999,
          new java.sql.Timestamp(sim.originMs + 10_000_000L + i), 0.0))
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("ooo").filter(col("patient_id") === 2)
      .select("window_start_ms", "n_events", "observed_value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val expected = vitals
      .filter(v => v.patient_id == 2 && v.event_time.getTime < sim.originMs + 100_000)
      .groupBy(v => v.event_time.getTime - Math.floorMod(
        v.event_time.getTime - sim.originMs, WindowMs))
      .map { case (s, vs) => (s, vs.size.toLong, vs.map(_.value).sum / vs.size) }
      .toSeq.sortBy(_._1)
    assert(got.map(g => (g._1, g._2)).toSeq == expected.map(e => (e._1, e._2)))
    got.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g._3 - e._3) < 1e-9)
    }
  }
}
