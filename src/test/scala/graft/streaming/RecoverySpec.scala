package graft.streaming

import graft.{Pipeline, Schemas, SparkSpec}
import graft.sim.Simulator
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Runtime paths not covered elsewhere: the stream-static enrichment
  * join under a real streaming query, and stateful recovery — the
  * processor must resume from the checkpoint after a stop/restart
  * without re-emitting or losing windows. */
class RecoverySpec extends SparkSpec {

  private lazy val sim = new Simulator(seed = 21L, tickSeconds = 1.0, patients = 3)

  test("streaming enrichment join attaches dimension columns per event") {
    import spark.implicits._
    val mem = MemoryStream[Schemas.HealthEvent](
      Encoders.product[Schemas.HealthEvent], spark)
    val (enriched, _) = Pipeline.streaming(mem.toDF(), spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "enr").toString
    val q = enriched.writeStream.format("memory").queryName("enr")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      mem.addData(sim.run(30.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("enr")
      .select("patient_id", "name", "age", "vitals.heart_rate").collect()
    assert(rows.length == 90) // 3 patients x 30 ticks
    val names = rows.map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(names(1) == "John Doe" && names(2) == "Jane Smith")
  }

  test("stateful processor resumes exactly from the checkpoint on restart") {
    import spark.implicits._
    val vitals = sim.run(120.0).map(e =>
      VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble))
    val (first, second) = vitals.splitAt(vitals.size / 2)
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "rec").toString
    val ckpt = s"$base/ckpt"
    val outDir = s"$base/out"

    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    // the memory sink is not fault-tolerant; recovery needs a file sink
    def start() = StreamingHealth.score(mem.toDF(), watermarkDelay = "5 seconds",
      windowMs = 10000L, minTraining = 3, originMs = sim.originMs)
      .toDF().writeStream.format("parquet").option("path", outDir)
      .outputMode("append").option("checkpointLocation", ckpt).start()

    val q1 = start()
    mem.addData(first)
    q1.processAllAvailable()
    q1.stop()
    val afterFirst = spark.read.parquet(outDir).count()

    val q2 = start() // same checkpoint, same source: resumes, not replays
    mem.addData(second)
    q2.processAllAvailable()
    (1 to 2).foreach { i =>
      mem.addData(VitalPoint(999,
        new java.sql.Timestamp(sim.originMs + 10_000_000L + i), 0.0))
      q2.processAllAvailable()
    }
    q2.stop()

    val rows = spark.read.parquet(outDir).filter(col("patient_id") =!= 999)
      .select("patient_id", "window_start_ms", "n_events").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // every 10 s window of the 120 s run present exactly once per patient
    (1 to 3).foreach { p =>
      val ws = rows.filter(_._1 == p).map(_._2).sorted
      assert(ws.length == 12, s"patient $p windows: ${ws.length} (resume broke)")
      assert(ws.distinct.length == ws.length, s"patient $p duplicated windows")
      assert(rows.filter(_._1 == p).forall(_._3 == 10L),
        s"patient $p window counts wrong after resume")
    }
    assert(afterFirst > 0 && afterFirst < rows.length,
      "restart test degenerated: all output emitted in one phase")
  }

  test("AR(1) processor state survives checkpoint restart bit-exactly") {
    import spark.implicits._
    // the Ar1Buf ValueState nests RegState (8 doubles) — encoder bugs
    // in nested product state only surface on RocksDB RESTORE, so the
    // interrupted run must equal an uninterrupted reference run exactly
    val vitals = sim.run(120.0).map(e =>
      VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble))
    val (first, second) = vitals.splitAt(vitals.size / 2)
    val sentinels = (1 to 2).map(i =>
      VitalPoint(999, new java.sql.Timestamp(sim.originMs + 10_000_000L + i), 0.0))

    def run(chunks: Seq[Seq[VitalPoint]], restartBetween: Boolean): Map[(Int, Long), (Boolean, Option[Double])] = {
      val base = java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get("target"), "ar1rec").toString
      val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
      def start() = StreamingHealth.scoreAr1(mem.toDF(), watermarkDelay = "5 seconds",
        windowMs = 10000L, minTraining = 3, originMs = sim.originMs)
        .toDF().writeStream.format("parquet").option("path", s"$base/out")
        .outputMode("append").option("checkpointLocation", s"$base/ckpt").start()
      var q = start()
      chunks.zipWithIndex.foreach { case (chunk, i) =>
        mem.addData(chunk)
        q.processAllAvailable()
        if (restartBetween && i == 0) { q.stop(); q = start() }
      }
      sentinels.foreach { s => mem.addData(s); q.processAllAvailable() }
      q.stop()
      spark.read.parquet(s"$base/out").filter(col("patient_id") =!= 999)
        .select("patient_id", "window_start_ms", "is_anomaly", "expected")
        .collect().map(r => (r.getInt(0), r.getLong(1)) ->
          (r.getBoolean(2), if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    }

    val interrupted = run(Seq(first, second), restartBetween = true)
    val reference = run(Seq(first, second), restartBetween = false)
    assert(interrupted.size == reference.size,
      s"window sets differ: ${interrupted.size} vs ${reference.size}")
    reference.foreach { case (k, (flag, exp)) =>
      val (iflag, iexp) = interrupted(k)
      assert(iflag == flag, s"flag diverged after restore at $k")
      assert(iexp == exp, s"expected diverged after restore at $k (bit compare)")
    }
  }

  test("Holt processor state survives checkpoint restart bit-exactly") {
    import spark.implicits._
    // HoltBuf carries 10 doubles (plain l/b plus the affine span map);
    // same restore-only encoder risk class as Ar1Buf
    val vitals = sim.run(120.0).map(e =>
      VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble))
    val (first, second) = vitals.splitAt(vitals.size / 2)
    val sentinels = (1 to 2).map(i =>
      VitalPoint(999, new java.sql.Timestamp(sim.originMs + 10_000_000L + i), 0.0))

    def run(restartBetween: Boolean): Map[(Int, Long), (Option[Double], Boolean)] = {
      val base = java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get("target"), "holtrec").toString
      val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
      def start() = StreamingHealth.scoreHolt(mem.toDF(), watermarkDelay = "5 seconds",
        windowMs = 10000L, minTraining = 3, originMs = sim.originMs)
        .toDF().writeStream.format("parquet").option("path", s"$base/out")
        .outputMode("append").option("checkpointLocation", s"$base/ckpt").start()
      var q = start()
      Seq(first, second).zipWithIndex.foreach { case (chunk, i) =>
        mem.addData(chunk)
        q.processAllAvailable()
        if (restartBetween && i == 0) { q.stop(); q = start() }
      }
      sentinels.foreach { s => mem.addData(s); q.processAllAvailable() }
      q.stop()
      spark.read.parquet(s"$base/out").filter(col("patient_id") =!= 999)
        .select("patient_id", "window_start_ms", "forecast_value", "is_alert")
        .collect().map(r => (r.getInt(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3))).toMap
    }

    val interrupted = run(restartBetween = true)
    val reference = run(restartBetween = false)
    assert(interrupted.size == reference.size)
    reference.foreach { case (k, v) =>
      assert(interrupted(k) == v, s"Holt state diverged after restore at $k")
    }
  }

  test("conformal processor ring survives checkpoint restart bit-exactly") {
    import spark.implicits._
    // ConfBuf carries an Array[Long] ring — the ARRAY-column state
    // encoder path that only exercises on RocksDB restore; a dropped
    // or reordered ring element would shift q̂ and flip breach flags
    val vitals = sim.run(120.0).map(e =>
      VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble))
    val (first, second) = vitals.splitAt(vitals.size / 2)
    val sentinels = (1 to 2).map(i =>
      VitalPoint(999, new java.sql.Timestamp(sim.originMs + 10_000_000L + i), 0.0))

    def run(restartBetween: Boolean)
        : Map[(Int, Long), (Boolean, Option[Double], Option[Double], Long)] = {
      val base = java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get("target"), "cfrec").toString
      val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
      def start() = StreamingHealth.scoreConformal(mem.toDF(),
        watermarkDelay = "5 seconds", windowMs = 10000L, minTraining = 3,
        originMs = sim.originMs)
        .toDF().writeStream.format("parquet").option("path", s"$base/out")
        .outputMode("append").option("checkpointLocation", s"$base/ckpt").start()
      var q = start()
      Seq(first, second).zipWithIndex.foreach { case (chunk, i) =>
        mem.addData(chunk)
        q.processAllAvailable()
        if (restartBetween && i == 0) { q.stop(); q = start() }
      }
      sentinels.foreach { s => mem.addData(s); q.processAllAvailable() }
      q.stop()
      spark.read.parquet(s"$base/out").filter(col("patient_id") =!= 999)
        .select("patient_id", "window_start_ms", "is_anomaly", "lower", "upper",
          "n_training")
        .collect().map(r => (r.getInt(0), r.getLong(1)) ->
          (r.getBoolean(2),
            if (r.isNullAt(3)) None else Some(r.getDouble(3)),
            if (r.isNullAt(4)) None else Some(r.getDouble(4)),
            r.getLong(5))).toMap
    }

    val interrupted = run(restartBetween = true)
    val reference = run(restartBetween = false)
    assert(interrupted.size == reference.size)
    reference.foreach { case (k, v) =>
      assert(interrupted(k) == v, s"conformal ring diverged after restore at $k")
    }
  }
}
