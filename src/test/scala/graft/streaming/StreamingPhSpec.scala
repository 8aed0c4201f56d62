package graft.streaming

import graft.SparkSpec
import graft.functions.PageHinkley
import graft.ops.Health
import graft.sim.Simulator
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Page–Hinkley drift parity and alert discipline: the streaming
  * processor folds [[PageHinkley.step]] over the window-averaged
  * series, so replaying the identical recurrence over the batch window
  * averages must agree BIT-for-bit; and on the golden scenario the
  * downward-drift alarm fires for the bradycardia patient only. */
class StreamingPhSpec extends SparkSpec {

  private val WindowMs = 5000L
  private val MinTrain = 10
  // δ must absorb the simulator's healthy wander (±5 bpm around a
  // slowly moving base): δ = 4 bpm dead-band, λ = 40 accumulated excess
  private val Delta = 4.0
  private val Lambda = 40.0

  // patient 1 of the golden scenario glides into bradycardia
  private lazy val sim = new Simulator(seed = 17L, tickSeconds = 1.0, patients = 4)
  private lazy val vitals: Seq[VitalPoint] = sim.run(300.0).map { e =>
    VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble)
  }

  private lazy val streamed: Map[(Int, Long), (Double, Boolean, Boolean, Option[Double])] = {
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val scored = StreamingHealth.scorePh(mem.toDF(), watermarkDelay = "5 seconds",
      windowMs = WindowMs, minTraining = MinTrain, delta = Delta, lambda = Lambda,
      originMs = sim.originMs)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "phck").toString
    val q = scored.toDF().writeStream.format("memory").queryName("phscored")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      vitals.grouped(300).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
      (1 to 2).foreach { i =>
        mem.addData(VitalPoint(999,
          new java.sql.Timestamp(sim.originMs + 10_000_000L + i), 0.0))
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table("phscored").filter(col("patient_id") =!= 999).collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getDouble(3), r.getBoolean(4), r.getBoolean(14),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
  }

  test("streaming PH equals the scala recurrence bit-for-bit") {
    import spark.implicits._
    // batch window averages in window order, folded through the SAME step
    val wa = Health.windowedAvg(vitals.toDF(),
        "patient_id", "event_time", "value", "5 seconds")
      .select(col("patient_id"), unix_millis(col("window_start")).as("ms"),
        col("avg_value"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    assert(streamed.nonEmpty)
    var checked = 0
    wa.foreach { case (pid, rows) =>
      var buf = PageHinkley.zero
      rows.sortBy(_._2).foreach { case (_, ms, avg) =>
        buf = PageHinkley.step(buf, avg, Delta)
        val (savg, sanom, salert, sexp) = streamed((pid, ms))
        assert(savg == avg, s"window avg at ($pid,$ms) must be bit-equal")
        val warm = buf.n >= MinTrain
        assert(sanom == (warm && (PageHinkley.incStat(buf) > Lambda ||
          PageHinkley.decStat(buf) > Lambda)), s"drift flag at ($pid,$ms)")
        assert(salert == (warm && PageHinkley.decStat(buf) > Lambda),
          s"down-drift alert at ($pid,$ms)")
        assert(sexp.isDefined == warm)
        if (warm) assert(sexp.get == buf.sum / buf.n, s"mean at ($pid,$ms)")
        checked += 1
      }
    }
    assert(checked == streamed.size, s"checked $checked of ${streamed.size}")
  }

  test("downward drift fires on the bradycardia patient only, after onset") {
    val byPatient = streamed.toSeq.groupBy(_._1._1)
    val alerts1 = byPatient(1).filter(_._2._3).map(_._1._2)
    assert(alerts1.nonEmpty, "patient 1's glide to 38 bpm must trip PH")
    // onset is 30 s in; no alarm may precede it
    val onsetMs = sim.originMs + 30000L
    assert(alerts1.min >= onsetMs, s"alarm before onset: ${alerts1.min}")
    // healthy patients (2..4) never trip the DOWNWARD alarm (their base
    // rates wander a few bpm — the δ dead-band must absorb that; the
    // two-sided is_anomaly flag is allowed to see genuine upward wander)
    (2 to 4).foreach { p =>
      val a = byPatient(p).filter(_._2._3)
      assert(a.isEmpty, s"patient $p false-alarmed at ${a.take(2).map(_._1._2)}")
    }
  }
}
