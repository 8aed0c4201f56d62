package graft.streaming

import graft.SparkSpec
import graft.functions.RollingConformal
import graft.ops.Health
import graft.sim.Simulator
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Rolling-conformal parity and alarm discipline: the processor folds
  * [[RollingConformal]]'s pure recurrence over the window-averaged
  * series, so replaying the identical recurrence over the batch window
  * averages must agree bit-for-bit — q̂, interval bounds, breach flag
  * and all. A planted jump after a calm warm-up must breach. */
class StreamingConformalSpec extends SparkSpec {

  private val WindowMs = 5000L
  private val MinTrain = 10

  private def runStream(points: Seq[VitalPoint], originMs: Long)
      : Map[(Int, Long), (Double, Boolean, Option[Double], Option[Double], Long)] = {
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val scored = StreamingHealth.scoreConformal(mem.toDF(),
      watermarkDelay = "5 seconds", windowMs = WindowMs,
      minTraining = MinTrain, originMs = originMs)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "cfck").toString
    val name = s"cfscored${System.nanoTime()}"
    val q = scored.toDF().writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      points.grouped(300).foreach { chunk =>
        mem.addData(chunk)
        q.processAllAvailable()
      }
      (1 to 2).foreach { i => // watermark push-through closes the tail
        mem.addData(VitalPoint(999,
          new java.sql.Timestamp(originMs + 10_000_000L + i), 0.0))
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(name).filter(col("patient_id") =!= 999).collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getDouble(3), r.getBoolean(4),
          if (r.isNullAt(6)) None else Some(r.getDouble(6)),
          if (r.isNullAt(7)) None else Some(r.getDouble(7)),
          r.getLong(8))).toMap
  }

  test("streaming conformal equals the scala recurrence bit-for-bit") {
    import spark.implicits._
    val sim = new Simulator(seed = 17L, tickSeconds = 1.0, patients = 4)
    val vitals = sim.run(300.0).map { e =>
      VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble)
    }
    val streamed = runStream(vitals, sim.originMs)
    assert(streamed.nonEmpty)
    val wa = Health.windowedAvg(vitals.toDF(),
        "patient_id", "event_time", "value", "5 seconds")
      .select(col("patient_id"), unix_millis(col("window_start")).as("ms"),
        col("avg_value"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1)
    var checked = 0
    wa.foreach { case (pid, rows) =>
      var buf = RollingConformal.zero
      rows.sortBy(_._2).foreach { case (_, ms, avg) =>
        val q = RollingConformal.qhatMicro(buf)
        val mv = RollingConformal.moveMicro(buf, avg)
        val m = buf.ring.length
        val warm = m >= MinTrain && q.isDefined
        val (savg, sanom, slo, sup, sn) = streamed((pid, ms))
        assert(savg == avg, s"window avg at ($pid,$ms)")
        assert(sn == m, s"banked-move count at ($pid,$ms)")
        assert(sanom == (warm &&
          (for (qq <- q; d <- mv) yield d > qq).contains(true)),
          s"breach flag at ($pid,$ms)")
        if (warm) {
          assert(slo.contains(buf.last - q.get / 1e6), s"lower at ($pid,$ms)")
          assert(sup.contains(buf.last + q.get / 1e6), s"upper at ($pid,$ms)")
        } else assert(slo.isEmpty && sup.isEmpty)
        buf = RollingConformal.push(buf, avg)
        checked += 1
      }
    }
    assert(checked == streamed.size, s"checked $checked of ${streamed.size}")
  }

  test("a planted jump after a calm warm-up breaches; calm windows never do") {
    val origin = 1704067200000L
    // 30 calm windows (one point per 5 s window, values 100 ± 1), then
    // one 50-unit jump
    val pts = (0 until 31).map { i =>
      val v = if (i == 30) 150.0 else 100.0 + (i % 3) - 1
      VitalPoint(1, new java.sql.Timestamp(origin + i * 5000L + 100), v)
    }
    val out = runStream(pts, origin)
    val anomalies = out.toSeq.filter(_._2._2).map(_._1._2).sorted
    assert(anomalies == Seq(origin + 30 * 5000L),
      s"exactly the jump window breaches: $anomalies")
    // warm rows carry symmetric intervals around the previous level
    out.foreach { case ((_, _), (_, _, lo, up, n)) =>
      if (n >= MinTrain) assert(lo.isDefined && up.isDefined && lo.get < up.get)
    }
  }
}
