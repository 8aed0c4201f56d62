package graft.streaming

import graft.SparkSpec
import graft.ops.Health
import graft.sim.Simulator
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Model-swap parity: the streaming AR(1) processor must produce
  * BIT-identical scores to the batch q160-style fold on the same
  * window-averaged series — both paths run the same
  * [[graft.functions.Ar1AnomalyAggregator]], so any divergence is a
  * state-plumbing bug, not numerics. */
class StreamingAr1Spec extends SparkSpec {

  private val WindowMs = 5000L
  private val MinTrain = 20

  private lazy val sim = new Simulator(seed = 17L, tickSeconds = 1.0, patients = 4)
  private lazy val vitals: Seq[VitalPoint] = sim.run(300.0).map { e =>
    VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble)
  }

  private lazy val streamed: Map[(Int, Long), Row] = {
    import spark.implicits._
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val scored = StreamingHealth.scoreAr1(mem.toDF(), watermarkDelay = "5 seconds",
      windowMs = WindowMs, minTraining = MinTrain, alertThreshold = 40.0,
      originMs = sim.originMs)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ar1ck").toString
    val q = scored.toDF().writeStream.format("memory").queryName("ar1scored")
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
    spark.table("ar1scored").collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r).toMap
  }

  /** The batch twin: window-average the identical input, then run the
    * SAME aggregator over a cumulative per-key frame (the q160 shape on
    * the window series instead of raw events). */
  private lazy val batch: Map[(Int, Long), Row] = {
    import spark.implicits._
    val detect = udaf(new graft.functions.Ar1AnomalyAggregator(MinTrain, 95.0),
      Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble))
    val wa = Health.windowedAvg(vitals.toDF(), "patient_id", "event_time",
      "value", "5 seconds")
    val ord = Window.partitionBy(col("patient_id")).orderBy(col("window_start"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wa.withColumn("prev", lag(col("avg_value"), 1).over(ord))
      .withColumn("rep",
        detect(coalesce(col("prev"), lit(Double.NaN)), col("avg_value")).over(cum))
      .select(col("patient_id"), unix_millis(col("window_start")).as("ms"),
        col("n_events"), col("avg_value"),
        col("rep.is_anomaly"), col("rep.expected"), col("rep.lower"),
        col("rep.upper"), col("rep.n_pairs"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r).toMap
  }

  test("streaming AR(1) equals the batch aggregator fold bit-for-bit") {
    assert(streamed.nonEmpty && streamed.size == batch.size,
      s"window sets differ: streamed ${streamed.size} vs batch ${batch.size}")
    streamed.foreach { case (k, s) =>
      val b = batch(k)
      assert(s.getLong(2) == b.getLong(2), s"n_events at $k")
      assert(s.getDouble(3) == b.getDouble(3), s"avg at $k (must be bit-equal)")
      assert(s.getBoolean(4) == b.getBoolean(4), s"is_anomaly at $k")
      // Option[Double] columns: null together or bit-equal
      (5 to 7).foreach { i =>
        assert(s.isNullAt(i) == b.isNullAt(i), s"null mismatch col $i at $k")
        if (!s.isNullAt(i))
          assert(s.getDouble(i) == b.getDouble(i), s"col $i at $k")
      }
      assert(s.getLong(8) == b.getLong(8), s"n_pairs at $k")
    }
  }

  test("streaming Holt equals the batch aggregator fold bit-for-bit") {
    import spark.implicits._
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val scored = StreamingHealth.scoreHolt(mem.toDF(), watermarkDelay = "5 seconds",
      windowMs = WindowMs, minTraining = MinTrain, alertThreshold = 40.0,
      originMs = sim.originMs)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "holtck").toString
    val q = scored.toDF().writeStream.format("memory").queryName("holtscored")
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
    val streamedHolt = spark.table("holtscored").collect()
      .map(r => (r.getInt(0), r.getLong(1)) ->
        (if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          if (r.isNullAt(10)) None else Some(r.getDouble(10)),
          r.getBoolean(14))).toMap
    // batch twin: Holt udaf over the cumulative window on window avgs
    val holtU = udaf(new graft.functions.HoltAggregator(0.3, 0.1),
      Encoders.scalaDouble)
    val wa = graft.ops.Health.windowedAvg(vitals.toDF(), "patient_id",
      "event_time", "value", "5 seconds")
    val ord = Window.partitionBy(col("patient_id")).orderBy(col("window_start"))
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val batchHolt = wa
      .withColumn("st", holtU(col("avg_value")).over(cum))
      .withColumn("k", row_number().over(ord).cast("long"))
      .select(col("patient_id"), unix_millis(col("window_start")).as("ms"),
        col("st._1").as("level"), col("st._2").as("trend"), col("k"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getLong(4))).toMap
    assert(streamedHolt.size == batchHolt.size)
    streamedHolt.foreach { case (key, (lvl, fc, alert)) =>
      val (bl, bt, k) = batchHolt(key)
      val warm = k >= MinTrain
      assert(lvl.isDefined == warm, s"warm gate at $key")
      if (warm) {
        assert(lvl.get == bl, s"level at $key (must be bit-equal)")
        assert(fc.get == bl + bt, s"forecast at $key")
        assert(alert == (bl + bt < 40.0), s"alert at $key")
      }
    }
  }

  test("AR(1) alerting fires on the bradycardia patient only, after warm-up") {
    val alerts = streamed.values.filter(_.getBoolean(14)).toSeq
    assert(alerts.nonEmpty, "expected AR(1) bradycardia alerts")
    assert(alerts.forall(_.getInt(0) == 1),
      s"alerts for unexpected patients: ${alerts.map(_.getInt(0)).distinct}")
    val firstMs = alerts.map(_.getLong(1)).min - sim.originMs
    assert(firstMs >= (sim.bradyOnsetS * 1000).toLong,
      s"alert at ${firstMs}ms precedes onset")
  }
}
