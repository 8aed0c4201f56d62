package graft.streaming

import graft.SparkSpec
import graft.ops.Health
import graft.sim.Simulator
import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q220's backtest semantics, derived from the STREAM: fold the MASE
  * accumulators (quantized model/naive absolute errors on the shared
  * 1e-4 grid) from the AR(1) processor's emitted windows and pin them
  * against the batch q220-style fold on the same window-averaged
  * series. StreamingAr1Spec already pins per-window (avg, expected)
  * bit-equality; this pins the DERIVATION — the prev-window pairing,
  * the warm-up gate alignment, and the error quantization — so a
  * streaming job can evaluate its own forecaster with exactly the
  * batch query's numbers. */
class StreamingBacktestSpec extends SparkSpec {

  private val WindowMs = 5000L
  private val MinTrain = 20

  private def quant(x: Double): Long =
    math.floor(x * 10000 + 0.500001).toLong

  private lazy val sim = new Simulator(seed = 29L, tickSeconds = 1.0, patients = 4)
  private lazy val vitals: Seq[VitalPoint] = sim.run(300.0).map { e =>
    VitalPoint(e.patient_id, e.event_time, e.vitals.heart_rate.toDouble)
  }

  /** (patient -> (n_eval, sem, sen)) folded from the emitted stream. */
  private lazy val streamedFold: Map[Int, (Long, Long, Long)] = {
    import spark.implicits._
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val scored = StreamingHealth.scoreAr1(mem.toDF(), watermarkDelay = "5 seconds",
      windowMs = WindowMs, minTraining = MinTrain, alertThreshold = 40.0,
      originMs = sim.originMs)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "btck").toString
    val q = scored.toDF().writeStream.format("memory").queryName("btscored")
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
    spark.table("btscored").collect()
      .filter(_.getInt(0) < 999)
      .groupBy(_.getInt(0))
      .map { case (pid, rows) =>
        val ordered = rows.sortBy(_.getLong(1)) // window_start_ms
        var prev = Double.NaN
        var (n, sem, sen) = (0L, 0L, 0L)
        ordered.foreach { r =>
          val avg = r.getDouble(3)
          if (!r.isNullAt(5) && !prev.isNaN) {
            n += 1
            sem += quant(math.abs(avg - r.getDouble(5)))
            sen += quant(math.abs(avg - prev))
          }
          prev = avg
        }
        pid -> ((n, sem, sen))
      }
  }

  /** The batch q220 fold on the identical window-averaged series. */
  private lazy val batchFold: Map[Int, (Long, Long, Long)] = {
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
      .filter(col("rep.expected").isNotNull)
      .select(col("patient_id"),
        floor(abs(col("avg_value") - col("rep.expected")) * 10000
          + lit(0.500001)).cast("long").as("em"),
        floor(abs(col("avg_value") - col("prev")) * 10000
          + lit(0.500001)).cast("long").as("en"))
      .groupBy(col("patient_id"))
      .agg(count(lit(1)).as("n"), sum(col("em")).as("sem"),
        sum(col("en")).as("sen"))
      .collect()
      .map { r: Row =>
        r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))
      }.toMap
  }

  test("streaming MASE accumulators equal the batch q220 fold exactly") {
    assert(streamedFold.nonEmpty && streamedFold.keySet == batchFold.keySet,
      s"key sets differ: ${streamedFold.keySet} vs ${batchFold.keySet}")
    streamedFold.foreach { case (pid, s) =>
      assert(s == batchFold(pid),
        s"patient $pid: streaming $s vs batch ${batchFold(pid)}")
      assert(s._1 > 0, s"patient $pid folded no evaluable windows")
    }
  }
}
