package graft.streaming

import graft.functions.{RegState, Stats, WelfordState}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming._

/** One scored, window-aggregated point of the streaming pipeline — the
  * union of the reference's statement [2] (flagged), [3] (filter) and
  * [4] (forecast + alert) outputs for a single closed window. */
final case class HealthScore(
    patient_id: Int,
    window_start_ms: Long,
    n_events: Long,
    observed_value: Double,
    is_anomaly: Boolean,
    expected: Option[Double],
    lower: Option[Double],
    upper: Option[Double],
    n_training: Long,
    forecast_ms: Option[Long],
    forecast_value: Option[Double],
    lower_bound: Option[Double],
    upper_bound: Option[Double],
    rmse: Option[Double],
    is_alert: Boolean)

/** A raw keyed observation entering the streaming pipeline. */
final case class VitalPoint(patient_id: Int, event_time: java.sql.Timestamp,
    value: Double)

private[streaming] final case class BucketAcc(startMs: Long, sum: Double, count: Long)

/** The whole reference pipeline (flink_statements.tf statements
  * [2]→[4]) as ONE per-key stateful operator on `transformWithState` —
  * Spark has no streaming OVER aggregate (SURVEY.md §7.4), so the
  * per-key event-ordered cumulative M1/M2 state is hand-built here:
  *
  *  1. each event is summed straight into the accumulator of its
  *     tumbling `windowMs` window (statement [2]'s 1-second TUMBLE AVG).
  *     Open windows live in a map keyed by window start; a micro-batch's
  *     rows are first summed per window in memory, then merged with one
  *     read-modify-write per window. A sum and a count are commutative,
  *     so arrival order cannot change a window (the reference's Kafka
  *     source is round-robin partitioned, §3.2) and no raw row is kept;
  *  2. one event-time timer per window end, registered once when the
  *     window opens. A window closes when the watermark reaches its end
  *     — Flink TUMBLE emission semantics. Every close step emits ALL
  *     open windows with end ≤ watermark in start order, so the result
  *     does not depend on the order Spark delivers expired timers in;
  *  3. each closed window is scored against the Welford prior model
  *     (M1, z-score prediction interval, warm-up `minTraining`);
  *  4. normal windows (statement [3]'s is_anomaly = FALSE filter) feed
  *     the OLS trend state and emit a 1-step forecast with bounds (M2)
  *     and the `forecast < alertThreshold` alert flag (statement [4]).
  *
  * Late data: Spark drops rows at or behind the PREVIOUS batch's
  * watermark before the processor sees them (counted in the query's
  * `numRowsDroppedByWatermark`), and every window that has closed ended
  * at or before that watermark — so a delivered row always lands in a
  * window that is still open, and nothing is dropped silently here.
  *
  * State per key is O(open windows) ≈ delay / `windowMs` + 1
  * accumulators, plus one WelfordState + RegState — independent of the
  * event rate. Fusing the four statements into one operator keeps the
  * whole chain to a single shuffle and a single state store; the
  * reference's four separate Flink jobs re-shuffle the same patient_id
  * key three times.
  */
class HealthStateProcessor(windowMs: Long, minTraining: Int,
    confidencePercentage: Double, alertThreshold: Double, originMs: Long)
    extends StatefulProcessor[Int, VitalPoint, HealthScore] {

  @transient private var open: MapState[Long, BucketAcc] = _
  @transient private var model: ValueState[WelfordState] = _
  @transient private var trend: ValueState[RegState] = _

  protected val z: Double = Stats.normalQuantile(0.5 + confidencePercentage / 200.0)

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    open = getHandle.getMapState("open", Encoders.scalaLong,
      Encoders.product[BucketAcc], TTLConfig.NONE)
    model = getHandle.getValueState("model", Encoders.product[WelfordState], TTLConfig.NONE)
    trend = getHandle.getValueState("trend", Encoders.product[RegState], TTLConfig.NONE)
  }

  override def handleInputRows(key: Int, rows: Iterator[VitalPoint],
      timerValues: TimerValues): Iterator[HealthScore] = {
    val batch = scala.collection.mutable.LongMap.empty[BucketAcc]
    rows.foreach { p =>
      val ts = p.event_time.getTime
      val start = ts - java.lang.Math.floorMod(ts - originMs, windowMs)
      val b = batch.getOrElse(start, BucketAcc(start, 0.0, 0L))
      batch.update(start, BucketAcc(start, b.sum + p.value, b.count + 1))
    }
    val wm = timerValues.getCurrentWatermarkInMs()
    batch.foreachValue { b =>
      if (open.containsKey(b.startMs)) {
        val cur = open.getValue(b.startMs)
        open.updateValue(b.startMs, BucketAcc(b.startMs, cur.sum + b.sum, cur.count + b.count))
      } else {
        open.updateValue(b.startMs, b)
        // a window that is already ripe closes below, without a timer
        if (b.startMs + windowMs > wm) getHandle.registerTimer(b.startMs + windowMs)
      }
    }
    closeRipe(key, wm)
  }

  override def handleExpiredTimer(key: Int, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[HealthScore] =
    closeRipe(key, timerValues.getCurrentWatermarkInMs())

  /** Emit and remove every open window whose end the watermark has
    * reached, oldest first (the scoring state folds windows in event
    * time order). Only these few accumulators are ordered — never rows. */
  private def closeRipe(key: Int, watermarkMs: Long): Iterator[HealthScore] = {
    val ripe = open.iterator().collect {
      case (start, b) if start + windowMs <= watermarkMs => b
    }.toList.sortBy(_.startMs)
    // strict: state may only be touched while Spark has this key set
    ripe.map { b =>
      open.removeKey(b.startMs)
      closeBucket(key, b)
    }.iterator
  }

  /** Statement [2b]+[3]+[4] for one closed window. Protected so model
    * variants ([[Ar1HealthStateProcessor]]) can swap the scoring while
    * inheriting the watermark/bucket/timer machinery unchanged — the
    * "same Aggregator interface" property the batch side has. */
  protected def closeBucket(key: Int, b: BucketAcc): HealthScore = {
    val avg = b.sum / b.count
    val prior = Option(model.get()).getOrElse(WelfordState(0, 0.0, 0.0))
    val sigma = prior.stddevSamp
    val warm = prior.n >= minTraining && !sigma.isNaN && sigma > 0.0
    val flagged = warm && math.abs(avg - prior.mean) > z * sigma
    model.update(prior.add(avg))

    var fMs: Option[Long] = None
    var fVal, fLo, fHi, fRmse: Option[Double] = None
    var alert = false
    if (!flagged) {
      val x = (b.startMs - originMs) / 86400000.0
      val reg = Option(trend.get()).getOrElse(RegState(0, 0, 0, 0, 0, 0, 0, 0)).add(x, avg)
      trend.update(reg)
      if (reg.n >= math.max(minTraining, 3).toLong && reg.mXX > 0.0) {
        val slope = reg.mXY / reg.mXX
        val step = (reg.maxX - reg.minX) / (reg.n - 1)
        val xh = reg.maxX + step
        val v = reg.meanY + slope * (xh - reg.meanX)
        val mse = math.max(0.0, reg.mYY - reg.mXY * reg.mXY / reg.mXX) / reg.n
        val rmse = math.sqrt(mse)
        fMs = Some(b.startMs + windowMs)
        fVal = Some(v)
        fLo = Some(v - z * rmse)
        fHi = Some(v + z * rmse)
        fRmse = Some(rmse)
        alert = v < alertThreshold
      }
    }
    HealthScore(key, b.startMs, b.count, avg, flagged,
      if (prior.n > 0) Some(prior.mean) else None,
      if (warm) Some(prior.mean - z * sigma) else None,
      if (warm) Some(prior.mean + z * sigma) else None,
      prior.n, fMs, fVal, fLo, fHi, fRmse, alert)
  }
}
