package graft.streaming

import graft.ops.Health
import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, TimeMode}

/** Streaming composition of the reference pipeline
  * (SURVEY.md §3.3's trace): readStream → enrich (stream-static
  * broadcast join) → watermark → one fused per-key stateful operator
  * ([[HealthStateProcessor]]) → alerts.
  *
  * Requires the RocksDB state store provider, which [[graft.Session]]
  * sets for every session it starts — `transformWithState` does not run
  * on the default HDFS-backed store.
  */
object StreamingHealth {

  /** Default window: the reference's 1-second TUMBLE
    * (flink_statements.tf:181). */
  val DefaultWindowMs: Long = 1000L

  /** Statement [1]: stream-static enrichment join; the dimension is
    * broadcast so the stream never shuffles for the join. */
  def enrich(events: DataFrame, dim: DataFrame, eventKey: String,
      dimKey: String): DataFrame =
    Health.enrich(events, dim, eventKey, dimKey)

  /** Statements [2]→[4] fused: score a keyed event-time stream.
    *
    * @param events streaming DataFrame with columns
    *               (patient_id INT, event_time TIMESTAMP, value DOUBLE)
    * @param watermarkDelay max expected out-of-orderness, e.g. "10 seconds"
    */
  def score(events: DataFrame, watermarkDelay: String,
      windowMs: Long = DefaultWindowMs, minTraining: Int = 30,
      confidencePercentage: Double = 95.0, alertThreshold: Double = 40.0,
      originMs: Long = Health.OriginMs): Dataset[HealthScore] =
    run(events, watermarkDelay,
      new HealthStateProcessor(windowMs, minTraining, confidencePercentage,
        alertThreshold, originMs))

  /** [[score]] with the ARIMA-family model swapped in: AR(1) residual
    * anomaly + AR(1) 1-step forecast alerting ([[Ar1HealthStateProcessor]]),
    * same watermark/window semantics. */
  def scoreAr1(events: DataFrame, watermarkDelay: String,
      windowMs: Long = DefaultWindowMs, minTraining: Int = 30,
      confidencePercentage: Double = 95.0, alertThreshold: Double = 40.0,
      originMs: Long = Health.OriginMs): Dataset[HealthScore] =
    run(events, watermarkDelay,
      new Ar1HealthStateProcessor(windowMs, minTraining, confidencePercentage,
        alertThreshold, originMs))

  /** [[score]] with ETS(A,A) Holt trend scoring
    * ([[HoltHealthStateProcessor]]): the 1-step forecast level + trend
    * drives the alert, so a declining vital alerts earlier than a
    * level-only model. */
  def scoreHolt(events: DataFrame, watermarkDelay: String,
      windowMs: Long = DefaultWindowMs, minTraining: Int = 30,
      alertThreshold: Double = 40.0, originMs: Long = Health.OriginMs,
      alpha: Double = 0.3, gamma: Double = 0.1): Dataset[HealthScore] =
    run(events, watermarkDelay,
      new HoltHealthStateProcessor(windowMs, minTraining, 95.0,
        alertThreshold, originMs, alpha, gamma))

  /** [[score]] with Page–Hinkley drift detection
    * ([[PhHealthStateProcessor]]): flags a sustained mean shift online
    * — the streaming counterpart of batch q167's CUSUM changepoint. */
  def scorePh(events: DataFrame, watermarkDelay: String,
      windowMs: Long = DefaultWindowMs, minTraining: Int = 30,
      alertThreshold: Double = 40.0, originMs: Long = Health.OriginMs,
      delta: Double = 0.5, lambda: Double = 15.0): Dataset[HealthScore] =
    run(events, watermarkDelay,
      new PhHealthStateProcessor(windowMs, minTraining, 95.0,
        alertThreshold, originMs, delta, lambda))

  /** Rolling-conformal scoring: distribution-free ±q̂ anomaly
    * intervals from the last 64 window-to-window moves (see
    * [[ConformalHealthStateProcessor]]). */
  def scoreConformal(events: DataFrame, watermarkDelay: String,
      windowMs: Long = DefaultWindowMs, minTraining: Int = 30,
      alertThreshold: Double = 40.0, originMs: Long = Health.OriginMs)
      : Dataset[HealthScore] =
    run(events, watermarkDelay,
      new ConformalHealthStateProcessor(windowMs, minTraining, 95.0,
        alertThreshold, originMs))

  /** The shared body of the `score*` variants: project and type the
    * input, set the watermark, key by patient and run `processor`. */
  private def run(events: DataFrame, watermarkDelay: String,
      processor: HealthStateProcessor): Dataset[HealthScore] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("patient_id").cast("int").as("patient_id"),
        col("event_time"), col("value").cast("double").as("value"))
      .withWatermark("event_time", watermarkDelay)
      .as[VitalPoint]
      .groupByKey(_.patient_id)
      .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append(),
        Encoders.product[HealthScore])
  }

  /** Statement [4]'s final filter: the `heartbeat_alerts` stream
    * (flink_statements.tf:299-333). */
  def alerts(scored: Dataset[HealthScore]): DataFrame =
    scored.toDF().filter(col("is_alert"))
      .select(col("patient_id"), col("window_start_ms"),
        col("observed_value").as("current_value"),
        col("forecast_value"))
}
