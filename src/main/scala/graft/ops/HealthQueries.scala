package graft.ops

import graft.{Query, Tables}
import graft.functions.MLFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference pipeline's four statements (flink_statements.tf:117,
  * 173, 253, 299) as driver-checkable queries over the driver's `events`
  * table, using the role mapping of FIXTURES.md §B: `user_id` ↔
  * patient_id, `ts` ↔ $rowtime, `value` ↔ vitals.heart_rate, `customer`
  * ↔ patients dim. The ops themselves live in [[Health]]; each query
  * here has an exact DuckDB oracle twin.
  */
object HealthQueries {

  private val Z = Health.Z95
  /** SQL fragment: exact fractional days since 2024-01-01 (matches
    * [[Health.tsDays]] bit-for-bit: integer epoch µs then one divide). */
  private val XDAYS = s"(epoch_us(ts) - ${Health.OriginUs}) / 86400000000.0"

  /** The z-score baseline's statistics over the prior-rows frame — the
    * oracle CTE shared by q22, q23 and q26. */
  private val AnomalyStats = """WITH s AS (
          SELECT user_id, event_id, ts, value,
            AVG(value) OVER w AS mu,
            STDDEV_SAMP(value) OVER w AS sigma,
            COUNT(value) OVER w AS n_training
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))"""
  private val IsAnomaly = s"""(n_training >= 30 AND sigma IS NOT NULL AND sigma > 0
             AND ABS(value - mu) > $Z * sigma)"""

  /** Cumulative OLS trend (`s`) and its 1-step forecast, MSE and
    * timestamp (`f`) — the oracle CTE pair shared by q24, q25 and q27. */
  private val ForecastCtes = s"""WITH s AS (
          SELECT user_id, event_id, ts, value,
            $XDAYS AS x,
            COUNT(value) OVER w AS n,
            REGR_SLOPE(value, $XDAYS) OVER w AS slope,
            AVG($XDAYS) OVER w AS avg_x,
            AVG(value) OVER w AS avg_y,
            STDDEV_SAMP(value) OVER w AS sd_y,
            CORR(value, $XDAYS) OVER w AS r,
            MIN($XDAYS) OVER w AS min_x,
            MAX($XDAYS) OVER w AS max_x
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        f AS (
          SELECT user_id, event_id, value,
            x + (max_x - min_x) / (n - 1) AS fts,
            avg_y + slope * (x + (max_x - min_x) / (n - 1) - avg_x) AS fc,
            (COALESCE(sd_y * sd_y, 0.0) * (n - 1) / n) * (1.0 - COALESCE(r * r, 0.0)) AS mse,
            n, slope
          FROM s)"""
  /** q24's oracle, and q27's: the UDAF twin computes the same rows. */
  private val ForecastSql = s"""
        $ForecastCtes
        SELECT user_id, event_id, value,
          FLOOR((fts) * 1000000 + 0.500001) / 1000000 AS forecast_timestamp,
          FLOOR((fc) * 10000 + 0.500001) / 10000 AS forecast_value,
          FLOOR((fc - $Z * SQRT(mse)) * 10000 + 0.500001) / 10000 AS lower_bound,
          FLOOR((fc + $Z * SQRT(mse)) * 10000 + 0.500001) / 10000 AS upper_bound,
          FLOOR((SQRT(mse)) * 10000 + 0.500001) / 10000 AS rmse,
          FLOOR((CASE WHEN mse > 0 THEN n * LN(mse) + 4.0 END) * 10000 + 0.500001) / 10000 AS aic
        FROM f
        WHERE n >= 30 AND slope IS NOT NULL
        ORDER BY user_id, event_id"""

  /** Per-user running frame through the current row, for the UDAF twins. */
  private def cumulative = Window.partitionBy(col("user_id"))
    .orderBy(col("ts"), col("event_id"))
    .rowsBetween(Window.unboundedPreceding, Window.currentRow)

  def queries: Seq[Query] = Seq(
    // ---------------------------------------------------------------- q20
    Query(
      "q20_enriched_events",
      (s, d) => {
        val dim = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        Health.enrich(Tables.events(s, d), dim, "user_id", "c_custkey")
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
            col("value"), col("c_name").as("name"), col("c_mktsegment").as("segment"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT e.event_id, e.ts, e.user_id, e.event_type, e.value,
          c.c_name AS name, c.c_mktsegment AS segment
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        ORDER BY e.event_id"""),
      "statement [1] enriched_events: lookup join ≡ broadcast stream-static equi join (J1+X1)"),

    // ---------------------------------------------------------------- q21
    Query(
      "q21_windowed_avg",
      (s, d) =>
        Health.windowedAvg(Tables.events(s, d), "user_id", "ts", "value", "1 day")
          .select(col("user_id"), col("window_start").as("day"), col("n_events"),
            graft.Num.r4(col("avg_value")).as("avg_value"),
            col("min_value"), col("max_value"))
          .orderBy(col("user_id"), col("day")),
      Some("""
        SELECT user_id, CAST(DATE_TRUNC('day', ts) AS TIMESTAMP) AS day, COUNT(*) AS n_events,
          FLOOR((AVG(value)) * 10000 + 0.500001) / 10000 AS avg_value,
          MIN(value) AS min_value, MAX(value) AS max_value
        FROM events GROUP BY 1, 2
        ORDER BY user_id, day"""),
      "statement [2a] tumbling event-time window aggregate (W1+A1)"),

    // ---------------------------------------------------------------- q22
    Query(
      "q22_anomaly_flags",
      (s, d) =>
        Health.detectAnomalies(Tables.events(s, d), "user_id", "ts", "value",
          "event_id", minTraining = 30)
          .select(col("user_id"), col("event_id"), col("ts"), col("value"),
            col("report.is_anomaly").as("is_anomaly"),
            graft.Num.r4(col("report.expected")).as("expected"),
            graft.Num.r4(col("report.lower")).as("lower"),
            graft.Num.r4(col("report.upper")).as("upper"),
            col("report.n_training").as("n_training"))
          .orderBy(col("user_id"), col("ts"), col("event_id")),
      Some(s"""
        $AnomalyStats
        SELECT user_id, event_id, ts, value,
          $IsAnomaly AS is_anomaly,
          FLOOR((mu) * 10000 + 0.500001) / 10000 AS expected,
          FLOOR((mu - $Z * sigma) * 10000 + 0.500001) / 10000 AS lower,
          FLOOR((mu + $Z * sigma) * 10000 + 0.500001) / 10000 AS upper,
          n_training
        FROM s ORDER BY user_id, ts, event_id"""),
      "statement [2b] ML_DETECT_ANOMALIES baseline: per-key cumulative z-score over prior rows (O1+M1)"),

    // ---------------------------------------------------------------- q23
    Query(
      "q23_filtered_normal",
      (s, d) =>
        Health.filterNormal(
          Health.detectAnomalies(Tables.events(s, d), "user_id", "ts", "value",
            "event_id", minTraining = 30))
          .select(col("user_id"), col("event_id"), col("ts"), col("value"))
          .orderBy(col("user_id"), col("ts"), col("event_id")),
      Some(s"""
        $AnomalyStats
        SELECT user_id, event_id, ts, value
        FROM s
        WHERE NOT $IsAnomaly
        ORDER BY user_id, ts, event_id"""),
      "statement [3] filtered_enriched_events: keep normal rows (F1)"),

    // ---------------------------------------------------------------- q24
    Query(
      "q24_forecast",
      (s, d) =>
        Health.forecast(Tables.events(s, d), "user_id", "ts", "value",
          "event_id", minTraining = 30)
          .filter(col("forecast_timestamp").isNotNull)
          .select(col("user_id"), col("event_id"), col("value"),
            graft.Num.r6(col("forecast_timestamp")).as("forecast_timestamp"),
            graft.Num.r4(col("forecast_value")).as("forecast_value"),
            graft.Num.r4(col("lower_bound")).as("lower_bound"),
            graft.Num.r4(col("upper_bound")).as("upper_bound"),
            graft.Num.r4(col("rmse")).as("rmse"),
            graft.Num.r4(col("aic")).as("aic"))
          .orderBy(col("user_id"), col("event_id")),
      Some(ForecastSql),
      "statement [4a] ML_FORECAST baseline: per-key cumulative OLS trend, 1-step horizon (O1+M2+X2)"),

    // ---------------------------------------------------------------- q25
    Query(
      "q25_alerts",
      (s, d) =>
        Health.alerts(
          Health.forecast(Tables.events(s, d), "user_id", "ts", "value",
            "event_id", minTraining = 30), threshold = 40.0)
          .select(col("user_id"), col("event_id"),
            col("value").as("current_value"),
            graft.Num.r4(col("forecast_value")).as("forecast_value"))
          .orderBy(col("user_id"), col("event_id")),
      Some(s"""
        $ForecastCtes
        SELECT user_id, event_id, value AS current_value, FLOOR((fc) * 10000 + 0.500001) / 10000 AS forecast_value
        FROM f
        WHERE n >= 30 AND slope IS NOT NULL AND fc < 40.0
        ORDER BY user_id, event_id"""),
      "statement [4b] heartbeat_alerts: forecast threshold filter (F2)"),

    // ---------------------------------------------------------------- q26
    // Same semantics as q22 but computed by the custom typed
    // AnomalyAggregator (Welford + leave-last-out) instead of built-in
    // window functions — proving the reference-shaped
    // ML_DETECT_ANOMALIES(value) call form is oracle-exact too.
    Query(
      "q26_ml_detect_udaf",
      (s, d) => {
        val detect = MLFunctions.detectAnomalies(30, 95.0)
        Tables.events(s, d)
          .withColumn("report", detect(col("value")).over(cumulative))
          .select(col("user_id"), col("event_id"),
            col("report.is_anomaly").as("is_anomaly"),
            graft.Num.r4(col("report.expected")).as("expected"),
            graft.Num.r4(col("report.lower")).as("lower"),
            graft.Num.r4(col("report.upper")).as("upper"),
            col("report.n_training").as("n_training"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(s"""
        $AnomalyStats
        SELECT user_id, event_id,
          $IsAnomaly AS is_anomaly,
          FLOOR((mu) * 10000 + 0.500001) / 10000 AS expected,
          CASE WHEN n_training >= 30 AND sigma IS NOT NULL AND sigma > 0
            THEN FLOOR((mu - $Z * sigma) * 10000 + 0.500001) / 10000 END AS lower,
          CASE WHEN n_training >= 30 AND sigma IS NOT NULL AND sigma > 0
            THEN FLOOR((mu + $Z * sigma) * 10000 + 0.500001) / 10000 END AS upper,
          n_training
        FROM s ORDER BY user_id, event_id"""),
      "M1 as custom typed Aggregator (udaf over cumulative frame), oracle-exact vs z-score SQL"),

    // ---------------------------------------------------------------- q27
    // Same semantics as q24 but via the custom ForecastAggregator
    // (co-moment OLS state) with its ARRAY<ROW> output exploded — the
    // reference's ML_FORECAST + UNNEST shape (X2).
    Query(
      "q27_ml_forecast_udaf",
      (s, d) => {
        val fcast = MLFunctions.forecast(30, 1, 95.0)
        Tables.events(s, d)
          .withColumn("x", Health.tsDays(col("ts")))
          .withColumn("forecasts", fcast(col("x"), col("value")).over(cumulative))
          .select(col("user_id"), col("event_id"), col("value"),
            explode(col("forecasts")).as("fc"))
          .select(col("user_id"), col("event_id"), col("value"),
            graft.Num.r6(col("fc.forecast_timestamp")).as("forecast_timestamp"),
            graft.Num.r4(col("fc.forecast_value")).as("forecast_value"),
            graft.Num.r4(col("fc.lower_bound")).as("lower_bound"),
            graft.Num.r4(col("fc.upper_bound")).as("upper_bound"),
            graft.Num.r4(col("fc.rmse")).as("rmse"),
            graft.Num.r4(col("fc.aic")).as("aic"))
          .orderBy(col("user_id"), col("event_id"))
      },
      Some(ForecastSql),
      "M2 as custom typed Aggregator with exploded ARRAY<ROW> output, oracle-exact vs REGR_* SQL"))
}
