package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference pipeline (health-monitor-cc-flink `flink_statements.tf`)
  * re-expressed as composable batch DataFrame transforms over a generic
  * keyed time series `(key, ts, value)`:
  *
  *   [1] enrichment lookup join   (flink_statements.tf:117-131)  -> [[enrich]]
  *   [2] tumbling-window AVG + ML_DETECT_ANOMALIES OVER (:173-211)
  *       -> [[windowedAvg]] + [[detectAnomalies]]
  *   [3] WHERE report.is_anomaly = FALSE (:253-257)              -> [[filterNormal]]
  *   [4] ML_FORECAST OVER + UNNEST + threshold (:299-333)        -> [[forecast]] + filter
  *
  * M1/M2 parity semantics are the pinned, oracle-checkable baselines of
  * SURVEY.md §7.3: Welford/z-score prediction interval for
  * ML_DETECT_ANOMALIES, cumulative OLS trend for ML_FORECAST. Both are
  * windowed aggregates over `ROWS BETWEEN UNBOUNDED PRECEDING ...` frames
  * keyed by the series key — at scale this is one hash shuffle on the key
  * followed by an in-partition sort (WindowExec); state per key is O(1)
  * in Spark's streaming twin (see graft.streaming).
  *
  * All time arithmetic is done on exact integer microseconds
  * (`unix_micros`) rescaled to fractional days since 2024-01-01, so the
  * DuckDB oracle (`epoch_us`) sees bit-identical inputs and the OLS
  * normal equations stay well-conditioned (x in [0, ~30], not ~1.7e9).
  */
object Health {

  /** Two-sided z for 95% confidence — the reference's
    * `confidencePercentage = 95.0` (flink_statements.tf:196,310).
    * Derived from the same quantile function the Aggregators use, and
    * interpolated verbatim into the oracle SQL, so every path shares one
    * bit-identical constant. */
  val Z95: Double = graft.functions.Stats.normalQuantile(0.975)

  /** Epoch microseconds of 2024-01-01T00:00:00Z, the driver dataset's
    * origin; only used to keep regression x values small. The SINGLE
    * source for every path (oracle SQL interpolates it, the simulator
    * and streaming processor derive [[OriginMs]]) — the bit-identical
    * parity between engines depends on there being one copy. */
  val OriginUs = 1704067200000000L
  val OriginMs: Long = OriginUs / 1000L

  /** ts -> fractional days since 2024-01-01 (exact int64 µs division). */
  def tsDays(ts: Column): Column = (unix_micros(ts) - lit(OriginUs)) / lit(86400000000.0)

  /** [1] Enrichment lookup join (J1+X1). The reference's
    * `KEY_SEARCH_AGG(...) CROSS JOIN LATERAL ... UNNEST` over a 10-row
    * Postgres dim is semantically a stream-to-static equi inner join;
    * the dim side is broadcast so no shuffle touches the fact stream. */
  def enrich(events: DataFrame, dim: DataFrame, eventKey: String, dimKey: String): DataFrame =
    events.join(broadcast(dim), events(eventKey) === dim(dimKey), "inner")
      .drop(dim(dimKey)) // by reference: same-named event key must survive

  /** [2a] Tumbling event-time window aggregate (W1+A1):
    * `TUMBLE(..., INTERVAL '1' SECOND)` + `AVG(vitals.heart_rate)`.
    * Window length is a parameter ("1 day" for the driver's month-long
    * event table, "1 second" for reference parity). Catalyst plans the
    * usual partial+final HashAggregate pair — map-side combine first. */
  def windowedAvg(events: DataFrame, key: String, ts: String, value: String,
                  width: String): DataFrame =
    events
      .groupBy(col(key), window(col(ts), width).getField("start").as("window_start"))
      .agg(
        count(lit(1)).as("n_events"),
        avg(col(value)).as("avg_value"),
        min(col(value)).as("min_value"),
        max(col(value)).as("max_value"))

  /** [2b] M1 `ML_DETECT_ANOMALIES` baseline: per-key cumulative z-score
    * over all PRIOR points (frame excludes the current row, so a glitch
    * never masks itself), warm-up of `minTraining` prior points emits
    * is_anomaly = false (flink_statements.tf:195 `minTrainingSize`).
    * Output is a nested `report` struct mirroring the reference's
    * ROW-valued function result consumed as `report.is_anomaly` (:257). */
  def detectAnomalies(df: DataFrame, key: String, ts: String, value: String,
                      tieBreak: String, minTraining: Int = 30,
                      z: Double = Z95): DataFrame = {
    val prior = Window.partitionBy(col(key)).orderBy(col(ts), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, -1)
    val mu = avg(col(value)).over(prior)
    val sigma = stddev_samp(col(value)).over(prior)
    val n = count(col(value)).over(prior)
    val warm = n >= lit(minTraining) && sigma.isNotNull && sigma > lit(0)
    df.withColumn("report", struct(
      (warm && abs(col(value) - mu) > lit(z) * sigma).as("is_anomaly"),
      mu.as("expected"),
      (mu - lit(z) * sigma).as("lower"),
      (mu + lit(z) * sigma).as("upper"),
      n.as("n_training")))
  }

  /** [3] Keep the NORMAL rows — detection scrubs glitches so the
    * forecaster downstream trains on clean data (flink_statements.tf:257). */
  def filterNormal(flagged: DataFrame): DataFrame =
    flagged.filter(!col("report.is_anomaly"))

  /** [4] M2 `ML_FORECAST` baseline: per-key cumulative OLS trend
    * (including the current row), horizon = one mean inter-arrival step.
    * Emits the reference's 6-field forecast row
    * (flink_statements.tf:325-332): forecast_timestamp (as fractional
    * days since 2024-01-01), forecast_value, lower_bound, upper_bound,
    * rmse, aic. The forecast is computed in the centered form
    * `avg_y + slope * (x_next - avg_x)` to avoid intercept cancellation.
    * RMSE/AIC use the OLS identity SSE = n * var_pop(y) * (1 - r²). */
  def forecast(df: DataFrame, key: String, ts: String, value: String,
               tieBreak: String, minTraining: Int = 30,
               z: Double = Z95): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tieBreak))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = tsDays(col(ts))
    val n = count(col(value)).over(w)
    val slope = regr_slope(col(value), x).over(w)
    val avgX = avg(x).over(w)
    val avgY = avg(col(value)).over(w)
    val sdY = stddev_samp(col(value)).over(w)
    // r in DuckDB's CORR form, cov / (σy·σx); NULL on a zero-variance
    // prefix, where Spark's corr divides by zero under ANSI
    val sdYX = stddev_pop(col(value)).over(w) * stddev_pop(x).over(w)
    val r = when(sdYX > 0, covar_pop(col(value), x).over(w) / sdYX)
    val step = (max(x).over(w) - min(x).over(w)) / (n - lit(1))
    val xNext = x + step
    val fc = avgY + slope * (xNext - avgX)
    val mse = (coalesce(pow(sdY, 2), lit(0.0)) * (n - 1) / n) *
      (lit(1.0) - coalesce(pow(r, 2), lit(0.0)))
    val rmse = sqrt(mse)
    val aic = when(mse > 0, n * log(mse) + lit(4.0))
    val ready = n >= lit(math.max(minTraining, 3)) && slope.isNotNull
    df.withColumn("x_days", x)
      .withColumn("forecast_timestamp", when(ready, xNext))
      .withColumn("forecast_value", when(ready, fc))
      .withColumn("lower_bound", when(ready, fc - lit(z) * rmse))
      .withColumn("upper_bound", when(ready, fc + lit(z) * rmse))
      .withColumn("rmse", when(ready, rmse))
      .withColumn("aic", when(ready, aic))
  }

  /** [4b] F2: the alert filter `forecast_value < threshold`
    * (flink_statements.tf:333, threshold 40 bpm bradycardia). */
  def alerts(forecasted: DataFrame, threshold: Double): DataFrame =
    forecasted.filter(col("forecast_value") < lit(threshold))
}
