package graft

import graft.sim.Simulator
import graft.sources.ConfluentAvro
import org.apache.spark.sql.functions._

/** End-to-end batch pipeline on the reference's own data model, driven
  * by the deterministic simulator — the reference's implicit acceptance
  * fixture (SURVEY.md §5), plus the Avro wire-format round trip. */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  // 10 patients × 5 Hz × 300 s = 15000 events, like the deployed config
  private lazy val events = new Simulator(seed = 3L, tickSeconds = 0.2).run(300.0)

  test("batch pipeline: bradycardia alerts for patient 1 only, after warm-up") {
    val df = events.toDF()
    val alerts = Pipeline.alertsBatch(df).collect()
    assert(alerts.nonEmpty, "expected heartbeat alerts")
    assert(alerts.forall(_.getInt(0) == 1),
      s"unexpected patients: ${alerts.map(_.getInt(0)).distinct.mkString(",")}")
    // warm-up: first alert cannot precede 30 windows of 1 s
    val firstAlertMs = alerts.map(_.getTimestamp(1).getTime).min
    assert(firstAlertMs >= events.head.event_time.getTime + 30 * 1000L)
  }

  test("enrichment preserves row count and attaches the right names") {
    val df = events.toDF()
    val enriched = Pipeline.enrichedEvents(df, spark)
    assert(enriched.count() == df.count())
    val names = enriched.select("patient_id", "name").distinct().collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(names(1) == "John Doe" && names(10) == "Anna Lopez") // db.tf:104-115
  }

  test("statement [2] as SQL text matches the DataFrame path") {
    val df = events.toDF()
    val viaSql = Pipeline.flaggedEventsSql(df, spark)
      .select(col("patient_id"), col("event_timestamp"),
        col("observed_value"), col("report.is_anomaly").as("flag"))
      .collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
    val viaDf = Pipeline.flaggedEvents(df, minTraining = 30)
      .select(col("patient_id"), col("event_timestamp"),
        col("observed_value"), col("report.is_anomaly").as("flag"))
      .collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime) ->
        (r.getDouble(2), r.getBoolean(3))).toMap
    assert(viaSql.size == viaDf.size && viaSql.nonEmpty)
    viaSql.foreach { case (k, (obs, flag)) =>
      val (obs2, flag2) = viaDf(k)
      assert(math.abs(obs - obs2) < 1e-9 && flag == flag2, s"mismatch at $k")
    }
  }

  test("anomaly filter [3] drops exactly the flagged windows") {
    val flagged = Pipeline.flaggedEvents(events.toDF())
    val kept = Pipeline.filteredEvents(flagged).count()
    val dropped = flagged.filter(col("report.is_anomaly")).count()
    assert(kept + dropped == flagged.count())
  }

  test("forecast [4] is total when a key's first values are equal") {
    // a zero-variance prefix once made r = corr(value, x) divide by zero
    val ys = Seq(10.37, 10.37, 11.0, 12.5)
    val df = ys.zipWithIndex.map { case (v, i) =>
      (16, i + 1L, new java.sql.Timestamp(ops.Health.OriginMs + (i + 1) * 3600000L), v)
    }.toDF("user_id", "event_id", "ts", "value")
    val got = ops.Health.forecast(df, "user_id", "ts", "value", "event_id", minTraining = 3)
      .orderBy("event_id").select("forecast_value", "rmse").collect()
      .map(r => (Option(r.get(0)).map(_.asInstanceOf[Double]),
        Option(r.get(1)).map(_.asInstanceOf[Double])))
    assert(got.take(2).forall(_ == (None, None)), "no forecast before 3 points")
    // cumulative OLS by hand: x in days, horizon one mean step
    (3 to 4).foreach { n =>
      val x = (1 to n).map(_ / 24.0); val y = ys.take(n)
      val (mx, my) = (x.sum / n, y.sum / n)
      val sxy = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum
      val sxx = x.map(a => (a - mx) * (a - mx)).sum
      val syy = y.map(b => (b - my) * (b - my)).sum
      val fc = my + sxy / sxx * (x.last + (x.last - x.head) / (n - 1) - mx)
      val rmse = math.sqrt((syy - sxy * sxy / sxx) / n)
      val (gf, gr) = got(n - 1)
      assert(math.abs(gf.get - fc) < 1e-9 && math.abs(gr.get - rmse) < 1e-9,
        s"row $n: got ($gf, $gr), want ($fc, $rmse)")
    }
  }

  test("Confluent Avro wire format round-trips the nested event exactly") {
    val sample = events.take(500)
    sample.foreach { e =>
      val bytes = ConfluentAvro.encode(e, schemaId = 7)
      assert(bytes(0) == ConfluentAvro.MagicByte)
      assert(java.nio.ByteBuffer.wrap(bytes, 1, 4).getInt == 7)
      assert(ConfluentAvro.decode(bytes) == e)
    }
  }

  test("Avro encode works as a column over struct rows (sink shape)") {
    val df = events.take(100).toSeq.toDF()
    val encoded = df.select(ConfluentAvro.encodeHealthEvent(struct(
      col("event_id"), col("patient_id"), col("device_metadata"),
      col("vitals"), col("event_time"))).as("value"))
    val decoded = encoded.select(ConfluentAvro.decodeHealthEvent(col("value")).as("e"))
      .select(col("e.event_id")).collect().map(_.getString(0)).toSet
    assert(decoded == events.take(100).map(_.event_id).toSet)
  }

  test("Avro decode works as a column over a binary DataFrame") {
    val payloads = events.take(200).map(e => Tuple1(ConfluentAvro.encode(e)))
    val df = payloads.toSeq.toDF("value")
    val decoded = df.select(ConfluentAvro.decodeHealthEvent(col("value")).as("e"))
      .select(col("e.patient_id"), col("e.vitals.heart_rate"),
        col("e.device_metadata.device_type"), col("e.event_time"))
      .collect()
    assert(decoded.length == 200)
    assert(decoded.map(_.getInt(0)).toSet.subsetOf((1 to 10).toSet))
    decoded.zip(events.take(200)).foreach { case (r, e) =>
      assert(r.getInt(1) == e.vitals.heart_rate)
      assert(r.getTimestamp(3) == e.event_time)
    }
  }
}
