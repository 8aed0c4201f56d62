package graft

/** The UDAF health queries compute what their window-function twins
  * compute: q27 (`ForecastAggregator`) shares q24's oracle, and q26
  * (`AnomalyAggregator`) shares q22's anomaly statistics. */
class HealthTwinsSpec extends SparkSpec {

  private def run(name: String) =
    Registry.all.find(_.name == name).get.run(spark, sf())

  test("q27 ForecastAggregator collects the same ordered rows as q24") {
    val q24 = run("q24_forecast")
    val q27 = run("q27_ml_forecast_udaf")
    assert(q27.columns.toSeq == q24.columns.toSeq)
    val rows = q24.collect().toSeq
    assert(rows.nonEmpty, "q24 returned no rows at sf0.001")
    assert(q27.collect().toSeq == rows)
  }

  test("q26 AnomalyAggregator matches q22's is_anomaly, expected and n_training") {
    def keyed(name: String) = run(name)
      .select("user_id", "event_id", "is_anomaly", "expected", "n_training")
      .collect().map(r => (r.get(0), r.get(1)) -> r).toMap
    val q22 = keyed("q22_anomaly_flags")
    val q26 = keyed("q26_ml_detect_udaf")
    assert(q22.nonEmpty, "q22 returned no rows at sf0.001")
    assert(q26.keySet == q22.keySet)
    q22.foreach { case (k, r) => assert(q26(k) == r, s"(user_id, event_id) = $k") }
  }
}
