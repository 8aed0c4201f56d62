package graft

import org.apache.spark.sql.Row

/** `graft.Session` is the one place Spark is configured: these pin what
  * it promises, and that registry answers do not depend on the
  * partition count or AQE it happens to run with. */
class SessionSpec extends SparkSpec {

  test("factory session: UTC, UI off, RocksDB state store, one shuffle partition per slot") {
    val s = Session()
    val slots = "local\\[(\\d+)\\]".r.findFirstMatchIn(s.sparkContext.master)
      .map(_.group(1).toInt)
    assert(slots.isDefined, s"master ${s.sparkContext.master}")
    assert(s.conf.get("spark.sql.shuffle.partitions").toInt == slots.get)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(s.sparkContext.uiWebUrl.isEmpty)
    assert(s.conf.get("spark.sql.streaming.stateStore.providerClass") ==
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  test("registry_mix queries: identical ordered rows at 200 shuffle partitions with AQE on") {
    // the benchmark's nine registry_mix queries, one per line of its mix
    val names = Seq(
      "q176_label_propagation", "q384_eigenvector_centrality",
      "q164_dedup_split", "q435_prefix_filter_join",
      "q22_anomaly_flags", "q26_ml_detect_udaf",
      "q37_embedding_neardup", "q401_knn_label_audit", "q89_curation_pipeline")
    val factory = Session()
    // a new session, not a conf change on the factory one: the Dedup and
    // Multimodal caches are keyed by session and would otherwise hand the
    // second run the first run's frames
    val cluster = factory.newSession()
    cluster.conf.set("spark.sql.session.timeZone", "UTC")
    cluster.conf.set("spark.sql.shuffle.partitions", "200")
    cluster.conf.set("spark.sql.adaptive.enabled", "true")
    val queries = Registry.all.filter(q => names.contains(q.name))
    assert(queries.map(_.name).sorted == names.sorted)
    def rows(s: org.apache.spark.sql.SparkSession, q: Query): Seq[Row] =
      q.run(s, sf()).collect().toSeq
    queries.foreach { q =>
      val a = rows(factory, q)
      val b = rows(cluster, q)
      assert(a.nonEmpty, s"${q.name} returned no rows at sf0.001")
      assert(a == b, s"${q.name}: rows differ between the factory session and 200 partitions + AQE")
    }
  }
}
