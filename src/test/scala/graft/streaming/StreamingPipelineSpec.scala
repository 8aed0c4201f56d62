package graft.streaming

import graft.{Registry, SparkSpec, Tables}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming twins of the LLM-pipeline batch operators must reproduce
  * their batch tables from the REAL events/documents data, fed in
  * chunks that are deterministically shuffled inside each chunk (the
  * FunnelProcessor arrival-disorder discipline):
  *  - incremental-aggregate maintenance == batch q141 (== recompute),
  *  - sessionization paths == batch q116's top-20,
  *  - foreachBatch ingest dedup == batch q134 verdicts.
  */
final case class IngestDoc(doc_id: Long, text: String)

class StreamingPipelineSpec extends SparkSpec {

  private def ckpt() = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString

  test("streaming incremental agg == batch q141 on the events table") {
    val rows = Tables.events(spark, sf())
      .select(col("user_id").cast("long"),
        floor(col("value") * 1000000 + lit(0.5)).cast("long"),
        col("value").cast("double"))
      .collect()
      .map(r => AggEvent(r.getLong(0), r.getLong(1), r.getDouble(2)))

    // aggregates are order-independent: chunks need no time ordering
    // at all — shuffle the WHOLE log, then chunk
    val rnd = new scala.util.Random(7)
    val chunks = rnd.shuffle(rows.toSeq)
      .grouped(math.max(1, rows.length / 5 + 1)).toSeq

    val mem = MemoryStream[AggEvent](Encoders.product[AggEvent], spark)
    val q = StreamingIncrementalAgg.aggregate(mem.toDF())
      .writeStream.format("memory").queryName("agg_stream")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    } finally q.stop()

    // the view row with the largest n_events per user is the final one
    val streamed = spark.table("agg_stream").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))))
      .groupBy(_._1).map { case (u, snaps) => (u, snaps.map(_._2).maxBy(_._1)) }

    val batch = Registry.queries("q141_incremental_agg")(spark, sf())
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))))
      .toMap

    assert(streamed.keySet == batch.keySet, "user universes differ")
    val bad = streamed.filter { case (u, s) => batch(u) != s }
    assert(bad.isEmpty,
      s"${bad.size} users disagree with batch q141, e.g. ${bad.take(3)}")
  }

  test("streaming sessionization == batch q116 top-20 paths") {
    val rows = Tables.events(spark, sf())
      .select(col("user_id").cast("long"), col("ts"),
        unix_micros(col("ts")).as("us"), col("event_id").cast("long"),
        col("event_type"))
      .collect()
      .map(r => SessEvent(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
      .sortBy(_.event_us)

    val rnd = new scala.util.Random(42)
    val chunks = rows.grouped(math.max(1, rows.length / 5 + 1)).toSeq
      .map(c => rnd.shuffle(c.toSeq))

    val mem = MemoryStream[SessEvent](Encoders.product[SessEvent], spark)
    val q = StreamingSessions.sessionize(mem.toDF(),
        watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("sess_stream")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      // ratchet the watermark > gap past the tail so idle sessions close
      val lastUs = rows.last.event_us
      (1 to 3).foreach { i =>
        val t = new java.sql.Timestamp(lastUs / 1000 + 7200000L * i)
        mem.addData(SessEvent(999999L, t, lastUs + 7200000000L * i, -i, "view"))
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamedTop = spark.table("sess_stream")
      .filter(col("user_id") =!= 999999L)
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(20)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

    val batchTop = Registry.queries("q116_session_paths")(spark, sf())
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

    assert(streamedTop == batchTop,
      s"top-20 paths differ\nstream: ${streamedTop.take(5)}\nbatch:  ${batchTop.take(5)}")

    // every event landed in exactly one closed session
    val nStreamed = spark.table("sess_stream")
      .filter(col("user_id") =!= 999999L)
      .agg(sum(col("n_events"))).collect()(0).getLong(0)
    assert(nStreamed == rows.length,
      s"event count through sessions: $nStreamed != ${rows.length}")
  }

  test("foreachBatch ingest dedup == batch q134 verdicts") {
    val docs = Tables.documents(spark, sf())
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .localCheckpoint()
    val dirs = (1 to 3).map(_ => ckpt())
    val Seq(indexDir, verdictDir, cp) = dirs
    // prime the index with the existing corpus (even ids — q134's split)
    docs.filter(col("doc_id") % 2 === 0).write.mode("overwrite")
      .parquet(indexDir)

    val newDocs = docs.filter(col("doc_id") % 2 === 1).collect()
      .map(r => IngestDoc(r.getLong(0), r.getString(1)))
    val mem = MemoryStream[IngestDoc](Encoders.product[IngestDoc], spark)
    val q = StreamingIngest.start(mem.toDF(), indexDir, verdictDir, cp)
    try {
      // one delta batch = exactly q134's corpus split, so the full
      // verdict table (incl. the union-wide df<=20 anchor choice) must
      // match the batch query bit-for-bit
      mem.addData(newDocs.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(verdictDir)
      .select(col("doc_id"), col("verdict"), col("matched_old_id"),
        col("containment"))
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getDouble(3))))
      .toMap
    val batch = Registry.queries("q134_incremental_ingest")(spark, sf())
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(streamed.keySet == batch.keySet, "doc universes differ")
    val bad = streamed.filter { case (id, v) => batch(id) != v }
    assert(bad.isEmpty,
      s"${bad.size} docs disagree with batch q134, e.g. ${bad.take(3)}")

    // second delta: replaying an already-indexed doc must now be an
    // exact dup OF ITSELF (it joined the index after batch 1)
    val probe = newDocs.take(3)
    val q2 = StreamingIngest.start(mem.toDF(), indexDir, verdictDir, cp)
    try {
      mem.addData(probe.toSeq)
      q2.processAllAvailable()
    } finally q2.stop()
    val second = spark.read.parquet(verdictDir)
      .filter(col("batch_id") === 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(second.length == probe.length)
    second.foreach { case (id, verdict, matched) =>
      assert(verdict == "exact_dup" && matched == id,
        s"doc $id replay: expected exact_dup of itself, got $verdict/$matched")
    }
  }
}
