package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming as-of twin must reproduce the NATIVE batch operator
  * (`graft.plans.AsOfJoin`) exactly on the real events table — every
  * event enriched with the latest at-or-before purchase — under the
  * established arrival-disorder discipline: sorted chunks, shuffled
  * INSIDE each chunk, so no row is late yet arrival order within a
  * micro-batch is adversarial. Emission must also be FINAL: each probe
  * appears exactly once. */
class StreamingAsOfSpec extends SparkSpec {

  private def ckpt() = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString

  test("streaming as-of enrichment == native batch as-of join, shuffled arrival") {
    val events = Tables.events(spark, sf())
      .select(col("user_id").cast("long").as("user_id"), col("event_id"),
        col("ts"), unix_micros(col("ts")).as("us"), col("value"),
        col("event_type"))
      .collect()

    val tagged = events.flatMap { r =>
      val probe = AsOfInput(r.getLong(0), is_quote = false, r.getLong(1),
        r.getTimestamp(2), r.getLong(3), r.getDouble(4))
      if (r.getString(5) == "purchase")
        Seq(probe, AsOfInput(r.getLong(0), is_quote = true, -1L,
          r.getTimestamp(2), r.getLong(3), r.getDouble(4)))
      else Seq(probe)
    }.sortBy(_.us)

    val rnd = new scala.util.Random(7)
    val chunks = tagged.grouped(math.max(1, tagged.length / 6 + 1)).toSeq
      .map(c => rnd.shuffle(c.toSeq))

    val mem = MemoryStream[AsOfInput](Encoders.product[AsOfInput], spark)
    val q = StreamingAsOf.enrich(mem.toDF())
      .writeStream.format("memory").queryName("asof_stream")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      // ratchet the watermark far past the last probe so all timers fire
      val lastUs = tagged.last.us
      (1 to 2).foreach { i =>
        val us = lastUs + 86400000000L * i
        mem.addData(AsOfInput(-999L, is_quote = true, -1L,
          new java.sql.Timestamp(us / 1000), us, 0.0))
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("asof_stream")
      .filter(col("k") =!= -999L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(4)) None else Some(r.getLong(4)),
         if (r.isNullAt(5)) None else Some(r.getDouble(5))))

    // final emission: each probe exactly once
    assert(streamed.length == events.length,
      s"expected ${events.length} enriched probes, got ${streamed.length}")
    val streamedMap = streamed.toMap

    val ev = Tables.events(spark, sf())
    val batch = graft.plans.AsOfJoin.join(
      ev.select(col("user_id"), col("event_id"), col("ts")),
      ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value")),
      "user_id", "ts", Seq("ts" -> "qts", "value" -> "qvalue"))
      .select(col("user_id"), col("event_id"), unix_micros(col("qts")),
        col("qvalue"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)),
         if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap

    assert(streamedMap.keySet == batch.keySet)
    streamedMap.foreach { case (k, v) =>
      assert(v == batch(k), s"probe $k: streamed $v != batch ${batch(k)}")
    }
  }

  test("as-of MapStates + timers survive checkpoint restart exactly") {
    // the processor carries TWO MapStates (quote timeline, probe
    // buffer) and event-time timers; a restart between chunks must
    // neither lose a buffered probe, drop a quote an unfired probe
    // still needs, nor double-emit — interrupted ≡ uninterrupted,
    // value-exact
    val events = Tables.events(spark, sf())
      .select(col("user_id").cast("long"), col("event_id"), col("ts"),
        unix_micros(col("ts")), col("value"), col("event_type"))
      .collect()
    val tagged = events.flatMap { r =>
      val p = AsOfInput(r.getLong(0), is_quote = false, r.getLong(1),
        r.getTimestamp(2), r.getLong(3), r.getDouble(4))
      if (r.getString(5) == "purchase")
        Seq(p, p.copy(is_quote = true, id = -1L)) else Seq(p)
    }.sortBy(_.us)
    val (first, second) = tagged.splitAt(tagged.length / 2)
    val lastUs = tagged.last.us
    val sentinels = (1 to 2).map(i => AsOfInput(-999L, is_quote = true, -1L,
      new java.sql.Timestamp((lastUs + 86400000000L * i) / 1000),
      lastUs + 86400000000L * i, 0.0))

    def run(restartBetween: Boolean): Map[(Long, Long), Option[Long]] = {
      val base = java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get("target"), "asofrec").toString
      val mem = MemoryStream[AsOfInput](Encoders.product[AsOfInput], spark)
      def start() = StreamingAsOf.enrich(mem.toDF())
        .toDF().writeStream.format("parquet").option("path", s"$base/out")
        .outputMode("append").option("checkpointLocation", s"$base/ckpt").start()
      var q = start()
      Seq(first, second).zipWithIndex.foreach { case (chunk, i) =>
        mem.addData(chunk.toSeq)
        q.processAllAvailable()
        if (restartBetween && i == 0) { q.stop(); q = start() }
      }
      sentinels.foreach { s => mem.addData(s); q.processAllAvailable() }
      q.stop()
      spark.read.parquet(s"$base/out").filter(col("k") =!= -999L)
        .select("k", "id", "matched_us").collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    }

    val interrupted = run(restartBetween = true)
    val reference = run(restartBetween = false)
    assert(interrupted.size == events.length,
      s"expected ${events.length} probes exactly once, got ${interrupted.size}")
    assert(interrupted == reference)
  }
}
