package graft.streaming

import graft.{Registry, SparkSpec, Tables}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming funnel matcher must reproduce the batch q95 table:
  * same users, same reached stages, same first-view→first-purchase
  * latency — fed the REAL events table in time-ordered chunks that are
  * deterministically shuffled inside each chunk (the pending-buffer
  * sort must absorb intra-chunk disorder). */
class StreamingFunnelSpec extends SparkSpec {

  test("streaming funnel == batch q95 on the events table") {
    val rows = Tables.events(spark, sf())
      .select(col("user_id").cast("long"), col("ts"),
        unix_micros(col("ts")).as("us"), col("event_type"),
        col("event_id").cast("long"))
      .collect()
      .map(r => FunnelEvent(r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getString(3), r.getLong(4)))
      .sortBy(_.event_us)

    // 5 time-ordered chunks, each internally shuffled with a fixed seed
    val rnd = new scala.util.Random(42)
    val chunks = rows.grouped(math.max(1, rows.length / 5 + 1)).toSeq
      .map(c => rnd.shuffle(c.toSeq))

    val mem = MemoryStream[FunnelEvent](Encoders.product[FunnelEvent], spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString
    val q = StreamingFunnel.funnel(mem.toDF(), watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("funnel_stream")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      chunks.foreach { c =>
        mem.addData(c)
        q.processAllAvailable()
      }
      // sentinel batches ratchet the watermark past the tail (watermark
      // only advances BETWEEN batches)
      val lastUs = rows.last.event_us
      (1 to 2).foreach { i =>
        val t = new java.sql.Timestamp(lastUs / 1000 + 3600000L * i)
        mem.addData(FunnelEvent(999999L, t, lastUs + 3600000000L * i, "view", -i))
        q.processAllAvailable()
      }
    } finally q.stop()

    // latest snapshot per user = the one with the furthest stage
    val streamed = spark.table("funnel_stream")
      .filter(col("user_id") =!= 999999L)
      .collect()
      .map(r => (r.getLong(0), (r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getLong(4))))
      .groupBy(_._1)
      .map { case (u, snaps) =>
        val best = snaps.map(_._2).maxBy(s =>
          (s._1.compare(false) + s._2.compare(false) + s._3.compare(false)))
        (u, best)
      }

    val batch = Registry.queries("q95_funnel")(spark, sf())
      .collect()
      .map(r => (r.getLong(0), (r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getLong(4))))
      .toMap

    assert(streamed.keySet == batch.keySet, "user universes differ")
    val mismatches = streamed.filter { case (u, s) => batch(u) != s }
    assert(mismatches.isEmpty,
      s"${mismatches.size} users disagree with batch q95, e.g. ${mismatches.take(3)}")
  }

  test("funnel emits only on stage advance after the first snapshot") {
    import spark.implicits._
    val base = 1704067200000L
    def ev(u: Long, sec: Long, typ: String, id: Long) =
      FunnelEvent(u, new java.sql.Timestamp(base + sec * 1000),
        (base + sec * 1000) * 1000, typ, id)
    val mem = MemoryStream[FunnelEvent](Encoders.product[FunnelEvent], spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString
    val q = StreamingFunnel.funnel(mem.toDF(), watermarkDelay = "2 seconds")
      .writeStream.format("memory").queryName("funnel_small")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try {
      // user 1 completes the funnel out of order; user 2 clicks with no view
      mem.addData(ev(1, 10, "click", 2), ev(1, 5, "view", 1), ev(2, 6, "click", 4))
      q.processAllAvailable()
      mem.addData(ev(1, 20, "purchase", 3), ev(2, 21, "error", 5))
      q.processAllAvailable()
      (1 to 2).foreach { i =>
        mem.addData(ev(9, 10000L * i, "view", -i)); q.processAllAvailable()
      }
    } finally q.stop()
    val out = spark.table("funnel_small").filter(col("user_id") < 9)
      .select("user_id", "viewed", "clicked", "purchased", "funnel_us")
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
        r.getBoolean(3), r.getLong(4)))
    val u1 = out.filter(_._1 == 1L)
    // final state: full funnel, 15 s latency
    assert(u1.last == ((1L, true, true, true, 15000000L)), s"got ${u1.toSeq}")
    // user 2 never advances past stage 0 (click with no prior view) and
    // emits exactly one snapshot (first appearance) with all-false flags
    val u2 = out.filter(_._1 == 2L)
    assert(u2.toSeq == Seq((2L, false, false, false, -1L)), s"got ${u2.toSeq}")
  }
}
