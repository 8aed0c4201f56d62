package graft.streaming

import graft.{Registry, SparkSpec, Tables}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The streaming CUMULATE twin must reproduce batch q179 from the real
  * events table, fed in deterministically shuffled chunks: window
  * populations (n_events) and integer micro sums match EXACTLY; the
  * double average matches q179's within one rounding step (the batch
  * side averages raw doubles, the stream folds exact micro units). */
class StreamingCumulateSpec extends SparkSpec {

  private def ckpt() = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString

  test("streaming cumulate == batch q179 windows on the events table") {
    val rows = Tables.events(spark, sf())
      .select(col("event_type"), col("ts"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 1000000 + lit(0.5)).cast("long"))
      .collect()
      .map(r => CumEvent(r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3)))
      .sortBy(_.event_us)

    // respect the watermark between chunks, shuffle INSIDE each chunk
    // (the established arrival-disorder discipline)
    val rnd = new scala.util.Random(13)
    val chunks = rows.grouped(math.max(1, rows.length / 5 + 1)).toSeq
      .map(c => rnd.shuffle(c.toSeq))

    val mem = MemoryStream[CumEvent](Encoders.product[CumEvent], spark)
    val q = StreamingCumulate.cumulate(mem.toDF())
      .writeStream.format("memory").queryName("cum_stream")
      .outputMode("append").option("checkpointLocation", ckpt()).start()
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      // ratchet the watermark past the last period so every window fires
      val lastUs = rows.last.event_us
      (1 to 2).foreach { i =>
        val us = lastUs + 43200000000L * i
        mem.addData(CumEvent("zz_sentinel", new java.sql.Timestamp(us / 1000),
          us, 0L))
        q.processAllAvailable()
      }
    } finally q.stop()

    val streamed = spark.table("cum_stream")
      .filter(col("event_type") =!= "zz_sentinel")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4), r.getDouble(5))).toMap

    val batch = Registry.queries("q179_cumulate_windows")(spark, sf())
      .select(col("event_type"), unix_micros(col("window_start")),
        unix_micros(col("window_end")), col("n_events"), col("avg_value"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getDouble(4))).toMap

    assert(streamed.keySet == batch.keySet,
      s"window universes differ: stream-only=${(streamed.keySet -- batch.keySet).take(3)} " +
        s"batch-only=${(batch.keySet -- streamed.keySet).take(3)}")
    streamed.foreach { case (k, (n, sm, avg)) =>
      assert(n == batch(k)._1, s"$k: n_events $n != batch ${batch(k)._1}")
      assert(math.abs(avg - batch(k)._2) <= 1e-4 + 1e-9,
        s"$k: avg $avg vs batch ${batch(k)._2}")
      // the micro sum is the exact fold of the quantized values
      assert(sm >= 0 || sm < 0) // sm used below; keep it referenced
    }

    // exact micro-sum check against an inline batch fold with the SAME
    // assignment rule (proves the streaming state arithmetic, not just
    // the rounded average)
    val expectSums = rows.flatMap { e =>
      val pstart = Math.floorDiv(e.event_us, 21600000000L) * 21600000000L
      val idx = ((e.event_us - pstart) / 3600000000L).toInt
      (idx + 1 to 6).map(j => (e.event_type, pstart, pstart + j * 3600000000L) -> e.vm)
    }.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
    assert(expectSums.size == streamed.size)
    expectSums.foreach { case (k, s) =>
      assert(streamed(k)._2 == s, s"$k: micro sum ${streamed(k)._2} != $s")
    }
  }

  test("cumulate MapState + timers survive checkpoint restart exactly") {
    // the per-step MapState AND the armed timers both live in the state
    // store; a restart between chunks must neither drop a step
    // accumulator nor lose a pending window boundary
    val rows = Tables.events(spark, sf())
      .select(col("event_type"), col("ts"), unix_micros(col("ts")).as("us"),
        floor(col("value") * 1000000 + lit(0.5)).cast("long"))
      .collect()
      .map(r => CumEvent(r.getString(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3)))
      .sortBy(_.event_us)
    val (first, second) = rows.splitAt(rows.length / 2)
    val lastUs = rows.last.event_us
    val sentinels = (1 to 2).map(i =>
      CumEvent("zz_sentinel",
        new java.sql.Timestamp((lastUs + 43200000000L * i) / 1000),
        lastUs + 43200000000L * i, 0L))

    def run(restartBetween: Boolean): Map[(String, Long, Long), (Long, Long)] = {
      val base = java.nio.file.Files
        .createTempDirectory(java.nio.file.Paths.get("target"), "cumrec").toString
      val mem = MemoryStream[CumEvent](Encoders.product[CumEvent], spark)
      def start() = StreamingCumulate.cumulate(mem.toDF())
        .toDF().writeStream.format("parquet").option("path", s"$base/out")
        .outputMode("append").option("checkpointLocation", s"$base/ckpt").start()
      var q = start()
      Seq(first, second).zipWithIndex.foreach { case (chunk, i) =>
        mem.addData(chunk)
        q.processAllAvailable()
        if (restartBetween && i == 0) { q.stop(); q = start() }
      }
      sentinels.foreach { s => mem.addData(s); q.processAllAvailable() }
      q.stop()
      spark.read.parquet(s"$base/out")
        .filter(col("event_type") =!= "zz_sentinel")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
          (r.getLong(3), r.getLong(4))).toMap
    }

    val interrupted = run(restartBetween = true)
    val reference = run(restartBetween = false)
    assert(interrupted.size == reference.size,
      s"window sets differ: ${interrupted.size} vs ${reference.size}")
    reference.foreach { case (k, v) =>
      assert(interrupted(k) == v, s"window $k diverged after restore")
    }
  }
}
