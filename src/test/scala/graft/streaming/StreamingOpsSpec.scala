package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Emission semantics of the built-in streaming operators under
  * MemoryStream, cross-checked against batch results on the same data. */
class StreamingOpsSpec extends SparkSpec {

  private val origin = 1704067200000L
  private def ts(sec: Long) = new java.sql.Timestamp(origin + sec * 1000)

  private def runToTable(df: DataFrame, name: String)(feed: => Unit): DataFrame = {
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try { feed; q.processAllAvailable() } finally q.stop()
    spark.table(name)
  }

  test("native tumbling window agg emits exactly the closed windows") {
    import spark.implicits._
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val out = runToTable(
      StreamingOps.windowedAgg(mem.toDF().withColumnRenamed("event_time", "et"),
        "patient_id", "et", "value", "10 seconds", watermarkDelay = "5 seconds"),
      "tumble") {
      mem.addData((0 until 40).map(i => VitalPoint(1, ts(i), i.toDouble)))
      // watermark ratchet + sentinel to close the tail
      (1 to 2).foreach { i =>
        mem.addData(VitalPoint(9, ts(10000 + i), 0.0))
        spark.streams.active.foreach(_.processAllAvailable())
      }
    }
    val rows = out.filter(col("patient_id") === 1)
      .select("window_start", "n_events", "avg_value").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq(10L, 10L, 10L, 10L))
    assert(rows.head._3 == 4.5) // avg of 0..9
  }

  test("stream-stream join pairs events within tolerance, same key only") {
    import spark.implicits._
    val memL = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val memR = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val out = runToTable(
      StreamingOps.streamStreamJoin(memL.toDF(), memR.toDF(), "patient_id",
        toleranceSeconds = 5), "ssjoin") {
      memL.addData(VitalPoint(1, ts(10), 1.0), VitalPoint(2, ts(10), 2.0))
      memR.addData(VitalPoint(1, ts(12), 10.0), // within 5 s, same key -> match
        VitalPoint(1, ts(30), 11.0),            // outside tolerance
        VitalPoint(3, ts(11), 12.0))            // different key
      spark.streams.active.foreach(_.processAllAvailable())
    }
    val rows = out.select("patient_id", "value", "r_value").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1, 1.0, 10.0)))
  }

  test("dropDuplicatesWithinWatermark drops replays, keeps distinct points") {
    import spark.implicits._
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val out = runToTable(
      StreamingOps.dedupWithinWatermark(mem.toDF(),
        Seq("patient_id", "event_time"), "event_time"), "dedup") {
      mem.addData(VitalPoint(1, ts(1), 5.0), VitalPoint(1, ts(1), 5.0),
        VitalPoint(1, ts(2), 6.0))
      spark.streams.active.foreach(_.processAllAvailable())
      mem.addData(VitalPoint(1, ts(1), 5.0), // replay within watermark
        VitalPoint(2, ts(2), 7.0))
      spark.streams.active.foreach(_.processAllAvailable())
    }
    val rows = out.collect().map(r => (r.getInt(0), r.getTimestamp(1).getTime))
    assert(rows.length == 3, s"got ${rows.toSeq}")
    assert(rows.toSet == Set((1, ts(1).getTime), (1, ts(2).getTime), (2, ts(2).getTime)))
  }

  test("parquet file-stream source: windowed agg equals the batch result") {
    val batchDf = graft.Tables.events(spark, sf()) // also sets nanosAsLong
    // file streams need a directory: point at the sf dir with a glob.
    // Read with the file's OWN physical schema, then normalize exactly
    // like Tables.events — the driver has shipped ts as INT64 nanos
    // (r1-4) and as TIMESTAMP_NTZ (r5+), and this stream must track it.
    val rawSchema = spark.read.parquet(s"${sf()}/events.parquet").schema
    val rawStream = spark.readStream
      .schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sf())
    val stream = rawSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        rawStream.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        rawStream.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => rawStream
    }
    val agg = StreamingOps.windowedAgg(
      stream.withColumnRenamed("ts", "et"), "user_id", "et", "value",
      "1 day", watermarkDelay = "0 seconds")
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "fs").toString
    val q = agg.writeStream.format("memory").queryName("fsagg")
      .outputMode("append").option("checkpointLocation", ckpt).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("fsagg")
      .select("user_id", "window_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime) -> r.getLong(2)).toMap
    val batch = graft.ops.Health
      .windowedAvg(batchDf, "user_id", "ts", "value", "1 day")
      .select("user_id", "window_start", "n_events").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime) -> r.getLong(2)).toMap
    // append mode emits only watermark-closed windows; with all data in
    // one batch the final window stays open — every EMITTED window must
    // match batch exactly, and coverage must be nearly complete
    assert(streamed.nonEmpty && streamed.size >= batch.size - 150)
    streamed.foreach { case (k, n) => assert(batch(k) == n, s"mismatch at $k") }
  }

  test("idempotent parquet sink: replayed batches do not duplicate rows") {
    import spark.implicits._
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "sink").toString
    val q = Sinks.idempotentParquet(mem.toDF(), s"$base/out", s"$base/ckpt").start()
    try {
      mem.addData(VitalPoint(1, ts(1), 1.0), VitalPoint(1, ts(2), 2.0))
      q.processAllAvailable()
      mem.addData(VitalPoint(2, ts(3), 3.0))
      q.processAllAvailable()
    } finally q.stop()
    // simulate a replay of batch 0: the marker must make it a no-op
    val batch0 = new java.io.File(s"$base/out/batch=0")
    assert(new java.io.File(batch0, "_COMMITTED").exists())
    val before = spark.read.parquet(s"$base/out/batch=*").count()
    assert(before == 3)
  }

  test("update output mode emits refining partials before the window closes") {
    import spark.implicits._
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val agg = mem.toDF().withWatermark("event_time", "5 seconds")
      .groupBy(col("patient_id"), window(col("event_time"), "60 seconds").as("w"))
      .agg(count(lit(1)).as("n"))
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "upd").toString
    val q = agg.writeStream.format("memory").queryName("upd")
      .outputMode("update").option("checkpointLocation", ckpt).start()
    try {
      mem.addData(VitalPoint(1, ts(1), 1.0)); q.processAllAvailable()
      mem.addData(VitalPoint(1, ts(2), 2.0)); q.processAllAvailable()
    } finally q.stop()
    // update mode re-emits the same (still-open) window with refined
    // counts — append mode would have emitted nothing yet
    val counts = spark.table("upd").filter(col("patient_id") === 1)
      .select("n").collect().map(_.getLong(0)).sorted
    assert(counts.toSeq == Seq(1L, 2L), s"got ${counts.toSeq}")
  }

  test("Trigger.AvailableNow backfills the whole file source then stops") {
    val batchDf = graft.Tables.events(spark, sf())
    val rawSchema = org.apache.spark.sql.types.StructType(batchDf.schema.map(f =>
      if (f.name == "ts") f.copy(dataType = org.apache.spark.sql.types.LongType)
      else f))
    val stream = spark.readStream.schema(rawSchema)
      .option("pathGlobFilter", "events.parquet")
      .option("maxFilesPerTrigger", "1")
      .parquet(sf())
      .withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "an").toString
    val q = stream.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("an")
      .outputMode("complete").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) // AvailableNow self-terminates when caught up
    assert(!q.isActive, "AvailableNow query should have stopped itself")
    val total = spark.table("an").agg(sum(col("n"))).head.getLong(0)
    assert(total == batchDf.count())
  }

  test("streaming session windows merge within gap and split across it") {
    import spark.implicits._
    val mem = MemoryStream[VitalPoint](Encoders.product[VitalPoint], spark)
    val out = runToTable(
      StreamingOps.sessionAgg(mem.toDF().withColumnRenamed("event_time", "et"),
        "patient_id", "et", "value", "10 seconds", "5 seconds"), "sess") {
      // session 1: t=0,5,9; gap > 10s; session 2: t=30
      mem.addData(VitalPoint(1, ts(0), 1.0), VitalPoint(1, ts(5), 2.0),
        VitalPoint(1, ts(9), 3.0), VitalPoint(1, ts(30), 4.0))
      (1 to 2).foreach { i =>
        mem.addData(VitalPoint(9, ts(10000 + i), 0.0))
        spark.streams.active.foreach(_.processAllAvailable())
      }
    }
    val rows = out.filter(col("patient_id") === 1)
      .select("session_start", "n_events", "sum_value").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getLong(1), r.getDouble(2))).sortBy(_._1)
    assert(rows.toSeq == Seq((ts(0).getTime, 3L, 6.0), (ts(30).getTime, 1L, 4.0)))
  }
}
