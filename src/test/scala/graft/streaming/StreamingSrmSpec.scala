package graft.streaming

import graft.{Registry, SparkSpec}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Pins the streaming SRM monitor to batch q235: the final per-segment
  * snapshot must carry EXACTLY the distinct-user arm counts and
  * chi-square the batch query reports, for any batch slicing (the
  * seen-user set makes re-deliveries of a user idempotent). */
class StreamingSrmSpec extends SparkSpec {

  private val byName = Registry.all.map(q => q.name -> q).toMap

  private def runStream(events: Seq[SrmEvent], name: String): Map[String, SrmSnapshot] = {
    val mem = MemoryStream[SrmEvent](Encoders.product[SrmEvent], spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString
    val q = StreamingSrm.monitor(mem.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("update").option("checkpointLocation", ckpt).start()
    try {
      events.grouped(math.max(1, events.length / 4 + 1)).foreach { c =>
        mem.addData(c)
        q.processAllAvailable()
      }
    } finally q.stop()
    // latest snapshot per segment = the one with the largest user total
    spark.table(name).collect()
      .map(r => SrmSnapshot(r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
      .groupBy(_.event_type)
      .map { case (t, snaps) =>
        t -> snaps.maxBy(s => s.n_a + s.n_b)
      }
  }

  test("streaming SRM counts equal batch q235 per segment; repeats are idempotent") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // users revisit across batches: the seen-set must dedupe them
    val events = Seq.fill(2000) {
      SrmEvent(s"t${rnd.nextInt(3)}", rnd.nextInt(120).toLong + 1)
    }
    val got = runStream(events, "srm_parity")
    // batch oracle frame: q235 on the same events written as a table
    val dir = java.nio.file.Files.createTempDirectory("graft_srm").toString
    events.zipWithIndex.map { case (e, i) =>
      (i.toLong, new java.sql.Timestamp(1704067200000L), e.user_id,
        e.event_type, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = byName("q235_srm_check").run(spark, dir)
      .collect().map(r => r.getAs[String]("segment") -> r).toMap
    got.foreach { case (t, s) =>
      val b = batch(t)
      assert(s.n_a == b.getAs[Long]("n_a") && s.n_b == b.getAs[Long]("n_b"),
        s"$t: streamed (${s.n_a},${s.n_b}) != batch $b")
      assert(math.abs(s.chi2 - b.getAs[Double]("chi2")) < 1e-4)
      assert(s.srm_flag == b.getAs[Boolean]("srm_flag"))
    }
  }

  test("a one-arm-only stream flags SRM mid-flight") {
    // take users from one md5 arm only: gross mismatch must flag
    val arm0 = (1L to 400L).filter(SrmProcessor.arm(_) == 0L).take(50)
    val events = arm0.map(u => SrmEvent("t0", u))
    val got = runStream(events, "srm_flag")
    assert(got("t0").n_b == 0L && got("t0").srm_flag,
      s"one-arm stream must flag: ${got("t0")}")
  }
}
