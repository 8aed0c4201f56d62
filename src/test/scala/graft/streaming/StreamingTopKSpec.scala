package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Pins the two Space-Saving guarantees of the streaming heavy-hitter
  * operator: exactness under capacity, and heavy-hitter retention +
  * bounded overestimate over capacity — both properties hold for ANY
  * arrival order, so the assertions are shuffle-safe. */
class StreamingTopKSpec extends SparkSpec {

  private def runStream(events: Seq[HHEvent], capacity: Int, k: Int,
      name: String): Array[HHSnapshot] = {
    val mem = MemoryStream[HHEvent](Encoders.product[HHEvent], spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "ckpt").toString
    val q = StreamingTopK.topK(mem.toDF(), capacity, k)
      .writeStream.format("memory").queryName(name)
      .outputMode("update").option("checkpointLocation", ckpt).start()
    try {
      events.grouped(math.max(1, events.length / 3 + 1)).foreach { c =>
        mem.addData(c)
        q.processAllAvailable()
      }
    } finally q.stop()
    val rows = spark.table(name).collect()
      .map(r => HHSnapshot(r.getString(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4)))
    // live table = snapshot set with the max n_seen per key
    rows.groupBy(_.event_type).toSeq.flatMap { case (_, snaps) =>
      val last = snaps.map(_.n_seen).max
      snaps.filter(_.n_seen == last).toSeq
    }.toArray
  }

  test("under capacity the sketch is exact: matches a batch groupBy count") {
    // 40 distinct users per type < capacity 64 -> no evictions ever
    val rnd = new scala.util.Random(7)
    val events = Seq.fill(3000) {
      HHEvent(s"t${rnd.nextInt(3)}", rnd.nextInt(40).toLong)
    }
    val got = runStream(events, capacity = 64, k = 5, "hh_exact")
    val byType = events.groupBy(_.event_type)
    got.groupBy(_.event_type).foreach { case (t, snaps) =>
      val exact = byType(t).groupBy(_.user_id).view.mapValues(_.size.toLong)
        .toSeq.sortBy { case (u, c) => (-c, u) }.take(5)
      val streamed = snaps.sortBy(_.rank).map(s => (s.user_id, s.est_count))
      assert(streamed.toSeq == exact,
        s"$t: streamed $streamed != exact top-5 $exact")
    }
  }

  test("heavy-hitter state survives a stop/restart from checkpoint") {
    // exactness-under-capacity makes recovery provable: feed half the
    // stream, kill the query, restart against the SAME checkpoint
    // (fresh memory sink), feed the rest — final counts must equal a
    // batch count over the WHOLE stream. Lost state would surface as
    // second-half-only counts.
    val rnd = new scala.util.Random(5)
    val events = Seq.fill(2000)(HHEvent("t0", rnd.nextInt(30).toLong))
    val (h1, h2) = events.splitAt(1000)
    val mem = MemoryStream[HHEvent](Encoders.product[HHEvent], spark)
    val base = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "hhrec").toString
    val ckpt = s"$base/ckpt"
    val outDir = s"$base/out"
    // the memory sink refuses checkpoint recovery; foreachBatch with a
    // parquet append is the recoverable twin (same recipe as
    // RecoverySpec's file sink, but update-mode-compatible)
    def start() = StreamingTopK.topK(mem.toDF(), 64, 5)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[HHSnapshot], _: Long) =>
        batch.write.mode("append").parquet(outDir); ()
      }
      .outputMode("update").option("checkpointLocation", ckpt).start()
    val q1 = start()
    try { mem.addData(h1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { mem.addData(h2); q2.processAllAvailable() } finally q2.stop()
    val rows = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("n_seen"), r.getAs[Int]("rank"),
        r.getAs[Long]("user_id"), r.getAs[Long]("est_count")))
    val last = rows.map(_._1).max
    assert(last == 2000, s"n_seen after recovery = $last, state was lost")
    val streamed = rows.filter(_._1 == last).sortBy(_._2)
      .map(t => (t._3, t._4)).toSeq
    val exact = events.groupBy(_.user_id).view.mapValues(_.size.toLong)
      .toSeq.sortBy { case (u, c) => (-c, u) }.take(5)
    assert(streamed == exact, s"post-recovery top-5 $streamed != exact $exact")
  }

  test("over capacity a planted heavy hitter survives with a bounded overestimate") {
    // one user owns ~40% of the stream; 200 other users churn through
    // a capacity-8 table. Space-Saving guarantees: the heavy user is
    // present, ranked first, and est <= true + n/capacity
    val rnd = new scala.util.Random(11)
    val heavy = 9999L
    val events = scala.util.Random.javaRandomToRandom(
      new java.util.Random(13)).shuffle(
      Seq.fill(800)(HHEvent("t0", heavy)) ++
        Seq.fill(1200)(HHEvent("t0", rnd.nextInt(200).toLong)))
    val got = runStream(events, capacity = 8, k = 3, "hh_heavy")
    val top = got.filter(_.event_type == "t0").minBy(_.rank)
    assert(top.user_id == heavy, s"heavy hitter lost: top is $top")
    val n = got.head.n_seen
    assert(n == 2000)
    assert(top.est_count >= 800, "Space-Saving never undercounts")
    assert(top.est_count <= 800 + n / 8,
      s"overestimate ${top.est_count} exceeds the n/capacity bound")
  }
}
