package graft.streaming

import graft.{Registry, SparkSpec}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Parity pins for the streaming interval-overlap sweep: the final
  * emission per supplier must equal batch q438's (n_ship,
  * overlap_pairs) on the same intervals, and the emission SET must be
  * invariant to arrival order (the watermark-ordered fold re-sorts). */
class StreamingIntervalsSpec extends SparkSpec {

  private def tmp(prefix: String) = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), prefix).toString

  private def ts(day: Int) = java.sql.Timestamp.valueOf(f"1995-01-${day}%02d 00:00:00")
  private def us(day: Int) = ts(day).getTime * 1000L

  private val fixture: Seq[(Long, Int, Int)] = (0 until 60).map { i =>
    val supp = (i % 3).toLong + 1
    val start = 1 + (i * 7) % 18
    (supp, start, start + 1 + (i * 5) % 9)
  }

  private def iv(t: (Long, Int, Int)) =
    IntervalIn(t._1, ts(t._2), us(t._2), us(t._3))

  private def run(chunks: Seq[Seq[IntervalIn]]): Seq[IntervalOut] = {
    val mem = MemoryStream[IntervalIn](Encoders.product[IntervalIn], spark)
    val q = StreamingIntervals.sweep(mem.toDF(), "0 seconds")
      .writeStream.format("memory").queryName(s"ivsweep${System.nanoTime}")
      .option("checkpointLocation", tmp("ivck")).outputMode("append").start()
    val name = q.name
    try {
      chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      // sentinel rows on a dummy key push the watermark past every start
      (1 to 2).foreach { i =>
        mem.addData(IntervalIn(-999L, ts(27 + i), us(27 + i), us(27 + i)))
        q.processAllAvailable()
      }
      spark.table(name).as[IntervalOut](Encoders.product[IntervalOut])
        .collect().toSeq.filter(_.supp > 0)
    } finally q.stop()
  }

  test("final emission per supplier equals batch q438 on the same intervals") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ivb").toString
    fixture.zipWithIndex.map { case ((supp, _, ed), i) => (i.toLong + 1, supp, ts(ed)) }
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    fixture.zipWithIndex.map { case ((_, sd, _), i) => (i.toLong + 1, ts(sd)) }
      .toDF("o_orderkey", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    val expected = Registry.all.find(_.name == "q438_interval_overlap").get
      .run(spark, dir).collect()
      .map(r => r.getAs[Long]("supp") ->
        (r.getAs[Long]("n_ship"), r.getAs[Long]("overlap_pairs"))).toMap

    val got = run(Seq(fixture.map(iv)))
      .groupBy(_.supp)
      .map { case (s, xs) => s -> { val last = xs.maxBy(_.n_so_far); (last.n_so_far, last.overlap_pairs) } }
    assert(expected.nonEmpty && got == expected,
      s"stream=$got batch=$expected")
  }

  test("emission set is arrival-order invariant and running counts are monotone") {
    val a = run(Seq(fixture.map(iv)))
    val b = run(Seq(fixture.reverse.map(iv)))
    assert(a.toSet == b.toSet)
    a.groupBy(_.supp).foreach { case (_, xs) =>
      val ns = xs.sortBy(x => (x.start_us, x.end_us, x.n_so_far)).map(_.n_so_far)
      assert(ns == ns.sorted, "n_so_far must grow along the sweep order")
    }
  }
}
