package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-9 scale pin for the persistent streaming indexes: the
  * per-batch probe reads must PRUNE to the colliding buckets instead of
  * re-reading the whole corpus index (the round-8 scale-killer). Two
  * layers: the probe scan's plan carries a partition filter on the
  * bucket column, and the files that actually produce rows all live
  * under the probed buckets' directories. Plus compaction: after
  * [[StreamingSetJoin.compact]] each bucket holds ONE parquet file and
  * content is unchanged. */
class IndexPruningSpec extends SparkSpec {

  private def tmp(prefix: String) = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), prefix).toString

  test("probeIndex prunes the postings scan to the colliding buckets") {
    import spark.implicits._
    val dir = tmp("prune_post") + "/idx"
    // 4,000 postings spread over every bucket
    val pref = (0L until 4000L).map(i => (i * 2654435761L % 100000L, i, 40L))
      .toDF("sh", "doc_id", "n")
    StreamingSetJoin.primePostings(pref, dir)
    val allBuckets = spark.read.parquet(dir)
      .select(col("pb")).distinct().count()
    assert(allBuckets == StreamingSetJoin.Buckets,
      s"fixture must populate every bucket, got $allBuckets")

    val probed = StreamingSetJoin.probeIndex(spark, dir, "pb", Seq(3L, 7L),
      "sh BIGINT, doc_id BIGINT, n BIGINT, pb INT")
    // 1. the scan prunes at plan level: partition filter on pb
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pb"),
      s"probe scan must carry a partition filter on pb:\n$plan")
    // 2. only files under pb=3/pb=7 produce rows
    val files = probed.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("pb=3") || f.contains("pb=7")),
      s"rows must come only from the probed buckets: ${files.take(3).mkString(",")}")
    // 3. the probed rows are exactly the colliding-bucket subset
    val expected = pref.filter(pmod(col("sh"), lit(StreamingSetJoin.Buckets))
      .isin(3L, 7L)).count()
    assert(probed.count() == expected)
  }

  test("compact rewrites each bucket to one file, content unchanged") {
    import spark.implicits._
    val dir = tmp("prune_compact") + "/idx"
    // three appends = three files per touched bucket
    (1 to 3).foreach { r =>
      val part = ((r * 1000L) until (r * 1000L + 500L))
        .map(i => (i % 1000L, i, 10L)).toDF("sh", "doc_id", "n")
      StreamingSetJoin.primePostings(part, dir)
    }
    val before = spark.read.parquet(dir)
      .select(col("sh"), col("doc_id"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val filesBefore = spark.read.parquet(dir).inputFiles.length
    StreamingSetJoin.compact(spark, dir, "pb")
    val after = spark.read.parquet(dir)
      .select(col("sh"), col("doc_id"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val filesAfter = spark.read.parquet(dir).inputFiles.length
    assert(after == before, "compaction must not change index content")
    assert(filesAfter < filesBefore,
      s"compaction must shrink the file count ($filesBefore -> $filesAfter)")
    assert(filesAfter <= StreamingSetJoin.Buckets,
      s"one file per bucket expected, got $filesAfter")
  }

  test("a crash between compact's renames never hides the live index") {
    import spark.implicits._
    val dir = tmp("prune_crash") + "/idx"
    val pref = (0L until 500L).map(i => (i % 97L, i, 12L))
      .toDF("sh", "doc_id", "n")
    StreamingSetJoin.primePostings(pref, dir)
    val before = spark.read.parquet(dir)
      .select(col("sh"), col("doc_id"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // simulate the compact crash window: staging complete, live dir
    // already renamed away, second rename never happened
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "_old"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir + "_compacting"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir)))
    // the next read recovers the index instead of seeing it empty
    val read = StreamingSetJoin.readOrEmpty(spark, dir,
      "sh BIGINT, doc_id BIGINT, n BIGINT, pb INT")
    val after = read.select(col("sh"), col("doc_id"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after == before, "recovery must restore the full index")
    assert(fs.exists(new org.apache.hadoop.fs.Path(dir)),
      "recovery must promote _old back to the live path")
    // and a compaction straight out of the crash state also recovers
    fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + "_old"))
    StreamingSetJoin.compact(spark, dir, "pb")
    val after2 = spark.read.parquet(dir)
      .select(col("sh"), col("doc_id"), col("n")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(after2 == before, "compact must recover, then rewrite")
  }

  test("compaction rescales the bucket count with corpus volume; pruning pins hold") {
    import spark.implicits._
    val dir = tmp("prune_rescale") + "/idx"
    val pref = (0L until 20000L).map(i => (i * 2654435761L % 1000000L, i, 40L))
      .toDF("sh", "doc_id", "n")
    StreamingSetJoin.primePostings(pref, dir)
    assert(StreamingSetJoin.bucketCount(spark, dir) == StreamingSetJoin.Buckets)
    // a tiny per-bucket target makes this corpus "too big" for 32 buckets
    spark.conf.set("spark.graft.stream.bucketTargetBytes", "2048")
    try StreamingSetJoin.compact(spark, dir, "pb", keyCol = Some("sh"))
    finally spark.conf.unset("spark.graft.stream.bucketTargetBytes")
    val newB = StreamingSetJoin.bucketCount(spark, dir)
    assert(newB > StreamingSetJoin.Buckets,
      s"bucket count must grow with corpus volume, still $newB")
    // content unchanged, layout re-bucketed under the new count
    val after = spark.read.parquet(dir)
    assert(after.count() == 20000L)
    assert(after.filter(col("pb") =!= pmod(col("sh"), lit(newB.toLong)))
      .count() == 0, "every row must sit in its pmod(sh, newB) bucket")
    // probes derived from the manifest still prune at file level
    val probed = StreamingSetJoin.probeIndex(spark, dir, "pb", Seq(3L, 7L),
      "sh BIGINT, doc_id BIGINT, n BIGINT, pb INT")
    val files = probed.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(f =>
      f.contains("pb=3") || f.contains("pb=7")),
      s"pruning must hold after rescale: ${files.take(3).mkString(",")}")
    val expected = pref.filter(pmod(col("sh"), lit(newB.toLong)).isin(3L, 7L))
      .count()
    assert(probed.count() == expected)
  }

  test("a crash after a rescale: the next batch probes and appends under the rescaled count") {
    import spark.implicits._
    val dir = tmp("prune_rescale_crash") + "/idx"
    val pref = (0L until 20000L).map(i => (i * 2654435761L % 1000000L, i, 40L))
      .toDF("sh", "doc_id", "n")
    StreamingSetJoin.primePostings(pref, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a per-bucket target of bytes/64 rescales this corpus to 64 buckets
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(dir)).getLength
    spark.conf.set("spark.graft.stream.bucketTargetBytes", ((bytes + 63) / 64).toString)
    try StreamingSetJoin.compact(spark, dir, "pb", keyCol = Some("sh"))
    finally spark.conf.unset("spark.graft.stream.bucketTargetBytes")
    assert(StreamingSetJoin.bucketCount(spark, dir) == 64, "fixture must rescale to 64")
    // the next compaction crashes between its renames: the rescaled
    // index (and its manifest) sits at _old, the live dir is missing
    def crash(): Unit = {
      fs.rename(new org.apache.hadoop.fs.Path(dir), new org.apache.hadoop.fs.Path(dir + "_old"))
      fs.mkdirs(new org.apache.hadoop.fs.Path(dir + "_compacting"))
    }
    crash()
    // the next batch derives its probe buckets exactly as `start` does
    val probeSh = pref.select(col("sh")).as[Long].take(200).toSeq
    val nb = StreamingSetJoin.bucketCount(spark, dir)
    assert(nb == 64, s"probe must use the rescaled count, got $nb")
    val pb = probeSh.map(sh => java.lang.Math.floorMod(sh, nb.toLong)).distinct
    val hits = StreamingSetJoin.probeIndex(spark, dir, "pb", pb,
        "sh BIGINT, doc_id BIGINT, n BIGINT, pb INT")
      .filter(col("sh").isin(probeSh: _*)).count()
    assert(hits == pref.filter(col("sh").isin(probeSh: _*)).count(),
      "the probe must miss no candidate")
    // an append straight out of the crash state lands beside the old
    // index under the rescaled count, not in a fresh 32-bucket layout
    crash()
    val more = (20000L until 20500L).map(i => (i * 2654435761L % 1000000L, i, 40L))
      .toDF("sh", "doc_id", "n")
    StreamingSetJoin.primePostings(more, dir)
    val after = spark.read.parquet(dir)
    assert(after.count() == 20500L, "the append must not hide the old index")
    assert(after.filter(col("pb") =!= pmod(col("sh"), lit(64L))).count() == 0,
      "every row must sit in its pmod(sh, 64) bucket")
  }

  test("ANN index read prunes to the probed cells") {
    import spark.implicits._
    val dir = tmp("prune_ann") + "/idx"
    val assigned = (0L until 600L)
      .map(i => (i, Seq(i.toDouble, 1.0), i % 6L)).toDF("vec_id", "v", "cell")
    StreamingAnn.writeIndex(assigned, dir)
    val probed = StreamingSetJoin.readOrEmpty(spark, dir,
        "vec_id BIGINT, v ARRAY<DOUBLE>, cell BIGINT")
      .filter(col("cell").isin(2L, 4L))
    val files = probed.select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(f =>
      f.contains("cell=2") || f.contains("cell=4")),
      s"ANN probe must read only the probed cells: ${files.take(3).mkString(",")}")
    assert(probed.count() == 200)
  }
}
