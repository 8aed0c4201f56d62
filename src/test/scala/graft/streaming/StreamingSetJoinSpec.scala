package graft.streaming

import graft.{Registry, SparkSpec, Tables}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

final case class SetDoc(doc_id: Long, text: String)

/** EXACT parity pin for the streaming prefix-filter near-dup twin:
  * ingesting the rep-collapsed real documents table in uneven
  * micro-batches must emit EXACTLY the batch q435 pair set — same
  * pairs, same intersection and set sizes — because both sides are
  * exact joins (no estimates anywhere). Rep-collapsed input makes the
  * targets comparable: batch q435 collapses exact duplicates itself,
  * while the ingest twin reports them (by design, at jaccard 1.0). */
class StreamingSetJoinSpec extends SparkSpec {

  private def tmp(prefix: String) = java.nio.file.Files
    .createTempDirectory(java.nio.file.Paths.get("target"), prefix).toString

  test("streaming exact near-dup emissions == batch q435 pairs on the real corpus") {
    val reps = Tables.documents(spark, sf())
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("text"))
    val docs = reps.collect().map(r => SetDoc(r.getLong(0), r.getString(1)))
      .sortBy(_.doc_id)

    // batch expectation: q435 on a dir holding exactly the rep corpus
    val plantDir = tmp("setjoin_docs")
    reps.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$plantDir/documents.parquet")
    val q435 = Registry.all.find(_.name == "q435_prefix_filter_join").get
    val expected = q435.run(spark, plantDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

    // unseeded indexes: readOrEmpty serves the typed empty frame until
    // the first batch writes the bucket-partitioned layout
    val postingsDir = tmp("setjoin_post") + "/idx"
    val setsDir = tmp("setjoin_sets") + "/idx"
    val verdictDir = tmp("setjoin_verd")

    val mem = MemoryStream[SetDoc](Encoders.product[SetDoc], spark)
    val q = StreamingSetJoin.start(mem.toDF(), postingsDir, setsDir,
      verdictDir, tmp("setjoin_ckpt"))
    try docs.grouped(17).foreach { c => mem.addData(c); q.processAllAvailable() }
    finally q.stop()

    // canonicalize (new, earlier) emissions to (min id, max id) with the
    // matching size labels, then compare as sets
    val got = spark.read.parquet(verdictDir).collect().map { r =>
      val (d, o) = (r.getAs[Long]("doc_id"), r.getAs[Long]("old_id"))
      val (nn, no) = (r.getAs[Long]("n_new"), r.getAs[Long]("n_old"))
      val (a, b, na, nb) = if (d < o) (d, o, nn, no) else (o, d, no, nn)
      (a, b, r.getAs[Long]("n_inter"), na, nb)
    }.toSet
    assert(expected.nonEmpty, "batch q435 must find pairs in the real corpus")
    assert(got == expected,
      s"stream-only=${(got -- expected).take(3)} batch-only=${(expected -- got).take(3)}")
  }

  test("slicing independence: one-shot ingest emits the same pair set") {
    import spark.implicits._
    val base = Seq(
      SetDoc(1L, "t1 t2 t3 t4 t5 t6 t7"),
      SetDoc(2L, "t1 t2 t3 t4 t5 t6 t8"),
      SetDoc(3L, "u1 u2 u3 u4 u5"),
      SetDoc(4L, "t1 t2 t3 t4 t5 t6 t7 x1")) // J(1,4) = 5/6 pair; J(2,4) = 4/7 excluded
    def run(chunks: Seq[Seq[SetDoc]]): Set[(Long, Long, Long)] = {
      val postingsDir = tmp("sj_post") + "/idx"
      val setsDir = tmp("sj_sets") + "/idx"
      val verdictDir = tmp("sj_verd")
      val mem = MemoryStream[SetDoc](Encoders.product[SetDoc], spark)
      val q = StreamingSetJoin.start(mem.toDF(), postingsDir, setsDir,
        verdictDir, tmp("sj_ckpt"))
      try chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
      finally q.stop()
      spark.read.parquet(verdictDir).collect().map { r =>
        val (d, o) = (r.getAs[Long]("doc_id"), r.getAs[Long]("old_id"))
        (math.min(d, o), math.max(d, o), r.getAs[Long]("n_inter"))
      }.toSet
    }
    val oneShot = run(Seq(base))
    val perDoc = run(base.map(Seq(_)))
    assert(oneShot == perDoc)
    assert(oneShot.contains((1L, 2L, 4L)))
  }

  test("legacy unsorted set rows are sorted at probe time and by compaction") {
    import spark.implicits._
    // the layout written before sets were stored sorted: doc 1 primed
    // with its shingle hashes in DESCENDING order
    def primeLegacy(postingsDir: String, setsDir: String): Unit = {
      val hashed = StreamingSetJoin.hashedShingles(
        Seq(SetDoc(1L, "t1 t2 t3 t4 t5 t6 t7")).toDF())
      StreamingSetJoin.primePostings(StreamingSetJoin.prefixes(hashed), postingsDir)
      StreamingSetJoin.primeSets(hashed.groupBy(col("doc_id"))
        .agg(reverse(sort_array(collect_list(col("sh")))).as("shs"),
          count(lit(1)).as("n")), setsDir)
    }
    val postingsDir = tmp("sj_legacy_post") + "/idx"
    val setsDir = tmp("sj_legacy_sets") + "/idx"
    val verdictDir = tmp("sj_legacy_verd")
    primeLegacy(postingsDir, setsDir)
    val mem = MemoryStream[SetDoc](Encoders.product[SetDoc], spark)
    val q = StreamingSetJoin.start(mem.toDF(), postingsDir, setsDir,
      verdictDir, tmp("sj_legacy_ckpt"))
    try { mem.addData(Seq(SetDoc(2L, "t1 t2 t3 t4 t5 t6 t8"))); q.processAllAvailable() }
    finally q.stop()
    // 4 of the two docs' 5 trigrams are shared: J = 4/6 passes 3/5
    val got = spark.read.parquet(verdictDir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("old_id"), r.getAs[Long]("n_inter")))
    assert(got.toSeq == Seq((2L, 1L, 4L)))

    val compactDir = tmp("sj_legacy_compact") + "/idx"
    primeLegacy(tmp("sj_legacy_post2") + "/idx", compactDir)
    StreamingSetJoin.compact(spark, compactDir, "sb", keyCol = Some("doc_id"))
    val shs = spark.read.parquet(compactDir).select(col("shs")).collect()
      .map(_.getSeq[Long](0))
    assert(shs.length == 1 && shs.head.length == 5)
    assert(shs.head == shs.head.sorted, s"compaction must sort legacy sets: ${shs.head}")
  }
}
