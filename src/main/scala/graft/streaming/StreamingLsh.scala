package graft.streaming

import graft.ext.Dedup
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming MinHash-LSH near-dup detection — the q34/q35 banding
  * pipeline run continuously, completing the streaming curation family
  * (exact dedup: `StreamingIngest`; funnel: `FunnelProcessor`). Each
  * micro-batch of documents is shingled and minhashed with the SAME
  * batch functions (`Dedup.minhashSignatures`, so batch ≡ streaming by
  * construction), then banded and joined against the persistent band
  * index: a new doc's candidates are every already-ingested doc sharing
  * at least one LSH band, plus earlier-ingested docs of its own batch
  * (within-batch pairs via the same band join, oriented by doc id =
  * ingest order). Per new doc the best candidate (max
  * signature-agreement Jaccard estimate, ties to the smallest old id)
  * is emitted to `verdictDir`; the batch's signatures and bands then
  * join the index.
  *
  * The 100 TB property: the index holds K longs per doc (signatures
  * only — raw text and shingle sets are never retained), the band join
  * shuffles only (band, key, doc_id) tuples, and each micro-batch costs
  * O(batch × collisions), not O(corpus) — in COMPUTE and, since round
  * 9, in I/O too: the persistent index under `sigDir` has two
  * bucket-partitioned parts, `sigDir/bands` (doc_id, band, key;
  * partitioned by `bb = pmod(key, Buckets)`) probed by the band join,
  * and `sigDir/sigs` (doc_id, m0..mK; partitioned by
  * `db = pmod(doc_id, Buckets)`) probed by the scoring join — and every
  * per-batch read carries an `isin` over the batch's colliding buckets,
  * so partition pruning limits each scan to the directories a probe can
  * hit. Appends land one file per touched bucket per batch;
  * [[StreamingSetJoin.compact]] rewrites them one-file-per-bucket every
  * [[StreamingSetJoin.CompactEvery]] batches. est_jaccard is the
  * standard unbiased MinHash estimate (agreeing components / K); with
  * K = 8 it is coarse (granularity 1/8) — the caller's threshold, not
  * this operator, decides dup/not-dup, exactly as in batch q35.
  *
  * Prime `sigDir` from an existing corpus's `minhashSignatures` via
  * [[primeIndex]] (which writes both partitioned parts), or leave it
  * absent — an unseeded index reads as empty. Replayed batches append
  * duplicate verdicts — dedupe on (doc_id, batch_id) downstream, as
  * with [[StreamingIngest]].
  */
object StreamingLsh {

  /** Signature-agreement Jaccard estimate between `a.mK` and `b.mK`. */
  private def estJaccard: Column =
    (0 until Dedup.K).map(k =>
      when(col(s"a.m$k") === col(s"b.m$k"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / Dedup.K

  private def sigsDir(root: String) = s"$root/sigs"
  private def bandsDir(root: String) = s"$root/bands"
  private val sigsDdl =
    ("doc_id BIGINT" +: (0 until Dedup.K).map(k => s"m$k BIGINT"))
      .mkString(", ") + ", db INT"
  private val bandsDdl = "doc_id BIGINT, band INT, key BIGINT, bb INT"

  /** Append a `minhashSignatures` frame to BOTH partitioned index
    * parts (under each part's live bucket count) — also the priming
    * path for an existing corpus. */
  def primeIndex(sigs: DataFrame, root: String): Unit = {
    StreamingSetJoin.appendBucketed(sigs, sigsDir(root), "db", "doc_id")
    StreamingSetJoin.appendBucketed(Dedup.bandKeys(sigs), bandsDir(root), "bb", "key")
  }

  def start(docs: DataFrame, sigDir: String, verdictDir: String,
      checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val b = batch.select(col("doc_id").cast("long").as("doc_id"),
          col("text")).localCheckpoint()
        if (!b.isEmpty) {
          // one shingle pass per batch; signatures feed bands, the
          // pair-estimate join, and the index append
          val sigs = Dedup.minhashSignatures(b).localCheckpoint()
          val newB = Dedup.bandKeys(sigs).localCheckpoint()
          // the batch's colliding band buckets — bounded by the index's
          // LIVE bucket count (manifest-backed, rescalable)
          val bandB = StreamingSetJoin.bucketCount(spark, bandsDir(sigDir))
          val bb = newB.select(
              pmod(col("key"), lit(bandB.toLong)).as("bb"))
            .distinct().as[Long].collect().toSeq
          val oldBands = StreamingSetJoin.probeIndex(spark,
            bandsDir(sigDir), "bb", bb, bandsDdl)
          // old→new: index docs are all "earlier"; within-batch pairs
          // orient by doc id (= ingest order within a batch)
          val crossPairs = newB.as("n")
            .join(oldBands.as("o"),
              col("n.band") === col("o.band") && col("n.key") === col("o.key"))
            .select(col("n.doc_id").as("doc_id"), col("o.doc_id").as("old_id"))
          val withinPairs = newB.as("n").join(newB.as("o"),
            col("n.band") === col("o.band") && col("n.key") === col("o.key") &&
              col("n.doc_id") > col("o.doc_id"))
            .select(col("n.doc_id").as("doc_id"), col("o.doc_id").as("old_id"))
          val pairs = crossPairs.unionByName(withinPairs).distinct()
            .localCheckpoint() // feeds the bucket collect AND the scoring join
          // the candidates' signature buckets — bounded by the live count
          val sigB = StreamingSetJoin.bucketCount(spark, sigsDir(sigDir))
          val db = pairs.select(
              pmod(col("old_id"), lit(sigB.toLong)).as("db"))
            .distinct().as[Long].collect().toSeq
          val oldSigs = StreamingSetJoin.probeIndex(spark,
            sigsDir(sigDir), "db", db, sigsDdl)
          val scored = pairs
            .join(sigs.as("a"), Seq("doc_id"))
            .join(oldSigs.unionByName(sigs).withColumnRenamed("doc_id", "old_id")
              .as("b"), Seq("old_id"))
            .select(col("doc_id"), col("old_id"), estJaccard.as("est_jaccard"))
          // best candidate per doc: max estimate, ties to smallest old id
          val best = scored
            .withColumn("rk", row_number().over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
                .orderBy(col("est_jaccard").desc, col("old_id"))))
            .filter(col("rk") === 1).drop("rk")
          sigs.select(col("doc_id")).join(best, Seq("doc_id"), "left")
            .withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(verdictDir)
          primeIndex(sigs, sigDir)
          if (batchId % StreamingSetJoin.CompactEvery ==
              StreamingSetJoin.CompactEvery - 1) {
            StreamingSetJoin.compact(spark, sigsDir(sigDir), "db",
              keyCol = Some("doc_id"))
            StreamingSetJoin.compact(spark, bandsDir(sigDir), "bb",
              keyCol = Some("key"))
          }
        }
      }
      .start()
}
