package graft.streaming

import graft.ext.{Dedup, SetJoin}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming EXACT near-dup detection — q435's prefix-filtered
  * Jaccard ≥ 3/5 join run incrementally, the exact twin of
  * [[StreamingLsh]]'s probabilistic one. Each micro-batch of documents
  * is shingled and hashed with the SAME batch primitives
  * (`Dedup.docShingles`/`hp`), its prefixes are joined against the
  * persistent prefix-postings index, candidates are verified by exact
  * `array_intersect` against the persistent set index, and every
  * qualifying (new, earlier) pair is emitted — no estimate, no best-of:
  * the emission set is EXACTLY the batch q435 pair set restricted to
  * (later, earlier) orientation, which the parity spec pins.
  *
  * The one semantic departure from batch q435 is forced by
  * incrementality and is a STRENGTHENING of the guarantee: batch q435
  * orders the prefix universe rarest-first (df asc) because df is
  * known; a stream's df drifts as the corpus grows, and prefixes taken
  * under different orders break the completeness theorem (two docs'
  * prefixes must share an element under a COMMON total order). So the
  * streaming index prefixes under the PLAIN hash order — df-free,
  * fixed forever, identical for every doc no matter when it arrives.
  * Less selective (more candidates) but exact at every point in time.
  * Exact-duplicate arrivals are reported too (jaccard 1.0) — at ingest
  * time the dup/near-dup decision is one surface, and rep-collapse is
  * the caller's downstream move as in batch.
  *
  * Scale shape (round 9): both persistent indexes are PARTITIONED by a
  * bounded hash bucket of their probe key — postings by
  * `pb = pmod(sh, Buckets)`, sets by `sb = pmod(doc_id, Buckets)` — and
  * every per-batch read carries an `isin` filter over the batch's
  * colliding buckets, so partition pruning limits the scan to the
  * directories a probe can actually hit (asserted by the pruning spec
  * via the scan's partition-filter count). The bucket sets are bounded
  * by the live bucket count, so the per-batch driver work stays O(1).
  * Appends land one file per touched bucket per batch; [[compact]]
  * rewrites the accumulated small files every [[CompactEvery]] batches
  * through a staging dir + rename swap whose crash window is closed by
  * [[recover]] (round 10), and rescales the bucket count toward
  * [[targetBucketBytes]] per bucket as the corpus grows (the count
  * lives in the index's `_BUCKETS` manifest). Raw text is never
  * retained. Replayed batches append duplicate verdicts — dedupe on
  * (doc_id, batch_id) downstream, as with [[StreamingIngest]].
  *
  * First deployment needs no priming: a missing index directory reads
  * as a typed empty frame ([[readOrEmpty]]) until the first batch
  * writes it. To prime from an existing corpus, write through
  * [[primePostings]]/[[primeSets]] so the bucket layout matches.
  */
object StreamingSetJoin {

  /** Probe-key hash buckets for a FRESH index: bounds both the
    * partition count of the on-disk layout and the per-batch `isin`
    * pruning set. Round 10: no longer a redeploy-time constant — the
    * LIVE count is stored in the index's `_BUCKETS` manifest
    * ([[bucketCount]]) and grows at compaction time toward
    * [[targetBucketBytes]] per bucket, so a corpus that outgrows the
    * initial layout rescales without a redeploy; the local default
    * keeps spec corpora and the bench comparable. */
  val Buckets = 32

  /** Compact the indexes every N batches (small-file bound). */
  val CompactEvery = 16L

  /** Compaction rescale target (bytes per bucket): guide §6's
    * 100 MB–1 GB file-sizing band, parameterised so a deployment (or a
    * spec) can set `spark.graft.stream.bucketTargetBytes`. */
  def targetBucketBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("spark.graft.stream.bucketTargetBytes")
      .map(_.toLong).getOrElse(1L << 30)

  /** The index's LIVE bucket count: the `_BUCKETS` manifest at the
    * index root, or [[Buckets]] for a fresh (or pre-manifest) index.
    * Every append and probe derives its `pmod` from this, so a
    * compaction-time rescale stays consistent with both. Heals a
    * half-done compaction swap first: otherwise a crash right after a
    * rescale would read the fresh default here and probe or append
    * under the wrong modulus. */
  def bucketCount(spark: org.apache.spark.sql.SparkSession,
      dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir, "_BUCKETS")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, dir)
    if (fs.exists(p)) {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in).mkString.trim.toInt
      finally in.close()
    } else Buckets
  }

  /** Write the bucket-count manifest (create + atomic rename). */
  private def writeBucketManifest(fs: org.apache.hadoop.fs.FileSystem,
      dir: String, n: Int): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dir, "_BUCKETS.tmp")
    val dst = new org.apache.hadoop.fs.Path(dir, "_BUCKETS")
    val out = fs.create(tmp, true)
    try out.write(s"$n\n".getBytes("UTF-8")) finally out.close()
    fs.delete(dst, false)
    fs.rename(tmp, dst)
  }

  /** Crash recovery for [[compact]]'s two-rename swap: a crash between
    * the renames leaves the live dir missing and the complete index at
    * `dir + "_old"` — promote it back before any read or compaction, so
    * the window where the live index is invisible closes at the next
    * touch (spec-pinned by the simulated-crash test). */
  private[streaming] def recover(
      fs: org.apache.hadoop.fs.FileSystem, dir: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val old = new org.apache.hadoop.fs.Path(dir + "_old")
    if (!fs.exists(path) && fs.exists(old)) fs.rename(old, path)
  }

  /** Per-doc prefix rows (doc_id, sh, n) under the PLAIN hash order:
    * the first n − ⌈τ·n⌉ + 1 of the doc's sorted shingle hashes. */
  def prefixes(hashed: DataFrame): DataFrame = {
    val byDoc = Window.partitionBy(col("doc_id"))
    hashed
      .withColumn("rk", row_number().over(byDoc.orderBy(col("sh"))))
      .withColumn("n", count(lit(1)).over(byDoc))
      .filter(col("rk") <= col("n") -
        expr(s"(${SetJoin.TauNum} * n + ${SetJoin.TauDen - 1}) div ${SetJoin.TauDen}") + 1)
      .select(col("doc_id"), col("sh"), col("n"))
  }

  /** Distinct hashed shingle sets of a (doc_id, text) frame. */
  def hashedShingles(docs: DataFrame): DataFrame =
    Dedup.docShingles(docs)
      .select(col("doc_id"), Dedup.hp(col("sh")).as("sh")).distinct()

  /** Append `pref` (doc_id, sh, n) to the postings index, bucketed by
    * its probe key `sh` under the index's live bucket count. Also the
    * priming path for an existing corpus. */
  def primePostings(pref: DataFrame, dir: String): Unit =
    appendBucketed(pref.select(col("sh"), col("doc_id"), col("n")),
      dir, "pb", "sh")

  /** Append `sets` (doc_id, shs, n) to the set index, bucketed by its
    * probe key `doc_id` under the index's live bucket count. Also the
    * priming path for an existing corpus.
    * INVARIANT: `shs` must be sorted ascending (and duplicate-free) —
    * verification counts intersections with a merge pass. */
  def primeSets(sets: DataFrame, dir: String): Unit =
    appendBucketed(sets.select(col("doc_id"), col("shs"), col("n")),
      dir, "sb", "doc_id")

  /** Append rows bucketed by `pmod(keyCol, live bucket count)`, and pin
    * that count in the manifest so later appends/probes/rescales agree.
    * [[bucketCount]] runs first, so a half-done compaction swap is
    * healed before anything is written to `dir`. */
  private[streaming] def appendBucketed(rows: DataFrame, dir: String,
      bucketCol: String, keyCol: String): Unit = {
    val spark = rows.sparkSession
    val nb = bucketCount(spark, dir)
    rows.withColumn(bucketCol, pmod(col(keyCol), lit(nb.toLong)))
      .write.mode("append").partitionBy(bucketCol).parquet(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir, "_BUCKETS")))
      writeBucketManifest(fs, dir, nb)
  }

  /** Pruned probe read: the index rows in `buckets` only. On the
    * partitioned layout the `isin` lands in the scan's PartitionFilters,
    * so only colliding directories are listed and read (spec-pinned). */
  def probeIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      bucketCol: String, buckets: Seq[Long], ddl: String): DataFrame =
    readOrEmpty(spark, dir, ddl)
      .filter(col(bucketCol).isin(buckets: _*))
      .drop(bucketCol)

  def start(docs: DataFrame, postingsDir: String, setsDir: String,
      verdictDir: String, checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val b = batch.select(col("doc_id").cast("long").as("doc_id"),
          col("text")).localCheckpoint()
        if (!b.isEmpty) {
          val hashed = hashedShingles(b).localCheckpoint()
          // sets are stored SORTED (ascending) so verification can run
          // the codegen'd merge-intersection instead of array_intersect's
          // per-pair hash set — the q435 batch kernel (round 10)
          val sets = hashed.groupBy(col("doc_id"))
            .agg(sort_array(collect_list(col("sh"))).as("shs"),
              count(lit(1)).as("n"))
            .localCheckpoint()
          val pref = prefixes(hashed).localCheckpoint()
          // the batch's colliding postings buckets — bounded by the
          // index's LIVE bucket count (manifest-backed, rescalable)
          val postB = bucketCount(spark, postingsDir)
          val pb = pref.select(pmod(col("sh"), lit(postB.toLong)).as("pb"))
            .distinct().as[Long].collect().toSeq
          val oldPost = probeIndex(spark, postingsDir, "pb", pb,
            "sh BIGINT, doc_id BIGINT, n BIGINT, pb INT")
          val lengthOk =
            least(col("n_new"), col("n_old")) * SetJoin.TauDen >=
              greatest(col("n_new"), col("n_old")) * SetJoin.TauNum
          // old→new: new prefixes probe the persistent PREFIX postings;
          // within-batch: prefix self-join oriented by id (ingest order)
          val candOld = pref.as("nw").join(oldPost.as("od"),
              col("nw.sh") === col("od.sh"))
            .select(col("nw.doc_id").as("doc_id"), col("od.doc_id").as("old_id"),
              col("nw.n").as("n_new"), col("od.n").as("n_old"))
          val candIn = pref.as("nw").join(pref.as("od"),
              col("nw.sh") === col("od.sh") && col("nw.doc_id") > col("od.doc_id"))
            .select(col("nw.doc_id").as("doc_id"), col("od.doc_id").as("old_id"),
              col("nw.n").as("n_new"), col("od.n").as("n_old"))
          val cand = candOld.unionByName(candIn).filter(lengthOk).distinct()
            .localCheckpoint() // feeds the bucket collect AND the verify join
          // the candidates' set-index buckets — bounded by the live count
          val setsB = bucketCount(spark, setsDir)
          val sb = cand.select(pmod(col("old_id"), lit(setsB.toLong)).as("sb"))
            .distinct().as[Long].collect().toSeq
          // sort_array: sets written before the merge-intersection
          // kernel (round 10) are unsorted, and an unsorted side makes
          // the merge undercount without any error
          val oldSets = probeIndex(spark, setsDir, "sb", sb,
            "doc_id BIGINT, shs ARRAY<BIGINT>, n BIGINT, sb INT")
            .withColumn("shs", sort_array(col("shs")))
          val allSets = oldSets.unionByName(sets)
          val verified = cand
            .join(sets.select(col("doc_id"), col("shs").as("sa")), Seq("doc_id"))
            .join(allSets.select(col("doc_id").as("old_id"), col("shs").as("sb")),
              Seq("old_id"))
            .withColumn("n_inter", graft.functions.SetFunctions
              .sortedIntersectCount(col("sa"), col("sb")))
            .filter(col("n_inter") * SetJoin.TauDen >=
              (col("n_new") + col("n_old") - col("n_inter")) * SetJoin.TauNum)
            .select(col("doc_id"), col("old_id"), col("n_inter"),
              col("n_new"), col("n_old"),
              graft.Num.r4(col("n_inter") /
                (col("n_new") + col("n_old") - col("n_inter"))).as("jaccard"))
          verified.withColumn("batch_id", lit(batchId))
            .write.mode("append").parquet(verdictDir)
          primePostings(pref, postingsDir)
          primeSets(sets, setsDir)
          if (batchId % CompactEvery == CompactEvery - 1) {
            compact(spark, postingsDir, "pb", keyCol = Some("sh"))
            compact(spark, setsDir, "sb", keyCol = Some("doc_id"))
          }
        }
      }
      .start()

  /** Rewrite a bucketed index with one file per bucket, bounding the
    * small files that per-batch appends accumulate (one per touched
    * bucket per batch). The rewrite streams through a staging dir and
    * swaps by rename — never materializing the index in memory.
    *
    * Round 10 hardening: (a) the two-rename swap's crash window is
    * closed by [[recover]] — a crash between the renames leaves the
    * complete index at `dir + "_old"`, and every subsequent read or
    * compaction promotes it back before proceeding (content-identical,
    * so a replayed trigger repeats the compaction idempotently);
    * (b) when `keyCol` is given, the rewrite RESCALES the bucket count
    * toward [[targetBucketBytes]] per bucket (`pmod(key, newB)`,
    * manifest updated inside the staging dir so data + count swap in
    * together) — the bucket layout now tracks corpus volume instead of
    * being a redeploy-time constant. */
  private[streaming] def compact(spark: org.apache.spark.sql.SparkSession,
      dir: String, bucketCol: String, keyCol: Option[String] = None): Unit = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, dir)
    if (fs.exists(path)) {
      val staging = new org.apache.hadoop.fs.Path(dir + "_compacting")
      val old = new org.apache.hadoop.fs.Path(dir + "_old")
      fs.delete(staging, true); fs.delete(old, true)
      val curB = bucketCount(spark, dir)
      val newB = keyCol match {
        case Some(_) =>
          val bytes = fs.getContentSummary(path).getLength
          val want = math.ceil(bytes.toDouble / targetBucketBytes(spark)).toInt
          math.min(65536, math.max(curB, math.max(Buckets, want)))
        case None => curB
      }
      // the sets index's rewrite also sorts legacy unsorted `shs`
      val raw = spark.read.parquet(dir)
      val df =
        if (raw.columns.contains("shs")) raw.withColumn("shs", sort_array(col("shs")))
        else raw
      val rescaled = keyCol match {
        case Some(k) if newB != curB =>
          df.withColumn(bucketCol, pmod(col(k), lit(newB.toLong)))
        case _ => df
      }
      rescaled.repartition(col(bucketCol))
        .write.mode("overwrite").partitionBy(bucketCol)
        .parquet(staging.toString)
      writeBucketManifest(fs, staging.toString, newB)
      fs.rename(path, old)
      fs.rename(staging, path)
      fs.delete(old, true)
    }
  }

  /** Read a persistent index, or a typed empty frame when the path does
    * not exist yet or holds no parquet files — a fresh deployment's
    * first micro-batch must not fail on an unseeded index (the DDL pins
    * the exact schema the first batch then writes). */
  private[streaming] def readOrEmpty(
      spark: org.apache.spark.sql.SparkSession, dir: String,
      ddl: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recover(fs, dir) // a crash mid-compact must never hide the live index
    def hasParquet: Boolean = {
      val it = fs.listFiles(path, true)
      var found = false
      while (!found && it.hasNext)
        found = it.next().getPath.getName.endsWith(".parquet")
      found
    }
    if (fs.exists(path) && hasParquet) spark.read.parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(ddl))
  }
}
