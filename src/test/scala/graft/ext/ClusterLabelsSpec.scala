package graft.ext

import graft.{Registry, SparkSpec, Tables}
import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import scala.concurrent.Await
import scala.concurrent.duration._

/** Pins for the near-dup clustering behind q84 and q164
  * ([[Dedup.clusterLabels]]) on a planted corpus whose graph shapes the
  * sf tables barely have: a 30-hop chain of near-dup reps, a star, an
  * exact-dup group with no cross partner, and docs too short to shingle.
  * The expected clusters come from a plain-Scala union-find over the
  * DOC-level verified pairs (full-corpus signatures → LSH candidates →
  * r4 Jaccard ≥ 0.8, no rep collapse), so the rep graph, the star edges
  * and the labelling are all checked against an independent path. */
class ClusterLabelsSpec extends SparkSpec {

  private def toks(prefix: String, from: Int, n: Int): Seq[String] =
    (from until from + n).map(i => s"$prefix$i")

  /** Chain: doc k holds tokens 2k..2k+29 of one stream, so neighbours
    * share 26 of 30 shingles (J = 0.8667) and docs two apart 24 of 32
    * (J = 0.75): 31 docs, 30 hops, ids ascending along the chain. One
    * extra copy of the last chain doc hangs off it by exact duplication.
    * Star: a 42-token centre and four leaves that each change one token
    * 8 positions apart (centre-leaf J = 37/43, leaf-leaf J = 34/46).
    * Exact-dup group: 3 copies with interleaved ids, no near-dup partner.
    * Plus a unique doc and two copies of a 2-token doc (no shingles, so
    * never paired). */
  private val chain = (0 to 30).map(k => (100L + k, toks("c", 2 * k, 30)))
  private val centre = toks("s", 0, 42)
  private val star = (250L, centre) +: (1 to 4).map(j =>
    (200L + j, centre.updated(8 * j, s"x$j")))
  private val planted: Seq[(Long, String)] =
    ((chain :+ (500L -> chain.last._2)) ++ star ++
      Seq(150L, 50L, 450L).map(_ -> toks("g", 0, 12)) ++
      Seq(60L -> toks("u", 0, 12), 70L -> Seq("short", "one"),
        470L -> Seq("short", "one")))
      .map { case (id, t) => (id, t.mkString(" ")) }

  private def corpus(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "clusters").toString
    docs.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }
  private lazy val dir = corpus(planted)

  /** Doc-level verified pairs, computed without the rep index. */
  private def docPairs(d: String): Seq[(Long, Long)] = {
    val docs = Tables.documents(spark, d)
    val hashed = Dedup.docShingles(docs).select(col("doc_id"), Dedup.hp(col("sh")).as("sh"))
    Dedup.jaccard(Dedup.lshCandidates(Dedup.minhashSignatures(docs)), hashed)
      .filter(graft.Num.r4(col("jaccard")) >= 0.8)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSeq
  }

  /** (doc_id, cluster_id, cluster_size) of every doc in a component of
    * two or more, by union-find. */
  private def unionFind(pairs: Seq[(Long, Long)]): Seq[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comps = parent.keys.toSeq.groupBy(find)
    comps.values.flatMap(m => m.map(v => (v, m.min, m.size.toLong))).toSeq.sortBy(_._1)
  }

  private def q(name: String, d: String): DataFrame = Registry.queries(name)(spark, d)

  private def triples(df: DataFrame): Seq[(Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq

  test("the planted chain is 30 verified hops with nothing across them") {
    val chainIds = chain.map(_._1).toSet
    val within = docPairs(dir).filter { case (a, b) => chainIds(a) && chainIds(b) }
    assert(within.sorted == (100L until 130L).map(k => (k, k + 1)))
  }

  test("q84 equals a union-find over the doc-level verified pairs") {
    val expected = unionFind(docPairs(dir))
    assert(triples(q("q84_dup_clusters", dir)) == expected)
    val sizes = expected.groupBy(_._2).map { case (c, m) => c -> m.size }
    assert(sizes == Map(100L -> 32, 201L -> 5, 50L -> 3), "fixture shape")
  }

  test("q164 splits by cluster_id, else by doc_id") {
    val cluster = unionFind(docPairs(dir)).map(t => t._1 -> t._2).toMap
    val rows = q("q164_dedup_split", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("split_unit")).toSeq
    assert(rows == planted.map(_._1).sorted.map(id => id -> cluster.getOrElse(id, id)))
  }

  test("a corpus with no verified pair clusters nothing") {
    val d = corpus(Seq(1L -> toks("a", 0, 12), 2L -> toks("b", 0, 12),
      3L -> Seq("short", "one"), 4L -> Seq("short", "one"))
      .map { case (id, t) => (id, t.mkString(" ")) })
    assert(docPairs(d).isEmpty)
    assert(q("q84_dup_clusters", d).isEmpty)
    assert(q("q164_dedup_split", d).collect()
      .forall(r => r.getAs[Long]("split_unit") == r.getAs[Long]("doc_id")))
  }

  test("building q164 on the chain starts at most 14 jobs once the index is warm") {
    // Min-label propagation with pointer doubling, an eager checkpoint
    // and a separate `moved` count per round started 69 jobs here.
    // Hash-to-Min settles the 32-node path in 6 rounds; with adaptive
    // execution on, each round's eager checkpoint is two jobs (the
    // shuffle map stage runs as a job of its own), plus one for the
    // closed-neighbourhood shuffle and one for the documents read: 14.
    // A per-round count job coming back would make it 20.
    q("q84_dup_clusters", dir) // warms the rep index
    val built = jobsDuring(q("q164_dedup_split", dir))
    assert(built <= 14, s"q164 started $built jobs while building")
  }

  test("an Observation on an eager localCheckpoint completes") {
    val obs = Observation()
    spark.range(0, 100).observe(obs, sum(col("id")).as("s")).localCheckpoint()
    assert(Await.result(obs.future, 60.seconds).getLong(0) == 4950L)
  }
}
