package graft.ext

import graft.{Registry, SparkSpec, Tables}

/** Pins for the iterative backbone-graph queries that run inside one
  * task ([[graft.functions.BackboneGraph]]): building their plans must
  * start no more Spark jobs than a bare lineitem read (no per-round job
  * may come back), and planted graphs whose expected values were worked
  * by hand pin the tie-break, shortest-path-count and truncation
  * semantics shared with the DuckDB twins. */
class BackboneGraphSpec extends SparkSpec {

  private val byName = Registry.all.map(q => q.name -> q).toMap

  private def plantDir(tables: (String, org.apache.spark.sql.DataFrame)*): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_bg").toString
    tables.foreach { case (n, df) => df.write.mode("overwrite").parquet(s"$dir/$n.parquet") }
    dir
  }

  /** lineitem rows that make each (u, v) a backbone edge: 3 orders per
    * edge, each holding exactly suppliers {u, v}, all of part 7. */
  private def edgeLineitem(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    edges.zipWithIndex.flatMap { case ((u, v), i) =>
      (0 until 3).flatMap { r =>
        val ok = (i * 3 + r + 1).toLong
        Seq((ok, u, 7L), (ok, v, 7L))
      }
    }.toDF("l_orderkey", "l_suppkey", "l_partkey")
  }

  test("building a ported graph plan starts no more jobs than a bare lineitem read") {
    // a 7-clique (survives q126's 6-core) with a pendant node 8
    val clique = for (u <- 1L to 7L; v <- (u + 1) to 7L) yield (u, v)
    val dir = plantDir("lineitem" -> edgeLineitem(clique :+ (7L -> 8L)))
    val bare = jobsDuring(Tables.lineitem(spark, dir))
    Seq("q126_kcore", "q176_label_propagation", "q182_bfs_hops",
      "q218_modularity", "q222_harmonic_centrality", "q239_hits",
      "q252_betweenness", "q355_closeness", "q384_eigenvector_centrality")
      .foreach { q =>
        val built = jobsDuring(byName(q).run(spark, dir))
        assert(built <= bare, s"$q started $built jobs while building, a bare read $bare")
        assert(byName(q).run(spark, dir).count() > 0, s"$q: empty on the fixture")
      }
  }

  test("q176: a node whose two labels have equal counts takes the smaller label") {
    // path 1-2-3, labels start as the node ids. Round 1: node 2 sees
    // labels {1, 3} once each, so it takes 1; nodes 1 and 3 take 2.
    // Round 2: 1→1, 2→2 (sees {2, 2}), 3→1. Rounds 3-4 repeat 1-2, so
    // the result is {1: 1, 2: 2, 3: 1}. Taking the larger label would
    // end in {1: 3, 2: 2, 3: 3}.
    val dir = plantDir("lineitem" -> edgeLineitem(Seq((1L, 2L), (2L, 3L))))
    val rows = byName("q176_label_propagation").run(spark, dir).collect()
      .map(r => (r.getAs[Long]("node_id"), r.getAs[Long]("community"),
        r.getAs[Long]("community_size"))).toSeq
    assert(rows == Seq((1L, 1L, 2L), (2L, 2L, 1L), (3L, 1L, 2L)))
  }

  test("q252: on the diamond 1-2, 1-3, 2-4, 3-4 every node brokers exactly 1.0") {
    // every node has degree 2, so all four are seeds. From seed 1 the
    // far corner 4 is reached by two shortest paths (σ(4) = 2), so each
    // middle node 2, 3 gets δ = 1e6·(σ/σ(4)) = 500000; by symmetry
    // every node collects two halves from its two opposite-corner
    // seeds: bq = 1,000,000 each. With σ(4) counted as 1 each middle
    // node would get a full 1e6 per seed and bq = 2,000,000.
    val dir = plantDir("lineitem" ->
      edgeLineitem(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L))))
    val rows = byName("q252_betweenness").run(spark, dir).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Double]("betweenness"))).toSeq
    assert(rows == Seq(1L, 2L, 3L, 4L).map(_ -> 1.0))
  }

  test("q384: on an irregular graph the truncating x·S div Σx loses mass") {
    // star 1-{2,3,4} plus edge 3-4, S = 1e9, x0 = S div 4 = 250000000.
    // Round 1: y = (750M, 250M, 500M, 500M), Σy = 2e9, x = (375M, 125M,
    // 250M, 250M) exactly. Round 2: y = (625M, 375M, 625M, 625M), Σy =
    // 2.25e9, and 625M·S div 2.25e9 truncates 277777777.8 to 277777777
    // (Σx = 999999997). Rounds 3-5 in exact integers end at the values
    // below; round-half-up would give 327777778 / 266666667 / 138888889.
    val dir = plantDir("lineitem" ->
      edgeLineitem(Seq((1L, 2L), (1L, 3L), (1L, 4L), (3L, 4L))))
    val rows = byName("q384_eigenvector_centrality").run(spark, dir).collect()
      .map(r => (r.getAs[Long]("node"), r.getAs[Long]("score_q"))).toSeq
    assert(rows == Seq((1L, 327777777L), (3L, 266666666L), (4L, 266666666L),
      (2L, 138888888L)))
  }
}
