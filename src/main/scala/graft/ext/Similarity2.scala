package graft.ext

import graft.{Num, Query, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 continuation: embedding-space LABEL-QUALITY audits — the
  * checks a pipeline runs before trusting labels (or an embedding
  * model) enough to train on them.
  *
  *  - q187: per-label separation margin (silhouette-style): how much
  *    more similar is a point to its own label than to the most
  *    similar OTHER label. Low/negative margins mean the labels don't
  *    cluster in embedding space.
  *  - q189: leave-one-out 1-NN label disagreement — the classic
  *    label-noise estimate (a point whose nearest neighbor carries a
  *    different label is a mislabel candidate; Wilson's editing rule).
  *
  * Both are deliberately-quadratic BASELINES over the capCorpus-guarded
  * corpus (like q33/q37/q185): at 100 TB the same audits run on the
  * q78 IVF / q39 LSH candidate sets instead of all pairs.
  */
object Similarity2 {

  def queries: Seq[Query] = Seq(

    // ---------------------------------------------------------------- q187
    // Per-label embedding separation margin. For each point: a = mean
    // cosine to its OWN label's other points, b = max over other
    // labels of the mean cosine to that label; margin = a − b
    // (positive ⇒ the point sits closer to its own label). Cosines are
    // quantized to integer 1e-4 ticks BEFORE the per-(point, label)
    // mean (integer sums — association-proof); the final per-label
    // mean is r4-rounded per house convention. Points whose label has
    // no second member have no intra mean and are excluded (documented).
    Query(
      "q187_label_silhouette",
      (s, d) => {
        val emb = Similarity.capCorpus(Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            Similarity.toDouble(col("embedding")).as("v")))
          .localCheckpoint() // bounded baseline corpus, reused both sides
        val other = emb.select(col("vec_id").as("j"), col("label").as("lab_j"),
          col("v").as("vj"))
        val perLabel = emb.crossJoin(other)
          .filter(col("vec_id") =!= col("j"))
          .select(col("vec_id"), col("label"), col("lab_j"),
            floor(Similarity.cosine(col("v"), col("vj")) * lit(10000.0) +
              lit(0.500001)).cast("long").as("qc"))
          .groupBy(col("vec_id"), col("label"), col("lab_j"))
          .agg(sum(col("qc")).as("sq"), count(lit(1)).as("nq"))
          .withColumn("m",
            col("sq").cast("double") / col("nq").cast("double") / lit(10000.0))
        val a = perLabel.filter(col("label") === col("lab_j"))
          .select(col("vec_id"), col("label"), col("m").as("a"))
        val b = perLabel.filter(col("label") =!= col("lab_j"))
          .groupBy(col("vec_id")).agg(max(col("m")).as("b"))
        a.join(b, Seq("vec_id"))
          .withColumn("margin", col("a") - col("b"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_points"),
            Num.r4(avg(col("margin"))).as("avg_margin"),
            Num.r4(count(when(col("margin") > 0, 1)).cast("double") /
              count(lit(1)).cast("double")).as("frac_separated"))
          .orderBy(col("label"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        p AS (
          SELECT a.vec_id, a.label, b.label AS lab_j,
            CAST(FLOOR(LIST_COSINE_SIMILARITY(a.v, b.v) * 10000.0 + 0.500001)
                 AS BIGINT) AS qc
          FROM e a JOIN e b ON a.vec_id <> b.vec_id),
        plm AS (
          SELECT vec_id, label, lab_j,
            CAST(SUM(qc) AS DOUBLE) / COUNT(*) / 10000.0 AS m
          FROM p GROUP BY vec_id, label, lab_j),
        ia AS (SELECT vec_id, label, m AS a FROM plm WHERE label = lab_j),
        ib AS (SELECT vec_id, MAX(m) AS b FROM plm WHERE label <> lab_j
               GROUP BY vec_id),
        mg AS (SELECT ia.label, ia.a - ib.b AS margin
               FROM ia JOIN ib USING (vec_id))
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
          FLOOR(AVG(margin) * 10000 + 0.500001) / 10000 AS avg_margin,
          FLOOR((CAST(COUNT(*) FILTER (WHERE margin > 0) AS DOUBLE) / COUNT(*))
                * 10000 + 0.500001) / 10000 AS frac_separated
        FROM mg GROUP BY label ORDER BY label"""),
      "per-label embedding separation margin: own-label mean cosine minus best other-label mean (silhouette-style)"),

    // ---------------------------------------------------------------- q189
    // Leave-one-out 1-NN label-noise audit: each point's nearest OTHER
    // point by the r4-rounded cosine total order (ties to the lower
    // vec_id — the q33/q185 ranking convention); a label disagreement
    // with the nearest neighbor flags a mislabel candidate. Per label:
    // disagreement rate and the labels most confused with it would
    // follow; here the rate plus flagged count (the editing-rule
    // deletion set size).
    Query(
      "q189_knn_label_noise",
      (s, d) => {
        // round 10 (guide §1.2/§2.3): the round-9 max(struct(cos, −j,
        // lab_j)) argmax had a STRUCT aggregation buffer — not an
        // UnsafeRow-mutable type, so the aggregate fell out of
        // HashAggregate into SortAggregate with interpreted struct
        // ordering, and the capCorpus checkpoint is SinglePartition, so
        // the whole |corpus|² sort ran in ONE task (driver artifact:
        // 14.0 s at 32 cores, the suite's slowest query). Fix both:
        //  (a) pack (cosine ticks, tie-break) into ONE long — qc =
        //      floor(cos·1e4 + 0.500001) ∈ [−10000, 10001] is exactly
        //      the r4 grid (qc/1e4 = Num.r4(cos), division by a
        //      positive constant is order-preserving), and idx is the
        //      dense row number of the ≤4096-row capped corpus (idx
        //      order ≡ vec_id order), so
        //        p = (qc + 20000)·8192 + (8191 − jidx)
        //      has max(p) ≡ lexicographic max of (r4(cos), −j) — the
        //      identical neighbor, ties to the LOWEST vec_id. A long
        //      buffer keeps the aggregate in codegen HashAggregate.
        //  (b) repartition the probe side by vec_id so the cross join
        //      computes |corpus|²·dim products on all cores instead of
        //      one (no fixed N: AQE sizes the exchange).
        // The neighbor label is re-attached by a broadcast join against
        // the ≤4096-row (idx → label) map. No zero-norm vectors exist
        // at any SF (checked), so cos is always finite and qc exact.
        val emb = Similarity.capCorpus(Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            Similarity.toDouble(col("embedding")).as("v")))
          .withColumn("idx", row_number().over(
            Window.orderBy(col("vec_id"))).cast("long") - lit(1L))
          .localCheckpoint()
        val other = emb.select(col("idx").as("jidx"), col("v").as("vj"))
        val labels = emb.select(col("idx").as("jidx"), col("label").as("lab_j"))
        val qc = floor(Similarity.cosine(col("v"), col("vj")) * lit(10000.0) +
          lit(0.500001)).cast("long")
        emb.repartition(col("vec_id"))
          .crossJoin(broadcast(other))
          .filter(col("idx") =!= col("jidx"))
          .select(col("vec_id"), col("label"),
            ((qc + lit(20000L)) * lit(8192L) + (lit(8191L) - col("jidx")))
              .as("p"))
          .groupBy(col("vec_id"), col("label"))
          .agg(max(col("p")).as("p"))
          .select(col("label"), (lit(8191L) - pmod(col("p"), lit(8192L)))
            .as("jidx"))
          .join(broadcast(labels), Seq("jidx"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n_points"),
            count(when(col("lab_j") =!= col("label"), 1)).as("n_flagged"),
            Num.r4(count(when(col("lab_j") =!= col("label"), 1)).cast("double") /
              count(lit(1)).cast("double")).as("noise_rate"))
          .orderBy(col("label"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        nn AS (
          SELECT vec_id, label, lab_j FROM (
            SELECT a.vec_id, a.label, b.label AS lab_j,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                FLOOR(LIST_COSINE_SIMILARITY(a.v, b.v) * 10000 + 0.500001) / 10000
                  DESC, b.vec_id) AS rn
            FROM e a JOIN e b ON a.vec_id <> b.vec_id) WHERE rn = 1)
        SELECT label, CAST(COUNT(*) AS BIGINT) AS n_points,
          CAST(COUNT(*) FILTER (WHERE lab_j <> label) AS BIGINT) AS n_flagged,
          FLOOR((CAST(COUNT(*) FILTER (WHERE lab_j <> label) AS DOUBLE)
                 / COUNT(*)) * 10000 + 0.500001) / 10000 AS noise_rate
        FROM nn GROUP BY label ORDER BY label"""),
      "leave-one-out 1-NN label disagreement per label (Wilson editing-rule mislabel estimate)"),

    // ---------------------------------------------------------------- q205
    // Embedding hygiene: per-vector L2 norm with zero-vector and
    // 3-sigma outlier flags — the vector sanity pass that runs before
    // any similarity work (zero vectors poison cosine; extreme norms
    // usually mean an upstream encoder bug). Norms come from exact
    // integer micro-component sums of squares (DECIMAL/HUGEINT), so
    // the flag thresholds see identical inputs in both engines; the
    // corpus μ/σ row broadcasts. One scan, corpus-linear.
    Query(
      "q205_embedding_hygiene",
      (s, d) => {
        val norms = Tables.embeddings(s, d)
          .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
          .select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "x")))
          .select(col("vec_id"),
            floor(col("x") * lit(1e6) + lit(0.5)).cast("long").as("xq"))
          .groupBy(col("vec_id"))
          .agg(sum((col("xq") * col("xq")).cast("decimal(38,0)")).as("n2q"))
          .select(col("vec_id"),
            sqrt(col("n2q").cast("double")).as("nrm_raw"),
            (col("n2q") === 0).as("is_zero"))
          .withColumn("nrm", col("nrm_raw") / lit(1e6))
          .localCheckpoint() // feeds the stats row AND the output
        val stats = norms.agg(avg(col("nrm")).as("mu"),
          stddev_samp(col("nrm")).as("sd"))
        norms.crossJoin(broadcast(stats))
          .select(col("vec_id"), Num.r4(col("nrm")).as("l2_norm"),
            col("is_zero"),
            (abs(col("nrm") - col("mu")) > lit(3.0) * col("sd")).as("is_outlier"))
          .orderBy(col("vec_id"))
      },
      Some("""
        WITH ex AS (
          SELECT vec_id,
            CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT) AS xq
          FROM (SELECT vec_id, unnest(CAST(embedding AS DOUBLE[])) AS x
                FROM embeddings)),
        nq AS (
          SELECT vec_id, SUM(CAST(xq AS HUGEINT) * xq) AS n2q
          FROM ex GROUP BY vec_id),
        norms AS (
          SELECT vec_id, SQRT(CAST(n2q AS DOUBLE)) / 1e6 AS nrm,
            n2q = 0 AS is_zero
          FROM nq),
        st AS (SELECT AVG(nrm) AS mu, STDDEV_SAMP(nrm) AS sd FROM norms)
        SELECT vec_id,
          FLOOR(nrm * 10000 + 0.500001) / 10000 AS l2_norm,
          is_zero,
          (ABS(nrm - mu) > 3.0 * sd) AS is_outlier
        FROM norms CROSS JOIN st ORDER BY vec_id"""),
      "embedding hygiene: exact-integer L2 norms with zero-vector and 3-sigma outlier flags (pre-similarity sanity pass)"),

    // ---------------------------------------------------------------- q242
    // Maximal Marginal Relevance selection (Carbonell & Goldstein
    // 1998): greedily pick 10 results for a probe that balance
    // relevance against redundancy — argmax λ·rel(c) − (1−λ)·max_{s∈S}
    // sim(c,s), λ = 0.7. THE missing piece between retrieval (q33/q78
    // return near-duplicates of each other) and curation (SemDeDup
    // removes them globally; MMR removes them per-query). Greedy
    // selection is inherently sequential, so the 10 rounds run as a
    // bounded lineage-truncated loop (the q239/q222 pattern) over a
    // 100-candidate pool; every argmax compares EXACT integers
    // (micro-quantized cosines, mmr_q = 7·rel_q − 3·sim_q) with a
    // vec_id tie-break, so both engines select the identical sequence.
    // 100 TB shape: the pool is a distributed TakeOrdered (at scale
    // it would come from q78's IVF top-k); the pairs table and every
    // round are 100-row-bounded; nothing depends on corpus size after
    // the one relevance scan.
    Query(
      "q242_mmr_selection",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
        val probe = emb.filter(col("vec_id") === 1)
          .select(col("v").as("qv"))
        val pool = emb.filter(col("vec_id") =!= 1)
          .crossJoin(broadcast(probe))
          .select(col("vec_id"), col("v"),
            floor(Similarity.cosine(col("v"), col("qv")) * lit(1000000.0) +
              lit(0.5)).cast("long").as("relq"))
          .orderBy(col("relq").desc, col("vec_id")).limit(100)
          .localCheckpoint() // bounded candidate pool, reused every round
        val pairs = pool.select(col("vec_id").as("a"), col("v").as("va"))
          .join(broadcast(pool.select(col("vec_id").as("b"), col("v").as("vb"))),
            col("a") =!= col("b"))
          .select(col("a"), col("b"),
            floor(Similarity.cosine(col("va"), col("vb")) * lit(1000000.0) +
              lit(0.5)).cast("long").as("simq"))
          .localCheckpoint() // 100x99 bounded pair grid
        var sel = pool
          .orderBy(col("relq").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), lit(1).as("rank"), col("relq"),
            lit(0L).as("msq"))
          .localCheckpoint()
        for (i <- 2 to 10) {
          val ms = pairs
            .join(broadcast(sel.select(col("vec_id").as("b"))), Seq("b"))
            .groupBy(col("a").as("vec_id")).agg(max(col("simq")).as("msq"))
          val winner = pool
            .join(sel.select(col("vec_id")), Seq("vec_id"), "left_anti")
            .join(broadcast(ms), Seq("vec_id"))
            .withColumn("mmrq", lit(7L) * col("relq") - lit(3L) * col("msq"))
            .orderBy(col("mmrq").desc, col("vec_id")).limit(1)
            .select(col("vec_id"), lit(i).as("rank"), col("relq"), col("msq"))
          sel = sel.unionByName(winner).localCheckpoint()
        }
        sel.select(col("rank"), col("vec_id"),
            Num.r6(col("relq").cast("double") / lit(1e6)).as("rel"),
            Num.r6(col("msq").cast("double") / lit(1e6)).as("max_sim"),
            Num.r6((lit(7L) * col("relq") - lit(3L) * col("msq"))
              .cast("double") / lit(1e7)).as("mmr"))
          .orderBy(col("rank"))
      },
      Some {
        def dotSql(a: String, b: String) =
          s"list_sum([$a[i] * $b[i] FOR i IN range(1, 65)])"
        def selfSql(a: String) = s"list_sum([x * x FOR x IN $a])"
        def cosQ(a: String, b: String) =
          s"CAST(FLOOR(${dotSql(a, b)} / (sqrt(${selfSql(a)}) * sqrt(${selfSql(b)})) * 1000000.0 + 0.5) AS BIGINT)"
        // every round CTE is MATERIALIZED: s_i is referenced three
        // times by round i+1, so inlined CTEs would re-expand the
        // whole chain exponentially (measured: minutes vs millis)
        def round(i: Int): String = {
          val p = i - 1
          s"""c$i AS MATERIALIZED (
            SELECT p.vec_id, p.relq, MAX(pr.simq) AS msq
            FROM pool p
            JOIN pairs pr ON pr.a = p.vec_id
              AND pr.b IN (SELECT vec_id FROM s$p)
            WHERE p.vec_id NOT IN (SELECT vec_id FROM s$p)
            GROUP BY p.vec_id, p.relq),
          w$i AS MATERIALIZED (
            SELECT vec_id, $i AS rank, relq, msq FROM c$i
            ORDER BY 7 * relq - 3 * msq DESC, vec_id LIMIT 1),
          s$i AS MATERIALIZED (SELECT * FROM s$p UNION ALL SELECT * FROM w$i)"""
        }
        s"""
        WITH emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        probe AS (SELECT v AS qv FROM emb WHERE vec_id = 1),
        pool AS MATERIALIZED (
          SELECT vec_id, v, relq FROM (
            SELECT e.vec_id, e.v, ${cosQ("e.v", "p.qv")} AS relq
            FROM emb e CROSS JOIN probe p WHERE e.vec_id <> 1)
          ORDER BY relq DESC, vec_id LIMIT 100),
        pairs AS MATERIALIZED (
          SELECT a.vec_id AS a, b.vec_id AS b, ${cosQ("a.v", "b.v")} AS simq
          FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
        s1 AS (
          SELECT vec_id, 1 AS rank, relq, CAST(0 AS BIGINT) AS msq
          FROM pool ORDER BY relq DESC, vec_id LIMIT 1),
        ${(2 to 10).map(round).mkString(",\n        ")}
        SELECT rank, vec_id,
          FLOOR((CAST(relq AS DOUBLE) / 1e6) * 1000000 + 0.500001) / 1000000
            AS rel,
          FLOOR((CAST(msq AS DOUBLE) / 1e6) * 1000000 + 0.500001) / 1000000
            AS max_sim,
          FLOOR((CAST(7 * relq - 3 * msq AS DOUBLE) / 1e7)
                * 1000000 + 0.500001) / 1000000 AS mmr
        FROM s10 ORDER BY rank"""
      },
      "maximal-marginal-relevance top-10 for a probe (lambda=0.7): greedy integer-exact argmax over a bounded TakeOrdered pool, per-round redundancy penalty")
  )
}
