package graft.ext

import graft.{Num, Query, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding/behavior continuation, batch 45: TwoNN intrinsic
  * dimension of the embedding cloud and the participation-inequality
  * report. The TwoNN sample is capped at the 1024 LOWEST vec_ids on
  * BOTH engines (unlike the q33-style baselines, the oracle stays
  * comparable at every SF); distances are r6-quantized cosine
  * distances before ranking, the q33 stability discipline.
  */
object Intrinsic {

  def queries: Seq[Query] = Seq(

    // ---------------------------------------------------------------- q345
    // TwoNN intrinsic dimension (Facco et al. 2017), cosine-distance
    // variant: for each sampled vector the ratio μ = d₂/d₁ of its two
    // nearest neighbors, ID = n/Σ ln μ — "how many degrees of freedom
    // does the embedding cloud actually use". Points with a zero
    // first distance (exact duplicates) are excluded (documented).
    Query(
      "q345_twonn_id",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
          .orderBy(col("vec_id")).limit(1024)
          .localCheckpoint() // deterministic capped sample, both engines
        val a = emb.select(col("vec_id").as("i"), col("v").as("vi"))
        val b = emb.select(col("vec_id").as("j"), col("v").as("vj"))
        val w = Window.partitionBy(col("i")).orderBy(col("dq"), col("j"))
        val nn = a.join(b, col("i") =!= col("j"))
          .select(col("i"), col("j"),
            floor((lit(1.0) - Similarity.cosine(col("vi"), col("vj")))
              * lit(1e6) + lit(0.5)).cast("long").as("dq"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
        val mu = nn.groupBy(col("i"))
          .agg(max(when(col("rn") === 1, col("dq"))).as("d1"),
            max(when(col("rn") === 2, col("dq"))).as("d2"))
          .filter(col("d1") > 0)
          .select(floor(log(col("d2").cast("double") / col("d1").cast("double"))
            * lit(1e9) + lit(0.5)).cast("long").as("lq"))
        mu.agg(count(lit(1)).as("n_points"), sum(col("lq")).as("sl"))
          .select(col("n_points"),
            Num.r4(col("n_points").cast("double") /
              (col("sl").cast("double") / lit(1e9))).as("twonn_id"))
      },
      Some("""
        WITH emb AS (
          SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT 1024),
        pairs AS (
          SELECT a.vec_id AS i, b.vec_id AS j,
            CAST(FLOOR((1.0 - LIST_COSINE_SIMILARITY(
              CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))
              * 1e6 + 0.5) AS BIGINT) AS dq
          FROM emb a JOIN emb b ON a.vec_id <> b.vec_id),
        nn AS (
          SELECT i, dq, rn FROM (
            SELECT i, dq,
              ROW_NUMBER() OVER (PARTITION BY i ORDER BY dq, j) AS rn
            FROM pairs)
          WHERE rn <= 2),
        mu AS (
          SELECT CAST(FLOOR(LN(CAST(MAX(CASE WHEN rn = 2 THEN dq END)
              AS DOUBLE) / MAX(CASE WHEN rn = 1 THEN dq END))
              * 1e9 + 0.5) AS BIGINT) AS lq
          FROM nn GROUP BY i
          HAVING MAX(CASE WHEN rn = 1 THEN dq END) > 0)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
          FLOOR((CAST(COUNT(*) AS DOUBLE) /
                 (CAST(SUM(lq) AS DOUBLE) / 1e9)) * 10000 + 0.500001) / 10000
            AS twonn_id
        FROM mu"""),
      "TwoNN intrinsic dimension of the embedding cloud (1024-cap both engines, r6 cosine distances)"),

    // ---------------------------------------------------------------- q346
    // Participation inequality (the 90-9-1 rule): what share of all
    // events do the top 1% and top 10% most active users generate?
    // Exact ceil-rank thresholds on the DESC user-activity histogram,
    // ties included above the cut (documented, the q295 discipline).
    Query(
      "q346_participation",
      (s, d) => {
        val ua = Tables.events(s, d)
          .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        val hist = ua.groupBy(col("c").as("v"))
          .agg(count(lit(1)).as("nu"), sum(col("c")).as("ne"))
        val wDesc = Window.orderBy(col("v").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = hist.withColumn("cumu", sum(col("nu")).over(wDesc))
          .withColumn("cume", sum(col("ne")).over(wDesc))
          .localCheckpoint()
        val tot = cum.agg(max(col("cumu")).as("nusers"), max(col("cume")).as("nevents"))
        def share(pct: Int) = cum.crossJoin(broadcast(tot))
          .filter(Exact.ceilRank(col("cumu"), pct, "nusers"))
          .agg(max(col("nusers")).as("nusers"), max(col("nevents")).as("nevents"),
            min(col("cumu")).as(s"u$pct"), min(col("cume")).as(s"e$pct"))
        share(1).select(col("nusers"), col("nevents"), col("u1"), col("e1"))
          .crossJoin(broadcast(share(10).select(col("u10"), col("e10"))))
          .select(col("nusers").as("n_users"), col("nevents").as("n_events"),
            col("u1").as("n_top1pct"),
            Num.r4(col("e1").cast("double") / col("nevents").cast("double"))
              .as("share_top1pct"),
            col("u10").as("n_top10pct"),
            Num.r4(col("e10").cast("double") / col("nevents").cast("double"))
              .as("share_top10pct"))
      },
      Some("""
        WITH ua AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
                    FROM events GROUP BY user_id),
        hist AS (SELECT c AS v, CAST(COUNT(*) AS BIGINT) AS nu,
                   CAST(SUM(c) AS BIGINT) AS ne FROM ua GROUP BY c),
        cum AS (
          SELECT v,
            SUM(nu) OVER w AS cumu, SUM(ne) OVER w AS cume
          FROM hist
          WINDOW w AS (ORDER BY v DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        tot AS (SELECT CAST(MAX(cumu) AS BIGINT) AS nusers,
                  CAST(MAX(cume) AS BIGINT) AS nevents FROM cum),
        s1 AS (
          SELECT CAST(MIN(cumu) AS BIGINT) AS u1, CAST(MIN(cume) AS BIGINT) AS e1
          FROM cum CROSS JOIN tot WHERE cumu >= (1 * nusers + 99) // 100),
        s10 AS (
          SELECT CAST(MIN(cumu) AS BIGINT) AS u10,
            CAST(MIN(cume) AS BIGINT) AS e10
          FROM cum CROSS JOIN tot WHERE cumu >= (10 * nusers + 99) // 100)
        SELECT nusers AS n_users, nevents AS n_events,
          u1 AS n_top1pct,
          FLOOR((CAST(e1 AS DOUBLE) / nevents) * 10000 + 0.500001) / 10000
            AS share_top1pct,
          u10 AS n_top10pct,
          FLOOR((CAST(e10 AS DOUBLE) / nevents) * 10000 + 0.500001) / 10000
            AS share_top10pct
        FROM tot CROSS JOIN s1 CROSS JOIN s10"""),
      "Participation inequality: event share of the top 1% / 10% users (exact desc ceil-rank, ties included)")
  )
}
