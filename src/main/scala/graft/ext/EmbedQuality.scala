package graft.ext

import graft.{Num, Query, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-quality continuation, batch 46: hubness of the kNN graph,
  * Davies–Bouldin cluster separation, and the anisotropy (mean pairwise
  * cosine) of the embedding cloud. These are the three audits an
  * ANN/retrieval pipeline runs before trusting an embedding table:
  * hubness says whether kNN lists are dominated by a few pathological
  * "hub" vectors (Radovanović et al. 2010), Davies–Bouldin says whether
  * the labels are geometrically separable, and anisotropy says whether
  * cosine scores are inflated by a common dominant direction
  * (Ethayarajh 2019).
  *
  * Exactness discipline (the q345 rules): pairwise work runs on the
  * 1024-lowest-vec_id capped sample on BOTH engines; distances are
  * integer-quantized before any ranking or cross-row sum; wide second
  * moments ride DECIMAL/HUGEINT; the only doubles that cross engines
  * are computed from identical exact integers.
  */
object EmbedQuality {

  def queries: Seq[Query] = Seq(

    // ---------------------------------------------------------------- q347
    // Hubness audit: k-occurrence O_j = how many of the sample's
    // 10-NN lists contain vector j. Skewed O (a few giant hubs, many
    // antihubs that no list contains) is the classic high-dimensional
    // failure mode that silently corrupts kNN label noise audits and
    // ANN recall. Reports max occurrence, the moment skewness of O,
    // and the antihub / hub shares (O = 0, O >= 2k).
    Query(
      "q347_hubness",
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
          .filter(col("rn") <= 10)
        val occ = emb.select(col("vec_id").as("j"))
          .join(nn.groupBy(col("j")).agg(count(lit(1)).as("o")), Seq("j"), "left")
          .select(coalesce(col("o"), lit(0L)).as("o"))
        occ.agg(count(lit(1)).as("n"), sum(col("o")).as("s1"),
            sum(col("o") * col("o")).as("s2"),
            sum(col("o") * col("o") * col("o")).as("s3"),
            max(col("o")).as("mx"),
            count(when(col("o") === 0, 1)).as("anti"),
            count(when(col("o") >= 20, 1)).as("hub"))
          .select(col("n").as("n_points"), col("mx").as("max_occ"),
            Num.r4({
              val n = col("n").cast("double")
              val mu = col("s1").cast("double") / n
              val m2 = col("s2").cast("double") / n - mu * mu
              val m3 = col("s3").cast("double") / n -
                lit(3.0) * mu * col("s2").cast("double") / n +
                lit(2.0) * mu * mu * mu
              m3 / sqrt(m2 * m2 * m2)
            }).as("skew_kocc"),
            Num.r4(col("anti").cast("double") / col("n").cast("double"))
              .as("antihub_share"),
            Num.r4(col("hub").cast("double") / col("n").cast("double"))
              .as("hub_share"))
      },
      Some("""
        WITH emb AS (
          SELECT vec_id, embedding FROM embeddings
          ORDER BY vec_id LIMIT 1024),
        nn AS (
          SELECT j FROM (
            SELECT a.vec_id AS i, b.vec_id AS j,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                CAST(FLOOR((1.0 - LIST_COSINE_SIMILARITY(
                  CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))
                  * 1e6 + 0.5) AS BIGINT), b.vec_id) AS rn
            FROM emb a JOIN emb b ON a.vec_id <> b.vec_id)
          WHERE rn <= 10),
        occ AS (
          SELECT COALESCE(o.c, 0) AS o
          FROM emb LEFT JOIN (
            SELECT j, CAST(COUNT(*) AS BIGINT) AS c FROM nn GROUP BY j) o
          ON emb.vec_id = o.j),
        m AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(o) AS BIGINT) AS s1,
            CAST(SUM(o * o) AS BIGINT) AS s2,
            CAST(SUM(o * o * o) AS BIGINT) AS s3,
            CAST(MAX(o) AS BIGINT) AS mx,
            CAST(COUNT(*) FILTER (WHERE o = 0) AS BIGINT) AS n_anti,
            CAST(COUNT(*) FILTER (WHERE o >= 20) AS BIGINT) AS n_hub
          FROM occ)
        SELECT n AS n_points, mx AS max_occ,
          FLOOR(((CAST(s3 AS DOUBLE) / n
                  - 3.0 * (CAST(s1 AS DOUBLE) / n) * CAST(s2 AS DOUBLE) / n
                  + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)
                        * (CAST(s1 AS DOUBLE) / n))
                 / SQRT(POW(CAST(s2 AS DOUBLE) / n
                            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 3)))
                * 10000 + 0.500001) / 10000 AS skew_kocc,
          FLOOR((CAST(n_anti AS DOUBLE) / n) * 10000 + 0.500001) / 10000
            AS antihub_share,
          FLOOR((CAST(n_hub AS DOUBLE) / n) * 10000 + 0.500001) / 10000
            AS hub_share
        FROM m"""),
      "kNN hubness audit: k-occurrence skew, antihub/hub shares (1024-cap, k=10, r6 cosine grid)"),

    // ---------------------------------------------------------------- q348
    // Davies–Bouldin index over the label clusters: per label the mean
    // member→centroid distance S_i, and DB_i = max_{j≠i} (S_i+S_j)/M_ij
    // where M_ij is the centroid distance. The standard "are these
    // labels geometrically real" gate next to silhouette (q187) and
    // Calinski–Harabasz (q264). All distances are built from exact
    // integer component sums: components quantize to the 1e-6 grid,
    // per-dim squared deviations to the 1e-12 grid, distances back to
    // the 1e-6 grid before the per-cluster mean.
    Query(
      "q348_davies_bouldin",
      (s, d) => {
        val q = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            posexplode(Similarity.toDouble(col("embedding"))).as(Seq("dim", "x")))
          .select(col("vec_id"), col("label"), col("dim"),
            floor(col("x") * lit(1e6) + lit(0.5)).cast("long").as("qx"))
          .localCheckpoint() // reused three times below
        val cent = q.groupBy(col("label"), col("dim"))
          .agg(sum(col("qx")).as("sq"), count(lit(1)).as("cnt"))
          .select(col("label"), col("dim"),
            (col("sq").cast("double") / (col("cnt").cast("double") * lit(1e6)))
              .as("c"))
        val dev = q.join(cent, Seq("label", "dim"))
          .select(col("vec_id"), col("label"),
            floor((col("qx").cast("double") / lit(1e6) - col("c"))
              * (col("qx").cast("double") / lit(1e6) - col("c"))
              * lit(1e12) + lit(0.5)).cast("long").as("t"))
          .groupBy(col("vec_id"), col("label"))
          .agg(sum(col("t")).as("d2"))
          .select(col("label"),
            floor(sqrt(col("d2").cast("double") / lit(1e12)) * lit(1e6)
              + lit(0.5)).cast("long").as("qd"))
        val si = dev.groupBy(col("label"))
          .agg(count(lit(1)).as("n_members"), sum(col("qd")).as("sqd"))
          .select(col("label"), col("n_members"),
            (col("sqd").cast("double") / (col("n_members").cast("double") * lit(1e6)))
              .as("s"))
        val m = cent.as("a").join(cent.as("b"),
            col("a.dim") === col("b.dim") && col("a.label") =!= col("b.label"))
          .groupBy(col("a.label").as("i"), col("b.label").as("j"))
          .agg(sum(floor((col("a.c") - col("b.c")) * (col("a.c") - col("b.c"))
            * lit(1e12) + lit(0.5)).cast("long")).as("m2q"))
          .select(col("i"), col("j"),
            sqrt(col("m2q").cast("double") / lit(1e12)).as("m"))
        val terms = m.join(si.select(col("label").as("i"), col("s").as("si_")), "i")
          .join(si.select(col("label").as("j"), col("s").as("sj_")), "j")
          .groupBy(col("i")).agg(max((col("si_") + col("sj_")) / col("m")).as("db_term"))
        val out = si.join(terms, col("label") === col("i"))
          .select(col("label"), col("n_members"), col("s"), col("db_term"))
        val idx = out.agg(avg(col("db_term")).as("dbi"))
        out.crossJoin(broadcast(idx))
          .select(col("label"), col("n_members"),
            Num.r4(col("s")).as("s_intra"),
            Num.r4(col("db_term")).as("db_term"),
            Num.r4(col("dbi")).as("db_index"))
          .orderBy(col("label"))
      },
      Some("""
        WITH q AS (
          SELECT vec_id, label,
            CAST(dim AS BIGINT) AS dim,
            CAST(FLOOR(x * 1e6 + 0.5) AS BIGINT) AS qx
          FROM (SELECT vec_id, label,
                  UNNEST(CAST(embedding AS DOUBLE[])) AS x,
                  UNNEST(RANGE(0, LEN(embedding))) AS dim
                FROM embeddings)),
        cent AS (
          SELECT label, dim,
            CAST(SUM(qx) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS c
          FROM q GROUP BY label, dim),
        dev AS (
          SELECT label,
            CAST(FLOOR(SQRT(CAST(d2 AS DOUBLE) / 1e12) * 1e6 + 0.5) AS BIGINT) AS qd
          FROM (
            SELECT q.vec_id, q.label,
              SUM(CAST(FLOOR((CAST(qx AS DOUBLE) / 1e6 - c)
                * (CAST(qx AS DOUBLE) / 1e6 - c) * 1e12 + 0.5) AS BIGINT)) AS d2
            FROM q JOIN cent ON q.label = cent.label AND q.dim = cent.dim
            GROUP BY q.vec_id, q.label)),
        si AS (
          SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
            CAST(SUM(qd) AS DOUBLE) / (CAST(COUNT(*) AS DOUBLE) * 1e6) AS s
          FROM dev GROUP BY label),
        m AS (
          SELECT a.label AS i, b.label AS j,
            SQRT(CAST(SUM(CAST(FLOOR((a.c - b.c) * (a.c - b.c) * 1e12 + 0.5)
              AS BIGINT)) AS DOUBLE) / 1e12) AS m
          FROM cent a JOIN cent b
            ON a.dim = b.dim AND a.label <> b.label
          GROUP BY a.label, b.label),
        terms AS (
          SELECT m.i AS label, MAX((si_.s + sj_.s) / m.m) AS db_term
          FROM m JOIN si si_ ON si_.label = m.i
                 JOIN si sj_ ON sj_.label = m.j
          GROUP BY m.i),
        idx AS (SELECT AVG(db_term) AS dbi FROM terms)
        SELECT si.label, si.n_members,
          FLOOR(si.s * 10000 + 0.500001) / 10000 AS s_intra,
          FLOOR(terms.db_term * 10000 + 0.500001) / 10000 AS db_term,
          FLOOR(idx.dbi * 10000 + 0.500001) / 10000 AS db_index
        FROM si JOIN terms ON terms.label = si.label CROSS JOIN idx
        ORDER BY si.label"""),
      "Davies-Bouldin label-cluster separation on the 1e-6 component grid"),

    // ---------------------------------------------------------------- q349
    // Anisotropy: the mean pairwise cosine over ALL vector pairs via
    // the linear-time identity  avg_cos = (||Σu||² − Σ||u||²) / (n(n−1))
    // on unit-normalized vectors — no pair join, two integer sums per
    // dimension, so this one runs on the FULL table at any scale
    // (contrast the capped q345/q347 samples). A mean cosine far from 0
    // means one dominant direction inflates every similarity score —
    // the Ethayarajh (2019) anisotropy pathology.
    Query(
      "q349_anisotropy",
      (s, d) => {
        import graft.functions.VectorFunctions.dot
        val v = Tables.embeddings(s, d)
          .select(Similarity.toDouble(col("embedding")).as("v"))
          .select(col("v"), sqrt(dot(col("v"), col("v"))).as("nrm"))
        val q = v.select(posexplode(col("v")).as(Seq("dim", "x")), col("nrm"))
          .select(col("dim"),
            floor(col("x") / col("nrm") * lit(1e6) + lit(0.5)).cast("long").as("qd"))
        val byDim = q.groupBy(col("dim"))
          .agg(sum(col("qd")).as("sd"), sum(col("qd") * col("qd")).as("q2"),
            count(lit(1)).as("n"))
        byDim.agg(
            max(col("n")).as("n"),
            sum(col("sd").cast("decimal(19,0)") * col("sd").cast("decimal(19,0)"))
              .as("ssum"),
            sum(col("q2")).as("q2sum"))
          .select(col("n").as("n_vectors"),
            Num.r6((col("ssum").cast("double") / lit(1e12)
              - col("q2sum").cast("double") / lit(1e12))
              / (col("n").cast("double") * (col("n").cast("double") - lit(1.0))))
              .as("mean_pairwise_cos"))
      },
      Some("""
        WITH q AS (
          SELECT dim,
            CAST(FLOOR(x / nrm * 1e6 + 0.5) AS BIGINT) AS qd
          FROM (SELECT UNNEST(CAST(embedding AS DOUBLE[])) AS x,
                  UNNEST(RANGE(0, LEN(embedding))) AS dim,
                  SQRT(LIST_INNER_PRODUCT(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[]))) AS nrm
                FROM embeddings)),
        byDim AS (
          SELECT dim, CAST(SUM(qd) AS HUGEINT) AS sd,
            CAST(SUM(qd * qd) AS HUGEINT) AS q2,
            CAST(COUNT(*) AS BIGINT) AS n
          FROM q GROUP BY dim)
        SELECT MAX(n) AS n_vectors,
          FLOOR(((CAST(SUM(sd * sd) AS DOUBLE) / 1e12
                  - CAST(SUM(q2) AS DOUBLE) / 1e12)
                 / (CAST(MAX(n) AS DOUBLE) * (CAST(MAX(n) AS DOUBLE) - 1.0)))
                * 1000000 + 0.500001) / 1000000 AS mean_pairwise_cos
        FROM byDim"""),
      "Mean pairwise cosine (anisotropy) via the linear-time sum identity — full table, no pair join"),

    // ---------------------------------------------------------------- q382
    // Hopkins statistic of clustering TENDENCY (Hopkins & Skellam
    // 1954): are the embeddings clusterable at all, or
    // uniform-random in their bounding box? H = Σu/(Σu+Σw) compares
    // nearest-neighbour distances of m=64 synthetic uniform probes
    // (u) against those of m real points (w); H → 0.5 for spatial
    // randomness, → 1 for clustered data. The "should I even run
    // k-means" gate ahead of silhouette (q187) / Davies–Bouldin
    // (q348) / Calinski–Harabasz (q264), which all presuppose
    // clusters exist. Probes are md5-deterministic uniforms in the
    // per-dimension [min,max] box (q370's h60 discipline), identical
    // on both engines; per-dimension squared gaps are quantized to
    // the 1e-8 grid BEFORE the cross-dimension sum (exact integer
    // distances, association-order-proof); both NN scans are
    // broadcast-side joins against the 1024-cap sample, so the cost
    // is capped and scale-constant.
    Query(
      "q382_hopkins",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
          .orderBy(col("vec_id")).limit(1024)
          .localCheckpoint() // deterministic capped sample, both engines
        val ex = emb.select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "x")))
        val box = ex.groupBy(col("dim"))
          .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        val probes = emb.sparkSession.range(64).select(col("id").as("p"))
          .crossJoin(box)
          .withColumn("frac",
            (Dedup.h60(concat(lit("hop|"), col("p").cast("string"), lit("|"),
              col("dim").cast("string"))) % 1048576L).cast("double")
              / lit(1048576.0))
          .select(col("p"), col("dim"),
            (col("mn") + col("frac") * (col("mx") - col("mn"))).as("c"))
        val u = ex.join(broadcast(probes), Seq("dim"))
          .select(col("p"), col("vec_id"),
            floor((col("x") - col("c")) * (col("x") - col("c")) * lit(1e8)
              + lit(0.5)).cast("long").as("gq"))
          .groupBy(col("p"), col("vec_id")).agg(sum(col("gq")).as("d2"))
          .groupBy(col("p")).agg(min(col("d2")).as("u"))
        val exs = emb.orderBy(col("vec_id")).limit(64)
          .select(col("vec_id").as("i"), posexplode(col("v")).as(Seq("dim", "xa")))
        val w = ex.select(col("vec_id").as("j"), col("dim"), col("x").as("xb"))
          .join(broadcast(exs), Seq("dim"))
          .filter(col("i") =!= col("j"))
          .select(col("i"), col("j"),
            floor((col("xa") - col("xb")) * (col("xa") - col("xb")) * lit(1e8)
              + lit(0.5)).cast("long").as("gq"))
          .groupBy(col("i"), col("j")).agg(sum(col("gq")).as("d2"))
          .groupBy(col("i")).agg(min(col("d2")).as("w"))
        val us = u.agg(count(lit(1)).as("m_probes"), sum(col("u")).as("sum_u"))
        val ws = w.agg(sum(col("w")).as("sum_w"))
        val ns = emb.agg(count(lit(1)).as("n_points"))
        ns.crossJoin(broadcast(us)).crossJoin(broadcast(ws))
          .select(col("n_points"), col("m_probes"), col("sum_u"), col("sum_w"),
            Num.r4(col("sum_u").cast("double") /
              (col("sum_u").cast("double") + col("sum_w").cast("double")))
              .as("hopkins"))
      },
      Some(s"""
        WITH emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          ORDER BY vec_id LIMIT 1024),
        ex AS (
          SELECT vec_id, unnest(range(0, len(v))) AS dim, unnest(v) AS x
          FROM emb),
        box AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim),
        probes AS (
          SELECT p, dim,
            mn + ((${graft.ext.Dedup.sqlH60(
              "'hop|' || CAST(p AS VARCHAR) || '|' || CAST(dim AS VARCHAR)")}
              % 1048576) / 1048576.0) * (mx - mn) AS c
          FROM (SELECT UNNEST(RANGE(0, 64)) AS p) CROSS JOIN box),
        ud AS (
          SELECT p, vec_id,
            CAST(SUM(CAST(FLOOR((x - c) * (x - c) * 1e8 + 0.5) AS BIGINT))
              AS BIGINT) AS d2
          FROM probes JOIN ex USING (dim) GROUP BY p, vec_id),
        u AS (SELECT p, MIN(d2) AS u FROM ud GROUP BY p),
        samp AS (SELECT vec_id, v FROM emb ORDER BY vec_id LIMIT 64),
        exs AS (
          SELECT vec_id AS i, unnest(range(0, len(v))) AS dim, unnest(v) AS xa
          FROM samp),
        wd AS (
          SELECT i, j,
            CAST(SUM(CAST(FLOOR((xa - xb) * (xa - xb) * 1e8 + 0.5) AS BIGINT))
              AS BIGINT) AS d2
          FROM exs JOIN (SELECT vec_id AS j, dim, x AS xb FROM ex) b USING (dim)
          WHERE i <> j GROUP BY i, j),
        w AS (SELECT i, MIN(d2) AS w FROM wd GROUP BY i),
        tot AS (
          SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM emb) AS n_points,
            (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS m_probes,
            (SELECT CAST(SUM(u) AS BIGINT) FROM u) AS sum_u,
            (SELECT CAST(SUM(w) AS BIGINT) FROM w) AS sum_w)
        SELECT n_points, m_probes, sum_u, sum_w,
          FLOOR((CAST(sum_u AS DOUBLE)
                 / (CAST(sum_u AS DOUBLE) + CAST(sum_w AS DOUBLE)))
                * 10000 + 0.500001) / 10000 AS hopkins
        FROM tot"""),
      "Hopkins clustering-tendency statistic: md5-deterministic uniform probes in the per-dim box vs real-point NN distances (1024-cap, exact integer quantized distances)"),

    // ---------------------------------------------------------------- q401
    // kNN label-noise audit: for each vector in the 1024-cap sample,
    // what fraction of its 10 nearest neighbours carries the SAME
    // label? Per label: the mean agreement (an exact /10 rational —
    // the sum of same-label counts is an integer) and the count of
    // SUSPECTS (agreement ≤ 3/10) — the points most likely mislabeled
    // or lying across a cluster boundary. The per-point actionable
    // complement to the aggregate geometry audits (q187 silhouette,
    // q348 Davies–Bouldin, q347 hubness); same r6-cosine-grid NN
    // machinery as q347, cost capped and scale-constant.
    Query(
      "q401_knn_label_audit",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"),
            Similarity.toDouble(col("embedding")).as("v"))
          .orderBy(col("vec_id")).limit(1024)
          .localCheckpoint() // deterministic capped sample, both engines
        val a = emb.select(col("vec_id").as("i"), col("label").as("la"),
          col("v").as("vi"))
        val b = emb.select(col("vec_id").as("j"), col("label").as("lb"),
          col("v").as("vj"))
        val w = Window.partitionBy(col("i")).orderBy(col("dq"), col("j"))
        val agree = a.join(b, col("i") =!= col("j"))
          .select(col("i"), col("la"), col("j"),
            (col("la") === col("lb")).as("same"),
            floor((lit(1.0) - Similarity.cosine(col("vi"), col("vj")))
              * lit(1e6) + lit(0.5)).cast("long").as("dq"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10)
          .groupBy(col("i"), col("la"))
          .agg(count(when(col("same"), 1)).as("agree10"))
        agree.groupBy(col("la").as("label"))
          .agg(count(lit(1)).as("n_points"),
            sum(col("agree10")).as("sa"),
            count(when(col("agree10") <= 3, 1)).as("n_suspect"))
          .select(col("label"), col("n_points"),
            Num.r4(col("sa").cast("double")
              / (col("n_points").cast("double") * lit(10.0)))
              .as("mean_agreement"),
            col("n_suspect"))
          .orderBy(col("label"))
      },
      Some("""
        WITH emb AS (
          SELECT vec_id, label, embedding FROM embeddings
          ORDER BY vec_id LIMIT 1024),
        nn AS (
          SELECT i, la, same FROM (
            SELECT a.vec_id AS i, a.label AS la,
              a.label = b.label AS same,
              ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
                CAST(FLOOR((1.0 - LIST_COSINE_SIMILARITY(
                  CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))
                  * 1e6 + 0.5) AS BIGINT), b.vec_id) AS rn
            FROM emb a JOIN emb b ON a.vec_id <> b.vec_id)
          WHERE rn <= 10),
        agree AS (
          SELECT i, la, CAST(COUNT(*) FILTER (WHERE same) AS BIGINT) AS agree10
          FROM nn GROUP BY i, la)
        SELECT la AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
          FLOOR((CAST(SUM(agree10) AS DOUBLE) / (COUNT(*) * 10.0))
                * 10000 + 0.500001) / 10000 AS mean_agreement,
          CAST(COUNT(*) FILTER (WHERE agree10 <= 3) AS BIGINT) AS n_suspect
        FROM agree GROUP BY la ORDER BY la"""),
      "kNN label-noise audit on the 1024-cap: per-label mean 10-NN label agreement and suspect counts (agreement <= 3/10)")
  )
}
