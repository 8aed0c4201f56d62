package graft.ext

import graft.{Query, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Three tiers, by scale:
  *  - [[cosine]]/q33: brute-force probe×corpus — exact, one corpus scan,
  *    right when probes are few (broadcast) or as the ground truth;
  *  - q37: all-pairs threshold join — exact, O(n²); the correctness
  *    baseline the approximate paths are measured against;
  *  - [[lshBuckets]]/q39: random-hyperplane LSH — sign-bit bucket join,
  *    shuffles only (bucket, id) pairs, then exact re-rank within
  *    buckets. The 100 TB path: candidate generation never cross-joins.
  */
object Similarity {

  /** Cosine similarity of two double-array columns via the native
    * [[graft.functions.DotProduct]] expression — same sequential
    * summation order as the HOF fold (bit-identical results), ~40×
    * faster in the all-pairs hot path. */
  def cosine(a: Column, b: Column): Column = {
    import graft.functions.VectorFunctions.dot
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Cast to ARRAY<DOUBLE> with provably non-null elements (coalesce
    * makes the lambda non-nullable) so [[graft.functions.DotProduct]]
    * codegen drops its per-element null checks — the 2.4× hot-loop
    * difference on all-pairs joins. Embedding data has no null
    * elements; a hypothetical null becomes 0.0 (inner-product no-op). */
  def toDouble(c: Column): Column =
    transform(c, x => coalesce(x.cast("double"), lit(0.0)))

  /** Deterministic random hyperplanes: `planes(p)(d)` from a seeded RNG
    * so Spark and tests agree; broadcast as a literal array. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes, dim)(rnd.nextGaussian())
  }

  /** Guard for the deliberately-quadratic correctness baselines (q33,
    * q37): caps the corpus at the `maxN` lowest vec_ids. NEVER fires at
    * the driver scale factors (≤ 2000 vectors at sf0.1 — all rows
    * survive the TakeOrdered, outputs byte-identical), but a larger-sf
    * bench can no longer accidentally pay O(n²) ground truth: the
    * baselines stay baselines, q35/q39/q78 are the scale paths.
    * Unconditional orderBy+limit (one distributed TakeOrdered, no
    * pre-count action): a `df.count()` gate would scan the full table
    * just to learn it is over the cap. */
  def capCorpus(df: DataFrame, maxN: Int = 4096): DataFrame =
    df.orderBy(col("vec_id")).limit(maxN)

  /** Per-table sign-bit LSH buckets: standard (L tables × k bits)
    * scheme — a vector lands in one bucket per table; two vectors are
    * candidates if ANY table agrees on all k bits. Returns an array of
    * L bucket ids (table index packed into the high bits).
    * `rounded` snaps each plane dot product to 6 decimals (Num.r6)
    * BEFORE the sign test, so bucket assignment is floating-point-stable
    * across engines — required when a DuckDB oracle recomputes it. */
  def lshBuckets(v: Column, planes: Array[Array[Double]], tables: Int,
      rounded: Boolean = false): Column = {
    val bitsPerTable = planes.length / tables
    import graft.functions.VectorFunctions.dot
    val buckets = (0 until tables).map { t =>
      (0 until bitsPerTable).map { b =>
        val p = planes(t * bitsPerTable + b)
        val planeCol = array(p.toIndexedSeq.map(lit): _*)
        val d = dot(v, planeCol)
        when((if (rounded) graft.Num.r6(d) else d) >= 0, lit(1L << b))
          .otherwise(lit(0L))
      }.reduce(_ + _) + lit(t.toLong << 32)
    }
    array(buckets: _*)
  }

  /** Approximate top-k neighbors: union of per-table bucket joins +
    * exact cosine re-rank. Corpus is replicated L times into its bucket
    * index (the classic LSH index build); candidates are the union over
    * tables, deduplicated before re-ranking. Tune k-bits ~ log2(n) and
    * L for the recall target; at 100 TB the bucket join shuffles only
    * (bucket, id, vector) rows, never the n² cross product. */
  def annTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      planes: Array[Array[Double]], tables: Int = 8,
      rounded: Boolean = false): DataFrame = {
    // bucket index carries (id, bucket) ONLY: the vectors are re-joined
    // for the re-rank anyway, and dragging a 64-double array through an
    // L-times-replicated exchange multiplies that stage's width by the
    // vector size for nothing (r7: 30.7 s → 26.1 s at 100×; the rest is
    // the exact re-rank over the candidate set, which is the pinned
    // recall/cost geometry, not plan waste)
    val cBuck = corpus.select(col("vec_id"),
      explode(lshBuckets(col("v"), planes, tables, rounded)).as("bucket"))
    val pBuck = probes.select(col("query_id"),
      explode(lshBuckets(col("qv"), planes, tables, rounded)).as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    // when rounded, the RANKING cosine is the r4-rounded one (ties to
    // the lower neighbor_id) — the same total order the oracle computes
    val cosCol = {
      val c = cosine(col("v"), col("qv"))
      if (rounded) graft.Num.r4(c) else c
    }
    cBuck.join(pBuck, "bucket")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
      .join(corpus, col("neighbor_id") === corpus("vec_id"))
      .join(probes.select(col("query_id").as("qid"), col("qv")),
        col("query_id") === col("qid"))
      .select(col("query_id"), col("neighbor_id"), cosCol.as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** IVF (inverted-file) ANN: partition the corpus into Voronoi cells
    * around centroids, search only the `nprobe` nearest cells per
    * probe. Centroids here are deterministic (a fixed sample of the
    * corpus — at scale they would come from a k-means fit job); the
    * cell assignment is one corpus scan, the probe-side cell choice is
    * tiny, and the candidate join shuffles only the probed cells. */
  def ivfCells(vectors: DataFrame, centroids: Array[(Long, Array[Double])],
      vecCol: String, top: Int, rounded: Boolean = false): DataFrame = {
    import graft.functions.VectorFunctions.dot
    // nearest-centroid by cosine: scores as an array, argmax via
    // array_position(max); ties resolved to the lowest centroid id.
    // `rounded` snaps each score to 6 decimals (Num.r6) BEFORE the
    // argmax so the assignment is floating-point-stable across engines
    // — required when a DuckDB oracle recomputes the same argmax
    val scores = array(centroids.toIndexedSeq.map { case (_, c) =>
      val cCol = array(c.toIndexedSeq.map(lit): _*)
      val s = dot(col(vecCol), cCol) / (sqrt(dot(col(vecCol), col(vecCol))) *
        math.sqrt(c.map(x => x * x).sum))
      if (rounded) graft.Num.r6(s) else s
    }: _*)
    val idxs = sequence(lit(0), lit(centroids.length - 1))
    // struct(-score, idx): default array_sort gives score desc, idx asc
    val rankedCells = slice(transform(
      array_sort(zip_with(scores, idxs,
        (s, i) => struct((-s).as("neg"), i.as("idx")))),
      x => x.getField("idx")), 1, top)
    vectors.withColumn("cell", explode(rankedCells))
  }

  /** Approximate top-k via IVF: corpus assigned to 1 cell each, probes
    * fan out to `nprobe` cells, exact cosine re-rank inside. */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      centroids: Array[(Long, Array[Double])], nprobe: Int): DataFrame = {
    val cCells = ivfCells(corpus, centroids, "v", top = 1)
    val pCells = ivfCells(probes, centroids, "qv", top = nprobe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    cCells.join(pCells, "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("v"), col("qv")).as("cos"))
      .distinct()
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
  }

  /** SQL twins of the 64-dim cosine: identical fold order to
    * graft.functions.DotProduct (products in index-ascending order,
    * sequential sum), r`digits`-rounded. */
  private def dotSql(a: String, b: String) =
    s"list_sum([$a[i] * $b[i] FOR i IN range(1, 65)])"
  private def selfSql(a: String) = s"list_sum([x * x FOR x IN $a])"
  private def cosSql(a: String, b: String, digits: Int) = graft.Num.sql(
    s"${dotSql(a, b)} / (sqrt(${selfSql(a)}) * sqrt(${selfSql(b)}))",
    digits)

  def queries: Seq[Query] = Seq(
    // ---------------------------------------------------------------- q37
    Query(
      "q37_embedding_neardup",
      (s, d) => {
        // capCorpus: O(n²) ground-truth baseline — capped above the
        // driver SFs so a big-sf bench can't invoke it accidentally
        val emb = capCorpus(Tables.embeddings(s, d)
          .select(col("vec_id"), toDouble(col("embedding")).as("v")))
        // threshold on the ROUNDED cosine so a pair straddling 0.4 by a
        // few ulps cannot appear in one engine and not the other
        emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            graft.Num.r4(cosine(col("a.v"), col("b.v"))).as("cosine"))
          .filter(col("cosine") > 0.4)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some("""
        WITH pairs AS (
          SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
            FLOOR((LIST_COSINE_SIMILARITY(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[]))) * 10000 + 0.500001) / 10000 AS cosine
          FROM embeddings a, embeddings b
          WHERE a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, cosine
        FROM pairs WHERE cosine > 0.4
        ORDER BY vec_a, vec_b"""),
      "embedding near-duplicate pairs (cosine > 0.4), exact all-pairs baseline"),

    // ---------------------------------------------------------------- q78
    // IVF ANN, oracle-EXACT (unlike q39's LSH): k = max(16, ceil(√n))
    // deterministic centroids (the smallest-md5-key corpus vectors —
    // the reproducible stand-in for the k-means fit job a 100 TB
    // deployment would run), arriving via a BROADCAST JOIN, not plan
    // literals — k grows with the corpus without blowing up codegen or
    // collecting vectors to the driver. k ∝ √n keeps cells at ~√n
    // vectors, so the nprobe=4 candidate join touches Θ(√n) candidates
    // per probe instead of degrading toward n/16-linear (q140's
    // measured re-plan: 13.8 s → 4.1 s at 30×). Cell assignment
    // argmaxes the r6-rounded cosine via a map-side-combinable groupBy
    // (ties to the lowest cell id); re-rank uses the r4-rounded cosine
    // (q33's convention) — every float the two engines compare is
    // rounded with the shared FLOOR formula first.
    Query(
      "q78_ann_ivf",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val k = math.max(16L,
          math.ceil(math.sqrt(emb.count().toDouble)).toLong).toInt
        val cents = emb
          .select(col("vec_id"), col("v"),
            Dedup.h60(col("vec_id").cast("string")).as("hk"))
          .orderBy(col("hk"), col("vec_id")).limit(k)
          .withColumn("cell", row_number().over(Window
            .orderBy(col("hk"), col("vec_id"))) - 1)
          .select(col("cell"), col("v").as("cv"))
        // corpus → nearest cell: argmax via max(struct(score, -cell)),
        // partial-aggregated map-side — no n×k shuffle
        val cCells = emb.crossJoin(broadcast(cents))
          .select(col("vec_id"),
            struct(graft.Num.r6(cosine(col("v"), col("cv"))).as("cs"),
              (lit(0L) - col("cell")).as("nc")).as("sc"))
          .groupBy(col("vec_id")).agg(max(col("sc")).as("m"))
          .select(col("vec_id"), (lit(0L) - col("m.nc")).as("cell"))
          .join(emb, "vec_id")
        // probes → nprobe=4 nearest cells; probe side is tiny, so a
        // rank window partitioned by query_id is bounded by |probes|×k
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        val pw = Window.partitionBy(col("query_id"))
          .orderBy(col("cs").desc, col("cell"))
        val pCells = probes.crossJoin(broadcast(cents))
          .select(col("query_id"), col("qv"), col("cell"),
            graft.Num.r6(cosine(col("qv"), col("cv"))).as("cs"))
          .withColumn("prn", row_number().over(pw))
          .filter(col("prn") <= 4)
          .select(col("query_id"), col("qv"), col("cell"))
        val w = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        cCells.join(broadcast(pCells), "cell")
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"),
            graft.Num.r4(cosine(col("v"), col("qv"))).as("cosine"))
          .distinct()
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select(col("query_id"), col("rn"), col("neighbor_id"), col("cosine"))
          .orderBy(col("query_id"), col("rn"))
      },
      Some {
        s"""
        WITH emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        kk AS (
          SELECT GREATEST(16, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k
          FROM emb),
        cent AS (
          SELECT v AS cv, rn - 1 AS cell FROM (
            SELECT v,
              ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn
            FROM (SELECT vec_id, v,
                    ${Dedup.sqlH60("CAST(vec_id AS VARCHAR)")} AS h
                  FROM emb)) CROSS JOIN kk WHERE rn <= k),
        ccell AS (
          SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cell) AS rn
            FROM emb e CROSS JOIN cent c) WHERE rn = 1),
        pcell AS (
          SELECT query_id, qv, cell FROM (
            SELECT p.vec_id AS query_id, p.v AS qv, c.cell,
              ROW_NUMBER() OVER (PARTITION BY p.vec_id
                ORDER BY ${cosSql("p.v", "c.cv", 6)} DESC, c.cell) AS rn
            FROM emb p CROSS JOIN cent c WHERE p.vec_id < 10) WHERE rn <= 4),
        cand AS (
          SELECT DISTINCT p.query_id, e.vec_id AS neighbor_id,
            ${cosSql("e.v", "p.qv", 4)} AS cosine
          FROM ccell e JOIN pcell p USING (cell)
          WHERE e.vec_id <> p.query_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rn
          FROM cand)
        SELECT query_id, rn, neighbor_id, cosine
        FROM ranked WHERE rn <= 5
        ORDER BY query_id, rn"""
      },
      "IVF ANN: k = max(16, ceil(sqrt(n))) broadcast deterministic centroids, nprobe=4 Voronoi cells, exact re-rank — oracle-exact"),

    // ---------------------------------------------------------------- q39
    // LSH ANN, oracle-EXACT since r3 (same recipe as q78): the 32
    // seeded hyperplanes are expressed as SQL array literals, the
    // bucket-assigning dot signs and the re-rank cosine are both
    // rounded with the shared FLOOR formula before any engine compares
    // them, so the DuckDB twin reproduces bucket membership, candidate
    // set and ranking bit-for-bit. Recall vs the exact baseline is
    // still asserted in SimilaritySpec.
    Query(
      "q39_ann_lsh",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
        annTopK(emb, broadcast(probes), k = 5, hyperplanes(32, 64),
          tables = 8, rounded = true)
          .select(col("query_id"), col("rn"), col("neighbor_id"),
            col("cos").as("cosine"))
          .orderBy(col("query_id"), col("rn"))
      },
      Some {
        // planes as literals: Double.toString round-trips exactly
        // through DuckDB's decimal/E-notation literal parse, and the
        // sign inputs are r6-rounded anyway. pid = t*4 + b (8 tables x
        // 4 bits, mirroring lshBuckets' packing; t<<32 = t*4294967296).
        val planeRows = hyperplanes(32, 64).zipWithIndex.map { case (p, i) =>
          s"($i, [${p.mkString(",")}]::DOUBLE[])"
        }.mkString(",\n          ")
        s"""
        WITH emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        planes(pid, p) AS (VALUES
          $planeRows),
        cb AS (
          SELECT e.vec_id,
            SUM(CASE WHEN ${graft.Num.sql(dotSql("e.v", "pl.p"), 6)} >= 0
                  THEN (1 << (pl.pid % 4)) ELSE 0 END)
              + (pl.pid // 4) * 4294967296 AS bucket
          FROM emb e CROSS JOIN planes pl
          GROUP BY e.vec_id, pl.pid // 4),
        pb AS (SELECT vec_id AS query_id, bucket FROM cb WHERE vec_id < 10),
        cand AS (
          SELECT DISTINCT c.vec_id AS neighbor_id, p.query_id
          FROM cb c JOIN pb p USING (bucket)
          WHERE c.vec_id <> p.query_id),
        scored AS (
          SELECT cand.query_id, cand.neighbor_id,
            ${cosSql("e.v", "q.v", 4)} AS cosine
          FROM cand
          JOIN emb e ON e.vec_id = cand.neighbor_id
          JOIN emb q ON q.vec_id = cand.query_id),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
            ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rn
          FROM scored)
        SELECT query_id, rn, neighbor_id, cosine
        FROM ranked WHERE rn <= 5
        ORDER BY query_id, rn"""
      },
      "approximate top-k cosine via random-hyperplane LSH buckets + exact re-rank — oracle-exact"),

    // ---------------------------------------------------------------- q88
    // Int8 embedding quantization (per-dimension affine min/max, the
    // storage layout ANN services actually ship): one explode pass
    // computes per-dim min/max (64 rows — broadcast back), a second
    // narrow pass quantizes and reassembles the vector. Both engines
    // run the IDENTICAL double-precision expression tree on identical
    // inputs (float→double widening is exact), so even the quantized
    // codes and the r6-rounded max reconstruction error hash-match.
    // 100 TB shape: two corpus scans + one 64-row broadcast, no
    // shuffle wider than the final per-vector reassembly groupBy; max()
    // for the error stat (not sum) keeps it fold-order-independent.
    Query(
      "q88_quantize_int8",
      (s, d) => {
        val exploded = Tables.embeddings(s, d)
          .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
          .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
        val dims = exploded.groupBy(col("dim"))
          .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        val quantized = exploded.join(broadcast(dims), Seq("dim"))
          .withColumn("qv",
            when(col("mx") === col("mn"), lit(0L))
              .otherwise(floor((col("x") - col("mn")) / (col("mx") - col("mn"))
                * 255.0 + 0.5).cast("long")))
          .withColumn("err",
            abs(col("x") - (col("mn") + col("qv") * (col("mx") - col("mn")) / 255.0)))
        // qvec serialized to a CSV string: the driver's comparator sorts
        // rows host-side, where array cells are unhashable
        quantized.groupBy(col("vec_id"))
          .agg(sort_array(collect_list(struct(col("dim"), col("qv")))).as("sq"),
            graft.Num.r6(max(col("err"))).as("max_abs_err"))
          .select(col("vec_id"),
            expr("array_join(transform(sq, s -> cast(s.qv as string)), ',')")
              .as("qvec"), col("max_abs_err"))
          .orderBy(col("vec_id"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, unnest(embedding) AS xf,
                 unnest(range(0, len(embedding))) AS dim
          FROM embeddings),
        d AS (SELECT vec_id, dim, CAST(xf AS DOUBLE) AS x FROM e),
        dims AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM d GROUP BY dim),
        q AS (
          SELECT vec_id, dim, x, mn, mx,
            CASE WHEN mx = mn THEN 0
                 ELSE CAST(FLOOR((x - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT)
            END AS qv
          FROM d JOIN dims USING (dim)),
        err AS (
          SELECT vec_id, dim, qv,
            ABS(x - (mn + qv * (mx - mn) / 255.0)) AS err
          FROM q)
        SELECT vec_id, array_to_string(list(qv ORDER BY dim), ',') AS qvec,
          FLOOR(MAX(err) * 1000000 + 0.500001) / 1000000 AS max_abs_err
        FROM err GROUP BY vec_id ORDER BY vec_id"""),
      "per-dimension int8 affine quantization of embeddings + max reconstruction error (two scans, 64-row broadcast)"),

    // ---------------------------------------------------------------- q91
    // Contrastive-pair mining: for each probe, the nearest SAME-label
    // neighbor (positive) and the nearest DIFFERENT-label neighbor (the
    // hard negative) — the standard batch-mining pass for embedding-
    // model training. One ranking window partitioned by (query, side);
    // probes broadcast, corpus scanned once (q33's brute-force
    // convention with the same capCorpus guard; the ANN variants are
    // the uncapped scale path for candidate generation).
    Query(
      "q91_hard_negatives",
      (s, d) => {
        val emb = capCorpus(Tables.embeddings(s, d)
          .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v")))
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("label").as("q_label"),
            col("v").as("qv"))
        val w = Window.partitionBy(col("query_id"), col("same_label"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        val top = emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("q_label"),
            col("vec_id").as("neighbor_id"),
            (col("label") === col("q_label")).as("same_label"),
            graft.Num.r4(cosine(col("v"), col("qv"))).as("cosine"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        val pos = top.filter(col("same_label"))
          .select(col("query_id"), col("q_label").as("label"),
            col("neighbor_id").as("positive_id"), col("cosine").as("positive_cos"))
        val neg = top.filter(!col("same_label"))
          .select(col("query_id"), col("neighbor_id").as("negative_id"),
            col("cosine").as("negative_cos"))
        pos.join(neg, Seq("query_id")).orderBy(col("query_id"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        q AS (SELECT vec_id AS query_id, label AS q_label, v AS qv
              FROM e WHERE vec_id < 10),
        pairs AS (
          SELECT q.query_id, q.q_label, e.vec_id AS neighbor_id,
            e.label = q.q_label AS same_label,
            FLOOR(LIST_COSINE_SIMILARITY(e.v, q.qv) * 10000 + 0.500001) / 10000 AS cosine
          FROM e, q WHERE e.vec_id <> q.query_id),
        ranked AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, same_label
                                       ORDER BY cosine DESC, neighbor_id) AS rn
          FROM pairs)
        SELECT p.query_id, p.q_label AS label,
          p.neighbor_id AS positive_id, p.cosine AS positive_cos,
          n.neighbor_id AS negative_id, n.cosine AS negative_cos
        FROM ranked p JOIN ranked n ON n.query_id = p.query_id
        WHERE p.rn = 1 AND p.same_label AND n.rn = 1 AND NOT n.same_label
        ORDER BY p.query_id"""),
      "contrastive pair mining: nearest same-label positive + nearest cross-label hard negative per probe"),

    // ---------------------------------------------------------------- q92
    // Per-label embedding profile: class centroids (plus per-dim range)
    // for drift monitoring / class-separation checks. Cross-engine-exact
    // means without an ordered fold: each component is quantized to
    // integer micro-units BEFORE the sum (float→double is exact, the
    // *1e6 product is the same double both sides), so the group sum is
    // exact integer math; the mean divides two exact integers. One
    // explode + one (label, dim) aggregate — fully partial-aggregated,
    // no shuffle wider than 640 groups.
    Query(
      "q92_label_centroids",
      (s, d) => {
        Tables.embeddings(s, d)
          .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "xf")))
          .select(col("label"), col("dim"), col("xf").cast("double").as("x"))
          .groupBy(col("label"), col("dim"))
          .agg(count(lit(1)).as("n_vecs"),
            sum(floor(col("x") * 1000000 + lit(0.5)).cast("long")).as("sum_micro"),
            min(col("x")).as("min_x"), max(col("x")).as("max_x"))
          .select(col("label"), col("dim"), col("n_vecs"),
            graft.Num.r6(col("sum_micro") / (col("n_vecs") * lit(1000000.0)))
              .as("mean_x"),
            col("min_x"), col("max_x"))
          .orderBy(col("label"), col("dim"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, label, unnest(embedding) AS xf,
                 unnest(range(0, len(embedding))) AS dim
          FROM embeddings),
        d AS (SELECT label, dim, CAST(xf AS DOUBLE) AS x FROM e),
        g AS (
          SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n_vecs,
            CAST(SUM(CAST(FLOOR(x * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_micro,
            MIN(x) AS min_x, MAX(x) AS max_x
          FROM d GROUP BY label, dim)
        SELECT label, dim, n_vecs,
          FLOOR((sum_micro / (n_vecs * 1000000.0)) * 1000000 + 0.500001) / 1000000 AS mean_x,
          min_x, max_x
        FROM g ORDER BY label, dim"""),
      "per-label embedding centroids + per-dim range (integer micro-unit quantization makes the unordered double sum exact)"),

    // --------------------------------------------------------------- q140
    // SemDeDup-style semantic deduplication (Abbas et al. 2023, see
    // PAPERS.md): cluster the embeddings around k = max(16, ceil(√n))
    // deterministic centroids (the smallest-md5-key vectors — the
    // reproducible stand-in for a k-means fit), then inside each
    // cluster drop every vector whose r4-rounded cosine to a
    // LOWER-id cluster-mate exceeds the threshold — keep-lowest-id,
    // exactly like the exact-dedup (q30) convention. k ∝ √n balances
    // the two cost terms — assignment is n·k, within-cell pairwise
    // is n²/k, so total work is Θ(n^1.5) instead of the fixed-k
    // quadratic (measured: 13.8 s → 4.1 s at 30×). Centroids arrive
    // via a broadcast join (not plan literals), so k can grow without
    // blowing up codegen. Verdict per vector with the duplicate's
    // id, so the downstream filter is one semi-join.
    Query(
      "q140_semantic_dedup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val k = math.max(16L,
          math.ceil(math.sqrt(emb.count().toDouble)).toLong).toInt
        val cents = emb
          .select(col("vec_id"), col("v"),
            Dedup.h60(col("vec_id").cast("string")).as("hk"))
          .orderBy(col("hk"), col("vec_id")).limit(k)
          .withColumn("cell", row_number().over(Window
            .orderBy(col("hk"), col("vec_id"))) - 1)
          .select(col("cell"), col("v").as("cv"))
        // nearest centroid by r6-rounded cosine, ties to the lowest
        // cell id: argmax via max(struct(score, -cell))
        val assigned = emb.crossJoin(broadcast(cents))
          .select(col("vec_id"),
            struct(graft.Num.r6(cosine(col("v"), col("cv"))).as("cs"),
              (lit(0L) - col("cell")).as("nc")).as("sc"))
          .groupBy(col("vec_id")).agg(max(col("sc")).as("m"))
          .select(col("vec_id"), (lit(0L) - col("m.nc")).as("cell"))
        val cells = emb.join(assigned, "vec_id")
          .select(col("vec_id"), col("v"), col("cell"))
        val dupOf = cells.as("a")
          .join(cells.as("b"), col("a.cell") === col("b.cell") &&
            col("a.vec_id") < col("b.vec_id"))
          .filter(graft.Num.r4(cosine(col("a.v"), col("b.v"))) > 0.4)
          .groupBy(col("b.vec_id").as("vec_id"))
          .agg(min(col("a.vec_id")).as("dup_of"))
        cells.join(dupOf, Seq("vec_id"), "left")
          .select(col("vec_id"), col("cell"),
            when(col("dup_of").isNotNull, lit("dropped"))
              .otherwise(lit("kept")).as("verdict"),
            coalesce(col("dup_of"), lit(-1L)).as("duplicate_of"))
          .orderBy(col("vec_id"))
      },
      Some {
        s"""
        WITH emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        kk AS (
          SELECT GREATEST(16, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k
          FROM emb),
        cent AS (
          SELECT v AS cv, rn - 1 AS cell FROM (
            SELECT v,
              ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn
            FROM (SELECT vec_id, v,
                    ${Dedup.sqlH60("CAST(vec_id AS VARCHAR)")} AS h
                  FROM emb)) CROSS JOIN kk WHERE rn <= k),
        ccell AS (
          SELECT vec_id, v, cell FROM (
            SELECT e.vec_id, e.v, c.cell,
              ROW_NUMBER() OVER (PARTITION BY e.vec_id
                ORDER BY ${cosSql("e.v", "c.cv", 6)} DESC, c.cell) AS rn
            FROM emb e CROSS JOIN cent c) WHERE rn = 1),
        dup AS (
          SELECT b.vec_id, MIN(a.vec_id) AS dup_of
          FROM ccell a JOIN ccell b
            ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE ${cosSql("a.v", "b.v", 4)} > 0.4
          GROUP BY b.vec_id)
        SELECT c.vec_id, c.cell,
          CASE WHEN d.dup_of IS NOT NULL THEN 'dropped' ELSE 'kept' END
            AS verdict,
          CAST(COALESCE(d.dup_of, -1) AS BIGINT) AS duplicate_of
        FROM ccell c LEFT JOIN dup d USING (vec_id)
        ORDER BY c.vec_id"""
      },
      "SemDeDup: cluster-bounded semantic dedup with k = max(16, ceil(sqrt(n))) deterministic centroids — n^1.5 total work; drop vectors with cosine > 0.4 to a lower-id cluster-mate"),

    // ---------------------------------------------------------------- q185
    // Int8 retrieval-quality audit: recall@10 of the q88-quantized
    // representation against the exact float top-10, per probe — the
    // measurement that decides whether a fleet ships 4× smaller
    // vectors. Both rankings use the SAME r4-rounded-cosine (cos DESC,
    // id) order (the q33 convention), the dequantized values are the
    // IDENTICAL double expression on both engines, and recall is a
    // ratio of exact integers. capCorpus guards the brute-force
    // baseline exactly as q33/q91 — the ANN paths (q39/q78) are the
    // uncapped production route this audit scores against ground truth.
    Query(
      "q185_int8_recall",
      (s, d) => {
        val K = 10
        val emb = Similarity.capCorpus(Tables.embeddings(s, d)
          .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v")))
          .localCheckpoint() // feeds the exact side AND the quantization
        val dims = emb
          .select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "x")))
          .groupBy(col("dim")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
        val deq = emb
          .select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "x")))
          .join(broadcast(dims), Seq("dim"))
          .withColumn("qv",
            when(col("mx") === col("mn"), lit(0L))
              .otherwise(floor((col("x") - col("mn")) / (col("mx") - col("mn"))
                * 255.0 + 0.5).cast("long")))
          .withColumn("dq",
            col("mn") + col("qv") * (col("mx") - col("mn")) / 255.0)
          .groupBy(col("vec_id"))
          .agg(sort_array(collect_list(struct(col("dim"), col("dq")))).as("sd"))
          .select(col("vec_id"),
            expr("transform(sd, s -> s.dq)").as("v"))
          .localCheckpoint() // bounded (capCorpus) — reused for probes + corpus
        def topK(corpus: org.apache.spark.sql.DataFrame) = {
          val probes = corpus.filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("v").as("qv"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("cosine").desc, col("neighbor_id"))
          corpus.crossJoin(broadcast(probes))
            .filter(col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id").as("neighbor_id"),
              graft.Num.r4(Similarity.cosine(col("v"), col("qv"))).as("cosine"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= K)
        }
        val exact = topK(emb).select(col("query_id"), col("neighbor_id"),
          (col("rn") === 1).as("is_top1"))
        val int8 = topK(deq).select(col("query_id").as("q2"),
          col("neighbor_id").as("n2"), (col("rn") === 1).as("i8_top1"))
        exact.join(int8,
            col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
            "left")
          .groupBy(col("query_id"))
          .agg(count(col("n2")).as("n_overlap"),
            max(when(col("is_top1"), col("i8_top1"))).as("top1_kept"))
          .select(col("query_id"), col("n_overlap"),
            graft.Num.r4(col("n_overlap").cast("double") / lit(K.toDouble))
              .as("recall_at_10"),
            coalesce(col("top1_kept"), lit(false)).as("top1_kept"))
          .orderBy(col("query_id"))
      },
      Some("""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ex AS (
          SELECT vec_id, unnest(v) AS x,
                 unnest(range(0, len(v))) AS dim
          FROM e),
        dims AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM ex GROUP BY dim),
        deq AS (
          SELECT vec_id, list(
              mn + (CASE WHEN mx = mn THEN 0
                    ELSE CAST(FLOOR((x - mn) / (mx - mn) * 255.0 + 0.5) AS BIGINT)
                    END) * (mx - mn) / 255.0 ORDER BY dim) AS v
          FROM ex JOIN dims USING (dim) GROUP BY vec_id),
        exact AS (
          SELECT query_id, neighbor_id, rn = 1 AS is_top1 FROM (
            SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                FLOOR(LIST_COSINE_SIMILARITY(e2.v, q.v) * 10000 + 0.500001) / 10000 DESC,
                e2.vec_id) AS rn
            FROM e e2, (SELECT * FROM e WHERE vec_id < 10) q
            WHERE e2.vec_id <> q.vec_id) WHERE rn <= 10),
        int8 AS (
          SELECT query_id, neighbor_id, rn = 1 AS i8_top1 FROM (
            SELECT q.vec_id AS query_id, d2.vec_id AS neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                FLOOR(LIST_COSINE_SIMILARITY(d2.v, q.v) * 10000 + 0.500001) / 10000 DESC,
                d2.vec_id) AS rn
            FROM deq d2, (SELECT * FROM deq WHERE vec_id < 10) q
            WHERE d2.vec_id <> q.vec_id) WHERE rn <= 10)
        SELECT x.query_id,
          CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_overlap,
          FLOOR((CAST(COUNT(i.neighbor_id) AS DOUBLE) / 10.0)
                * 10000 + 0.500001) / 10000 AS recall_at_10,
          COALESCE(MAX(CASE WHEN x.is_top1 THEN i.i8_top1 END), FALSE)
            AS top1_kept
        FROM exact x LEFT JOIN int8 i
          ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
        GROUP BY x.query_id ORDER BY x.query_id"""),
      "int8 retrieval audit: recall@10 and top-1 retention of q88-quantized vectors vs the exact float ranking"),

    // ---------------------------------------------------------------- q258
    // IVF probe-recall curve: recall@10 of q78's index at nprobe =
    // 1..4 against the exact top-10 — the accuracy-vs-cost tuning
    // table every IVF deployment reads before picking nprobe. Uses
    // the candidate-superset identity: a vector with cosine above the
    // exact 10th-best is itself in the exact top-10, so IVF-top10 ∩
    // exact-top10 = the exact neighbors whose assigned cell ranks ≤
    // nprobe for that query (same r4/r6 rounding + id tie-breaks as
    // q78/q33, which makes the identity hold under ties too). That
    // reduces the sweep to one cell-rank join on ≤100 neighbor rows —
    // no per-nprobe index rebuild. The only driver action is q78's
    // documented scalar count() sizing k = ⌈√n⌉.
    Query(
      "q258_ivf_probe_recall",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
          .select(col("vec_id"), toDouble(col("embedding")).as("v"))
        val k = math.max(16L,
          math.ceil(math.sqrt(emb.count().toDouble)).toLong).toInt
        val cents = emb
          .select(col("vec_id"), col("v"),
            Dedup.h60(col("vec_id").cast("string")).as("hk"))
          .orderBy(col("hk"), col("vec_id")).limit(k)
          .withColumn("cell", row_number().over(Window
            .orderBy(col("hk"), col("vec_id"))) - 1)
          .select(col("cell"), col("v").as("cv"))
          .localCheckpoint() // √n centroids, broadcast everywhere below
        val probes = emb.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v").as("qv"))
          .localCheckpoint()
        // exact ground truth: bounded 10 × n scan, q33's conventions
        val wq = Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        val exact = emb.crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"), col("v"),
            graft.Num.r4(cosine(col("v"), col("qv"))).as("cosine"))
          .withColumn("rn", row_number().over(wq)).filter(col("rn") <= 10)
          .localCheckpoint()
        // cell rank per query over all k cells (bounded 10 × k)
        val pw = Window.partitionBy(col("query_id"))
          .orderBy(col("cs").desc, col("cell"))
        val pRank = probes.crossJoin(broadcast(cents))
          .select(col("query_id"), col("cell"),
            graft.Num.r6(cosine(col("qv"), col("cv"))).as("cs"))
          .withColumn("prn", row_number().over(pw)).filter(col("prn") <= 4)
          .select(col("query_id"), col("cell"), col("prn"))
        // each exact neighbor's IVF cell (q78's assignment convention)
        val nw = Window.partitionBy(col("query_id"), col("neighbor_id"))
          .orderBy(col("cs").desc, col("cell"))
        val nCell = exact.select(col("query_id"), col("neighbor_id"), col("v"))
          .crossJoin(broadcast(cents))
          .select(col("query_id"), col("neighbor_id"), col("cell"),
            graft.Num.r6(cosine(col("v"), col("cv"))).as("cs"))
          .withColumn("rn", row_number().over(nw)).filter(col("rn") === 1)
          .select(col("query_id"), col("cell"))
        val found = nCell.join(pRank, Seq("query_id", "cell"))
          .select(col("prn"))
        val nq = probes.agg(countDistinct(col("query_id")).as("n_queries"))
        val spine = s.range(1, 5).select(col("id").as("nprobe"))
        broadcast(spine)
          .join(found, col("prn") <= col("nprobe"), "left")
          .crossJoin(broadcast(nq))
          .groupBy(col("nprobe"))
          .agg(count(col("prn")).as("n_hits"),
            max(col("n_queries")).as("nqm"))
          .select(col("nprobe"), col("n_hits"),
            graft.Num.r6(col("n_hits").cast("double")
              / (col("nqm") * 10)).as("recall_at_10"))
          .orderBy(col("nprobe"))
      },
      Some {
        s"""
        WITH emb AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        kk AS (
          SELECT GREATEST(16, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k
          FROM emb),
        cent AS (
          SELECT v AS cv, rn - 1 AS cell FROM (
            SELECT v,
              ROW_NUMBER() OVER (ORDER BY h, vec_id) AS rn
            FROM (SELECT vec_id, v,
                    ${Dedup.sqlH60("CAST(vec_id AS VARCHAR)")} AS h
                  FROM emb)) CROSS JOIN kk WHERE rn <= k),
        probes AS (
          SELECT vec_id AS query_id, v AS qv FROM emb WHERE vec_id < 10),
        exact AS (
          SELECT query_id, neighbor_id, v FROM (
            SELECT p.query_id, e.vec_id AS neighbor_id, e.v,
              ROW_NUMBER() OVER (PARTITION BY p.query_id
                ORDER BY ${cosSql("e.v", "p.qv", 4)} DESC, e.vec_id) AS rn
            FROM emb e CROSS JOIN probes p
            WHERE e.vec_id <> p.query_id) WHERE rn <= 10),
        prank AS (
          SELECT query_id, cell, prn FROM (
            SELECT p.query_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY p.query_id
                ORDER BY ${cosSql("p.qv", "c.cv", 6)} DESC, c.cell) AS prn
            FROM probes p CROSS JOIN cent c) WHERE prn <= 4),
        ncell AS (
          SELECT query_id, cell FROM (
            SELECT x.query_id, x.neighbor_id, c.cell,
              ROW_NUMBER() OVER (PARTITION BY x.query_id, x.neighbor_id
                ORDER BY ${cosSql("x.v", "c.cv", 6)} DESC, c.cell) AS rn
            FROM exact x CROSS JOIN cent c) WHERE rn = 1),
        found AS (
          SELECT n.query_id, p.prn
          FROM ncell n JOIN prank p
            ON p.query_id = n.query_id AND p.cell = n.cell),
        nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM probes),
        spine AS (SELECT unnest(range(1, 5)) AS nprobe)
        SELECT s.nprobe, CAST(COUNT(f.prn) AS BIGINT) AS n_hits,
          ${graft.Num.sql(
            "CAST(COUNT(f.prn) AS DOUBLE) / (MAX(n_queries) * 10)", 6)}
            AS recall_at_10
        FROM spine s
        LEFT JOIN found f ON f.prn <= s.nprobe
        CROSS JOIN nq
        GROUP BY s.nprobe ORDER BY s.nprobe"""
      },
      "IVF probe-recall tuning curve: recall@10 at nprobe 1-4 via the candidate-superset identity — one cell-rank join, no per-nprobe rebuild"),

    // ---------------------------------------------------------------- q439
    // Dimension-truncation retrieval audit (the Matryoshka question):
    // recall@10 of cosine over the first d = 8/16/32 dimensions vs the
    // exact full-width top-10, per probe — the measurement that decides
    // what width a fleet SERVES (truncated prefixes cut memory and
    // bandwidth d/64-fold if recall holds; same decision surface as
    // q185's int8 audit, other axis). Rankings use the q33 convention
    // (r4-rounded cosine DESC, id); recall is a ratio of exact
    // integers; capCorpus guards the brute-force ground truth exactly
    // as q33/q185 — the ANN paths are the uncapped production route.
    Query(
      "q439_truncation_recall",
      (s, d) => {
        val K = 10
        val emb = Similarity.capCorpus(Tables.embeddings(s, d)
          .select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v")))
          .localCheckpoint() // ground truth AND every truncation read it
        def topK(corpus: org.apache.spark.sql.DataFrame) = {
          val probes = corpus.filter(col("vec_id") < 10)
            .select(col("vec_id").as("query_id"), col("v").as("qv"))
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("query_id"))
            .orderBy(col("cosine").desc, col("neighbor_id"))
          corpus.crossJoin(broadcast(probes))
            .filter(col("vec_id") =!= col("query_id"))
            .select(col("query_id"), col("vec_id").as("neighbor_id"),
              graft.Num.r4(Similarity.cosine(col("v"), col("qv"))).as("cosine"))
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") <= K)
            .select(col("query_id"), col("neighbor_id"))
        }
        val exact = topK(emb).localCheckpoint()
        Seq(8, 16, 32).map { dims =>
          val trunc = topK(emb.select(col("vec_id"),
            slice(col("v"), 1, dims).as("v")))
            .select(col("query_id").as("q2"), col("neighbor_id").as("n2"))
          exact.join(trunc,
              col("query_id") === col("q2") && col("neighbor_id") === col("n2"),
              "left")
            .groupBy(col("query_id"))
            .agg(count(col("n2")).as("n_overlap"))
            .select(lit(dims).cast("long").as("dims"), col("query_id"),
              col("n_overlap"),
              graft.Num.r4(col("n_overlap").cast("double") / lit(K.toDouble))
                .as("recall_at_10"))
        }.reduce(_.unionByName(_))
          .orderBy(col("dims"), col("query_id"))
      },
      Some {
        def side(dExpr: String, name: String) = s"""
        $name AS (
          SELECT query_id, neighbor_id FROM (
            SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
              ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
                FLOOR(LIST_COSINE_SIMILARITY(${dExpr.replace("%", "e2")},
                  ${dExpr.replace("%", "q")}) * 10000 + 0.500001) / 10000 DESC,
                e2.vec_id) AS rn
            FROM e e2, (SELECT * FROM e WHERE vec_id < 10) q
            WHERE e2.vec_id <> q.vec_id) WHERE rn <= 10)"""
        s"""
        WITH e AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        ${side("%.v", "exact")},
        ${Seq(8, 16, 32).map(dm => side(s"%.v[1:$dm]", s"t$dm")).mkString(",")}
        ${Seq(8, 16, 32).map(dm => s"""
        SELECT CAST($dm AS BIGINT) AS dims, x.query_id,
          CAST(COUNT(t.neighbor_id) AS BIGINT) AS n_overlap,
          FLOOR((CAST(COUNT(t.neighbor_id) AS DOUBLE) / 10.0)
                * 10000 + 0.500001) / 10000 AS recall_at_10
        FROM exact x LEFT JOIN t$dm t
          ON t.query_id = x.query_id AND t.neighbor_id = x.neighbor_id
        GROUP BY x.query_id""").mkString("\n        UNION ALL ")}
        ORDER BY dims, query_id"""
      },
      "Matryoshka truncation audit: recall@10 of first-8/16/32-dim cosine vs the exact full-width top-10 per probe"))
}
