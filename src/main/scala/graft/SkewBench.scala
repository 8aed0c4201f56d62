package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-resilience evidence, in two parts that share one session:
  *
  * 1. Hash join. Rebuilds the sf0.1 lineitem with a Zipf-skewed join key
  *    (bounded-Pareto inverse CDF over md5 uniforms, deterministic — the
  *    hottest orderkey absorbs ~13% of all rows at s=1.2), then times the
  *    q107 salted-join pipeline on the SKEWED copy against the same
  *    pipeline on the driver's uniform data. The claim under test: the
  *    salt spreads the hot key over SALT reducers, so skewed wall-clock
  *    stays within 2× of uniform at the same row count — the property
  *    that keeps a 1000-executor join from serializing on one straggler
  *    reducer when one user/orderkey goes viral.
  * 2. Native as-of join. Plants a hot key in the events table (every
  *    even event_id reassigned to one user, so one key carries ~half of
  *    all probes AND ~half of all quotes — the one-viral-instrument
  *    tick-data shape), then times the plain `plans.AsOfJoin` against
  *    `joinSalted` (salt 8, only the hot key salted). The plain join's
  *    hot key sorts+merges in ONE task; the salted variant spreads it 8
  *    ways at the cost of replicating only the hot key's quotes.
  *
  * Result equality is asserted before any timing in both parts. Prints
  * two JSON lines:
  * {"metric":"skew_ratio","value":R,"skewed_salted":s,"uniform_salted":u,
  *  "skewed_plain":p,"max_key_share":m,"sf":...}
  * {"metric":"asof_skew_ratio","value":salted/plain,...}
  */
object SkewBench {

  /** Bounded-Pareto rank in [1, k]: inverse CDF at u with exponent s. */
  private def zipfRank(u: org.apache.spark.sql.Column, k: Long, s: Double) = {
    val oneMs = 1.0 - s // 1-s < 0
    val lo = 1.0
    val hi = math.pow(k.toDouble, oneMs)
    least(lit(k), greatest(lit(1L),
      floor(pow(lit(lo) + u * lit(hi - lo), lit(1.0 / oneMs))).cast("long")))
  }

  /** q107's salted-join shape, parameterized by input tables. */
  private def saltedJoin(spark: SparkSession, fact: DataFrame, dim: DataFrame,
      salt: Int): DataFrame = {
    val f = fact.select(col("l_orderkey"),
      (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("decimal(24,4)").as("rev"),
      pmod(xxhash64(col("l_orderkey")), lit(salt)).as("salt"))
    val d = dim.select(col("o_orderkey"), col("o_orderpriority"))
      .crossJoin(broadcast(
        spark.range(0, salt).select(col("id").cast("int").as("salt"))))
    f.join(d, col("l_orderkey") === col("o_orderkey") && f("salt") === d("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("rev")).cast("double").as("revenue"))
  }

  /** Selective salting — the production pattern the q127 skew report
    * feeds: only keys whose row count exceeds `hotThreshold` get salted
    * (and only THOSE dim rows replicate SALT times); the cold tail joins
    * with salt 0 and no replication. Dim-side blowup is SALT × |hot
    * keys| instead of SALT × |dim| — constant, not linear in the
    * dimension size, which is what makes the pattern viable when the
    * dim itself is big. */
  private def selectiveSaltedJoin(spark: SparkSession, fact: DataFrame,
      dim: DataFrame, salt: Int, hotThreshold: Long): DataFrame = {
    val hot = fact.groupBy(col("l_orderkey")).count()
      .filter(col("count") > hotThreshold).select(col("l_orderkey").as("hk"))
    val f = fact.join(broadcast(hot), col("l_orderkey") === col("hk"), "left")
      .select(col("l_orderkey"),
        (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(24,4)").as("rev"),
        when(col("hk").isNotNull, pmod(xxhash64(col("l_orderkey")), lit(salt)))
          .otherwise(lit(0)).as("salt"))
    val dimKeyed = dim.select(col("o_orderkey"), col("o_orderpriority"))
    val hotDim = dimKeyed.join(broadcast(hot), col("o_orderkey") === col("hk"))
      .drop("hk")
      .crossJoin(broadcast(spark.range(0, salt).select(col("id").cast("int").as("salt"))))
    val coldDim = dimKeyed.join(broadcast(hot), col("o_orderkey") === col("hk"),
      "left_anti").withColumn("salt", lit(0))
    val d = hotDim.unionByName(coldDim)
    f.join(d, col("l_orderkey") === col("o_orderkey") && f("salt") === d("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("rev")).cast("double").as("revenue"))
  }

  private def plainJoin(fact: DataFrame, dim: DataFrame): DataFrame =
    fact.select(col("l_orderkey"),
      (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("decimal(24,4)").as("rev"))
      .join(dim.select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("rev")).cast("double").as("revenue"))

  private def time(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
  private def best2(df: => DataFrame): Double = { time(df); math.min(time(df), time(df)) }
  private def s3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val out = args.lift(1).getOrElse("target/skewdata")
    val spark = Session()
    // the explicit salt is the portable plan; AQE's skew split would ALSO
    // fix the plain hash join, which is exactly what we don't want to
    // measure here (it only splits exchanges feeding its known joins, not
    // the as-of exec, but stays off there too so that comparison is pure)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    println(joinSkew(spark, sfDir, out))
    println(asOfSkew(spark, sfDir))
    spark.stop()
  }

  private def joinSkew(spark: SparkSession, sfDir: String, out: String): String = {
    val orders = Tables.orders(spark, sfDir)
    val nOrders = orders.count()
    // deterministic uniform in [0,1) per lineitem row -> Zipf rank ->
    // that rank's orderkey (rank assigned by orderkey order)
    val ranked = orders.select(col("o_orderkey"),
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("o_orderkey"))).cast("long").as("rank"))
    val u = (conv(substring(md5(concat_ws("|", col("l_orderkey"),
      col("l_linenumber"))), 1, 15), 16, 10).cast("double") /
      lit(math.pow(16.0, 15)))
    val skewed = Tables.lineitem(spark, sfDir)
      .withColumn("rank", zipfRank(u, nOrders, s = 1.2))
      .drop("l_orderkey")
      .join(ranked, Seq("rank"))
      .withColumnRenamed("o_orderkey", "l_orderkey")
      .drop("rank")
    skewed.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    val skewedFact = spark.read.parquet(s"$out/lineitem.parquet")
    val uniformFact = Tables.lineitem(spark, sfDir)
    val share = skewedFact.groupBy(col("l_orderkey")).count()
      .agg(max(col("count")).cast("double") / sum(col("count"))).head().getDouble(0)

    // hot = more than 4x the mean rows/partition, the q127-report cut
    val nFact = skewedFact.count()
    val hotThreshold = 4L * nFact / 32L

    // selective salting must not change the answer: compare against the
    // plain join's 5-row aggregate before timing anything
    val expect = plainJoin(skewedFact, orders).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val got = selectiveSaltedJoin(spark, skewedFact, orders, 8, hotThreshold)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    require(expect.length == got.length && expect.zip(got).forall { case (e, g) =>
      e._1 == g._1 && e._2 == g._2 && math.abs(e._3 - g._3) < 1e-6 * math.abs(e._3)
    }, "selective salted join result mismatch vs plain join")

    val uniSalted = best2(saltedJoin(spark, uniformFact, orders, 8))
    val skewSalted = best2(saltedJoin(spark, skewedFact, orders, 8))
    val skewSelective = best2(selectiveSaltedJoin(spark, skewedFact, orders, 8, hotThreshold))
    val uniSelective = best2(selectiveSaltedJoin(spark, uniformFact, orders, 8, hotThreshold))
    val skewPlain = best2(plainJoin(skewedFact, orders))
    s"""{"metric":"skew_ratio","value":${s3(skewSelective / uniSelective)},""" +
      s""""skewed_selective":${s3(skewSelective)},"uniform_selective":${s3(uniSelective)},""" +
      s""""skewed_salted":${s3(skewSalted)},"uniform_salted":${s3(uniSalted)},""" +
      s""""skewed_plain":${s3(skewPlain)},"max_key_share":${s3(share)},"sf":"$sfDir"}"""
  }

  private def asOfSkew(spark: SparkSession, sfDir: String): String = {
    val events = Tables.events(spark, sfDir).localCheckpoint()
    val hotUser = 7L
    val probes = events.select(
      when(col("event_id") % 2 === 0, lit(hotUser))
        .otherwise(col("user_id")).as("user_id"),
      col("event_id"), col("ts"))
    val quotes = events.filter(col("event_type") === "purchase").select(
      when(col("event_id") % 2 === 0, lit(hotUser))
        .otherwise(col("user_id")).as("user_id"),
      col("ts"), col("value"))
      // the operator's documented determinism contract: one quote per
      // (key, ts) — the planted hot key merges many users' purchases,
      // which DO collide on exact timestamps at 10M events
      .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("value"))
    val cols = Seq("ts" -> "qts", "value" -> "qv")
    val share = probes.groupBy(col("user_id")).count()
      .agg(max(col("count")).cast("double") / sum(col("count")))
      .head().getDouble(0)

    def plain() = plans.AsOfJoin.join(probes, quotes, "user_id", "ts", cols)
    def salted() = plans.AsOfJoin.joinSalted(probes, quotes, "user_id", "ts",
      cols, salt = 8, hotKeys = Seq(hotUser), saltBy = "event_id")

    // equality first: same matched quote per probe (compare a stable
    // aggregate fingerprint — sums over 10M rows, order-free)
    def fp(df: DataFrame) = df.agg(
      count(lit(1)),
      // decimal sums, NOT long/double: 10M rows x 1.7e15 µs overflows
      // BIGINT, and a double sum is association-order-dependent across
      // plans — both would fail equality on identical row sets
      sum(unix_micros(col("qts")).cast("decimal(38,0)")),
      sum(col("qv").cast("decimal(28,6)")),
      sum(when(col("qts").isNull, 1L).otherwise(0L))).head().toSeq
    require(fp(plain()) == fp(salted()), "salted as-of diverged from plain")

    val tPlain = best2(plain())
    val tSalted = best2(salted())
    s"""{"metric":"asof_skew_ratio","value":${s3(tSalted / tPlain)},""" +
      s""""plain":${s3(tPlain)},"salted":${s3(tSalted)},""" +
      s""""max_key_share":${s3(share)},"sf":"$sfDir"}"""
  }
}
