package graft

/** Physical-plan shape pins for the scale-critical choices: global
  * scalars must arrive via broadcast (never a cartesian product or a
  * whole-frame window), candidate generation must never cross-join
  * unboundedly, and the one re-planned global window (q90) must stay
  * gone. These are the properties a 1000-executor run depends on that
  * no value-level oracle can see. */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    Registry.queries(name)(spark, sf()).queryExecution.executedPlan.toString()

  // ------------------------------------------------------------------
  // Full-registry mechanical gate (r7): every registered plan is walked
  // by PlanAudit.violations — no cartesian product without a bounded
  // side, no unpartitioned window over an unbounded child, no global
  // sort feeding a sort-merge join. This is the standing version of the
  // per-cohort explain sweeps: it protects all registry queries from
  // the one regression class the value oracle cannot see.
  /** Queries whose flagged node is provably bounded by a VALUE DOMAIN
    * the mechanical detector cannot see (it proves boundedness only
    * from limits, 1-row aggregates, literal ranges, and checkpoint
    * scans). Every entry was hand-audited (r7): the frame under the
    * window / the non-broadcast join side is O(domain), constant in
    * data volume — day grids (O(active days)), source grids (O(distinct
    * sources)), quantized-value histograms (ECDF staircases over
    * minute/micro-unit bins), a ≤30-row id-capped baseline, 1-row
    * unique-key probe filters, and a 2-row label grid. A NEW query with
    * a global window or unbounded cartesian fails until it is either
    * re-planned or audited into this list with its justification. */
  private val domainBounded: Map[String, String] = Map(
    // --- BroadcastNestedLoopJoin, bounded side invisible to the detector
    "q64_edit_distance" -> "id-capped baseline: doc_id < 30 on a unique key, <=30-row self-join",
    "q120_rrf_fusion" -> "probe side is a unique-key filter (vec_id = 0): exactly 1 row",
    "q159_pc1_auc" -> "label grid: distinct binary labels, 2 rows",
    "q266_hellinger_tv" -> "source grid: O(distinct sources) rows",
    // --- unpartitioned window over an O(domain) frame. The 14 DAY-GRID
    // entries the r7 audit carried here are GONE: PlanAudit.bounded now
    // proves calendar grids mechanically (aggregate grouped only by
    // date truncations / unix_*(t) div L with L >= a minute), and the
    // stale-guard below would fail if they were still listed. What
    // remains is the residue the detector genuinely cannot prove:
    // histograms over QUANTIZED VALUES or value DIFFERENCES, whose
    // domain bound is a data-range argument, not a calendar one.
    // q281/q315 (lag/gap-minute histograms) left this list in round 10:
    // PlanAudit.timeScale now proves `min(us − s_us) div 60000000` and
    // `(us − lag(us)) div 60000000` bounded mechanically. The residue
    // below groups by BARE measured values (n_chars); their bound is a
    // data-range judgment no mechanical rule can make without also
    // accepting id histograms (the planted-red class), so they stay
    // hand-audited — a recorded negative result, pinned by the
    // id-histogram red case in the time-grid test below.
    "q289_cliffs_delta" -> "value histogram ECDF staircase: O(distinct quantized values)",
    "q316_energy_distance" -> "value histogram ECDF staircase: O(distinct quantized values)",
    "q329_cramer_von_mises" -> "value histogram ECDF staircase: O(distinct quantized values)",
    "q358_mood_median" -> "per-source value histogram: O(distinct quantized values)",
    "q375_skyline" -> "length-domain staircase: O(distinct doc lengths)",
    "q98_mix_weights" -> "source grid: O(distinct sources) rows")

  test("full registry: zero plan-shape violations outside the audited domain-bounded list") {
    val dir = sf("0.01")
    val found = Registry.all.map { q =>
      q.name -> PlanAudit.violations(q.run(spark, dir))
    }.toMap
    val bad = found.collect {
      case (n, vs) if vs.nonEmpty && !domainBounded.contains(n) =>
        s"$n: ${vs.distinct.mkString("; ")}"
    }
    assert(bad.isEmpty, s"plan-shape violations:\n${bad.mkString("\n")}")
    // rot guards: every allowlist entry must name a real query AND
    // still be needed — a re-planned query leaves a stale
    // justification behind otherwise
    val unknown = domainBounded.keySet -- found.keySet
    assert(unknown.isEmpty, s"allowlist names unknown queries: $unknown")
    val stale = domainBounded.keySet.filter(n => found(n).isEmpty)
    assert(stale.isEmpty, s"allowlist entries no longer needed: $stale")
  }

  test("the audit is red on a planted global window and a planted cartesian") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf())
    // planted failure 1: whole-frame window over the raw table
    val planted = li.withColumn("rn", row_number().over(
      Window.orderBy(col("l_orderkey"), col("l_linenumber"))))
    assert(PlanAudit.violations(planted)
      .exists(_.contains("unpartitioned Window")),
      "audit must flag a whole-table global window")
    // planted failure 2: unbounded cross join of the table with itself
    val crossed = li.select(col("l_orderkey").as("a"))
      .crossJoin(li.select(col("l_orderkey").as("b")))
    assert(PlanAudit.violations(crossed).nonEmpty,
      "audit must flag an unbounded cartesian/BNLJ")
  }

  test("boundedness detector: range/limit/1-row-agg/checkpoint prove it, a filter does not") {
    import org.apache.spark.sql.functions._
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan
    val li = Tables.lineitem(spark, sf())
    assert(PlanAudit.bounded(planOf(spark.range(0, 8).toDF())))
    assert(PlanAudit.bounded(planOf(li.limit(10))))
    assert(PlanAudit.bounded(planOf(li.agg(count(lit(1))))))
    assert(PlanAudit.bounded(planOf(li.limit(5).localCheckpoint())))
    // a predicate does NOT prove row-boundedness — this is exactly the
    // case the domain-bounded allowlist exists for
    assert(!PlanAudit.bounded(planOf(li.filter(col("l_orderkey") < 30))))
    assert(!PlanAudit.bounded(planOf(li)))
  }

  test("calendar-grid prover: day/minute grids pass, id and sub-minute groupings stay red") {
    import org.apache.spark.sql.functions._
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan
    val ev = Tables.events(spark, sf())
    // the house day-grid idiom: unix_micros div one-day literal
    val dayGrid = ev
      .select(expr("unix_micros(ts) div 86400000000").as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    assert(PlanAudit.bounded(planOf(dayGrid)),
      "aggregate grouped by unix_micros div day must prove bounded")
    // date_trunc and to_date land on the grid too
    val trunc = ev.groupBy(date_trunc("day", col("ts")).as("d")).count()
    assert(PlanAudit.bounded(planOf(trunc)),
      "aggregate grouped by date_trunc must prove bounded")
    // grouping by an ID is row-proportional — must stay red
    val byUser = ev.groupBy(col("user_id")).count()
    assert(!PlanAudit.bounded(planOf(byUser)),
      "id grouping must NOT prove bounded")
    // a mixed grouping (grid + id) is still row-proportional
    val mixed = ev
      .groupBy(expr("unix_micros(ts) div 86400000000").as("day"),
        col("user_id")).count()
    assert(!PlanAudit.bounded(planOf(mixed)),
      "day+id grouping must NOT prove bounded")
    // a sub-minute divisor does not reach the accepted grid
    val seconds = ev
      .select(expr("unix_micros(ts) div 1000000").as("sec"))
      .groupBy(col("sec")).count()
    assert(!PlanAudit.bounded(planOf(seconds)),
      "second-grain grouping must NOT prove bounded")
    // date_trunc is unit-checked the same way: 'second' is effectively
    // row-proportional on dense event data and must stay red, while
    // 'minute' and coarser stay green (mirrors unixDivisorFloor)
    val truncSec = ev.groupBy(date_trunc("second", col("ts")).as("s")).count()
    assert(!PlanAudit.bounded(planOf(truncSec)),
      "date_trunc('second') grouping must NOT prove bounded")
    val truncMin = ev.groupBy(date_trunc("minute", col("ts")).as("m")).count()
    assert(PlanAudit.bounded(planOf(truncMin)),
      "date_trunc('minute') grouping must prove bounded")
    // round-10 quantized-grid prover: a DIFFERENCE of unix-time
    // quantities divided to minutes is a span-bounded lag histogram...
    val lagMin = ev
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("s_us"),
        max(col("us")).as("e_us"))
      .select(expr("(e_us - s_us) div 60000000").as("lm"))
      .groupBy(col("lm")).count()
    assert(PlanAudit.bounded(planOf(lagMin)),
      "minute-grid lag histogram must prove bounded")
    // ...but the same difference at seconds grain stays red, and so
    // does an id-keyed histogram (the planted failure class)
    val lagSec = ev
      .select(col("user_id"), expr("unix_micros(ts)").as("us"))
      .groupBy(col("user_id")).agg(min(col("us")).as("s_us"),
        max(col("us")).as("e_us"))
      .select(expr("(e_us - s_us) div 1000000").as("ls"))
      .groupBy(col("ls")).count()
    assert(!PlanAudit.bounded(planOf(lagSec)),
      "seconds-grain lag histogram must NOT prove bounded")
    // the planted failure class stays red END TO END: a global window
    // over a day grid is fine, over the raw table it is not
    import org.apache.spark.sql.expressions.Window
    val gridWin = dayGrid.withColumn("rn",
      row_number().over(Window.orderBy(col("day"))))
    assert(PlanAudit.violations(gridWin).isEmpty,
      "global window over a proven day grid must pass")
    val rawWin = ev.withColumn("rn",
      row_number().over(Window.orderBy(col("ts"))))
    assert(PlanAudit.violations(rawWin).nonEmpty,
      "global window over the raw table must stay flagged")
  }

  test("1-row global aggregates are broadcast, not cartesian") {
    // each of these queries folds a global scalar (corpus total,
    // min/max, midpoint) into a per-row computation
    Seq("q90_unigram_surprisal", "q113_psi_drift", "q114_histogram",
      "q123_vocab_coverage", "q124_snapshot_diff", "q109_bm25").foreach { q =>
      val p = plan(q)
      assert(p.contains("Broadcast"), s"$q: no broadcast in plan")
      assert(!p.contains("CartesianProduct"),
        s"$q: cartesian product found — the 1-row side must broadcast")
    }
  }

  test("q90 re-plan holds: no window operator at all") {
    val p = plan("q90_unigram_surprisal")
    assert(!p.contains("Window"),
      "q90 must compute the corpus total without any WindowExec")
  }

  test("rank windows in top-k paths are bounded by a preceding limit") {
    // q120/q123 rank inside a top-k list: the sort feeding the window
    // must be a TakeOrderedAndProject/limit, not a full-table sort
    Seq("q120_rrf_fusion", "q123_vocab_coverage").foreach { q =>
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject") || p.contains("GlobalLimit"),
        s"$q: rank window not fed by a bounded top-k")
    }
  }

  test("dimension joins broadcast the small side") {
    Seq("q115_nearest_centroid", "q118_assoc_lift", "q111_markov_transitions")
      .foreach { q =>
        val p = plan(q)
        assert(p.contains("BroadcastHashJoin") ||
          p.contains("BroadcastNestedLoopJoin"),
          s"$q: expected a broadcast join for the bounded side")
      }
  }

  test("sketch builds never sort the data: broadcast bounds, TakeOrdered k-mins") {
    // q142's only Sort may be the 64-row cumulative window / output
    // order; the raw scan must reach the histogram through a hash
    // aggregate, and the min/max bounds must broadcast
    val q142 = plan("q142_histogram_quantiles")
    assert(q142.contains("Broadcast"), "q142: bounds row must broadcast")
    assert(!q142.contains("CartesianProduct"))
    // q136's k-th-min per set must be a TakeOrdered, not Sort+collect
    val q136 = plan("q136_theta_setops")
    assert(q136.contains("TakeOrderedAndProject"),
      "q136: KMV sketch must use a bounded TakeOrdered for the k smallest hashes")
    // q139's bin bounds broadcast; the cell audit is a hash aggregate
    val q139 = plan("q139_zorder_layout")
    assert(q139.contains("Broadcast"), "q139: bin bounds must broadcast")
    assert(!q139.contains("CartesianProduct"))
  }

  test("semantic dedup joins on the cell key, never all-pairs") {
    val p = plan("q140_semantic_dedup")
    assert(!p.contains("CartesianProduct"),
      "q140: the pairwise cosine must be bounded by the IVF cell join")
  }

  test("q163/q166/q168 broadcast their scalar/period sides, never cartesian") {
    Seq("q163_bigram_nll", "q166_seasonal_decompose", "q168_periodogram")
      .foreach { q =>
        val p = plan(q)
        assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
      }
    // q163's vocab scalar and corpus-stats row must arrive via broadcast
    assert(plan("q163_bigram_nll").contains("Broadcast"),
      "q163: stats/vocab rows must broadcast")
    assert(plan("q168_periodogram").contains("Broadcast"),
      "q168: the 3-row period table must broadcast")
  }

  test("time models (q160-q162) shuffle the events once, on the key") {
    // lag window, cumulative-UDAF window and the per-key aggregate all
    // partition on user_id: Catalyst must satisfy them with ONE hash
    // exchange (the trailing range exchange is the output ORDER BY)
    Seq("q160_ar1_anomaly", "q161_ar1_forecast", "q162_ets_level",
      "q165_holt_forecast", "q167_cusum_changepoint").foreach { q =>
      val p = plan(q)
      val nHash = "Exchange hashpartitioning".r.findAllIn(p).length
      assert(nHash == 1, s"$q: expected exactly one hash exchange, got $nHash")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
    }
  }

  test("q170/q179 stay lean: bounded exchanges, no sort-merge join, no cartesian") {
    // q170 folds six lags through lead columns in ONE window pass — a
    // per-lag self-join would show up as extra exchanges or an SMJ
    val p170 = plan("q170_acf")
    val h170 = "Exchange hashpartitioning".r.findAllIn(p170).length
    assert(h170 <= 2, s"q170: expected <=2 hash exchanges, got $h170")
    assert(!p170.contains("SortMergeJoin") && !p170.contains("CartesianProduct"),
      "q170: the lag fold must not become a join")
    // q179's CUMULATE fan-out is a per-row explode + ONE keyed agg
    val p179 = plan("q179_cumulate_windows")
    val h179 = "Exchange hashpartitioning".r.findAllIn(p179).length
    assert(h179 == 1, s"q179: expected one hash exchange, got $h179")
    assert(p179.contains("Generate"), "q179: window assignment must be an explode")
    assert(!p179.contains("SortMergeJoin") && !p179.contains("CartesianProduct"))
  }

  test("q174/q175/q180 scan their base table exactly once (derive, don't re-read)") {
    // every derived aggregate (totals, grids, chi-square) must come
    // from the ONE checkpointed bounded counts table, not a re-scan
    Seq("q174_ks_drift", "q175_benford", "q180_jsd_drift").foreach { q =>
      val p = plan(q)
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(scans == 0, s"$q: $scans parquet scans in final plan (counts must be checkpointed)")
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
    }
  }

  test("session-cohort gates: bounded broadcasts, no cartesian, no global window") {
    // q186/q200: the 256-bucket / vocab-grid score tables must reach
    // the per-doc fold via broadcast; q209's 50-replicate fan-out is a
    // Generate (explode), never a join; none of the cohort may carry a
    // whole-frame window in its FINAL plan (bounded rank windows are
    // materialized behind localCheckpoint)
    Seq("q186_dsir_weights", "q188_mann_whitney", "q193_source_purity",
      "q196_adamic_adar", "q197_qlm_retrieval", "q200_doremi_step",
      "q207_sequential_looks", "q209_bootstrap_ci").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: cartesian product")
      assert(!"Window \\[".r.findAllIn(p).exists(_ => {
        // any WindowExec surviving to the final plan must be
        // key-partitioned; the Explain audit counts these globally —
        // here we just forbid the obvious whole-frame spelling
        p.contains("Window [") && p.contains("windowspecdefinition()")
      }), s"$q: global window in final plan")
    }
    assert(plan("q186_dsir_weights").contains("Broadcast"),
      "q186: bucket scores must broadcast")
    assert(plan("q200_doremi_step").contains("Broadcast"),
      "q200: vocab totals must broadcast")
    // q209's replicate fan-out ran inside the checkpointed stage; the
    // final plan must be nothing but the bounded broadcast assembly
    val p209 = plan("q209_bootstrap_ci")
    assert(!p209.contains("SortMergeJoin") && !p209.contains("Exchange hash"),
      "q209: final assembly must be broadcast-only over bounded rows")
  }

  test("graph-eval batch gates: no cartesian, bounded sides broadcast") {
    // q216: the 10-row weight table and the idcg scalar must broadcast;
    // q217/q218: everything after the bounded backbone is checkpointed
    // or broadcast; q220: ONE keyed window pass, no cartesian; q221:
    // fp-keyed window only (key-partitioned, never whole-frame)
    Seq("q216_ndcg_bm25", "q217_assortativity", "q218_modularity",
      "q219_l_diversity", "q220_forecast_backtest", "q221_dedup_savings")
      .foreach { q =>
        assert(!plan(q).contains("CartesianProduct"), s"$q: cartesian product")
      }
    assert(plan("q216_ndcg_bm25").contains("Broadcast"),
      "q216: weights/idcg must broadcast")
    assert(plan("q217_assortativity").contains("Broadcast"),
      "q217: node-count scalar must broadcast")
    // q220 is the q160 plan + one grouped agg: events scanned once
    val p220 = plan("q220_forecast_backtest")
    assert(!p220.contains("SortMergeJoin"), "q220: no join belongs here")
    // q222/q223/q224: every round/percentile/signature intermediate is
    // checkpointed-bounded or key-partitioned — no cartesian anywhere
    Seq("q222_harmonic_centrality", "q223_asof_staleness",
      "q224_minhash_calibration").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"$q: cartesian product")
    }
    // q225-q229: candidate joins banded, dim join broadcast, scalar
    // totals broadcast, no cartesian
    Seq("q225_simhash_calibration", "q226_incremental_join",
      "q227_filter_cascade", "q228_sample_bias_audit",
      "q229_dup_trend", "q230_fano_burstiness", "q231_hour_profile",
      "q232_cold_start_rate", "q233_vocab_growth",
      "q234_heaps_exponent").foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"$q: cartesian product")
    }
    assert(plan("q226_incremental_join").contains("BroadcastHashJoin"),
      "q226: the customer dim must broadcast on both part joins")
    // q218/q222: every bounded checkpointed side (labels, edges, reach)
    // is explicitly broadcast — a stats-blind SMJ here would add three
    // needless sorts per run and regress 2x at 100x (measured)
    Seq("q218_modularity", "q222_harmonic_centrality").foreach { q =>
      assert(!plan(q).contains("SortMergeJoin"),
        s"$q: bounded side fell back to sort-merge")
    }
  }
}
