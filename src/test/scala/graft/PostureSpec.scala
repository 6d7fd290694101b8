package graft

/** Registry-wide physical/logical posture sweep (VERDICT r7 task 3): the
  * house rules that were previously enforced only by review are asserted
  * here over EVERY registered query, so a new query that violates them
  * fails `sbt test` instead of surviving until the next judge pass.
  *
  * Rules:
  *  (a) no unpartitioned logical Window whose input subtree is unbounded
  *      — a global window single-tasks at 100 TB. Bounded means the
  *      subtree provably produces a small row count (Limit, global
  *      aggregate, LocalRelation) or the query is in the adjudicated
  *      allowlist (calendar/day panels, decile grids — each justified).
  *  (b) no CartesianProduct outside the allowlist (MLlib's blocked factor
  *      cross-join inside recommendForAllUsers is the only adjudicated
  *      one).
  *  (c) no shuffled join (SMJ / shuffled-hash) where one side is a
  *      provably one-row panel — a one-row side must broadcast.
  *
  * The rules read [[PlanSweep]]'s facts (rule (a) on optimizedPlan, rules
  * (b) and (c) on AQE's initialPlan), the same registry sweep
  * PlanDriftSpec reads: no job runs beyond what query construction
  * itself executes.
  */
class PostureSpec extends SparkTestBase {

  /** Queries whose unpartitioned windows are individually adjudicated:
    * every entry's global window runs over a frame bounded by something
    * the plan can't see (calendar span, fixed decile/grid count, a
    * vocabulary-bounded aggregate) — reviewed in PLANS.md / VERDICT r7.
    * A NEW query that trips rule (a) must either restructure or be added
    * here with a justification. */
  private val windowAllowlist: Set[String] = Set(
    // Daily/monthly-series stats: the window runs over a groupBy(day)
    // panel — cardinality is the CALENDAR SPAN (≈2.4k days for TPC-H),
    // independent of fact-table size, so the single task is O(days).
    "q_ljung_box", "q_rsi", "q_bollinger", "q_adf_test", "q_kpss_test",
    "q_periodogram", "q_spectral_entropy", "q_mann_kendall",
    "q_decomp_strength", "q_hampel_filter", "q_residual_outliers",
    "q_changepoint_two", "q_exp_smooth", "q_concurrency_profile",
    // Distinct-duration grid (days between first/last order ≤ calendar
    // span) feeding the median-rank regression.
    "q_weibull_fit",
    // Fixed panels: 25 nations × 3 rankings; one row per hypothesis in a
    // bounded test battery.
    "q_kendall_w", "q_holm_bonferroni",
    // Monthly/daily-series windows over a groupBy(calendar-key) panel the
    // plan can't prove bounded: cardinality is the CALENDAR SPAN (≤84
    // months / ≤2.4k days for TPC-H), independent of fact-table size.
    "q_forecast_mase", "q_burn_rate",
    // Per-nation (≤25 rows) hypothesis/waterfall panels: the window
    // orders the nation- or segment-grid, not fact rows.
    "q_benjamini_yekutieli", "q_waterfall_segments",
    // Decile/threshold grids (≤121 rows by construction): PAV minimax
    // ranges, Gini split sweep, PR/lift threshold walk.
    "q_isotonic", "q_decision_stump", "q_pr_curve", "q_lift_deciles",
    // Tie-rank prefix sum over groupBy(y) where y = per-order total
    // quantity — a bounded VALUE DOMAIN (≤ a few hundred distinct,
    // broadcast after the window; documented at the call site).
    "q_xi_correlation",
    // Value-domain histograms: groupBy(degree) / groupBy(duration-days)
    // panels whose cardinality is the DOMAIN (degrees ≤ max-degree,
    // durations ≤ calendar span ≈ 2.4k), not the fact-table row count.
    "q_degree_hist", "q_survival_median", "q_kaplan_meier",
    "q_hazard_rate", "q_logrank_test",
    // More monthly/daily calendar-series panels (≤84 months / ≤2.4k
    // days): CUSUM, seasonal-naive, runs test, rolling corr, resample
    // grid, growth-accounting ledger.
    "q_cusum", "q_forecast_snaive", "q_runs_test", "q_rolling_corr",
    "q_resample_interp", "q_growth_accounting",
    // round 9: R/S blocks and SampEn templates index the ≤2.4k-day
    // calendar panel (global row_number/lead over a groupBy(day) frame
    // the plan can't prove bounded)
    "q_hurst", "q_sample_entropy",
    // Fixed small panels: 25 per-nation p-values (BH step-up), B=200
    // bootstrap replicate means, ≤10 Lorenz deciles, sample-allocation
    // segments (≤ strata count), largest-remainder ranking.
    "q_fdr_bh", "q_bootstrap_ci", "q_lorenz_curve", "q_neyman_alloc")

  /** Queries with an adjudicated CartesianProduct. */
  private val cartesianAllowlist: Set[String] = Set("q_mf_topk_recs")

  /** Queries with an adjudicated shuffled join against a one-row side. */
  private val oneRowJoinAllowlist: Set[String] = Set.empty

  test("registry posture: windows partitioned, cartesians allowlisted, " +
      "one-row panels broadcast") {
    val violations = PlanSweep(sf).flatMap {
      case (q, Left(cause)) => Seq(s"$q: sweep error $cause")
      case (q, Right(f)) =>
        (if (windowAllowlist.contains(q)) Nil
         else f.globalWindows.map(c =>
           s"$q: unpartitioned window over unbounded input ($c)")) ++
        (if (cartesianAllowlist.contains(q) || f.cartesians == 0) Nil
         else Seq(s"$q: CartesianProduct outside allowlist")) ++
        (if (oneRowJoinAllowlist.contains(q)) Nil
         else f.oneRowShuffledJoins.map(j =>
           s"$q: $j with a one-row side (should broadcast)"))
    }
    assert(violations.isEmpty,
      s"\n${violations.size} posture violations:\n${violations.mkString("\n")}")
  }

  test("the sweep actually catches a planted unpartitioned window") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val planted = Tables.load(spark, sf, "lineitem")
      .withColumn("rn", row_number().over(W.orderBy(col("l_orderkey"))))
    assert(PlanFacts.initial(planted.queryExecution).globalWindows.nonEmpty,
      "planted global window was not detected")
  }

  test("the sweep actually catches a planted one-row SMJ side") {
    import org.apache.spark.sql.functions._
    // the join key must be data-derived: a lit(1) key constant-folds the
    // equi-condition away and the planner emits a nested-loop cross, not
    // the SMJ this plant is meant to exercise
    val one = Tables.load(spark, sf, "lineitem")
      .agg(min(col("l_orderkey")).as("k"))
    val big = Tables.load(spark, sf, "lineitem")
      .withColumnRenamed("l_orderkey", "k")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = big.join(one, Seq("k"))
      assert(PlanFacts.initial(j.queryExecution).oneRowShuffledJoins.nonEmpty,
        "planted one-row shuffled join was not detected")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }
}
