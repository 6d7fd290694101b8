package graft.operators

import graft.Q
import graft.Dsl._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Behavioral / temporal profiling battery (round-7 continuation):
  * survival-model ranking quality (Harrell's C), user behavioral-mix
  * entropy, hour-of-day activity shape, exponential smoothing, and
  * multi-ranking concordance (Kendall's W). House determinism contract
  * throughout: exact integer/decimal cross-row sums; per-row doubles
  * quantized to integers before any sum; bounded final panels.
  */
object ProfileQueries {

  private val big38 = DecimalType(38, 0)

  /** Harrell's concordance index for acctbal-decile "churn risk" against
    * the q_kaplan_meier durations — the survival counterpart of q_auc:
    * of all usable pairs (shorter duration observed to churn), how often
    * does the model rank the shorter-lived customer as higher-risk? The
    * pair enumeration runs on the bounded (month-bucket × decile × event)
    * cell grid (≤ 85·10·2 cells → ≤ 1.4M exact-count cell pairs), never
    * on customers; ties in risk score half (the standard convention). */
  val qCIndex = Q(
    "q_c_index",
    s"""WITH ${AnalyticsQueries.custSpansCte},
      |risk AS (
      |  SELECT c_custkey,
      |    ntile(10) OVER (ORDER BY CAST(CAST(c_acctbal AS DECIMAL(18,2))
      |      * 100 AS BIGINT) DESC, c_custkey) AS dec
      |  FROM customer),
      |cells AS (
      |  SELECT datediff('day', first_d, last_d) // 30 AS tm,
      |    CASE WHEN datediff('day', last_d, m) > 60 THEN 1 ELSE 0 END
      |      AS ev,
      |    dec, count(*) AS c
      |  FROM cust JOIN risk ON o_custkey = c_custkey, mx
      |  GROUP BY 1, 2, 3),
      |pairs AS (
      |  SELECT
      |    sum(CAST(a.c AS HUGEINT) * b.c) AS usable,
      |    sum(CASE WHEN a.dec < b.dec
      |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS conc,
      |    sum(CASE WHEN a.dec = b.dec
      |      THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS tied
      |  FROM cells a JOIN cells b ON a.tm < b.tm
      |  WHERE a.ev = 1)
      |SELECT CAST(usable AS BIGINT) AS n_usable_pairs,
      |  CAST(conc AS BIGINT) AS n_concordant,
      |  CAST(tied AS BIGINT) AS n_risk_ties,
      |  ROUND((CAST(conc AS DOUBLE) + 0.5 * CAST(tied AS DOUBLE))
      |    / CAST(usable AS DOUBLE), 6) AS c_index
      |FROM pairs""".stripMargin) { (s, d) =>
    val (cust, mx) = AnalyticsQueries.custSpans(s, d)
    // GlobalRank takes plain ascending sort columns — DESC rides in as
    // the negated metric (the q_rfm convention)
    val (rankedRisk, nCust) = graft.plans.GlobalRank.withGlobalRowNumber(
      t(s, d, "customer").select(col("c_custkey"),
        (dec2(col("c_acctbal")) * 100).cast(LongType).as("bal")),
      "rk", 8, -col("bal"), col("c_custkey"))
    val risk = rankedRisk.select(col("c_custkey"),
      graft.plans.GlobalRank.ntileFromRank(col("rk"), nCust, 10).as("dec"))
    val cells = cust.join(risk, col("o_custkey") === col("c_custkey"))
      .crossJoin(broadcast(mx))
      .groupBy(
        expr("datediff(last_d, first_d) DIV 30").as("tm"),
        when(datediff(col("m"), col("last_d")) > 60, 1).otherwise(0)
          .as("ev"),
        col("dec"))
      .agg(count(lit(1)).as("c"))
    val a = cells.select(col("tm").as("ta"), col("ev").as("ea"),
      col("dec").as("da"), col("c").cast(big38).as("ca"))
    val b = cells.select(col("tm").as("tb"), col("dec").as("db"),
      col("c").as("cb"))
    // cells is a (months × event-flag × decile) DOMAIN panel — bounded by
    // construction, so broadcast the theta-join side explicitly (sf0.1
    // size estimates otherwise demote the non-equi join to a cartesian)
    val pairs = a.join(broadcast(b), col("ta") < col("tb"))
      .filter(col("ea") === 1)
      .agg(sum(col("ca") * col("cb")).as("usable"),
        sum(when(col("da") < col("db"), col("ca") * col("cb"))
          .otherwise(0)).as("conc"),
        sum(when(col("da") === col("db"), col("ca") * col("cb"))
          .otherwise(0)).as("tied"))
    pairs.select(col("usable").cast(LongType).as("n_usable_pairs"),
      col("conc").cast(LongType).as("n_concordant"),
      col("tied").cast(LongType).as("n_risk_ties"),
      round((col("conc").cast(DoubleType)
        + lit(0.5) * col("tied").cast(DoubleType))
        / col("usable").cast(DoubleType), 6).as("c_index"))
  }

  /** Behavioral-mix entropy per user (how specialized is each user's
    * event-type distribution), rolled into a bounded 11-bucket histogram
    * plus the corpus mean — the "bot or human" shape screen: near-zero
    * entropy users do ONE thing. Per-(user, type) entropy contributions
    * are ·10⁹-quantized on their own row (the user's type panel is
    * bounded by the type domain), per-user sums are exact integers, and
    * the corpus mean is one exact integer sum. */
  val qUserEntropy = Q(
    "q_user_entropy",
    """WITH ut AS (
      |  SELECT user_id, event_type, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |un AS (
      |  SELECT user_id, event_type, c,
      |    sum(c) OVER (PARTITION BY user_id) AS n
      |  FROM ut),
      |pu AS (
      |  SELECT user_id,
      |    -sum(CAST(round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
      |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |      * 1000000000) AS BIGINT)) AS h9
      |  FROM un GROUP BY user_id),
      |bk AS (
      |  SELECT LEAST(10, CAST(h9 // 200000000 AS BIGINT)) AS bucket,
      |    count(*) AS n_users, sum(h9) AS sh9
      |  FROM pu GROUP BY 1),
      |tot AS (SELECT sum(n_users) AS nu, sum(sh9) AS th9 FROM bk)
      |SELECT CAST(bucket AS BIGINT) AS entropy_bucket,
      |  CAST(n_users AS BIGINT) AS n_users,
      |  ROUND(CAST(th9 AS DOUBLE) / 1e9 / CAST(nu AS DOUBLE), 6)
      |    AS corpus_mean_entropy
      |FROM bk, tot ORDER BY bucket""".stripMargin) { (s, d) =>
    val ut = t(s, d, "events")
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
    val un = ut.withColumn("n",
      sum(col("c")).over(Window.partitionBy("user_id")))
    val pu = un.groupBy("user_id").agg(
      (-sum(round(col("c").cast(DoubleType) / col("n").cast(DoubleType)
        * log(col("c").cast(DoubleType) / col("n").cast(DoubleType))
        * 1000000000L).cast(LongType))).as("h9"))
    val bk = pu.groupBy(
        least(lit(10), expr("h9 DIV 200000000")).as("bucket"))
      .agg(count(lit(1)).as("n_users"), sum(col("h9")).as("sh9"))
    val tot = bk.agg(sum(col("n_users")).as("nu"), sum(col("sh9")).as("th9"))
    bk.crossJoin(broadcast(tot))
      .select(col("bucket").cast(LongType).as("entropy_bucket"),
        col("n_users").cast(LongType).as("n_users"),
        round(col("th9").cast(DoubleType) / 1e9
          / col("nu").cast(DoubleType), 6).as("corpus_mean_entropy"))
      .orderBy("entropy_bucket")
  }

  /** Hour-of-day × event-type activity profile with per-type peak-hour
    * flags — the load-shape / anomaly-baseline panel (24×|types| bounded
    * rows; share and peak from exact counts, peak ties break to the
    * earliest hour). */
  val qHourlyProfile = Q(
    "q_hourly_profile",
    """WITH h AS (
      |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
      |    count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, hr, c,
      |    sum(c) OVER (PARTITION BY event_type) AS n,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY c DESC, hr) AS rk
      |  FROM h)
      |SELECT event_type, hr, CAST(c AS BIGINT) AS n_events,
      |  ROUND(CAST(c * 1000000 // n AS DOUBLE) / 1e6, 6) AS share,
      |  CASE WHEN rk = 1 THEN 1 ELSE 0 END AS is_peak_hour
      |FROM m ORDER BY event_type, hr""".stripMargin) { (s, d) =>
    val h = graft.Tables.tsAsNtz(t(s, d, "events"))
      .groupBy(col("event_type"), hour(col("ts")).cast(LongType).as("hr"))
      .agg(count(lit(1)).as("c"))
    val m = h
      .withColumn("n", sum(col("c")).over(Window.partitionBy("event_type")))
      .withColumn("rk", row_number().over(Window.partitionBy("event_type")
        .orderBy(col("c").desc, col("hr"))))
    m.select(col("event_type"), col("hr"),
        col("c").cast(LongType).as("n_events"),
        round(expr("c * 1000000 DIV n").cast(DoubleType) / 1e6, 6)
          .as("share"),
        when(col("rk") === 1, 1).otherwise(0).as("is_peak_hour"))
      .orderBy("event_type", "hr")
  }

  /** Simple exponential smoothing (α = 0.3) of monthly revenue in the
    * weighted-sum closed form S_T = Σ_k w_k·y_{T−k} (w_k = α(1−α)^k,
    * oldest term absorbs the remaining mass) — the level/forecast
    * baseline next to q_forecast_snaive without any sequential loop.
    * Every weight is ·10⁹-quantized per row before the exact
    * integer-product sum; one final division. */
  val qExpSmooth = Q(
    "q_exp_smooth",
    s"""WITH ser AS (
      |  SELECT date_trunc('month', o_orderdate) AS mth,
      |    ${sumCentsSql}
      |      AS cents
      |  FROM orders GROUP BY 1),
      |idx AS (
      |  SELECT cents,
      |    row_number() OVER (ORDER BY mth DESC) - 1 AS lag_k,
      |    count(*) OVER () AS n
      |  FROM ser),
      |wt AS (
      |  SELECT cents, lag_k, n,
      |    CASE WHEN lag_k = n - 1
      |      THEN CAST(round(pow(0.7, lag_k) * 1000000000) AS BIGINT)
      |      ELSE CAST(round(0.3 * pow(0.7, lag_k) * 1000000000)
      |        AS BIGINT) END AS w9
      |  FROM idx),
      |ag AS (
      |  SELECT max(n) AS n, sum(CAST(w9 AS HUGEINT) * cents) AS lvl9,
      |    sum(w9) AS wsum9,
      |    max(CASE WHEN lag_k = 0 THEN cents END) AS last_cents
      |  FROM wt)
      |SELECT CAST(n AS BIGINT) AS n_months,
      |  ROUND(CAST(lvl9 AS DOUBLE) / 1e9 / 100, 2) AS smoothed_level,
      |  ROUND(CAST(last_cents AS DOUBLE) / 100, 2) AS last_actual,
      |  ROUND(CAST(wsum9 AS DOUBLE) / 1e9, 6) AS weight_mass
      |FROM ag""".stripMargin) { (s, d) =>
    val ser = t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
      .agg(sumCents.as("cents"))
    val n = ser.agg(count(lit(1)).as("n"))
    val idx = ser
      .withColumn("lag_k",
        row_number().over(Window.orderBy(col("mth").desc)) - 1)
      .crossJoin(broadcast(n))
    val wt = idx.select(col("cents"), col("lag_k"), col("n"),
      when(col("lag_k") === col("n") - 1,
        round(pow(lit(0.7), col("lag_k")) * 1000000000L).cast(LongType))
        .otherwise(round(lit(0.3) * pow(lit(0.7), col("lag_k"))
          * 1000000000L).cast(LongType)).as("w9"))
    val ag = wt.agg(max(col("n")).as("n"),
      sum(col("w9").cast(big38) * col("cents")).as("lvl9"),
      sum(col("w9")).as("wsum9"),
      max(when(col("lag_k") === 0, col("cents"))).as("last_cents"))
    ag.select(col("n").cast(LongType).as("n_months"),
      round(col("lvl9").cast(DoubleType) / 1e9 / 100, 2)
        .as("smoothed_level"),
      round(col("last_cents").cast(DoubleType) / 100, 2).as("last_actual"),
      round(col("wsum9").cast(DoubleType) / 1e9, 6).as("weight_mass"))
  }

  /** Kendall's W concordance across three independent nation rankings
    * (revenue, customer count, total acctbal): W = 12·S/(m²(n³−n)) —
    * "do our league tables even agree". Ranks are row_numbers on exact
    * integer metrics (nationkey tiebreak, documented); S is an exact
    * integer sum of squared rank-sum deviations (·2 scaling avoids the
    * half-integer mean). */
  val qKendallW = Q(
    "q_kendall_w",
    """WITH rev AS (
      |  SELECT c_nationkey AS nk,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
      |      AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
      |ncust AS (
      |  SELECT c_nationkey AS nk, CAST(count(*) AS HUGEINT) AS v
      |  FROM customer GROUP BY 1),
      |bal AS (
      |  SELECT c_nationkey AS nk,
      |    CAST(sum(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100
      |      AS HUGEINT)) AS HUGEINT) AS v
      |  FROM customer GROUP BY 1),
      |rk AS (
      |  SELECT nk, row_number() OVER (ORDER BY v DESC, nk) AS r
      |  FROM rev
      |  UNION ALL
      |  SELECT nk, row_number() OVER (ORDER BY v DESC, nk) FROM ncust
      |  UNION ALL
      |  SELECT nk, row_number() OVER (ORDER BY v DESC, nk) FROM bal),
      |rs AS (
      |  SELECT nk, sum(r) AS rsum FROM rk GROUP BY nk),
      |ag AS (
      |  SELECT count(*) AS n,
      |    sum((2 * rsum - (SELECT sum(rsum) * 2 // count(*) FROM rs))
      |      * (2 * rsum - (SELECT sum(rsum) * 2 // count(*) FROM rs)))
      |      AS s4
      |  FROM rs)
      |SELECT CAST(n AS BIGINT) AS n_items, 3 AS n_rankings,
      |  ROUND(CAST(s4 AS DOUBLE) / 4 * 12
      |    / (9.0 * (CAST(n AS DOUBLE) * n * n - n)), 6) AS kendall_w
      |FROM ag""".stripMargin) { (s, d) =>
    val rev = t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"))
      .agg(sum(dec2(col("o_totalprice")) * 100).cast(big38).as("v"))
    val ncust = t(s, d, "customer")
      .groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).cast(big38).as("v"))
    val bal = t(s, d, "customer")
      .groupBy(col("c_nationkey").as("nk"))
      .agg(sum((dec2(col("c_acctbal")) * 100).cast(big38)).as("v"))
    def ranked(df: DataFrame): DataFrame =
      df.select(col("nk"),
        row_number().over(Window.orderBy(col("v").desc, col("nk")))
          .cast(LongType).as("r"))
    val rk = ranked(rev).unionByName(ranked(ncust)).unionByName(ranked(bal))
    val rs = rk.groupBy("nk").agg(sum(col("r")).as("rsum"))
    val mean2 = rs.agg(expr("sum(rsum) * 2 DIV count(*)").as("m2"))
    val ag = rs.crossJoin(broadcast(mean2)).agg(
      count(lit(1)).as("n"),
      sum((col("rsum") * 2 - col("m2")) * (col("rsum") * 2 - col("m2")))
        .as("s4"))
    ag.select(col("n").cast(LongType).as("n_items"),
      lit(3).as("n_rankings"),
      round(col("s4").cast(DoubleType) / 4 * 12
        / (lit(9.0) * (col("n").cast(DoubleType) * col("n") * col("n")
          - col("n"))), 6).as("kendall_w"))
  }

  /** Daily open-order concurrency via a sweep line: +1 at order date,
    * −1 after the last line ships, running sum over the day-ordered
    * bounded calendar panel — "how much work is in flight", the interval
    * STABBING profile next to q_interval_overlap's pairwise join. Output
    * is the yearly concurrency summary (mean/peak + peak day). Exact
    * integers end-to-end; the per-order interval reduction is one
    * groupBy. */
  val qConcurrencyProfile = Q(
    "q_concurrency_profile",
    """WITH iv AS (
      |  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS sd,
      |    MAX(CAST(l.l_shipdate AS DATE)) AS ed
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY 1, 2),
      |ev AS (
      |  SELECT sd AS day, 1 AS delta FROM iv
      |  UNION ALL
      |  SELECT ed + 1, -1 FROM iv),
      |dd AS (SELECT day, sum(delta) AS d FROM ev GROUP BY 1),
      |run AS (
      |  SELECT day, sum(d) OVER (ORDER BY day) AS open_orders
      |  FROM dd),
      |yr AS (
      |  SELECT CAST(year(day) AS BIGINT) AS yr,
      |    CAST(max(open_orders) AS BIGINT) AS peak,
      |    CAST(sum(open_orders) // count(*) AS BIGINT) AS mean_open,
      |    min(CASE WHEN open_orders = (SELECT max(r2.open_orders)
      |      FROM run r2 WHERE year(r2.day) = year(run.day))
      |      THEN day END) AS peak_day
      |  FROM run GROUP BY 1)
      |SELECT yr, peak, mean_open, peak_day
      |FROM yr ORDER BY yr""".stripMargin) { (s, d) =>
    val iv = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderdate").cast(DateType).as("sd"))
      .join(t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_shipdate").cast(DateType).as("lsd")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "sd")
      .agg(max(col("lsd")).as("ed"))
    val ev = iv.select(col("sd").as("day"), lit(1).as("delta"))
      .unionByName(iv.select(date_add(col("ed"), 1).as("day"),
        lit(-1).as("delta")))
    val dd = ev.groupBy("day").agg(sum(col("delta")).as("d"))
    val run = dd.withColumn("open_orders",
      sum(col("d")).over(Window.orderBy("day")))
    val withYr = run.withColumn("yr",
      year(col("day")).cast(LongType))
    val peaks = withYr.groupBy("yr")
      .agg(max(col("open_orders")).as("mx"))
    val yr = withYr
      .join(broadcast(peaks.withColumnRenamed("yr", "pyr")),
        col("yr") === col("pyr"))
      .groupBy("yr")
      .agg(max(col("open_orders")).cast(LongType).as("peak"),
        expr("sum(open_orders) DIV count(*)").cast(LongType)
          .as("mean_open"),
        min(when(col("open_orders") === col("mx"), col("day")))
          .as("peak_day"))
    yr.orderBy("yr")
  }

  /** Order fulfilment cycle time per priority: order date → first and
    * last line shipped, day-gap profile (mean via exact integer DIV,
    * nearest-rank p90 via priority-keyed window ranks on exact
    * integers) — the ops-latency panel that justifies the q_join_range
    * shipping-window bounds. */
  val qCycleTime = Q(
    "q_cycle_time",
    """WITH iv AS (
      |  SELECT o.o_orderpriority AS pri,
      |    datediff('day', CAST(o.o_orderdate AS DATE),
      |      MIN(CAST(l.l_shipdate AS DATE))) AS first_gap,
      |    datediff('day', CAST(o.o_orderdate AS DATE),
      |      MAX(CAST(l.l_shipdate AS DATE))) AS last_gap
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate),
      |rk AS (
      |  SELECT pri, first_gap, last_gap,
      |    row_number() OVER (PARTITION BY pri
      |      ORDER BY last_gap, first_gap) AS r,
      |    count(*) OVER (PARTITION BY pri) AS n
      |  FROM iv)
      |SELECT pri,
      |  CAST(max(n) AS BIGINT) AS n_orders,
      |  CAST(sum(first_gap) // max(n) AS BIGINT) AS mean_first_ship_days,
      |  CAST(sum(last_gap) // max(n) AS BIGINT) AS mean_last_ship_days,
      |  CAST(max(CASE WHEN r * 10 <= n * 9 THEN last_gap END) AS BIGINT)
      |    AS p90_last_ship_days
      |FROM rk GROUP BY pri ORDER BY pri""".stripMargin) { (s, d) =>
    val iv = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_orderpriority").as("pri"),
        col("o_orderdate").cast(DateType).as("od"))
      .join(t(s, d, "lineitem").select(col("l_orderkey"),
        col("l_shipdate").cast(DateType).as("lsd")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey", "pri", "od")
      .agg(datediff(min(col("lsd")), col("od")).as("first_gap"),
        datediff(max(col("lsd")), col("od")).as("last_gap"))
    val w = Window.partitionBy("pri").orderBy("last_gap", "first_gap")
    val rk = iv
      .withColumn("r", row_number().over(w).cast(LongType))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy("pri")).cast(LongType))
    rk.groupBy("pri")
      .agg(max(col("n")).as("n_orders"),
        expr("sum(first_gap) DIV max(n)").cast(LongType)
          .as("mean_first_ship_days"),
        expr("sum(last_gap) DIV max(n)").cast(LongType)
          .as("mean_last_ship_days"),
        max(when(col("r") * 10 <= col("n") * 9, col("last_gap")))
          .cast(LongType).as("p90_last_ship_days"))
      .orderBy("pri")
  }

  val all: Seq[Q] = Seq(qCIndex, qUserEntropy, qHourlyProfile,
    qExpSmooth, qKendallW, qConcurrencyProfile, qCycleTime)
}
