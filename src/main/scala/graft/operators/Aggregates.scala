package graft.operators

import graft.Q
import graft.Dsl._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.D aggregations, §2.F sorts/limits, §2.G set operations.
  *
  * All money/quantity sums are decimal (exact, merge-order-independent —
  * the property that makes partial aggregation correct on a real cluster);
  * double-valued statistics are rounded to 6 dp on both engines.
  */
object Aggregates {

  val qAggGlobal = Q(
    "q_agg_global",
    """SELECT count(*) AS cnt,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
      |    AS avg_qty,
      |  CAST(min(l_shipdate) AS DATE) AS min_ship,
      |  CAST(max(l_shipdate) AS DATE) AS max_ship
      |FROM lineitem""".stripMargin) { (s, d) =>
    t(s, d, "lineitem").agg(
      count(lit(1)).as("cnt"),
      asDbl(sum(dec2(col("l_quantity")))).as("sum_qty"),
      avg6(col("l_quantity")).as("avg_qty"),
      min(col("l_shipdate")).cast(DateType).as("min_ship"),
      max(col("l_shipdate")).cast(DateType).as("max_ship"))
  }

  /** TPC-H Q1 shape — the flagship `entry()` query. */
  val qAggGroupby = Q(
    "q_agg_groupby",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
      |    AS sum_disc_price,
      |  ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
      |    AS avg_disc,
      |  count(*) AS cnt
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        asDbl(sum(dec2(col("l_quantity")))).as("sum_qty"),
        asDbl(sum(dec2(col("l_extendedprice")))).as("sum_base_price"),
        asDbl(sum(dec2(col("l_extendedprice")) * (lit(1) - dec2(col("l_discount")))))
          .as("sum_disc_price"),
        avg6(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val qAggHaving = Q(
    "q_agg_having",
    """SELECT c_mktsegment, count(*) AS n_cust,
      |  ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6)
      |    AS avg_bal
      |FROM customer GROUP BY c_mktsegment
      |HAVING count(*) > 20 ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    t(s, d, "customer")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"), avg6(col("c_acctbal")).as("avg_bal"))
      .filter(col("n_cust") > 20)
      .orderBy("c_mktsegment")
  }

  val qAggDistinct = Q(
    "q_agg_distinct",
    """SELECT c_mktsegment, count(DISTINCT o_custkey) AS n_buyers,
      |  count(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(countDistinct(col("o_custkey")).as("n_buyers"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** ROLLUP with GROUPING(): the DataFrame-API rollup + grouping() trips
    * Spark's ambiguous-self-join heuristic on the Expand output; the SQL
    * form builds the identical plan (Expand + HashAggregate) and
    * resolves cleanly. */
  val qAggRollup = Q.sql(
    "q_agg_rollup",
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue,
      |  CAST(GROUPING(r_name) AS INT) AS g_r, CAST(GROUPING(n_name) AS INT) AS g_n
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY g_r, g_n, r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin)

  val qAggCube = Q(
    "q_agg_cube",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_s,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_p
      |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY g_s, g_p, o_orderstatus NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin) { (s, d) =>
    t(s, d, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        grouping("o_orderstatus").cast(IntegerType).as("g_s"),
        grouping("o_orderpriority").cast(IntegerType).as("g_p"))
      .orderBy(col("g_s"), col("g_p"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  }

  /** Polarization (§2.J) IS a variance — this exercises the same kernels. */
  val qAggStats = Q(
    "q_agg_stats",
    """SELECT event_type, ROUND(var_pop(value), 6) AS var_value,
      |  ROUND(stddev_pop(value), 6) AS stddev_value, count(*) AS cnt,
      |  (SELECT ROUND(corr(l_quantity, l_extendedprice), 6) FROM lineitem)
      |    AS corr_qp
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, d) =>
      val corrQp = t(s, d, "lineitem")
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6)
          .as("corr_qp"))
      t(s, d, "events")
        .groupBy("event_type")
        .agg(round(var_pop(col("value")), 6).as("var_value"),
          round(stddev_pop(col("value")), 6).as("stddev_value"),
          count(lit(1)).as("cnt"))
        .crossJoin(broadcast(corrQp))
        .select("event_type", "var_value", "stddev_value", "cnt", "corr_qp")
        .orderBy("event_type")
  }

  /** Higher central moments (skewness, excess kurtosis) built from raw
    * power sums with EXPLICIT identical formulas on both engines —
    * engine-built-in skewness/kurtosis differ in sample-vs-population
    * correction across engines, so the portable form is the moment
    * algebra itself. */
  val qAggMoments = Q(
    "q_agg_moments",
    """SELECT l_returnflag,
      |  ROUND((m3 - 3*m1*m2 + 2*m1*m1*m1)
      |        / pow(m2 - m1*m1, 1.5), 6) AS skew,
      |  ROUND((m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*m1*m1*m1*m1)
      |        / pow(m2 - m1*m1, 2) - 3, 6) AS kurt
      |FROM (
      |  SELECT l_returnflag, avg(l_quantity) AS m1,
      |    avg(l_quantity*l_quantity) AS m2,
      |    avg(l_quantity*l_quantity*l_quantity) AS m3,
      |    avg(l_quantity*l_quantity*l_quantity*l_quantity) AS m4
      |  FROM lineitem GROUP BY l_returnflag) m
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val q = col("l_quantity")
    val m = t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(avg(q).as("m1"), avg(q * q).as("m2"),
        avg(q * q * q).as("m3"), avg(q * q * q * q).as("m4"))
    val (m1, m2, m3, m4) = (col("m1"), col("m2"), col("m3"), col("m4"))
    m.select(col("l_returnflag"),
        round((m3 - lit(3) * m1 * m2 + lit(2) * m1 * m1 * m1) /
          pow(m2 - m1 * m1, 1.5), 6).as("skew"),
        round((m4 - lit(4) * m1 * m3 + lit(6) * m1 * m1 * m2 -
          lit(3) * m1 * m1 * m1 * m1) /
          pow(m2 - m1 * m1, 2) - lit(3), 6).as("kurt"))
      .orderBy("l_returnflag")
  }

  /** Time-series gap filling: a generated date spine LEFT JOINed to daily
    * revenue, absent days coalesced to zero — the resampling primitive
    * every downstream windowed model needs; the spine is `sequence`-based,
    * never a driver loop. */
  val qGapFill = Q(
    "q_gap_fill",
    """SELECT d, coalesce(r, 0.0) AS revenue FROM (
      |  SELECT CAST(unnest(generate_series(DATE '1995-01-01',
      |    DATE '1995-01-31', INTERVAL 1 DAY)) AS DATE) AS d) days
      |LEFT JOIN (
      |  SELECT CAST(o_orderdate AS DATE) AS d,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS r
      |  FROM orders
      |  WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
      |    AND o_orderdate < TIMESTAMP '1995-02-01 00:00:00'
      |  GROUP BY 1) rev USING (d)
      |ORDER BY d""".stripMargin) { (s, d) =>
    val spine = s.range(1)
      .select(explode(sequence(
        to_date(lit("1995-01-01")), to_date(lit("1995-01-31")),
        expr("interval 1 day"))).as("d"))
    val rev = t(s, d, "orders")
      .filter(col("o_orderdate") >= ts("1995-01-01 00:00:00") &&
        col("o_orderdate") < ts("1995-02-01 00:00:00"))
      .groupBy(col("o_orderdate").cast(DateType).as("d"))
      .agg(asDbl(sum(dec2(col("o_totalprice")))).as("r"))
    spine.join(rev, Seq("d"), "left")
      .select(col("d"), coalesce(col("r"), lit(0.0)).as("revenue"))
      .orderBy("d")
  }

  /** HLL sketch — not DuckDB-comparable (different sketch); the ScalaTest
    * suite asserts ±5% of exact NDV instead. */
  val qAggApproxDistinct = Q.noOracle("q_agg_approx_distinct") { (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_suppkey")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("cnt"))
      .orderBy("l_suppkey")
  }

  /** Sketch-based quantiles — approx algorithm differs per engine, so
    * rows-only; the test suite bounds error vs the exact percentile. */
  val qAggApproxQuantile = Q.noOracle("q_agg_approx_quantile") { (s, d) =>
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
        .as("p50_approx"),
        percentile_approx(col("l_extendedprice"), lit(0.9), lit(1000))
          .as("p90_approx"))
      .orderBy("l_returnflag")
  }

  val qAggMedianPct = Q(
    "q_agg_median_pct",
    """-- ORACLE-SCALE SEMANTICS ONLY: past ApproxGate.pctRowThreshold base
      |-- rows the Spark side switches to a mergeable approx_percentile
      |-- sketch; this exact form is what's compared at oracle scales.
      |SELECT c_mktsegment, ROUND(median(c_acctbal), 6) AS med_bal,
      |  ROUND(quantile_cont(c_acctbal, 0.5), 6) AS p50_bal,
      |  ROUND(quantile_cont(c_acctbal, 0.9), 6) AS p90_bal
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
    (s, d) => {
      // Segment groups are data-sized → the exact value-map percentile is
      // scale-gated (graft.ApproxGate): exact at oracle scales, sketch
      // past the threshold. median ≡ percentile 0.5, so it gates too.
      val cust = t(s, d, "customer")
      val ap = graft.ApproxGate.useApprox(s, d, "customer")
      cust
        .groupBy("c_mktsegment")
        .agg(round(graft.ApproxGate.pct(col("c_acctbal"), 0.5, ap), 6)
            .as("med_bal"),
          round(graft.ApproxGate.pct(col("c_acctbal"), 0.5, ap), 6)
            .as("p50_bal"),
          round(graft.ApproxGate.pct(col("c_acctbal"), 0.9, ap), 6)
            .as("p90_bal"))
        .orderBy("c_mktsegment")
    }
  }

  /** GROUPING SETS (beyond rollup/cube): SQL-only surface in Spark, same
    * Expand-based plan. */
  val qAggGroupingSets = Q.sql(
    "q_agg_grouping_sets",
    """SELECT o_orderstatus, o_orderpriority, count(*) AS cnt,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue,
      |  CAST(GROUPING(o_orderstatus) AS INT) AS g_s,
      |  CAST(GROUPING(o_orderpriority) AS INT) AS g_p
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      |ORDER BY g_s, g_p, o_orderstatus NULLS FIRST,
      |  o_orderpriority NULLS FIRST""".stripMargin)

  /** Correlated scalar subquery — Catalyst decorrelates it into a join
    * (RewriteCorrelatedScalarSubquery), so execution stays set-based. */
  val qSubqueryScalar = Q.sql(
    "q_subquery_scalar",
    """SELECT o_orderkey, o_totalprice, cust_avg FROM (
      |  SELECT o_orderkey, o_totalprice,
      |    (SELECT ROUND(CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2)))
      |                       AS DOUBLE) / count(*), 6)
      |     FROM orders o2 WHERE o2.o_custkey = o1.o_custkey) AS cust_avg
      |  FROM orders o1) q
      |WHERE o_totalprice > 1.5 * cust_avg
      |ORDER BY o_orderkey""".stripMargin)

  /** IN-subquery — rewritten to a left-semi join (RewritePredicateSubquery). */
  val qSubqueryIn = Q.sql(
    "q_subquery_in",
    """SELECT c_custkey, c_name FROM customer
      |WHERE c_custkey IN
      |  (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin)

  val qOrderbyLimit = Q(
    "q_orderby_limit",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin) { (s, d) =>
    t(s, d, "orders")
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(25)
  }

  val qSortMulti = Q(
    "q_sort_multi",
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier
      |ORDER BY s_nationkey ASC, s_acctbal DESC, s_suppkey""".stripMargin) {
    (s, d) =>
      t(s, d, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        .orderBy(col("s_nationkey").asc, col("s_acctbal").desc, col("s_suppkey"))
  }

  /** Linear-regression aggregates (closed-form moments in both engines;
    * round-4 absorbs accumulation-order noise at these magnitudes). */
  val qAggRegression = Q(
    "q_agg_regression",
    """SELECT l_returnflag,
      |  ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      |  ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
      |  ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
      |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
            .as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
            .as("intercept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6)
            .as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
        .orderBy("l_returnflag")
  }

  val qAggBitops = Q(
    "q_agg_bitops",
    """SELECT l_returnflag,
      |  CAST(bit_and(CAST(l_orderkey % 256 AS INT)) AS INT) AS band,
      |  CAST(bit_or(CAST(l_orderkey % 256 AS INT)) AS INT) AS bor,
      |  CAST(bit_xor(CAST(l_orderkey % 256 AS INT)) AS INT) AS bxor,
      |  count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
    (s, d) =>
      val k = (col("l_orderkey") % 256).cast(IntegerType)
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(bit_and(k).as("band"), bit_or(k).as("bor"), bit_xor(k).as("bxor"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
  }

  /** Deterministic string aggregation: collect_list is order-unstable, so
    * sort_array pins it (oracle: string_agg ... ORDER BY). */
  val qStringAgg = Q(
    "q_string_agg",
    """SELECT c_mktsegment,
      |  string_agg(c_name, ',' ORDER BY c_name) AS names
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
    (s, d) =>
      t(s, d, "customer")
        .groupBy("c_mktsegment")
        .agg(array_join(sort_array(collect_list(col("c_name"))), ",")
          .as("names"))
        .orderBy("c_mktsegment")
  }

  /** arg-min/max + conditional/boolean aggregates (picker keys unique ⇒
    * deterministic). */
  val qAggArgminmax = Q(
    "q_agg_argminmax",
    """SELECT c_mktsegment,
      |  max_by(c_name, c_custkey) AS last_cust,
      |  min_by(c_name, c_custkey) AS first_cust,
      |  CAST(count_if(c_acctbal > 5000) AS BIGINT) AS n_rich,
      |  bool_or(c_acctbal > 9000) AS any_very_rich,
      |  bool_and(c_acctbal > -1000) AS all_above_floor
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
    (s, d) =>
      t(s, d, "customer")
        .groupBy("c_mktsegment")
        .agg(max_by(col("c_name"), col("c_custkey")).as("last_cust"),
          min_by(col("c_name"), col("c_custkey")).as("first_cust"),
          count_if(col("c_acctbal") > 5000).as("n_rich"),
          bool_or(col("c_acctbal") > 9000).as("any_very_rich"),
          bool_and(col("c_acctbal") > -1000).as("all_above_floor"))
        .orderBy("c_mktsegment")
  }

  /** The antidote append ([R; X]) is exactly a UNION ALL (SURVEY §2.G). */
  val qUnionAll = Q(
    "q_union_all",
    """SELECT custkey, count(*) AS n FROM (
      |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      |  UNION ALL
      |  SELECT o_custkey FROM orders WHERE o_orderstatus = 'O') u
      |GROUP BY custkey ORDER BY custkey""".stripMargin) { (s, d) =>
    val o = t(s, d, "orders")
    o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("custkey"))
      .unionAll(o.filter(col("o_orderstatus") === "O")
        .select(col("o_custkey").as("custkey")))
      .groupBy("custkey")
      .agg(count(lit(1)).as("n"))
      .orderBy("custkey")
  }

  val qUnionDistinct = Q(
    "q_union_distinct",
    """SELECT DISTINCT k FROM (
      |  SELECT c_nationkey AS k FROM customer
      |  UNION ALL SELECT s_nationkey FROM supplier) u ORDER BY k""".stripMargin) {
    (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("k"))
        .union(t(s, d, "supplier").select(col("s_nationkey").as("k")))
        .distinct()
        .orderBy("k")
  }

  val qIntersect = Q(
    "q_intersect",
    """SELECT k FROM (
      |  SELECT c_nationkey AS k FROM customer
      |  INTERSECT SELECT s_nationkey FROM supplier) q ORDER BY k""".stripMargin) {
    (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("k"))
        .intersect(t(s, d, "supplier").select(col("s_nationkey").as("k")))
        .orderBy("k")
  }

  val qExcept = Q(
    "q_except",
    """SELECT k FROM (
      |  SELECT c_nationkey AS k FROM customer
      |  EXCEPT SELECT s_nationkey FROM supplier) q ORDER BY k""".stripMargin) {
    (s, d) =>
      t(s, d, "customer").select(col("c_nationkey").as("k"))
        .except(t(s, d, "supplier").select(col("s_nationkey").as("k")))
        .orderBy("k")
  }

  /** Bag-semantics INTERSECT ALL (multiplicity = min of the two sides) —
    * the multiset complement of q_intersect's set form; Spark's
    * intersectAll plans the same aggregate+join shape DuckDB executes. */
  val qIntersectAll = Q(
    "q_intersect_all",
    """SELECT k FROM (
      |  SELECT c_nationkey AS k FROM customer
      |  INTERSECT ALL SELECT s_nationkey FROM supplier) q
      |ORDER BY k""".stripMargin) { (s, d) =>
    t(s, d, "customer").select(col("c_nationkey").as("k"))
      .intersectAll(t(s, d, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k")
  }

  /** Bag-semantics EXCEPT ALL (multiplicity = left − right, floored at
    * zero) — the multiset difference used for "remove one occurrence per
    * match" reconciliation jobs. */
  val qExceptAll = Q(
    "q_except_all",
    """SELECT k FROM (
      |  SELECT c_nationkey AS k FROM customer
      |  EXCEPT ALL SELECT s_nationkey FROM supplier) q
      |ORDER BY k""".stripMargin) { (s, d) =>
    t(s, d, "customer").select(col("c_nationkey").as("k"))
      .exceptAll(t(s, d, "supplier").select(col("s_nationkey").as("k")))
      .orderBy("k")
  }

  /** Percent-of-total done the scale-safe way: the grand total is a
    * one-row aggregate broadcast back onto the per-group rows — NOT a
    * `sum() OVER ()` empty-partition window (which funnels every row
    * through one task). Exact decimal sums; one double division each,
    * rounded 6. */
  val qRevenueShare = Q(
    "q_revenue_share",
    """WITH rev AS (
      |  SELECT n_name,
      |    SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |        (1 - CAST(l_discount AS DECIMAL(18,2)))) AS r
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY n_name),
      |tot AS (SELECT SUM(r) AS t FROM rev)
      |SELECT n_name, CAST(r AS DOUBLE) AS revenue,
      |  ROUND(CAST(r AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
      |FROM rev, tot ORDER BY n_name""".stripMargin) { (s, d) =>
    val rev = t(s, d, "lineitem")
      .join(broadcast(t(s, d, "supplier")),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(t(s, d, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(dec2(col("l_extendedprice")) *
        (lit(1) - dec2(col("l_discount")))).as("r"))
    val tot = rev.agg(sum(col("r")).as("t"))
    rev.crossJoin(broadcast(tot))
      .select(col("n_name"), asDbl(col("r")).as("revenue"),
        round(asDbl(col("r")) / asDbl(col("t")), 6).as("share"))
      .orderBy("n_name")
  }

  val all: Seq[Q] = Seq(
    qRevenueShare,
    qAggGlobal, qAggGroupby, qAggHaving, qAggDistinct, qAggRollup, qAggCube,
    qAggGroupingSets, qSubqueryScalar, qSubqueryIn,
    qAggStats, qAggMoments, qGapFill,
    qAggApproxDistinct, qAggApproxQuantile, qAggMedianPct,
    qAggRegression, qAggBitops, qStringAgg, qAggArgminmax,
    qOrderbyLimit, qSortMulti,
    qUnionAll, qUnionDistinct, qIntersect, qExcept,
    qIntersectAll, qExceptAll)
}
