package graft.operators

import graft.Q
import graft.Dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distribution-shape and paired-sample statistics (round-7 continuation):
  * Jarque–Bera normality, Brown–Forsythe variance homogeneity, Wilson
  * binomial intervals, McNemar's paired test, and per-group trimmed means.
  *
  * Same determinism contract as the rest of the registry: raw moment sums
  * stay exact (DECIMAL(38) / HUGEINT) at any merge order; doubles appear
  * only in final per-row expressions written with IDENTICAL operation
  * order on both engines; cross-group assemblies follow the q_anova
  * round-to-integer-before-summing idiom so no double is ever aggregated.
  */
object StatQueries {

  private val big38 = DecimalType(38, 0)

  /** Orders joined to their customer's nation — the shared stats
    * stratification. Both dims broadcast (25 / 1.5k·sf rows). */
  private def ordersByNation(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("o_orderkey"),
        priceCents(col("o_totalprice")).as("cents"))

  /** Jarque–Bera normality test per nation on order totals. Values are
    * quantized to whole dollars (cents DIV 100) so the 4th raw moment sum
    * stays inside DECIMAL(38)/HUGEINT up to sf≈100 (x ≤ 6e5 ⇒ Σx⁴ ≤
    * 1.3e23·rows). Central moments come from the raw sums in DOUBLE with
    * the identical expression DAG on both engines — each nation's row is
    * assembled independently, so no double is ever summed across rows.
    * The data-quality use: flag strata whose value distribution departs
    * from the shape the downstream model assumes. */
  val qJarqueBera = Q(
    "q_jarque_bera",
    s"""WITH x AS (
      |  SELECT n_name,
      |    ${priceCentsSql("o_totalprice")}
      |      // 100 AS v
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |g AS (
      |  SELECT n_name, CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(v AS HUGEINT)) AS s1,
      |    sum(CAST(v AS HUGEINT) * v) AS s2,
      |    sum(CAST(v AS HUGEINT) * v * v) AS s3,
      |    sum(CAST(v AS HUGEINT) * v * v * v) AS s4
      |  FROM x GROUP BY n_name),
      |r AS (
      |  SELECT n_name, n,
      |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
      |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
      |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
      |    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
      |  FROM g),
      |c AS (
      |  SELECT n_name, n, m,
      |    r2 - m * m AS m2,
      |    r3 - 3 * m * r2 + 2 * m * m * m AS m3,
      |    r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m AS m4
      |  FROM r),
      |k AS (
      |  SELECT n_name, n, m2,
      |    m3 / (m2 * sqrt(m2)) AS skew,
      |    m4 / (m2 * m2) - 3 AS ex_kurt
      |  FROM c)
      |SELECT n_name, CAST(n AS BIGINT) AS n,
      |  ROUND(skew, 6) AS skewness, ROUND(ex_kurt, 6) AS ex_kurtosis,
      |  ROUND(CAST(n AS DOUBLE) / 6
      |    * (skew * skew + ex_kurt * ex_kurt / 4), 6) AS jb
      |FROM k ORDER BY n_name""".stripMargin) { (s, d) =>
    val x = ordersByNation(s, d)
      .select(col("n_name"), expr("cents DIV 100").as("v"))
    val g = x.groupBy("n_name").agg(
      count(lit(1)).cast(big38).as("n"),
      sum(col("v").cast(big38)).as("s1"),
      sum(col("v").cast(big38) * col("v")).as("s2"),
      sum(col("v").cast(big38) * col("v") * col("v")).as("s3"),
      sum(col("v").cast(big38) * col("v") * col("v") * col("v")).as("s4"))
    val r = g.select(col("n_name"), col("n"),
      (col("s1").cast(DoubleType) / col("n").cast(DoubleType)).as("m"),
      (col("s2").cast(DoubleType) / col("n").cast(DoubleType)).as("r2"),
      (col("s3").cast(DoubleType) / col("n").cast(DoubleType)).as("r3"),
      (col("s4").cast(DoubleType) / col("n").cast(DoubleType)).as("r4"))
    val c = r.select(col("n_name"), col("n"), col("m"),
      (col("r2") - col("m") * col("m")).as("m2"),
      (col("r3") - lit(3) * col("m") * col("r2")
        + lit(2) * col("m") * col("m") * col("m")).as("m3"),
      (col("r4") - lit(4) * col("m") * col("r3")
        + lit(6) * col("m") * col("m") * col("r2")
        - lit(3) * col("m") * col("m") * col("m") * col("m")).as("m4"))
    val k = c.select(col("n_name"), col("n"), col("m2"),
      (col("m3") / (col("m2") * sqrt(col("m2")))).as("skew"),
      (col("m4") / (col("m2") * col("m2")) - 3).as("ex_kurt"))
    k.select(col("n_name"), col("n").cast(LongType).as("n"),
      round(col("skew"), 6).as("skewness"),
      round(col("ex_kurt"), 6).as("ex_kurtosis"),
      round(col("n").cast(DoubleType) / 6
        * (col("skew") * col("skew")
          + col("ex_kurt") * col("ex_kurt") / 4), 6).as("jb"))
      .orderBy("n_name")
  }

  /** Brown–Forsythe variance-homogeneity test across order priorities:
    * absolute deviations from the per-group MEDIAN (scale-gated via
    * [[graft.ApproxGate]]: exact — cross-engine-stable — at oracle
    * scales, mergeable sketch past the threshold), quantized to
    * whole cents (the deviation of 2-dp money is cent-integral, so
    * round() only strips float noise), then the q_anova assembly on the
    * integer deviations: per-group exact HUGEINT sums, per-group double
    * divisions rounded back to HUGEINT before the k-row cross-group sum.
    * The guard a heteroscedasticity-sensitive downstream (ANOVA, OLS)
    * runs before trusting its own F-tests. */
  val qLevene = Q(
    "q_levene",
    s"""-- ORACLE-SCALE SEMANTICS ONLY: past ApproxGate.pctRowThreshold base
      |-- rows the Spark side switches to a mergeable approx_percentile
      |-- sketch; this exact form is what's compared at oracle scales.
      |WITH x AS (
      |  SELECT o_orderpriority AS prio, o_totalprice AS v FROM orders),
      |med AS (SELECT prio, median(v) AS med FROM x GROUP BY prio),
      |z AS (
      |  SELECT x.prio,
      |    CAST(round(abs(x.v - med.med) * 100) AS BIGINT) AS z
      |  FROM x JOIN med ON x.prio = med.prio),
      |g AS (
      |  SELECT prio, CAST(count(*) AS HUGEINT) AS ng,
      |    sum(CAST(z AS HUGEINT)) AS sg,
      |    sum(CAST(z AS HUGEINT) * z) AS qg
      |  FROM z GROUP BY prio),
      |${AnalyticsQueries.anovaSumsSql}
      |SELECT CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n,
      |  ROUND(ssb / (k - 1) / (ssw / (n - k)), 6) AS f_stat
      |FROM f""".stripMargin) { (s, d) =>
    val x = t(s, d, "orders")
      .select(col("o_orderpriority").as("prio"), col("o_totalprice").as("v"))
    // priority groups are data-sized → the centering median is
    // scale-gated (graft.ApproxGate): exact at oracle scales, sketch
    // past the threshold (the deviations it centers are robust to the
    // sketch's ~0.01%-rank error)
    val ap = graft.ApproxGate.useApprox(s, d, "orders")
    val med = x.groupBy("prio")
      .agg(graft.ApproxGate.pct(col("v"), 0.5, ap).as("med"))
    val z = x.join(broadcast(med), "prio")
      .select(col("prio"),
        round(abs(col("v") - col("med")) * 100).cast(LongType).as("z"))
    val g = z.groupBy("prio").agg(
      count(lit(1)).cast(big38).as("ng"),
      sum(col("z").cast(big38)).as("sg"),
      sum(col("z").cast(big38) * col("z")).as("qg"))
    val f = AnalyticsQueries.anovaSums(g)
    f.select(col("k").cast(IntegerType).as("k"),
      col("n").cast(LongType).as("n"),
      round(col("ssb") / (col("k") - 1)
        / (col("ssw") / (col("n") - col("k"))), 6).as("f_stat"))
  }

  /** Wilson score confidence interval per nation for the urgent-order
    * share. Everything up to the final per-row expression is an exact
    * integer count; z is a fixed literal so both engines evaluate the
    * identical closed form. The small-sample-safe rate interval a
    * per-stratum quality dashboard should show instead of ±1.96·SE. */
  val qBinomialCi = Q(
    "q_binomial_ci",
    """WITH g AS (
      |  SELECT n_name, count(*) AS n,
      |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
      |      AS k
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name),
      |w AS (
      |  SELECT n_name, n, k,
      |    CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
      |    1.959964 * 1.959964 / CAST(n AS DOUBLE) AS z2n
      |  FROM g)
      |SELECT n_name, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
      |  ROUND(p, 6) AS rate,
      |  ROUND((p + z2n / 2 - 1.959964
      |    * sqrt(p * (1 - p) / CAST(n AS DOUBLE) + z2n * z2n / 4))
      |    / (1 + z2n), 6) AS lo,
      |  ROUND((p + z2n / 2 + 1.959964
      |    * sqrt(p * (1 - p) / CAST(n AS DOUBLE) + z2n * z2n / 4))
      |    / (1 + z2n), 6) AS hi
      |FROM w ORDER BY n_name""".stripMargin) { (s, d) =>
    val g = t(s, d, "orders").select("o_custkey", "o_orderpriority")
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0))
          .as("k"))
    val zLit = lit(1.959964)
    val w = g.select(col("n_name"), col("n"), col("k"),
      (col("k").cast(DoubleType) / col("n").cast(DoubleType)).as("p"),
      (zLit * zLit / col("n").cast(DoubleType)).as("z2n"))
    w.select(col("n_name"), col("n").cast(LongType).as("n"),
      col("k").cast(LongType).as("k"),
      round(col("p"), 6).as("rate"),
      round((col("p") + col("z2n") / 2 - zLit
        * sqrt(col("p") * (lit(1) - col("p")) / col("n").cast(DoubleType)
          + col("z2n") * col("z2n") / 4)) / (lit(1) + col("z2n")), 6).as("lo"),
      round((col("p") + col("z2n") / 2 + zLit
        * sqrt(col("p") * (lit(1) - col("p")) / col("n").cast(DoubleType)
          + col("z2n") * col("z2n") / 4)) / (lit(1) + col("z2n")), 6).as("hi"))
      .orderBy("n_name")
  }

  /** McNemar's paired test over two document-quality rules evaluated on
    * the SAME corpus rows (rule A: n_chars > 300; rule B: whitespace
    * count > 55 — both near the fixture median, so the discordant cells
    * are populated). Only the two disagreement counts matter; the
    * continuity-corrected χ² is one closed-form double. The labeler- /
    * filter-comparison primitive: "did swapping rule A for rule B change
    * what gets kept?" with pairing (same docs) taken into account. */
  val qMcnemar = Q(
    "q_mcnemar",
    """WITH x AS (
      |  SELECT CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS a,
      |    CASE WHEN length(text) - length(replace(text, ' ', '')) > 55
      |      THEN 1 ELSE 0 END AS b
      |  FROM documents),
      |m AS (
      |  SELECT count(*) AS n,
      |    sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS b10,
      |    sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS b01,
      |    sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS both_keep
      |  FROM x)
      |SELECT CAST(n AS BIGINT) AS n, CAST(b10 AS BIGINT) AS a_only,
      |  CAST(b01 AS BIGINT) AS b_only, CAST(both_keep AS BIGINT) AS both,
      |  ROUND((abs(CAST(b10 AS DOUBLE) - CAST(b01 AS DOUBLE)) - 1)
      |    * (abs(CAST(b10 AS DOUBLE) - CAST(b01 AS DOUBLE)) - 1)
      |    / CAST(b10 + b01 AS DOUBLE), 6) AS chi2
      |FROM m""".stripMargin) { (s, d) =>
    val x = t(s, d, "documents").select(
      when(col("n_chars") > 300, 1).otherwise(0).as("a"),
      when(length(col("text"))
        - length(regexp_replace(col("text"), " ", "")) > 55, 1)
        .otherwise(0).as("b"))
    val m = x.agg(count(lit(1)).as("n"),
      sum(when(col("a") === 1 && col("b") === 0, 1).otherwise(0)).as("b10"),
      sum(when(col("a") === 0 && col("b") === 1, 1).otherwise(0)).as("b01"),
      sum(when(col("a") === 1 && col("b") === 1, 1).otherwise(0))
        .as("both_keep"))
    m.select(col("n").cast(LongType).as("n"),
      col("b10").cast(LongType).as("a_only"),
      col("b01").cast(LongType).as("b_only"),
      col("both_keep").cast(LongType).as("both"),
      round((abs(col("b10").cast(DoubleType) - col("b01").cast(DoubleType))
        - 1)
        * (abs(col("b10").cast(DoubleType) - col("b01").cast(DoubleType))
          - 1)
        / (col("b10") + col("b01")).cast(DoubleType), 6).as("chi2"))
  }

  /** 10% two-sided trimmed mean of order value per priority. Per-group
    * ranks come from ONE GlobalRank pass ordered by (prio, cents, key) —
    * group-local rank = global rank − broadcast per-group offset, so
    * there is no per-group window over the fact table (5 groups would
    * mean 5 data-sized window partitions at 100 TB). The kept-slice sum
    * is exact integer cents; one double division at the end. The robust
    * location estimate for heavy-tailed value columns. */
  val qTrimmedMean = Q(
    "q_trimmed_mean",
    s"""WITH x AS (
      |  SELECT o_orderpriority AS prio,
      |    ${priceCentsSql("o_totalprice")}
      |      AS cents,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |      ORDER BY ${priceCentsSql("o_totalprice")}, o_orderkey) AS rk,
      |    count(*) OVER (PARTITION BY o_orderpriority) AS ng
      |  FROM orders),
      |kept AS (
      |  SELECT prio, cents FROM x
      |  WHERE rk > ng // 10 AND rk <= ng - ng // 10)
      |SELECT prio, count(*) AS n_kept,
      |  ROUND(CAST(sum(CAST(cents AS HUGEINT)) AS DOUBLE)
      |    / count(*) / 100, 6) AS trimmed_mean
      |FROM kept GROUP BY prio ORDER BY prio""".stripMargin) { (s, d) =>
    val x = t(s, d, "orders").select(
      col("o_orderpriority").as("prio"), col("o_orderkey"),
      priceCents(col("o_totalprice")).as("cents"))
      // GlobalRank range-buckets on a numeric leading sort column; the
      // priority's leading digit orders identically to the full string,
      // so (digit·10¹² + cents) is a single sortable composite (cents <
      // 10⁸ keeps the fields disjoint)
      .withColumn("skey",
        substring(col("prio"), 1, 1).cast(LongType) * lit(1000000000000L)
          + col("cents"))
    val (ranked, _) = graft.plans.GlobalRank.withGlobalRowNumber(
      x, "grk", 32, col("skey"), col("o_orderkey"))
    // group-local rank: global rank minus the group's first rank + 1;
    // offsets are a 5-row broadcast, never a per-group window
    val offs = ranked.groupBy("prio")
      .agg(min(col("grk")).as("off"), count(lit(1)).as("ng"))
    val kept = ranked.join(broadcast(offs), "prio")
      .select(col("prio"), col("cents"), col("ng"),
        (col("grk") - col("off") + 1).as("rk"))
      .filter(col("rk") > expr("ng DIV 10")
        && col("rk") <= col("ng") - expr("ng DIV 10"))
    kept.groupBy("prio")
      .agg(count(lit(1)).as("n_kept"),
        round(sum(col("cents").cast(big38)).cast(DoubleType)
          / count(lit(1)) / 100, 6).as("trimmed_mean"))
      .orderBy("prio")
  }

  /** Simpson's-paradox screen: the discount→quantity association per
    * return flag vs pooled across flags. All five co-moment sums are
    * exact integers (discount is 2-dp ⇒ percent units are integral;
    * quantity is integral), the pooled sums are exact integer adds of
    * the 3 per-group rows, and each OLS slope is one double division.
    * A per-group/pooled sign disagreement is the classic aggregation
    * trap a segmentation dashboard must surface before anyone acts on
    * the pooled number. */
  val qSimpsons = Q(
    "q_simpsons",
    """WITH x AS (
      |  SELECT l_returnflag AS grp,
      |    CAST(round(l_discount * 100) AS BIGINT) AS xd,
      |    CAST(l_quantity AS BIGINT) AS yq
      |  FROM lineitem),
      |g AS (
      |  SELECT grp, CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(xd AS HUGEINT)) AS sx, sum(CAST(yq AS HUGEINT)) AS sy,
      |    sum(CAST(xd AS HUGEINT) * yq) AS sxy,
      |    sum(CAST(xd AS HUGEINT) * xd) AS sxx
      |  FROM x GROUP BY grp),
      |p AS (
      |  SELECT sum(n) AS n, sum(sx) AS sx, sum(sy) AS sy,
      |    sum(sxy) AS sxy, sum(sxx) AS sxx
      |  FROM g),
      |sl AS (
      |  SELECT g.grp, g.n,
      |    CAST(g.n * g.sxy - g.sx * g.sy AS DOUBLE)
      |      / CAST(g.n * g.sxx - g.sx * g.sx AS DOUBLE) AS slope,
      |    CAST(p.n * p.sxy - p.sx * p.sy AS DOUBLE)
      |      / CAST(p.n * p.sxx - p.sx * p.sx AS DOUBLE) AS pooled
      |  FROM g CROSS JOIN p)
      |SELECT grp, CAST(n AS BIGINT) AS n, ROUND(slope, 6) AS slope,
      |  ROUND(pooled, 6) AS pooled_slope,
      |  CASE WHEN (slope > 0) <> (pooled > 0) THEN 1 ELSE 0 END
      |    AS sign_flip
      |FROM sl ORDER BY grp""".stripMargin) { (s, d) =>
    val x = t(s, d, "lineitem").select(
      col("l_returnflag").as("grp"),
      round(col("l_discount") * 100).cast(LongType).as("xd"),
      col("l_quantity").cast(LongType).as("yq"))
    val g = x.groupBy("grp").agg(
      count(lit(1)).cast(big38).as("n"),
      sum(col("xd").cast(big38)).as("sx"),
      sum(col("yq").cast(big38)).as("sy"),
      sum(col("xd").cast(big38) * col("yq")).as("sxy"),
      sum(col("xd").cast(big38) * col("xd")).as("sxx"))
    val p = g.agg(sum("n").as("pn"), sum("sx").as("psx"),
      sum("sy").as("psy"), sum("sxy").as("psxy"), sum("sxx").as("psxx"))
    val sl = g.crossJoin(broadcast(p)).select(col("grp"), col("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
        / (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType))
        .as("slope"),
      ((col("pn") * col("psxy") - col("psx") * col("psy")).cast(DoubleType)
        / (col("pn") * col("psxx") - col("psx") * col("psx"))
          .cast(DoubleType)).as("pooled"))
    sl.select(col("grp"), col("n").cast(LongType).as("n"),
      round(col("slope"), 6).as("slope"),
      round(col("pooled"), 6).as("pooled_slope"),
      when((col("slope") > 0) =!= (col("pooled") > 0), 1).otherwise(0)
        .as("sign_flip"))
      .orderBy("grp")
  }

  /** The q_missing_days oracle, also the oracle of its incremental
    * twin q_stream_days. */
  private[operators] val missingDaysSql =
    """WITH g AS (
      |  SELECT event_type, CAST(min(CAST(ts AS DATE)) AS DATE) AS d_min,
      |    CAST(max(CAST(ts AS DATE)) AS DATE) AS d_max,
      |    count(DISTINCT CAST(ts AS DATE)) AS days_observed
      |  FROM events GROUP BY event_type)
      |SELECT event_type, d_min, d_max,
      |  date_diff('day', d_min, d_max) + 1 AS days_expected,
      |  days_observed,
      |  date_diff('day', d_min, d_max) + 1 - days_observed
      |    AS days_missing,
      |  ROUND(CAST(days_observed AS DOUBLE)
      |    / CAST(date_diff('day', d_min, d_max) + 1 AS DOUBLE), 6)
      |    AS coverage
      |FROM g ORDER BY event_type""".stripMargin

  /** Calendar-completeness audit per event type: expected days between
    * the type's first and last event vs days actually observed — the
    * "did ingestion silently skip days?" freshness check that catches
    * holes a row-count monitor can't see. One scan, two exact date
    * aggregates; no day-grid explode is needed because only the COUNT
    * of missing days is reported, not the days themselves. */
  val qMissingDays = Q(
    "q_missing_days",
    missingDaysSql) { (s, d) =>
    val g = t(s, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type")
      .agg(min(col("day")).as("d_min"), max(col("day")).as("d_max"),
        countDistinct(col("day")).as("days_observed"))
    graft.streaming.StreamOps.dayCoverage(g)
  }

  /** Degree assortativity of the thresholded co-purchase graph (the
    * q_degree_hist edge definition): Pearson r between endpoint degrees
    * over the directed edge list (each undirected edge counted both
    * ways — Newman's convention). Candidate edges come from the bounded
    * per-order self-join, never all-pairs; the Pearson sums are exact
    * HUGEINT. Hub-hub vs hub-leaf wiring decides whether hub failures
    * cascade, and whether degree-based sampling is biased. */
  val qAssortativity = Q(
    "q_assortativity",
    s"""WITH ${PairStore.edgeCte()},
      |deg AS (
      |  SELECT v, count(*) AS deg FROM (
      |    SELECT src AS v FROM e UNION ALL SELECT dst FROM e) u
      |  GROUP BY v),
      |de AS (
      |  SELECT u, v FROM (
      |    SELECT src AS u, dst AS v FROM e
      |    UNION ALL SELECT dst AS u, src AS v FROM e) b),
      |jk AS (
      |  SELECT CAST(du.deg AS HUGEINT) AS j, CAST(dv.deg AS HUGEINT) AS k
      |  FROM de JOIN deg du ON de.u = du.v JOIN deg dv ON de.v = dv.v),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(j) AS sj, sum(k) AS sk,
      |    sum(j * k) AS sjk, sum(j * j) AS sj2, sum(k * k) AS sk2
      |  FROM jk)
      |SELECT CAST(n // 2 AS BIGINT) AS n_edges,
      |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
      |  ROUND(CAST(n * sjk - sj * sk AS DOUBLE)
      |    / sqrt(CAST(n * sj2 - sj * sj AS DOUBLE)
      |      * CAST(n * sk2 - sk * sk AS DOUBLE)), 6) AS assortativity
      |FROM m""".stripMargin) { (s, d) =>
    // support ≥ 2 edges off the shared, checkpoint-backed PairStore
    // (n_dist = this query's distinct co-occurrence count); e feeds deg
    // (×2) and de (×2), each re-reading store blocks, not the fact join
    val e = PairStore.edges(s, d)
    val deg = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val de = e.select(col("src").as("u"), col("dst").as("v"))
      .unionByName(e.select(col("dst").as("u"), col("src").as("v")))
    // vertex-keyed equi-joins (AQE broadcasts the degree table when it
    // fits; the joins stay shuffle-correct when it doesn't at 100 TB)
    val jk = de
      .join(deg.select(col("v").as("u"), col("deg").as("ju")), "u")
      .join(deg.select(col("v"), col("deg").as("kv")), "v")
      .select(col("ju").cast(big38).as("j"), col("kv").cast(big38).as("k"))
    val m = jk.agg(count(lit(1)).cast(big38).as("n"),
      sum("j").as("sj"), sum("k").as("sk"),
      sum(col("j") * col("k")).as("sjk"),
      sum(col("j") * col("j")).as("sj2"),
      sum(col("k") * col("k")).as("sk2"))
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    m.crossJoin(broadcast(nNodes)).select(
      expr("CAST(n / 2 AS BIGINT)").as("n_edges"),
      col("n_nodes"),
      round((col("n") * col("sjk") - col("sj") * col("sk")).cast(DoubleType)
        / sqrt((col("n") * col("sj2") - col("sj") * col("sj"))
          .cast(DoubleType)
          * (col("n") * col("sk2") - col("sk") * col("sk"))
            .cast(DoubleType)), 6).as("assortativity"))
  }

  /** TOST equivalence test (two one-sided Welch t's, ±$500 margin) for
    * AUTOMOBILE-segment vs rest order values — the "shipping the change
    * is SAFE" readout that a non-significant q_ttest_welch cannot give.
    * Reuses the Welch machinery: exact HUGEINT cent moments, doubles
    * only in the two final t expressions; equivalence = both one-sided
    * tests reject at α=0.05 (t crit 1.644854, a fixed literal). */
  val qTost = Q(
    "q_tost",
    s"""WITH x AS (
      |  ${AnalyticsQueries.autoVsRestSql}),
      |m AS (
      |  SELECT CAST(sum(grp) AS HUGEINT) AS n1,
      |    CAST(count(*) - sum(grp) AS HUGEINT) AS n2,
      |    ${AnalyticsQueries.centMomentsSql}
      |  FROM x),
      |se AS (
      |  SELECT n1, n2,
      |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS diff,
      |    sqrt(CAST(n1 * q1 - s1 * s1 AS DOUBLE)
      |        / CAST(n1 * n1 * (n1 - 1) AS DOUBLE)
      |      + CAST(n2 * q2 - s2 * s2 AS DOUBLE)
      |        / CAST(n2 * n2 * (n2 - 1) AS DOUBLE)) AS se
      |  FROM m)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  ROUND(diff / 100, 6) AS mean_diff,
      |  ROUND((diff + 50000) / se, 6) AS t_lower,
      |  ROUND((diff - 50000) / se, 6) AS t_upper,
      |  CASE WHEN (diff + 50000) / se > 1.644854
      |    AND (diff - 50000) / se < -1.644854 THEN 1 ELSE 0 END
      |    AS equivalent
      |FROM se""".stripMargin) { (s, d) =>
    val m = AnalyticsQueries.autoVsRest(s, d).agg(
      sum(col("grp")).cast(big38).as("n1"),
      (count(lit(1)) - sum(col("grp"))).cast(big38).as("n2") +:
        AnalyticsQueries.centMoments: _*)
    val se = m.select(col("n1"), col("n2"),
      (col("s1").cast(DoubleType) / col("n1").cast(DoubleType)
        - col("s2").cast(DoubleType) / col("n2").cast(DoubleType))
        .as("diff"),
      sqrt((col("n1") * col("q1") - col("s1") * col("s1")).cast(DoubleType)
        / (col("n1") * col("n1") * (col("n1") - 1)).cast(DoubleType)
        + (col("n2") * col("q2") - col("s2") * col("s2")).cast(DoubleType)
          / (col("n2") * col("n2") * (col("n2") - 1)).cast(DoubleType))
        .as("se"))
    se.select(col("n1").cast(LongType).as("n1"),
      col("n2").cast(LongType).as("n2"),
      round(col("diff") / 100, 6).as("mean_diff"),
      round((col("diff") + 50000) / col("se"), 6).as("t_lower"),
      round((col("diff") - 50000) / col("se"), 6).as("t_upper"),
      when((col("diff") + 50000) / col("se") > 1.644854
        && (col("diff") - 50000) / col("se") < -1.644854, 1).otherwise(0)
        .as("equivalent"))
  }

  /** Cochran–Mantel–Haenszel test of the segment→urgency association
    * stratified by nation, plus the Mantel-Haenszel common odds ratio —
    * the confounder-adjusted companion to q_simpsons: does the
    * association survive once the stratifier is held fixed? Per-stratum
    * 2×2 cells are exact integer counts; each stratum's numerator /
    * variance / OR terms are double-divided then ROUNDed back to ·10⁶
    * integers before the bounded cross-stratum sum (q_anova idiom). */
  val qCmhTest = Q(
    "q_cmh_test",
    """WITH x AS (
      |  SELECT n_name,
      |    CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS e,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |g AS (
      |  SELECT n_name, CAST(count(*) AS HUGEINT) AS nn,
      |    CAST(sum(e) AS HUGEINT) AS n1p,
      |    CAST(sum(y) AS HUGEINT) AS np1,
      |    CAST(sum(e * y) AS HUGEINT) AS n11
      |  FROM x GROUP BY n_name),
      |terms AS (
      |  SELECT nn, n1p, np1, n11,
      |    CAST(ROUND((CAST(n11 AS DOUBLE)
      |      - CAST(n1p * np1 AS DOUBLE) / CAST(nn AS DOUBLE)) * 1000000)
      |      AS BIGINT) AS num6,
      |    CAST(ROUND(CAST(n1p * (nn - n1p) AS DOUBLE)
      |      * CAST(np1 * (nn - np1) AS DOUBLE)
      |      / CAST(nn * nn AS DOUBLE) / CAST(nn - 1 AS DOUBLE) * 1000000)
      |      AS BIGINT) AS var6,
      |    CAST(ROUND(CAST(n11 * (nn - n1p - np1 + n11) AS DOUBLE)
      |      / CAST(nn AS DOUBLE) * 1000000) AS BIGINT) AS or_num6,
      |    CAST(ROUND(CAST((n1p - n11) * (np1 - n11) AS DOUBLE)
      |      / CAST(nn AS DOUBLE) * 1000000) AS BIGINT) AS or_den6
      |  FROM g),
      |agg AS (
      |  SELECT count(*) AS k, sum(nn) AS n, sum(num6) AS num6,
      |    sum(var6) AS var6, sum(or_num6) AS orn6, sum(or_den6) AS ord6
      |  FROM terms)
      |SELECT CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n,
      |  ROUND((abs(CAST(num6 AS DOUBLE) / 1000000) - 0.5)
      |    * (abs(CAST(num6 AS DOUBLE) / 1000000) - 0.5)
      |    / (CAST(var6 AS DOUBLE) / 1000000), 6) AS cmh_chi2,
      |  ROUND(CAST(orn6 AS DOUBLE) / CAST(ord6 AS DOUBLE), 6) AS or_mh
      |FROM agg""".stripMargin) { (s, d) =>
    val x = t(s, d, "orders")
      .select("o_custkey", "o_orderpriority")
      .join(broadcast(t(s, d, "customer")
        .select("c_custkey", "c_nationkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        when(col("c_mktsegment") === "AUTOMOBILE", 1).otherwise(0).as("e"),
        when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("y"))
    val g = x.groupBy("n_name").agg(
      count(lit(1)).cast(big38).as("nn"),
      sum(col("e")).cast(big38).as("n1p"),
      sum(col("y")).cast(big38).as("np1"),
      sum(col("e") * col("y")).cast(big38).as("n11"))
    val terms = g.select(col("nn"), col("n1p"), col("np1"), col("n11"),
      round((col("n11").cast(DoubleType)
        - (col("n1p") * col("np1")).cast(DoubleType)
          / col("nn").cast(DoubleType)) * 1000000L)
        .cast(LongType).as("num6"),
      round((col("n1p") * (col("nn") - col("n1p"))).cast(DoubleType)
        * (col("np1") * (col("nn") - col("np1"))).cast(DoubleType)
        / (col("nn") * col("nn")).cast(DoubleType)
        / (col("nn") - 1).cast(DoubleType) * 1000000L)
        .cast(LongType).as("var6"),
      round((col("n11") * (col("nn") - col("n1p") - col("np1") + col("n11")))
        .cast(DoubleType) / col("nn").cast(DoubleType) * 1000000L)
        .cast(LongType).as("or_num6"),
      round(((col("n1p") - col("n11")) * (col("np1") - col("n11")))
        .cast(DoubleType) / col("nn").cast(DoubleType) * 1000000L)
        .cast(LongType).as("or_den6"))
    val agg = terms.agg(count(lit(1)).as("k"), sum(col("nn")).as("n"),
      sum(col("num6")).as("num6"), sum(col("var6")).as("var6"),
      sum(col("or_num6")).as("orn6"), sum(col("or_den6")).as("ord6"))
    agg.select(col("k").cast(IntegerType).as("k"),
      col("n").cast(LongType).as("n"),
      round((abs(col("num6").cast(DoubleType) / 1000000L) - 0.5)
        * (abs(col("num6").cast(DoubleType) / 1000000L) - 0.5)
        / (col("var6").cast(DoubleType) / 1000000L), 6).as("cmh_chi2"),
      round(col("orn6").cast(DoubleType) / col("ord6").cast(DoubleType), 6)
        .as("or_mh"))
  }

  /** Partial correlation of discount and quantity controlling for line
    * revenue — does the discount→quantity association survive holding
    * the money column fixed? ONE lineitem scan collects all nine exact
    * DECIMAL(38) co-moment sums (2-dp discount ⇒ integral percent units,
    * exact cents); the three Pearson r's and the partial-r closed form
    * are one-row final doubles with identical op order on both engines. */
  val qPartialCorr = Q(
    "q_partial_corr",
    """WITH x AS (
      |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS xv,
      |    CAST(l_quantity AS BIGINT) AS yv,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS zv
      |  FROM lineitem),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(xv AS HUGEINT)) AS sx, sum(CAST(yv AS HUGEINT)) AS sy,
      |    sum(CAST(zv AS HUGEINT)) AS sz,
      |    sum(CAST(xv AS HUGEINT) * yv) AS sxy,
      |    sum(CAST(xv AS HUGEINT) * zv) AS sxz,
      |    sum(CAST(yv AS HUGEINT) * zv) AS syz,
      |    sum(CAST(xv AS HUGEINT) * xv) AS sxx,
      |    sum(CAST(yv AS HUGEINT) * yv) AS syy,
      |    sum(CAST(zv AS HUGEINT) * zv) AS szz
      |  FROM x),
      |r AS (
      |  SELECT n,
      |    CAST(n * sxy - sx * sy AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |        * CAST(n * syy - sy * sy AS DOUBLE)) AS rxy,
      |    CAST(n * sxz - sx * sz AS DOUBLE)
      |      / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
      |        * CAST(n * szz - sz * sz AS DOUBLE)) AS rxz,
      |    CAST(n * syz - sy * sz AS DOUBLE)
      |      / sqrt(CAST(n * syy - sy * sy AS DOUBLE)
      |        * CAST(n * szz - sz * sz AS DOUBLE)) AS ryz
      |  FROM m)
      |SELECT CAST(n AS BIGINT) AS n, ROUND(rxy, 6) AS r_xy,
      |  ROUND(rxz, 6) AS r_xz, ROUND(ryz, 6) AS r_yz,
      |  ROUND((rxy - rxz * ryz)
      |    / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6) AS r_xy_given_z
      |FROM r""".stripMargin) { (s, d) =>
    val x = t(s, d, "lineitem").select(
      round(col("l_discount") * 100).cast(LongType).as("xv"),
      col("l_quantity").cast(LongType).as("yv"),
      (dec2(col("l_extendedprice")) * 100).cast(LongType).as("zv"))
    val m = x.agg(count(lit(1)).cast(big38).as("n"),
      sum(col("xv").cast(big38)).as("sx"),
      sum(col("yv").cast(big38)).as("sy"),
      sum(col("zv").cast(big38)).as("sz"),
      sum(col("xv").cast(big38) * col("yv")).as("sxy"),
      sum(col("xv").cast(big38) * col("zv")).as("sxz"),
      sum(col("yv").cast(big38) * col("zv")).as("syz"),
      sum(col("xv").cast(big38) * col("xv")).as("sxx"),
      sum(col("yv").cast(big38) * col("yv")).as("syy"),
      sum(col("zv").cast(big38) * col("zv")).as("szz"))
    val r = m.select(col("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
        / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType)
          * (col("n") * col("syy") - col("sy") * col("sy"))
            .cast(DoubleType))).as("rxy"),
      ((col("n") * col("sxz") - col("sx") * col("sz")).cast(DoubleType)
        / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType)
          * (col("n") * col("szz") - col("sz") * col("sz"))
            .cast(DoubleType))).as("rxz"),
      ((col("n") * col("syz") - col("sy") * col("sz")).cast(DoubleType)
        / sqrt((col("n") * col("syy") - col("sy") * col("sy"))
            .cast(DoubleType)
          * (col("n") * col("szz") - col("sz") * col("sz"))
            .cast(DoubleType))).as("ryz"))
    r.select(col("n").cast(LongType).as("n"),
      round(col("rxy"), 6).as("r_xy"),
      round(col("rxz"), 6).as("r_xz"),
      round(col("ryz"), 6).as("r_yz"),
      round((col("rxy") - col("rxz") * col("ryz"))
        / sqrt((lit(1) - col("rxz") * col("rxz"))
          * (lit(1) - col("ryz") * col("ryz"))), 6).as("r_xy_given_z"))
  }

  /** Overdispersion (index-of-dispersion) test per event type on daily
    * event counts: D = var/mean over the type's observed days, with
    * χ² = D·(n−1) against the Poisson null — decides whether a plain
    * Poisson alert threshold is valid or a negative-binomial band is
    * needed. Daily counts are exact integers; variance comes from exact
    * HUGEINT count moments over the bounded day domain; D and χ² are
    * per-row finals. */
  val qDispersion = Q(
    "q_dispersion",
    """WITH dc AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS c
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(c AS HUGEINT)) AS s,
      |    sum(CAST(c AS HUGEINT) * c) AS q
      |  FROM dc GROUP BY event_type)
      |SELECT event_type, CAST(n AS BIGINT) AS n_days,
      |  ROUND(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_daily,
      |  ROUND(CAST(n * q - s * s AS DOUBLE)
      |    / CAST(n * (n - 1) AS DOUBLE)
      |    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS dispersion,
      |  ROUND(CAST(n * q - s * s AS DOUBLE)
      |    / CAST(n * (n - 1) AS DOUBLE)
      |    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
      |    * CAST(n - 1 AS DOUBLE), 6) AS chi2
      |FROM g ORDER BY event_type""".stripMargin) { (s, d) =>
    val dc = t(s, d, "events")
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .groupBy("event_type", "day").agg(count(lit(1)).as("c"))
    val g = dc.groupBy("event_type").agg(
      count(lit(1)).cast(big38).as("n"),
      sum(col("c").cast(big38)).as("s"),
      sum(col("c").cast(big38) * col("c")).as("q"))
    g.select(col("event_type"), col("n").cast(LongType).as("n_days"),
      round(col("s").cast(DoubleType) / col("n").cast(DoubleType), 6)
        .as("mean_daily"),
      round((col("n") * col("q") - col("s") * col("s")).cast(DoubleType)
        / (col("n") * (col("n") - 1)).cast(DoubleType)
        / (col("s").cast(DoubleType) / col("n").cast(DoubleType)), 6)
        .as("dispersion"),
      round((col("n") * col("q") - col("s") * col("s")).cast(DoubleType)
        / (col("n") * (col("n") - 1)).cast(DoubleType)
        / (col("s").cast(DoubleType) / col("n").cast(DoubleType))
        * (col("n") - 1).cast(DoubleType), 6).as("chi2"))
      .orderBy("event_type")
  }

  /** Q-Q decile table comparing AUTOMOBILE vs rest order values — the
    * full-distribution companion to q_ks_test's scalar: WHERE do the two
    * distributions diverge? Nearest-rank (type-1) deciles for both
    * groups come from ONE GlobalRank pass on the (group, cents, key)
    * composite (the q_trimmed_mean idiom — no per-group data-sized
    * window); the 9 decile rows assemble by exact integer rank match. */
  val qQqDeciles = Q(
    "q_qq_deciles",
    s"""WITH x AS (
      |  SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
      |      AS grp,
      |    ${priceCentsSql("o_totalprice")}
      |      AS cents,
      |    row_number() OVER (PARTITION BY
      |      CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
      |      ORDER BY ${priceCentsSql("o_totalprice")}, o_orderkey) AS rk,
      |    count(*) OVER (PARTITION BY
      |      CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END)
      |      AS ng
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |q AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS d),
      |pick AS (
      |  SELECT q.d, x.grp, max(x.cents) AS v
      |  FROM q JOIN x ON x.rk = (q.d * x.ng + 9) // 10
      |  GROUP BY q.d, x.grp)
      |SELECT a.d AS decile,
      |  ROUND(CAST(a.v AS DOUBLE) / 100, 2) AS v_auto,
      |  ROUND(CAST(b.v AS DOUBLE) / 100, 2) AS v_rest,
      |  ROUND(CAST(a.v AS DOUBLE) / CAST(b.v AS DOUBLE), 6) AS qq_ratio
      |FROM pick a JOIN pick b ON a.d = b.d AND a.grp = 1 AND b.grp = 0
      |ORDER BY decile""".stripMargin) { (s, d) =>
    val x = t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(when(col("c_mktsegment") === "AUTOMOBILE", 1L).otherwise(0L)
        .as("grp"),
        priceCents(col("o_totalprice")).as("cents"),
        col("o_orderkey"))
      .withColumn("skey", col("grp") * lit(1000000000000L) + col("cents"))
    val (ranked, _) = graft.plans.GlobalRank.withGlobalRowNumber(
      x, "grk", 32, col("skey"), col("o_orderkey"))
    val offs = ranked.groupBy("grp")
      .agg(min(col("grk")).as("off"), count(lit(1)).as("ng"))
    val local = ranked.join(broadcast(offs), "grp")
      .select(col("grp"), col("cents"), col("ng"),
        (col("grk") - col("off") + 1).as("rk"))
    val grid = s.range(1, 10).select(col("id").as("d"))
    val pick = local.join(broadcast(grid),
        col("rk") === expr("(d * ng + 9) DIV 10"))
      .groupBy("d", "grp").agg(max(col("cents")).as("v"))
    pick.filter(col("grp") === 1)
      .select(col("d").cast(IntegerType).as("decile"), col("v").as("va"))
      .join(pick.filter(col("grp") === 0)
        .select(col("d").cast(IntegerType).as("decile"), col("v").as("vb")),
        "decile")
      .select(col("decile"),
        round(col("va").cast(DoubleType) / 100, 2).as("v_auto"),
        round(col("vb").cast(DoubleType) / 100, 2).as("v_rest"),
        round(col("va").cast(DoubleType) / col("vb").cast(DoubleType), 6)
          .as("qq_ratio"))
      .orderBy("decile")
  }

  /** Interaction-matrix density audit for the customer×part implicit-
    * feedback matrix — the sparsity readout (users, items, observed
    * cells, density, interactions per user) every MF/ALS training run
    * should log before fitting: density decides rank and regularization
    * sanity. One orderkey-keyed fact-fact join; exact distinct counts. */
  val qMatrixDensity = Q(
    "q_matrix_density",
    """WITH io AS (
      |  SELECT DISTINCT o_custkey AS u, l_partkey AS i
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      |m AS (
      |  SELECT count(*) AS nnz, count(DISTINCT u) AS n_users,
      |    count(DISTINCT i) AS n_items
      |  FROM io)
      |SELECT CAST(n_users AS BIGINT) AS n_users,
      |  CAST(n_items AS BIGINT) AS n_items,
      |  CAST(nnz AS BIGINT) AS n_observed,
      |  ROUND(CAST(nnz AS DOUBLE)
      |    / (CAST(n_users AS DOUBLE) * CAST(n_items AS DOUBLE)), 6)
      |    AS density,
      |  ROUND(CAST(nnz AS DOUBLE) / CAST(n_users AS DOUBLE), 6)
      |    AS items_per_user
      |FROM m""".stripMargin) { (s, d) =>
    val io = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey").as("u"))
      .join(t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_partkey").as("i")),
        col("o_orderkey") === col("l_orderkey"))
      .select("u", "i").distinct()
    val m = io.agg(count(lit(1)).as("nnz"),
      countDistinct(col("u")).as("n_users"),
      countDistinct(col("i")).as("n_items"))
    m.select(col("n_users").cast(LongType).as("n_users"),
      col("n_items").cast(LongType).as("n_items"),
      col("nnz").cast(LongType).as("n_observed"),
      round(col("nnz").cast(DoubleType)
        / (col("n_users").cast(DoubleType) * col("n_items").cast(DoubleType)),
        6).as("density"),
      round(col("nnz").cast(DoubleType) / col("n_users").cast(DoubleType), 6)
        .as("items_per_user"))
  }

  /** Leading-token distribution per source — templates announce
    * themselves in how documents START (the complement of
    * q_boilerplate's whole-document shingle view): top first-token
    * share and ·10⁹-quantized first-token entropy per source. Linear:
    * one token per document, all aggregation on (source, token). */
  val qFirstTokenDist = Q(
    "q_first_token_dist",
    """WITH ft AS (
      |  SELECT source, string_split(text, ' ')[1] AS tok FROM documents),
      |g AS (SELECT source, tok, count(*) AS c FROM ft GROUP BY 1, 2),
      |n AS (SELECT source, sum(c) AS n, count(*) AS n_distinct,
      |    max(c) AS top_c
      |  FROM g GROUP BY source),
      |h AS (
      |  SELECT g.source, sum(CAST(ROUND(
      |      -(CAST(g.c AS DOUBLE) / CAST(n.n AS DOUBLE))
      |        * ln(CAST(g.c AS DOUBLE) / CAST(n.n AS DOUBLE))
      |      * 1000000000) AS BIGINT)) AS h9
      |  FROM g JOIN n ON g.source = n.source GROUP BY g.source)
      |SELECT n.source, CAST(n.n AS BIGINT) AS n_docs,
      |  CAST(n.n_distinct AS BIGINT) AS n_first_tokens,
      |  ROUND(CAST(n.top_c AS DOUBLE) / CAST(n.n AS DOUBLE), 6)
      |    AS top_share,
      |  ROUND(CAST(h.h9 AS DOUBLE) / 1000000000, 6) AS entropy
      |FROM n JOIN h ON n.source = h.source
      |ORDER BY n.source""".stripMargin) { (s, d) =>
    val ft = t(s, d, "documents").select(col("source"),
      split(col("text"), " ").getItem(0).as("tok"))
    val g = ft.groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val n = g.groupBy("source").agg(sum(col("c")).as("n"),
      count(lit(1)).as("n_distinct"), max(col("c")).as("top_c"))
    val h = g.join(broadcast(n.select("source", "n")), "source")
      .groupBy("source")
      .agg(sum(round(-(col("c").cast(DoubleType) / col("n").cast(DoubleType))
          * log(col("c").cast(DoubleType) / col("n").cast(DoubleType))
          * 1000000000L).cast(LongType)).as("h9"))
    n.join(h, "source")
      .select(col("source"), col("n").cast(LongType).as("n_docs"),
        col("n_distinct").cast(LongType).as("n_first_tokens"),
        round(col("top_c").cast(DoubleType) / col("n").cast(DoubleType), 6)
          .as("top_share"),
        round(col("h9").cast(DoubleType) / 1000000000L, 6).as("entropy"))
      .orderBy("source")
  }

  /** Near-zero-variance feature screen over stacked categorical columns
    * (order status / priority / segment): top-two frequency ratio and
    * unique-value share per feature, with the standard caret-style NZV
    * flag (ratio > 19 and uniques < 0.1%) — drop-list generation before
    * one-hot/target encoding. Column stacking is two pruned projections
    * unioned; per-feature value domains are bounded. */
  val qNearZeroVar = Q(
    "q_near_zero_var",
    """WITH f AS (
      |  SELECT 'o_orderstatus' AS feature, o_orderstatus AS v FROM orders
      |  UNION ALL
      |  SELECT 'o_orderpriority', o_orderpriority FROM orders
      |  UNION ALL
      |  SELECT 'c_mktsegment', c_mktsegment FROM customer),
      |g AS (SELECT feature, v, count(*) AS c FROM f GROUP BY 1, 2),
      |r AS (
      |  SELECT feature, c,
      |    row_number() OVER (PARTITION BY feature
      |      ORDER BY c DESC, v) AS rk
      |  FROM g),
      |m AS (
      |  SELECT feature, sum(c) AS n, count(*) AS n_distinct,
      |    max(CASE WHEN rk = 1 THEN c END) AS c1,
      |    max(CASE WHEN rk = 2 THEN c END) AS c2
      |  FROM r GROUP BY feature)
      |SELECT feature, CAST(n AS BIGINT) AS n,
      |  CAST(n_distinct AS BIGINT) AS n_distinct,
      |  ROUND(CAST(c1 AS DOUBLE) / CAST(c2 AS DOUBLE), 6) AS freq_ratio,
      |  ROUND(CAST(n_distinct AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |    AS pct_unique,
      |  CASE WHEN CAST(c1 AS DOUBLE) / CAST(c2 AS DOUBLE) > 19
      |    AND CAST(n_distinct AS DOUBLE) / CAST(n AS DOUBLE) < 0.001
      |    THEN 1 ELSE 0 END AS nzv
      |FROM m ORDER BY feature""".stripMargin) { (s, d) =>
    val f = t(s, d, "orders")
      .select(lit("o_orderstatus").as("feature"),
        col("o_orderstatus").as("v"))
      .unionByName(t(s, d, "orders")
        .select(lit("o_orderpriority").as("feature"),
          col("o_orderpriority").as("v")))
      .unionByName(t(s, d, "customer")
        .select(lit("c_mktsegment").as("feature"),
          col("c_mktsegment").as("v")))
    val g = f.groupBy("feature", "v").agg(count(lit(1)).as("c"))
    // bounded domain: |features|×|distinct values| ≤ dozens of rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("feature").orderBy(col("c").desc, col("v"))
    val m = g.withColumn("rk", row_number().over(w))
      .groupBy("feature")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
        max(when(col("rk") === 1, col("c"))).as("c1"),
        max(when(col("rk") === 2, col("c"))).as("c2"))
    m.select(col("feature"), col("n").cast(LongType).as("n"),
      col("n_distinct").cast(LongType).as("n_distinct"),
      round(col("c1").cast(DoubleType) / col("c2").cast(DoubleType), 6)
        .as("freq_ratio"),
      round(col("n_distinct").cast(DoubleType) / col("n").cast(DoubleType),
        6).as("pct_unique"),
      when(col("c1").cast(DoubleType) / col("c2").cast(DoubleType) > 19
        && col("n_distinct").cast(DoubleType) / col("n").cast(DoubleType)
          < 0.001, 1).otherwise(0).as("nzv"))
      .orderBy("feature")
  }

  /** Kruskal–Wallis rank test of order value across the five market
    * segments — the k-group nonparametric complement to q_mannwhitney
    * (2 groups) and q_anova (parametric). Ranks come from ONE GlobalRank
    * pass over (cents, orderkey); tied values get exact average ranks
    * via the integer identity 2·avgrank = (2·Σrank)/count (ties occupy
    * consecutive integers, so the division is exact). Per-group rank
    * sums are Σ c_gv·ar2_v over the per-value table — all integer — and
    * the H statistic plus its tie correction are assembled on ONE final
    * row in doubles with the identical expression DAG on both engines. */
  val qKruskalWallis = Q(
    "q_kruskal_wallis",
    s"""WITH x AS (
      |  SELECT c_mktsegment AS grp,
      |    ${priceCentsSql("o_totalprice")}
      |      AS cents,
      |    row_number() OVER (ORDER BY
      |      ${priceCentsSql("o_totalprice")},
      |      o_orderkey) AS grk
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |pv AS (
      |  SELECT cents, (2 * sum(grk)) // count(*) AS ar2, count(*) AS cv
      |  FROM x GROUP BY cents),
      |gv AS (SELECT grp, cents, count(*) AS cgv FROM x GROUP BY 1, 2),
      |gr AS (
      |  SELECT grp, sum(CAST(cgv AS HUGEINT) * ar2) AS r2g,
      |    sum(cgv) AS ng
      |  FROM gv JOIN pv USING (cents) GROUP BY grp),
      |tot AS (
      |  SELECT sum(ng) AS n, count(*) AS k,
      |    sum(r2g * r2g // (4 * CAST(ng AS HUGEINT))) AS s
      |  FROM gr),
      |ties AS (SELECT sum(CAST(cv AS HUGEINT) * cv * cv - cv) AS tsum
      |  FROM pv)
      |SELECT CAST(n AS BIGINT) AS n, CAST(k AS INT) AS k,
      |  ROUND(12.0 * CAST(s AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
      |    - 3.0 * (CAST(n AS DOUBLE) + 1), 6) AS h,
      |  ROUND((12.0 * CAST(s AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1))
      |    - 3.0 * (CAST(n AS DOUBLE) + 1))
      |    / (1.0 - CAST(tsum AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |        - CAST(n AS DOUBLE))), 6) AS h_tie_corrected
      |FROM tot, ties""".stripMargin) { (s, d) =>
    val (pv, gr) = RankQueries.midrankSums(RankQueries.segCents(s, d))
    val tot = gr.agg(sum(col("ng")).as("n"), count(lit(1)).as("k"),
      sum(expr("CAST(r2g * r2g AS DECIMAL(38,0))" +
        " DIV CAST(4 * ng AS DECIMAL(38,0))")).as("s"))
    val ties = pv.agg(
      sum((col("cv").cast(big38) * col("cv") * col("cv") - col("cv"))
        .cast(big38)).as("tsum"))
    val nD = col("n").cast(DoubleType)
    val hRaw = lit(12.0) * col("s").cast(DoubleType) / (nD * (nD + 1)) -
      lit(3.0) * (nD + 1)
    tot.crossJoin(broadcast(ties))
      .select(col("n").cast(LongType).as("n"),
        col("k").cast(IntegerType).as("k"),
        round(hRaw, 6).as("h"),
        round(hRaw / (lit(1.0) - col("tsum").cast(DoubleType)
          / (nD * nD * nD - nD)), 6).as("h_tie_corrected"))
  }

  /** Hill tail-index estimator on the orders-per-customer degree
    * distribution: α = k / Σ_{i≤k} ln(x_(i)/x_(k+1)) over the top
    * k=100 customers — the quantitative "how heavy is the activity
    * tail" readout that q_pareto/q_lorenz_curve only show as shares.
    * The top-(k+1) panel is a TakeOrdered (bounded, broadcast); each
    * log term is ·10⁹-quantized before the exact integer sum, so the
    * estimate is reduction-order-proof on both engines. */
  val qHillTail = Q(
    "q_hill_tail",
    """WITH deg AS (
      |  SELECT o_custkey, count(*) AS x FROM orders GROUP BY 1),
      |topk AS (
      |  SELECT o_custkey, x FROM deg
      |  ORDER BY x DESC, o_custkey LIMIT 101),
      |r AS (
      |  SELECT x, row_number() OVER (ORDER BY x DESC, o_custkey) AS rn
      |  FROM topk),
      |th AS (SELECT x AS xk1 FROM r WHERE rn = 101),
      |sm AS (
      |  SELECT count(*) AS k,
      |    sum(CAST(ROUND(ln(CAST(r.x AS DOUBLE) / CAST(th.xk1 AS DOUBLE))
      |      * 1000000000) AS BIGINT)) AS s9,
      |    max(th.xk1) AS xk1
      |  FROM r, th WHERE rn <= 100)
      |SELECT CAST(k AS INT) AS k, CAST(xk1 AS BIGINT) AS x_threshold,
      |  ROUND(CASE WHEN s9 > 0
      |    THEN CAST(k AS DOUBLE) * 1000000000 / CAST(s9 AS DOUBLE) END, 6)
      |    AS alpha,
      |  ROUND(CASE WHEN s9 > 0
      |    THEN CAST(k AS DOUBLE) * 1000000000 / CAST(s9 AS DOUBLE)
      |      / sqrt(CAST(k AS DOUBLE)) END, 6) AS se
      |FROM sm""".stripMargin) { (s, d) =>
    val deg = t(s, d, "orders").groupBy("o_custkey")
      .agg(count(lit(1)).as("x"))
    val topk = deg.orderBy(col("x").desc, col("o_custkey")).limit(101)
    // bounded 101-row panel: the unpartitioned window is fine here
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("x").desc, col("o_custkey"))
    val r = topk.withColumn("rn", row_number().over(w))
    val th = r.filter(col("rn") === 101).select(col("x").as("xk1"))
    val sm = r.filter(col("rn") <= 100).crossJoin(broadcast(th))
      .agg(count(lit(1)).as("k"),
        sum(round(log(col("x").cast(DoubleType)
          / col("xk1").cast(DoubleType)) * 1000000000L).cast(LongType))
          .as("s9"),
        max(col("xk1")).as("xk1"))
    sm.select(col("k").cast(IntegerType).as("k"),
      col("xk1").cast(LongType).as("x_threshold"),
      round(when(col("s9") > 0, col("k").cast(DoubleType) * 1000000000L
        / col("s9").cast(DoubleType)), 6).as("alpha"),
      round(when(col("s9") > 0, col("k").cast(DoubleType) * 1000000000L
        / col("s9").cast(DoubleType)
        / sqrt(col("k").cast(DoubleType))), 6).as("se"))
  }

  /** EWMA control chart (λ=1/5, window truncated at 24 months,
    * pandas-style adjust=true normalization) on monthly order revenue —
    * the classic SPC smoother between q_cusum (cumulative drift) and
    * q_changepoint (single break). λ=1/5 makes every weight the EXACT
    * integer 4^d·10¹⁸ div 5^(d+1): no pow()/libm anywhere, so both
    * engines sum identical integers (Spark materializes the 25-row
    * weight table from BigInt; DuckDB builds it with a recursive CTE).
    * The month pair-join is (84 months × 25 lags) — bounded. */
  val qEwmaChart = Q(
    "q_ewma_chart",
    s"""WITH RECURSIVE pw(d, p4, p5) AS (
      |  SELECT 0, CAST(1 AS HUGEINT), CAST(5 AS HUGEINT)
      |  UNION ALL SELECT d + 1, p4 * 4, p5 * 5 FROM pw WHERE d < 24),
      |w AS (
      |  SELECT d, (p4 * CAST('1000000000000000000' AS HUGEINT)) // p5
      |    AS w18
      |  FROM pw),
      |m AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
      |    year(o_orderdate) * 12 + month(o_orderdate) AS midx,
      |    ${sumCentsSql}
      |      AS rev
      |  FROM orders GROUP BY 1, 2),
      |p AS (
      |  SELECT a.mth, a.rev,
      |    sum(CAST(b.rev AS HUGEINT) * w.w18) AS num,
      |    sum(w.w18) AS den
      |  FROM m a, m b, w WHERE a.midx = b.midx + w.d
      |  GROUP BY a.mth, a.rev)
      |SELECT mth, ROUND(CAST(rev AS DOUBLE) / 100, 2) AS revenue,
      |  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100, 4)
      |    AS ewma,
      |  ROUND(CAST(rev AS DOUBLE) / 100
      |    / (CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100), 6)
      |    AS ratio
      |FROM p ORDER BY mth""".stripMargin) { (s, d) =>
    import s.implicits._
    val w18 = (0 to 24).map { dd =>
      (dd, (BigInt(4).pow(dd) * BigInt(10).pow(18) / BigInt(5).pow(dd + 1))
        .toLong)
    }
    val wdf = w18.toDF("dlag", "w18")
    val m = t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType)
        .as("mth"))
      .agg(sumCents.as("rev"))
      .withColumn("midx", year(col("mth")) * 12 + month(col("mth")))
    val bw = m.select(col("midx").as("bmidx"), col("rev").as("brev"))
      .crossJoin(wdf)
    val p = m.join(broadcast(bw), col("midx") === col("bmidx") + col("dlag"))
      .groupBy("mth", "rev")
      .agg(sum(col("brev").cast(big38) * col("w18")).as("num"),
        sum(col("w18")).as("den"))
    val ewmaRaw = col("num").cast(DoubleType) / col("den").cast(DoubleType) /
      lit(100)
    p.select(col("mth"),
        round(col("rev").cast(DoubleType) / 100, 2).as("revenue"),
        round(ewmaRaw, 4).as("ewma"),
        round(col("rev").cast(DoubleType) / 100 / ewmaRaw, 6).as("ratio"))
      .orderBy("mth")
  }

  /** Lead-lag cross-correlation of the click and purchase daily value
    * series at lags −7..+7 — does click activity LEAD purchases, and by
    * how many days? (q_rolling_corr is the same-time view.) Daily sums
    * are exact µ-quantized integers; per-lag co-moments are exact
    * HUGEINT/DECIMAL(38) sums over the day-aligned join, and Pearson r
    * is one double expression per lag row. The day domain is bounded,
    * so the lag-grid join is a broadcast. */
  val qCcfLeadlag = Q(
    "q_ccf_leadlag",
    """WITH a AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    sum(CAST(ROUND(value * 1000000) AS BIGINT)) AS av
      |  FROM events WHERE event_type = 'click' GROUP BY 1),
      |b AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |    sum(CAST(ROUND(value * 1000000) AS BIGINT)) AS bv
      |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
      |lg AS (SELECT unnest(range(-7, 8)) AS lag),
      |pr AS (
      |  SELECT lg.lag, a.av, b.bv
      |  FROM a CROSS JOIN lg JOIN b ON b.day = a.day + CAST(lg.lag AS INT)),
      |sm AS (
      |  SELECT lag, count(*) AS n,
      |    sum(CAST(av AS HUGEINT)) AS sx, sum(CAST(bv AS HUGEINT)) AS sy,
      |    sum(CAST(av AS HUGEINT) * av) AS sxx,
      |    sum(CAST(bv AS HUGEINT) * bv) AS syy,
      |    sum(CAST(av AS HUGEINT) * bv) AS sxy
      |  FROM pr GROUP BY lag)
      |SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_days,
      |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |    / sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r
      |FROM sm ORDER BY lag""".stripMargin) { (s, d) =>
    val ev = t(s, d, "events")
    def daily(typ: String, out: String): DataFrame = ev
      .filter(col("event_type") === typ)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(round(col("value") * 1000000L).cast(LongType)).as(out))
    val a = daily("click", "av")
    val b = daily("purchase", "bv")
    val lg = s.range(-7, 8).select(col("id").cast(IntegerType).as("lag"))
    val bb = b.select(col("day").as("bday"), col("bv"))
    val pr2 = a.crossJoin(broadcast(lg))
      .join(broadcast(bb), col("bday") === date_add(col("day"), col("lag")))
    val sm = pr2.groupBy("lag").agg(count(lit(1)).as("n"),
      sum(col("av").cast(big38)).as("sx"),
      sum(col("bv").cast(big38)).as("sy"),
      sum(col("av").cast(big38) * col("av")).as("sxx"),
      sum(col("bv").cast(big38) * col("bv")).as("syy"),
      sum(col("av").cast(big38) * col("bv")).as("sxy"))
    sm.select(col("lag").cast(IntegerType).as("lag"),
        col("n").cast(LongType).as("n_days"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast(DoubleType)
          / sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType))
          / sqrt((col("n") * col("syy") - col("sy") * col("sy"))
            .cast(DoubleType)), 6).as("r"))
      .orderBy("lag")
  }

  /** Friedman rank test over the (year-block × market-segment) panel of
    * mean order values — the repeated-measures complement to
    * q_kruskal_wallis: does segment ordering persist ACROSS years? Cell
    * means are exact ·10⁶-quantized integers; within-block average
    * ranks use the exact 2r = 2·|less| + |equal| + 1 identity over a
    * bounded k×k self-join per block; χ²_F and Kendall's W assemble on
    * one final row. Everything after the first aggregate is bounded
    * (7 blocks × 5 treatments). */
  val qFriedman = Q(
    "q_friedman",
    """WITH m AS (
      |  SELECT year(o_orderdate) AS yr, c_mktsegment AS seg,
      |    (sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |      * 1000000) // count(*) AS mean6
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |r AS (
      |  SELECT a.yr, a.seg,
      |    2 * sum(CASE WHEN b.mean6 < a.mean6 THEN 1 ELSE 0 END)
      |      + sum(CASE WHEN b.mean6 = a.mean6 THEN 1 ELSE 0 END) + 1
      |      AS r2
      |  FROM m a JOIN m b ON a.yr = b.yr GROUP BY a.yr, a.seg),
      |rj AS (SELECT seg, sum(r2) AS r2j FROM r GROUP BY seg),
      |tot AS (
      |  SELECT count(*) AS k, sum(r2j * r2j) AS s4,
      |    (SELECT count(DISTINCT yr) FROM m) AS b
      |  FROM rj)
      |SELECT CAST(b AS INT) AS n_blocks, CAST(k AS INT) AS k,
      |  ROUND(3.0 * CAST(s4 AS DOUBLE)
      |    / (CAST(b AS DOUBLE) * k * (k + 1))
      |    - 3.0 * CAST(b AS DOUBLE) * (k + 1), 6) AS chi2_f,
      |  ROUND((3.0 * CAST(s4 AS DOUBLE)
      |    / (CAST(b AS DOUBLE) * k * (k + 1))
      |    - 3.0 * CAST(b AS DOUBLE) * (k + 1))
      |    / (CAST(b AS DOUBLE) * (k - 1)), 6) AS kendall_w
      |FROM tot""".stripMargin) { (s, d) =>
    val m = t(s, d, "orders")
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("yr"),
        col("c_mktsegment").as("seg"))
      .agg(expr("CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100" +
        " AS DECIMAL(38,0))) * 1000000 DIV count(*) AS BIGINT)").as("mean6"))
    val b2 = m.select(col("yr").as("byr"), col("mean6").as("bmean6"))
    val r = m.join(broadcast(b2), col("yr") === col("byr"))
      .groupBy("yr", "seg")
      .agg((lit(2) * sum(when(col("bmean6") < col("mean6"), 1).otherwise(0))
        + sum(when(col("bmean6") === col("mean6"), 1).otherwise(0)) + 1)
        .as("r2"))
    val rj = r.groupBy("seg").agg(sum(col("r2")).as("r2j"))
    val nb = m.agg(countDistinct(col("yr")).as("b"))
    val tot = rj.agg(count(lit(1)).as("k"),
        sum(col("r2j") * col("r2j")).as("s4"))
      .crossJoin(broadcast(nb))
    val bD = col("b").cast(DoubleType)
    val chi2 = lit(3.0) * col("s4").cast(DoubleType) /
      (bD * col("k") * (col("k") + 1)) - lit(3.0) * bD * (col("k") + 1)
    tot.select(col("b").cast(IntegerType).as("n_blocks"),
      col("k").cast(IntegerType).as("k"),
      round(chi2, 6).as("chi2_f"),
      round(chi2 / (bD * (col("k") - 1)), 6).as("kendall_w"))
  }

  /** Lag-1 Granger causality screen: does last month's ORDER COUNT help
    * predict this month's REVENUE beyond revenue's own lag? Restricted
    * (y~1+y₋₁) vs unrestricted (y~1+y₋₁+x₋₁) OLS, both in closed form
    * from ONE set of exact DECIMAL(38) co-moment sums over the
    * month-pair join (bounded, 83 rows); the F statistic is a single
    * double expression on the final row — the causal-direction screen
    * a forecasting pipeline runs before adding a covariate. */
  val qGranger = Q(
    "q_granger",
    s"""WITH m AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS midx,
      |    ${sumCentsSql}
      |      AS rev,
      |    count(*) AS cnt
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT a.rev AS y, b.rev AS yl, b.cnt AS xl
      |  FROM m a JOIN m b ON a.midx = b.midx + 1),
      |sm AS (
      |  SELECT count(*) AS n,
      |    sum(CAST(y AS HUGEINT)) AS sy, sum(CAST(yl AS HUGEINT)) AS syl,
      |    sum(CAST(xl AS HUGEINT)) AS sxl,
      |    sum(CAST(y AS HUGEINT) * y) AS syy,
      |    sum(CAST(y AS HUGEINT) * yl) AS syyl,
      |    sum(CAST(y AS HUGEINT) * xl) AS syxl,
      |    sum(CAST(yl AS HUGEINT) * yl) AS sylyl,
      |    sum(CAST(yl AS HUGEINT) * xl) AS sylxl,
      |    sum(CAST(xl AS HUGEINT) * xl) AS sxlxl
      |  FROM p),
      |c AS (
      |  SELECT n,
      |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy,
      |    CAST(sylyl AS DOUBLE) - CAST(syl AS DOUBLE) * syl / n AS s11,
      |    CAST(sxlxl AS DOUBLE) - CAST(sxl AS DOUBLE) * sxl / n AS s22,
      |    CAST(sylxl AS DOUBLE) - CAST(syl AS DOUBLE) * sxl / n AS s12,
      |    CAST(syyl AS DOUBLE) - CAST(syl AS DOUBLE) * sy / n AS s1y,
      |    CAST(syxl AS DOUBLE) - CAST(sxl AS DOUBLE) * sy / n AS s2y
      |  FROM sm),
      |f AS (
      |  SELECT n, cyy, s11, s1y, s2y, s12, s22,
      |    (s1y * s22 - s2y * s12) / (s11 * s22 - s12 * s12) AS b1,
      |    (s2y * s11 - s1y * s12) / (s11 * s22 - s12 * s12) AS b2
      |  FROM c)
      |SELECT CAST(n AS BIGINT) AS n_months,
      |  ROUND(b2, 6) AS beta_xlag,
      |  ROUND(((cyy - s1y * s1y / s11) - (cyy - b1 * s1y - b2 * s2y))
      |    * (n - 3) / (cyy - b1 * s1y - b2 * s2y), 4) AS f_granger
      |FROM f""".stripMargin) { (s, d) =>
    val m = t(s, d, "orders")
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("midx"))
      .agg(sumCents.as("rev"),
        count(lit(1)).as("cnt"))
    val b = m.select(col("midx").as("bmidx"), col("rev").as("yl"),
      col("cnt").as("xl"))
    val p = m.join(broadcast(b), col("midx") === col("bmidx") + 1)
      .select(col("rev").as("y"), col("yl"), col("xl"))
    val sm = p.agg(count(lit(1)).as("n"),
      sum(col("y").cast(big38)).as("sy"),
      sum(col("yl").cast(big38)).as("syl"),
      sum(col("xl").cast(big38)).as("sxl"),
      sum(col("y").cast(big38) * col("y")).as("syy"),
      sum(col("y").cast(big38) * col("yl")).as("syyl"),
      sum(col("y").cast(big38) * col("xl")).as("syxl"),
      sum(col("yl").cast(big38) * col("yl")).as("sylyl"),
      sum(col("yl").cast(big38) * col("xl")).as("sylxl"),
      sum(col("xl").cast(big38) * col("xl")).as("sxlxl"))
    val c = sm.select(col("n"),
      (col("syy").cast(DoubleType)
        - col("sy").cast(DoubleType) * col("sy") / col("n")).as("cyy"),
      (col("sylyl").cast(DoubleType)
        - col("syl").cast(DoubleType) * col("syl") / col("n")).as("s11"),
      (col("sxlxl").cast(DoubleType)
        - col("sxl").cast(DoubleType) * col("sxl") / col("n")).as("s22"),
      (col("sylxl").cast(DoubleType)
        - col("syl").cast(DoubleType) * col("sxl") / col("n")).as("s12"),
      (col("syyl").cast(DoubleType)
        - col("syl").cast(DoubleType) * col("sy") / col("n")).as("s1y"),
      (col("syxl").cast(DoubleType)
        - col("sxl").cast(DoubleType) * col("sy") / col("n")).as("s2y"))
    val f = c.select(col("n"), col("cyy"), col("s11"), col("s1y"),
      col("s2y"), col("s12"), col("s22"),
      ((col("s1y") * col("s22") - col("s2y") * col("s12"))
        / (col("s11") * col("s22") - col("s12") * col("s12"))).as("b1"),
      ((col("s2y") * col("s11") - col("s1y") * col("s12"))
        / (col("s11") * col("s22") - col("s12") * col("s12"))).as("b2"))
    val rssU = col("cyy") - col("b1") * col("s1y") - col("b2") * col("s2y")
    f.select(col("n").cast(LongType).as("n_months"),
      round(col("b2"), 6).as("beta_xlag"),
      round(((col("cyy") - col("s1y") * col("s1y") / col("s11")) - rssU)
        * (col("n") - 3) / rssU, 4).as("f_granger"))
  }

  /** Ljung–Box portmanteau test on monthly revenue: autocorrelations
    * r_1..r_10 from ONE month-pair lag join (bounded), each against the
    * full-series mean, with the cumulative Q statistic — "is there ANY
    * serial structure left" before a forecaster ships residuals as
    * noise. P/A/B building blocks are exact integer sums; each r_k is a
    * per-row double; the Q accumulation quantizes r_k²/(n−k) at 10⁻¹²
    * and runs over the bounded 10-row lag table. */
  val qLjungBox = Q(
    "q_ljung_box",
    s"""WITH m AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS midx,
      |    ${sumCentsSql}
      |      AS y
      |  FROM orders GROUP BY 1),
      |full_s AS (
      |  SELECT count(*) AS n, sum(CAST(y AS HUGEINT)) AS s,
      |    sum(CAST(y AS HUGEINT) * y) AS q2
      |  FROM m),
      |lg AS (SELECT unnest(range(1, 11)) AS kk),
      |pr AS (
      |  SELECT lg.kk, count(*) AS nk,
      |    sum(CAST(a.y AS HUGEINT) * b.y) AS p,
      |    sum(CAST(b.y AS HUGEINT)) AS asum,
      |    sum(CAST(a.y AS HUGEINT)) AS bsum
      |  FROM lg, m a, m b WHERE a.midx = b.midx + lg.kk
      |  GROUP BY lg.kk),
      |rk AS (
      |  SELECT kk, nk, n,
      |    (CAST(p AS DOUBLE)
      |      - CAST(s AS DOUBLE) / n * (CAST(asum AS DOUBLE) + bsum)
      |      + nk * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
      |    / (CAST(q2 AS DOUBLE) - CAST(s AS DOUBLE) * s / n) AS r
      |  FROM pr, full_s),
      |tq AS (
      |  SELECT kk, n, r,
      |    CAST(ROUND(r * r / (n - kk) * 1000000000000) AS BIGINT) AS t12
      |  FROM rk)
      |SELECT CAST(kk AS INT) AS lag, ROUND(r, 6) AS r,
      |  ROUND(CAST(n AS DOUBLE) * (n + 2)
      |    * CAST(sum(t12) OVER (ORDER BY kk) AS DOUBLE)
      |    / 1000000000000, 4) AS lb_q
      |FROM tq ORDER BY lag""".stripMargin) { (s, d) =>
    val m = t(s, d, "orders")
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("midx"))
      .agg(sumCents.as("y"))
    val fullS = m.agg(count(lit(1)).as("n"),
      sum(col("y").cast(big38)).as("s"),
      sum(col("y").cast(big38) * col("y")).as("q2"))
    val lg = s.range(1, 11).select(col("id").as("kk"))
    val b = m.select(col("midx").as("bmidx"), col("y").as("by"))
    val pr = m.crossJoin(broadcast(lg))
      .join(broadcast(b), col("midx") === col("bmidx") + col("kk"))
      .groupBy("kk")
      .agg(count(lit(1)).as("nk"),
        sum(col("y").cast(big38) * col("by")).as("p"),
        sum(col("by").cast(big38)).as("asum"),
        sum(col("y").cast(big38)).as("bsum"))
    val mu = col("s").cast(DoubleType) / col("n")
    val rk = pr.crossJoin(broadcast(fullS))
      .select(col("kk"), col("nk"), col("n"),
        ((col("p").cast(DoubleType)
          - mu * (col("asum").cast(DoubleType) + col("bsum"))
          + col("nk") * mu * mu)
          / (col("q2").cast(DoubleType)
            - col("s").cast(DoubleType) * col("s") / col("n"))).as("r"))
    val tq = rk.select(col("kk"), col("n"), col("r"),
      round(col("r") * col("r") / (col("n") - col("kk"))
        * 1000000000000L).cast(LongType).as("t12"))
    // bounded 10-row lag table: the unpartitioned running window is fine
    val w = org.apache.spark.sql.expressions.Window.orderBy("kk")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    tq.select(col("kk").cast(IntegerType).as("lag"),
        round(col("r"), 6).as("r"),
        round(col("n").cast(DoubleType) * (col("n") + 2)
          * sum(col("t12")).over(w).cast(DoubleType) / 1000000000000L, 4)
          .as("lb_q"))
      .orderBy("lag")
  }

  /** Cook's distance influence screen for the discount→quantity OLS:
    * the top-10 single rows that most move the fitted line — the
    * diagnostic that catches "one weird order drives the whole
    * coefficient" before anyone acts on q_agg_regression. Moments are
    * ONE exact-integer aggregate (broadcast to every row); leverage,
    * residual and D are per-row doubles with an identical DAG; the
    * top-10 cut orders by the ·10¹²-quantized D (then keys), so the
    * selected SET is engine-identical. */
  val qCooksDistance = Q(
    "q_cooks_distance",
    """WITH li AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CAST(round(l_discount * 100) AS BIGINT) AS x,
      |    CAST(l_quantity AS BIGINT) AS y
      |  FROM lineitem),
      |sm AS (
      |  SELECT count(*) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM li),
      |c AS (
      |  SELECT n,
      |    CAST(sx AS DOUBLE) / n AS xbar,
      |    CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n AS sxxc,
      |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
      |      / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS bhat,
      |    CAST(sy AS DOUBLE) / n AS ybar,
      |    CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS syyc,
      |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n AS sxyc
      |  FROM sm),
      |dd AS (
      |  SELECT li.l_orderkey, li.l_linenumber, li.x, li.y,
      |    1.0 / c.n + (li.x - c.xbar) * (li.x - c.xbar) / c.sxxc AS h,
      |    li.y - (c.ybar - c.bhat * c.xbar) - c.bhat * li.x AS e,
      |    (c.syyc - c.bhat * c.sxyc) / (c.n - 2) AS s2
      |  FROM li, c),
      |dq AS (
      |  SELECT l_orderkey, l_linenumber, x, y, h,
      |    CAST(ROUND(e * e * h / (2 * s2 * (1 - h) * (1 - h))
      |      * 1000000000000) AS BIGINT) AS d12
      |  FROM dd)
      |SELECT l_orderkey, CAST(l_linenumber AS INT) AS l_linenumber,
      |  CAST(x AS INT) AS discount_pct, CAST(y AS BIGINT) AS quantity,
      |  ROUND(h, 6) AS leverage,
      |  ROUND(CAST(d12 AS DOUBLE) / 1000000000000, 6) AS cooks_d
      |FROM dq ORDER BY d12 DESC, l_orderkey, l_linenumber
      |LIMIT 10""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem").select(col("l_orderkey"),
      col("l_linenumber"),
      round(col("l_discount") * 100).cast(LongType).as("x"),
      col("l_quantity").cast(LongType).as("y"))
    val sm = li.agg(count(lit(1)).as("n"),
      sum(col("x").cast(big38)).as("sx"),
      sum(col("y").cast(big38)).as("sy"),
      sum(col("x").cast(big38) * col("x")).as("sxx"),
      sum(col("x").cast(big38) * col("y")).as("sxy"),
      sum(col("y").cast(big38) * col("y")).as("syy"))
    val c = sm.select(col("n"),
      (col("sx").cast(DoubleType) / col("n")).as("xbar"),
      (col("sxx").cast(DoubleType)
        - col("sx").cast(DoubleType) * col("sx") / col("n")).as("sxxc"),
      ((col("sxy").cast(DoubleType)
        - col("sx").cast(DoubleType) * col("sy") / col("n"))
        / (col("sxx").cast(DoubleType)
          - col("sx").cast(DoubleType) * col("sx") / col("n"))).as("bhat"),
      (col("sy").cast(DoubleType) / col("n")).as("ybar"),
      (col("syy").cast(DoubleType)
        - col("sy").cast(DoubleType) * col("sy") / col("n")).as("syyc"),
      (col("sxy").cast(DoubleType)
        - col("sx").cast(DoubleType) * col("sy") / col("n")).as("sxyc"))
    val dd = li.crossJoin(broadcast(c))
      .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"),
        (lit(1.0) / col("n") + (col("x") - col("xbar"))
          * (col("x") - col("xbar")) / col("sxxc")).as("h"),
        (col("y") - (col("ybar") - col("bhat") * col("xbar"))
          - col("bhat") * col("x")).as("e"),
        ((col("syyc") - col("bhat") * col("sxyc")) / (col("n") - 2))
          .as("s2"))
    val dq = dd.select(col("l_orderkey"), col("l_linenumber"), col("x"),
      col("y"), col("h"),
      round(col("e") * col("e") * col("h")
        / (lit(2) * col("s2") * (lit(1) - col("h")) * (lit(1) - col("h")))
        * 1000000000000L).cast(LongType).as("d12"))
    dq.orderBy(col("d12").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(10)
      .select(col("l_orderkey"),
        col("l_linenumber").cast(IntegerType).as("l_linenumber"),
        col("x").cast(IntegerType).as("discount_pct"),
        col("y").cast(LongType).as("quantity"),
        round(col("h"), 6).as("leverage"),
        round(col("d12").cast(DoubleType) / 1000000000000L, 6).as("cooks_d"))
  }

  /** Holm–Bonferroni step-DOWN correction over the same 25 per-nation
    * urgent-share z-tests as q_fdr_bh (FWER control vs BH's FDR — the
    * stricter family-wise guarantee for launch-blocking decisions).
    * It reads q_fdr_bh's panel (`AnalyticsQueries.urgentZ`): exact
    * counts, p quantized to integer p9 BEFORE ranking. Holm's stop-at-first-failure is the
    * running MIN of the per-rank flag p9·(m−rank+1) ≤ α·10⁹ over the
    * bounded 25-row panel — integer comparisons throughout. */
  val qHolmBonferroni = Q(
    "q_holm_bonferroni",
    s"""WITH ${AnalyticsQueries.urgentZCte()},
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY p9, n_name) AS rank,
      |    count(*) OVER () AS m
      |  FROM pv),
      |fl AS (
      |  SELECT *, CASE WHEN p9 * (m - rank + 1) <= 50000000
      |    THEN 1 ELSE 0 END AS ok
      |  FROM rk)
      |SELECT n_name, CAST(n1 AS BIGINT) AS n_orders,
      |  CAST(u1 AS BIGINT) AS n_urgent, ROUND(z, 4) AS z,
      |  ROUND(CAST(p9 AS DOUBLE) / 1000000000, 6) AS p_value,
      |  CAST(rank AS BIGINT) AS p_rank,
      |  CAST(min(ok) OVER (ORDER BY rank
      |    ROWS UNBOUNDED PRECEDING) AS INT) AS rejected
      |FROM fl ORDER BY p_rank, n_name""".stripMargin) { (s, d) =>
    val pv = AnalyticsQueries.urgentZ(s, d)
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy("p9", "n_name")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val wRun = org.apache.spark.sql.expressions.Window.orderBy("rank")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    pv.withColumn("rank", row_number().over(wRank).cast(LongType))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("ok",
        when(col("p9") * (col("m") - col("rank") + 1) <= 50000000L, 1)
          .otherwise(0))
      .select(col("n_name"), col("n1").cast(LongType).as("n_orders"),
        col("u1").cast(LongType).as("n_urgent"),
        round(col("z"), 4).as("z"),
        round(col("p9").cast(DoubleType) / 1e9, 6).as("p_value"),
        col("rank").as("p_rank"),
        min(col("ok")).over(wRun).cast(IntegerType).as("rejected"))
      .orderBy("p_rank", "n_name")
  }

  /** Gumbel extreme-value fit (method of moments) on annual maxima of
    * the daily order count: location μ, scale β = s·√6/π, and the
    * 100-year return level μ − β·ln(−ln(1−1/100)) — the capacity-
    * planning question ("what daily peak should we provision for")
    * that mean-based profiles cannot answer. Daily counts and annual
    * maxima are exact integers; the bounded per-year panel's moment
    * sums are exact; the fit is one final double row. */
  val qExtremeValue = Q(
    "q_extreme_value",
    """WITH dc AS (
      |  SELECT year(o_orderdate) AS yr, o_orderdate AS day,
      |    count(*) AS c
      |  FROM orders GROUP BY 1, 2),
      |am AS (SELECT yr, max(c) AS mx FROM dc GROUP BY yr),
      |sm AS (
      |  SELECT count(*) AS n, sum(CAST(mx AS HUGEINT)) AS s1,
      |    sum(CAST(mx AS HUGEINT) * mx) AS s2
      |  FROM am),
      |fit AS (
      |  SELECT n,
      |    CAST(s1 AS DOUBLE) / n AS m,
      |    sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n)
      |      / (n - 1)) * 0.7796968012336761 AS beta
      |  FROM sm)
      |SELECT CAST(n AS INT) AS n_years,
      |  ROUND(m - 0.5772156649015329 * beta, 4) AS mu,
      |  ROUND(beta, 4) AS beta,
      |  ROUND(m - 0.5772156649015329 * beta
      |    - beta * ln(-ln(1 - 1.0 / 100)), 4) AS return_level_100
      |FROM fit""".stripMargin) { (s, d) =>
    val dc = t(s, d, "orders")
      .groupBy(year(col("o_orderdate")).as("yr"), col("o_orderdate").as("day"))
      .agg(count(lit(1)).as("c"))
    val am = dc.groupBy("yr").agg(max(col("c")).as("mx"))
    val sm = am.agg(count(lit(1)).as("n"),
      sum(col("mx").cast(big38)).as("s1"),
      sum(col("mx").cast(big38) * col("mx")).as("s2"))
    val fit = sm.select(col("n"),
      (col("s1").cast(DoubleType) / col("n")).as("m"),
      (sqrt((col("s2").cast(DoubleType)
        - col("s1").cast(DoubleType) * col("s1") / col("n"))
        / (col("n") - 1)) * lit(0.7796968012336761)).as("beta"))
    fit.select(col("n").cast(IntegerType).as("n_years"),
      round(col("m") - lit(0.5772156649015329) * col("beta"), 4).as("mu"),
      round(col("beta"), 4).as("beta"),
      round(col("m") - lit(0.5772156649015329) * col("beta")
        - col("beta") * log(-log(lit(1) - lit(1.0) / 100)), 4)
        .as("return_level_100"))
  }

  /** Coarsened-exact matching (CEM): URGENT orders match LOW-priority
    * controls inside (market segment × $1000 price caliper) cells, and
    * the ATT on order size (lineitem count) is the matched mean
    * difference — observational "does urgency change basket size" once
    * segment and price are controlled. Matching is a pure equi-join on
    * the cell key (never a sort or window over the fact subset — the
    * scale-right form of nearest-neighbor matching); the per-cell
    * control mean is an exact (Σ, n) pair so the treated-weighted
    * control average is reduction-order-proof. Unmatched treated rows
    * drop, per standard CEM. */
  val qCemMatch = Q(
    "q_cem_match",
    s"""WITH nl AS (
      |  SELECT l_orderkey, count(*) AS n_lines FROM lineitem GROUP BY 1),
      |ord AS (
      |  SELECT o.o_orderkey, c.c_mktsegment AS seg,
      |    ${priceCentsSql("o.o_totalprice")}
      |      // 100000 AS cell,
      |    o.o_orderpriority AS prio, nl.n_lines
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nl ON o.o_orderkey = nl.l_orderkey
      |  WHERE o.o_orderpriority IN ('1-URGENT', '5-LOW')),
      |ctrl AS (
      |  SELECT seg, cell, sum(CAST(n_lines AS HUGEINT)) AS csum,
      |    count(*) AS cn
      |  FROM ord WHERE prio = '5-LOW' GROUP BY 1, 2),
      |tr AS (SELECT seg, cell, o_orderkey, n_lines FROM ord
      |  WHERE prio = '1-URGENT'),
      |j AS (
      |  SELECT tr.seg, tr.n_lines, ctrl.csum, ctrl.cn
      |  FROM tr JOIN ctrl ON tr.seg = ctrl.seg AND tr.cell = ctrl.cell),
      |per AS (
      |  SELECT seg, count(*) AS n_matched,
      |    sum(CAST(n_lines AS HUGEINT)) AS st,
      |    sum(CAST(ROUND(CAST(csum AS DOUBLE) / cn * 1000000)
      |      AS HUGEINT)) AS sc6
      |  FROM j GROUP BY seg)
      |SELECT seg, CAST(n_matched AS BIGINT) AS n_matched,
      |  ROUND(CAST(st AS DOUBLE) / n_matched, 6) AS mean_treated,
      |  ROUND(CAST(sc6 AS DOUBLE) / 1000000 / n_matched, 6)
      |    AS mean_control,
      |  ROUND((CAST(st AS DOUBLE) - CAST(sc6 AS DOUBLE) / 1000000)
      |    / n_matched, 6) AS att
      |FROM per ORDER BY seg""".stripMargin) { (s, d) =>
    val nl = t(s, d, "lineitem").groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"))
    val ord = t(s, d, "orders")
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .join(broadcast(t(s, d, "customer")
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .join(nl, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("c_mktsegment").as("seg"),
        expr(priceCentsSql("o_totalprice") + " DIV 100000").as("cell"),
        col("o_orderpriority").as("prio"), col("n_lines"))
    val ctrl = ord.filter(col("prio") === "5-LOW")
      .groupBy("seg", "cell")
      .agg(sum(col("n_lines").cast(big38)).as("csum"),
        count(lit(1)).as("cn"))
    val tr = ord.filter(col("prio") === "1-URGENT")
      .select("seg", "cell", "n_lines")
    val j = tr.join(ctrl, Seq("seg", "cell"))
    val per = j.groupBy("seg")
      .agg(count(lit(1)).as("n_matched"),
        sum(col("n_lines").cast(big38)).as("st"),
        sum(round(col("csum").cast(DoubleType) / col("cn") * 1000000L)
          .cast(big38)).as("sc6"))
    per.select(col("seg"), col("n_matched").cast(LongType).as("n_matched"),
        round(col("st").cast(DoubleType) / col("n_matched"), 6)
          .as("mean_treated"),
        round(col("sc6").cast(DoubleType) / 1000000L / col("n_matched"), 6)
          .as("mean_control"),
        round((col("st").cast(DoubleType)
          - col("sc6").cast(DoubleType) / 1000000L) / col("n_matched"), 6)
          .as("att"))
      .orderBy("seg")
  }

  /** Entropy rate of the user-journey Markov chain: transition counts
    * from per-user event sequences (the q_markov_transitions chain),
    * stationary distribution via 3 power-iteration steps from uniform
    * over the bounded 5-state matrix (each step's probabilities
    * ·10⁹-quantized so both engines iterate identical integers), and
    * H = −Σ π_i p_ij ln p_ij with ·10⁹-quantized terms — bits-per-step
    * predictability of user behavior, the sequence-compressibility
    * readout next to q_doc_entropy's static one. */
  val qMarkovEntropy = Q(
    "q_markov_entropy",
    s"""WITH ${AnalyticsQueries.markovPairsSql},
      |p AS (
      |  SELECT pairs.src, pairs.dst,
      |    CAST(ROUND(CAST(pairs.n AS DOUBLE) / tn * 1000000000) AS BIGINT)
      |      AS p9
      |  FROM pairs JOIN tot USING (src)),
      |states AS (SELECT DISTINCT src FROM p),
      |pi0 AS (
      |  SELECT src, 1000000000 // (SELECT count(*) FROM states) AS pi9
      |  FROM states),
      |pi1 AS (
      |  SELECT p.dst AS src,
      |    CAST(sum(pi0.pi9 * p.p9 // 1000000000) AS BIGINT) AS pi9
      |  FROM pi0 JOIN p ON pi0.src = p.src GROUP BY p.dst),
      |pi2 AS (
      |  SELECT p.dst AS src,
      |    CAST(sum(pi1.pi9 * p.p9 // 1000000000) AS BIGINT) AS pi9
      |  FROM pi1 JOIN p ON pi1.src = p.src GROUP BY p.dst),
      |pi3 AS (
      |  SELECT p.dst AS src,
      |    CAST(sum(pi2.pi9 * p.p9 // 1000000000) AS BIGINT) AS pi9
      |  FROM pi2 JOIN p ON pi2.src = p.src GROUP BY p.dst),
      |h AS (
      |  SELECT sum(CAST(ROUND(-(CAST(pi3.pi9 AS DOUBLE) / 1000000000)
      |      * (CAST(p.p9 AS DOUBLE) / 1000000000)
      |      * ln(CAST(p.p9 AS DOUBLE) / 1000000000)
      |      * 1000000000) AS BIGINT)) AS h9,
      |    count(*) AS n_cells
      |  FROM pi3 JOIN p ON pi3.src = p.src WHERE p.p9 > 0)
      |SELECT CAST((SELECT count(*) FROM states) AS INT) AS n_states,
      |  CAST(n_cells AS BIGINT) AS n_transitions,
      |  ROUND(CAST(h9 AS DOUBLE) / 1000000000, 6) AS entropy_rate_nats,
      |  ROUND(CAST(h9 AS DOUBLE) / 1000000000 / ln(2), 6)
      |    AS entropy_rate_bits
      |FROM h""".stripMargin) { (s, d) =>
    val (pairs, tot) = AnalyticsQueries.markovPairs(
      graft.Tables.tsAsTimestamp(t(s, d, "events"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us")))
    val p = pairs.join(broadcast(tot), Seq("src"))
      .select(col("src"), col("dst"),
        round(col("n").cast(DoubleType) / col("tn") * 1000000000L)
          .cast(LongType).as("p9"))
    val nStates = p.select(col("src")).distinct()
      .agg(count(lit(1)).as("k"))
    var pi = p.select(col("src")).distinct()
      .crossJoin(broadcast(nStates))
      .select(col("src"), expr("1000000000 DIV k").as("pi9"))
    for (_ <- 1 to 3) {
      val prev = pi.select(col("src").as("psrc"), col("pi9"))
      pi = prev.join(p, col("psrc") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(expr("pi9 * p9 DIV 1000000000")).cast(LongType)
          .as("pi9"))
        .select(col("dst").as("src"), col("pi9"))
    }
    val h = pi.select(col("src").as("psrc"), col("pi9"))
      .join(p, col("psrc") === col("src"))
      .filter(col("p9") > 0)
      .agg(sum(round(-(col("pi9").cast(DoubleType) / 1000000000L)
          * (col("p9").cast(DoubleType) / 1000000000L)
          * log(col("p9").cast(DoubleType) / 1000000000L)
          * 1000000000L).cast(LongType)).as("h9"),
        count(lit(1)).as("n_cells"))
    h.crossJoin(broadcast(nStates))
      .select(col("k").cast(IntegerType).as("n_states"),
        col("n_cells").cast(LongType).as("n_transitions"),
        round(col("h9").cast(DoubleType) / 1000000000L, 6)
          .as("entropy_rate_nats"),
        round(col("h9").cast(DoubleType) / 1000000000L / log(lit(2.0)), 6)
          .as("entropy_rate_bits"))
  }

  /** Lo–MacKinlay variance-ratio test on monthly revenue: VR(q) =
    * Var(q-period difference) / (q · Var(1-period difference)) for
    * q ∈ {2, 3, 6, 12} — the random-walk diagnostic (VR ≈ 1 under a
    * drifting random walk; < 1 mean reversion, > 1 trending) that
    * decides whether naive drift extrapolation is even admissible.
    * Differences are exact cent integers off bounded month-pair joins;
    * variances assemble from exact DECIMAL(38) sums; each VR row is
    * one final double expression. */
  val qVarianceRatio = Q(
    "q_variance_ratio",
    s"""WITH m AS (
      |  SELECT year(o_orderdate) * 12 + month(o_orderdate) AS midx,
      |    ${sumCentsSql}
      |      AS y
      |  FROM orders GROUP BY 1),
      |qs AS (SELECT unnest([1, 2, 3, 6, 12]) AS q),
      |df AS (
      |  SELECT qs.q, count(*) AS nq,
      |    sum(CAST(a.y - b.y AS HUGEINT)) AS s1,
      |    sum(CAST(a.y - b.y AS HUGEINT) * (a.y - b.y)) AS s2
      |  FROM qs, m a, m b WHERE a.midx = b.midx + qs.q
      |  GROUP BY qs.q),
      |v AS (
      |  SELECT q, nq,
      |    (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nq) / (nq - 1)
      |      AS var_q
      |  FROM df),
      |base AS (SELECT var_q AS var_1 FROM v WHERE q = 1)
      |SELECT CAST(q AS INT) AS q, CAST(nq AS BIGINT) AS n_diffs,
      |  ROUND(var_q / (q * var_1), 6) AS vr
      |FROM v, base WHERE q > 1 ORDER BY q""".stripMargin) { (s, d) =>
    val m = t(s, d, "orders")
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .as("midx"))
      .agg(sumCents.as("y"))
    import s.implicits._
    val qs = Seq(1L, 2L, 3L, 6L, 12L).toDF("q")
    val b = m.select(col("midx").as("bmidx"), col("y").as("by"))
    val df0 = m.crossJoin(broadcast(qs))
      .join(broadcast(b), col("midx") === col("bmidx") + col("q"))
      .select(col("q"), (col("y") - col("by")).as("dv"))
    val df = df0.groupBy("q").agg(count(lit(1)).as("nq"),
      sum(col("dv").cast(big38)).as("s1"),
      sum(col("dv").cast(big38) * col("dv")).as("s2"))
    val v = df.select(col("q"), col("nq"),
      ((col("s2").cast(DoubleType)
        - col("s1").cast(DoubleType) * col("s1") / col("nq"))
        / (col("nq") - 1)).as("var_q"))
    val base = v.filter(col("q") === 1).select(col("var_q").as("var_1"))
    v.filter(col("q") > 1).crossJoin(broadcast(base))
      .select(col("q").cast(IntegerType).as("q"),
        col("nq").cast(LongType).as("n_diffs"),
        round(col("var_q") / (col("q") * col("var_1")), 6).as("vr"))
      .orderBy("q")
  }

  /** Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) of the
    * thresholded co-purchase graph for k ∈ {1, 2, 3, 5} — do the
    * best-connected parts preferentially co-occur with EACH OTHER
    * (catalog "hub cliques"), beyond what q_assortativity's single
    * correlation says? Same edge construction (n_co ≥ 2 blocking);
    * per-k counts are two bounded aggregates over degree-joined edges;
    * φ is one final division per k row. */
  val qRichClub = Q(
    "q_rich_club",
    s"""WITH ${PairStore.edgeCte()},
      |deg AS (
      |  SELECT v, count(*) AS deg FROM (
      |    SELECT src AS v FROM e UNION ALL SELECT dst FROM e) u
      |  GROUP BY v),
      |ks AS (SELECT unnest([1, 2, 3, 5]) AS k),
      |nk AS (
      |  SELECT ks.k, count(*) AS n_nodes FROM ks, deg
      |  WHERE deg.deg > ks.k GROUP BY ks.k),
      |ek AS (
      |  SELECT ks.k, count(*) AS n_edges
      |  FROM ks, e
      |  JOIN deg du ON e.src = du.v JOIN deg dv ON e.dst = dv.v
      |  WHERE du.deg > ks.k AND dv.deg > ks.k GROUP BY ks.k)
      |SELECT CAST(nk.k AS INT) AS k, CAST(nk.n_nodes AS BIGINT) AS n_nodes,
      |  CAST(coalesce(ek.n_edges, 0) AS BIGINT) AS n_edges,
      |  ROUND(CASE WHEN nk.n_nodes >= 2
      |    THEN 2.0 * coalesce(ek.n_edges, 0)
      |      / (CAST(nk.n_nodes AS DOUBLE) * (nk.n_nodes - 1)) END, 6)
      |    AS phi
      |FROM nk LEFT JOIN ek ON nk.k = ek.k
      |ORDER BY nk.k""".stripMargin) { (s, d) =>
    // support ≥ 2 edges off the shared, checkpoint-backed PairStore
    val e = PairStore.edges(s, d)
    val deg = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    import s.implicits._
    val ks = Seq(1L, 2L, 3L, 5L).toDF("k")
    val nk = deg.crossJoin(broadcast(ks)).filter(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val ej = e.join(deg.select(col("v").as("sv"), col("deg").as("sdeg")),
        col("src") === col("sv"))
      .join(deg.select(col("v").as("dv2"), col("deg").as("ddeg")),
        col("dst") === col("dv2"))
    val ek = ej.crossJoin(broadcast(ks))
      .filter(col("sdeg") > col("k") && col("ddeg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    nk.join(ek, Seq("k"), "left")
      .select(col("k").cast(IntegerType).as("k"),
        col("n_nodes").cast(LongType).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).cast(LongType).as("n_edges"),
        round(when(col("n_nodes") >= 2,
          lit(2.0) * coalesce(col("n_edges"), lit(0L))
            / (col("n_nodes").cast(DoubleType) * (col("n_nodes") - 1))),
          6).as("phi"))
      .orderBy("k")
  }

  /** Bradley–Terry preference strengths over part brands: within each
    * order, the brand with higher line revenue "beats" each other
    * brand present; two MM iterations w_i ← W_i / Σ_j n_ij/(w_i+w_j)
    * from a uniform start fit the strengths — the pairwise-preference
    * model (the reward-model primitive) run entirely in EXACT integer
    * arithmetic: probabilities scaled ·10⁹, every per-pair term is
    * (n_ij·10¹⁸) DIV (w9_i + w9_j), so both engines iterate identical
    * integers. The contest matrix is bounded (|brands|²); contest
    * generation is a per-order self-join on the order key. */
  val qBradleyTerry = Q(
    "q_bradley_terry",
    """WITH pb AS (
      |  SELECT l_orderkey AS ok, p_brand AS brand,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
      |      AS BIGINT) AS rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |ct AS (
      |  SELECT CASE WHEN a.rev > b.rev THEN a.brand ELSE b.brand END AS wi,
      |    CASE WHEN a.rev > b.rev THEN b.brand ELSE a.brand END AS lo
      |  FROM pb a JOIN pb b ON a.ok = b.ok AND a.brand < b.brand
      |  WHERE a.rev <> b.rev),
      |wl AS (SELECT wi, lo, count(*) AS n FROM ct GROUP BY 1, 2),
      |pairs AS (
      |  SELECT i, j, sum(n) AS n FROM (
      |    SELECT wi AS i, lo AS j, n FROM wl
      |    UNION ALL SELECT lo, wi, n FROM wl) u
      |  GROUP BY 1, 2),
      |wins AS (SELECT wi AS i, sum(n) AS w FROM wl GROUP BY 1),
      |br AS (SELECT DISTINCT i FROM pairs),
      |w0 AS (SELECT i, CAST(1000000000 AS HUGEINT) AS w9 FROM br),
      |d1 AS (
      |  SELECT p.i, sum((CAST(p.n AS HUGEINT) * 1000000000000000000)
      |    // (wa.w9 + wb.w9)) AS d9
      |  FROM pairs p JOIN w0 wa ON p.i = wa.i JOIN w0 wb ON p.j = wb.i
      |  GROUP BY p.i),
      |w1 AS (
      |  SELECT d1.i, (CAST(coalesce(wins.w, 0) AS HUGEINT)
      |    * 1000000000000000000) // d1.d9 AS w9
      |  FROM d1 LEFT JOIN wins ON d1.i = wins.i),
      |d2 AS (
      |  SELECT p.i, sum((CAST(p.n AS HUGEINT) * 1000000000000000000)
      |    // nullif(wa.w9 + wb.w9, 0)) AS d9
      |  FROM pairs p JOIN w1 wa ON p.i = wa.i JOIN w1 wb ON p.j = wb.i
      |  GROUP BY p.i),
      |w2 AS (
      |  SELECT d2.i, (CAST(coalesce(wins.w, 0) AS HUGEINT)
      |    * 1000000000000000000) // nullif(d2.d9, 0) AS w9
      |  FROM d2 LEFT JOIN wins ON d2.i = wins.i),
      |tot AS (SELECT sum(w9) AS tw FROM w2),
      |gm AS (SELECT i, sum(n) AS games FROM pairs GROUP BY i)
      |SELECT w2.i AS brand,
      |  CAST(coalesce(wins.w, 0) AS BIGINT) AS wins,
      |  CAST(gm.games AS BIGINT) AS games,
      |  ROUND(CAST(w2.w9 AS DOUBLE) / CAST(tot.tw AS DOUBLE), 6)
      |    AS bt_strength
      |FROM w2 LEFT JOIN wins ON w2.i = wins.i
      |JOIN gm ON w2.i = gm.i CROSS JOIN tot
      |ORDER BY brand""".stripMargin) { (s, d) =>
    val pb = t(s, d, "lineitem")
      .join(t(s, d, "part").select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
      .agg(sum(dec2(col("l_extendedprice")) * 100).cast(LongType).as("rev"))
    val ct = pb.as("a")
      .join(pb.as("b"),
        col("a.ok") === col("b.ok") && col("a.brand") < col("b.brand"))
      .filter(col("a.rev") =!= col("b.rev"))
      .select(
        when(col("a.rev") > col("b.rev"), col("a.brand"))
          .otherwise(col("b.brand")).as("wi"),
        when(col("a.rev") > col("b.rev"), col("b.brand"))
          .otherwise(col("a.brand")).as("lo"))
    // ≤600-row (brand × brand) panel consumed by pairs/wins and by BOTH
    // sides of each iteration's self-join — without a lineage fence every
    // consumer re-runs the order-keyed pair join, compounding per
    // iteration (39 s at sf0.1; the q_tfidf_cosine_pairs lesson).
    val wl = ct.groupBy("wi", "lo").agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val pairs = wl.select(col("wi").as("i"), col("lo").as("j"), col("n"))
      .unionByName(wl.select(col("lo").as("i"), col("wi").as("j"), col("n")))
      .groupBy("i", "j").agg(sum(col("n")).as("n"))
    val wins = wl.groupBy(col("wi").as("i")).agg(sum(col("n")).as("w"))
    var w = pairs.select(col("i")).distinct()
      .select(col("i"), lit(1000000000L).cast(big38).as("w9"))
    for (_ <- 1 to 2) {
      val dd = pairs
        .join(broadcast(w.select(col("i").as("ia"), col("w9").as("wa"))),
          col("i") === col("ia"))
        .join(broadcast(w.select(col("i").as("ib"), col("w9").as("wb"))),
          col("j") === col("ib"))
        .groupBy("i")
        .agg(sum(expr("CAST(n AS DECIMAL(38,0)) * 1000000000000000000" +
          " DIV nullif(wa + wb, 0)")).as("d9"))
      w = dd.join(broadcast(wins), Seq("i"), "left")
        .select(col("i"),
          expr("CAST(coalesce(w, 0) AS DECIMAL(38,0))" +
            " * 1000000000000000000 DIV nullif(d9, 0)").cast(big38)
            .as("w9"))
    }
    val tot = w.agg(sum(col("w9")).as("tw"))
    val gm = pairs.groupBy("i").agg(sum(col("n")).as("games"))
    w.join(broadcast(wins), Seq("i"), "left")
      .join(broadcast(gm), Seq("i"))
      .crossJoin(broadcast(tot))
      .select(col("i").as("brand"),
        coalesce(col("w"), lit(0L)).cast(LongType).as("wins"),
        col("games").cast(LongType).as("games"),
        round(col("w9").cast(DoubleType) / col("tw").cast(DoubleType), 6)
          .as("bt_strength"))
      .orderBy("brand")
  }

  /** A/A calibration panel: 50 deterministic hash-splits of orders into
    * two arms, the urgent-share z-test run on EACH split, and the
    * fraction rejected at α = 0.05 — the experimentation-platform
    * health check (a calibrated stack rejects ≈5% of A/A tests; more
    * means the unit of randomization or the variance formula is wrong).
    * Split assignment is the seeded-md5 idiom (q_mask_plan); per-split
    * counts are exact; z and the A&S tail quantize to integer p9 per
    * bounded split row; the rejection rate is an exact fraction. */
  val qAaCalibration = Q(
    "q_aa_calibration",
    s"""WITH sp AS (SELECT unnest(range(0, 50)) AS r),
      |x AS (
      |  SELECT sp.r,
      |    CAST(concat('0x', substr(md5(concat(o_orderkey, ':', sp.r)),
      |      1, 15)) AS BIGINT) % 2 AS arm,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
      |  FROM orders, sp),
      |g AS (
      |  SELECT r,
      |    sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na,
      |    sum(CASE WHEN arm = 0 THEN u ELSE 0 END) AS ua,
      |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb,
      |    sum(CASE WHEN arm = 1 THEN u ELSE 0 END) AS ub
      |  FROM x GROUP BY r),
      |zt AS (
      |  SELECT r,
      |    (CAST(ua AS DOUBLE) / na - CAST(ub AS DOUBLE) / nb)
      |      / sqrt(CAST(ua + ub AS DOUBLE) / (na + nb)
      |        * (1 - CAST(ua + ub AS DOUBLE) / (na + nb))
      |        * (1.0 / na + 1.0 / nb)) AS z
      |  FROM g),
      |pv AS (
      |  SELECT r, z,
      |    ${pValue9Sql("z")} AS p9
      |  FROM zt)
      |SELECT count(*) AS n_splits,
      |  CAST(sum(CASE WHEN p9 < 50000000 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_rejected,
      |  ROUND(CAST(sum(CASE WHEN p9 < 50000000 THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS rejection_rate,
      |  ROUND(CAST(sum(CAST(ROUND(abs(z) * 1000000) AS BIGINT))
      |    AS DOUBLE) / count(*) / 1000000, 6) AS mean_abs_z
      |FROM pv""".stripMargin) { (s, d) =>
    val sp = s.range(0, 50).select(col("id").as("r"))
    val x = t(s, d, "orders")
      .select(col("o_orderkey"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("u"))
      .crossJoin(broadcast(sp))
      .select(col("r"),
        (conv(substring(md5(concat(col("o_orderkey"), lit(":"), col("r"))),
          1, 15), 16, 10).cast(LongType) % 2).as("arm"),
        col("u"))
    val g = x.groupBy("r").agg(
      sum(when(col("arm") === 0, 1L).otherwise(0L)).as("na"),
      sum(when(col("arm") === 0, col("u")).otherwise(0L)).as("ua"),
      sum(when(col("arm") === 1, 1L).otherwise(0L)).as("nb"),
      sum(when(col("arm") === 1, col("u")).otherwise(0L)).as("ub"))
    val zt = g.select(col("r"),
      ((col("ua").cast(DoubleType) / col("na")
        - col("ub").cast(DoubleType) / col("nb"))
        / sqrt((col("ua") + col("ub")).cast(DoubleType)
          / (col("na") + col("nb"))
          * (lit(1) - (col("ua") + col("ub")).cast(DoubleType)
            / (col("na") + col("nb")))
          * (lit(1.0) / col("na") + lit(1.0) / col("nb")))).as("z"))
    val pv = zt.withColumn("p9", pValue9(col("z")))
    pv.agg(count(lit(1)).as("n_splits"),
        sum(when(col("p9") < 50000000L, 1L).otherwise(0L)).as("nr"),
        sum(round(abs(col("z")) * 1000000L).cast(LongType)).as("az6"))
      .select(col("n_splits"),
        col("nr").cast(LongType).as("n_rejected"),
        round(col("nr").cast(DoubleType) / col("n_splits"), 6)
          .as("rejection_rate"),
        round(col("az6").cast(DoubleType) / col("n_splits") / 1000000L, 6)
          .as("mean_abs_z"))
  }

  /** Mood's median test across order priorities: does any priority's
    * order-value DISTRIBUTION sit above/below the grand median (the
    * rank-free, outlier-immune cousin of q_anova / q_kruskal_wallis)?
    * The grand median is scale-gated via [[graft.ApproxGate]] (exact —
    * cross-engine-stable — at oracle scales, mergeable sketch past the
    * threshold); the 2×k contingency table is exact integer counts;
    * each cell's (obs−exp)²/exp is quantized ·10⁶ on its own cell row
    * before the bounded cross-cell sum. */
  val qMoodsMedian = Q(
    "q_moods_median",
    """-- ORACLE-SCALE SEMANTICS ONLY: past ApproxGate.pctRowThreshold base
      |-- rows the Spark side switches to a mergeable approx_percentile
      |-- sketch; this exact form is what's compared at oracle scales.
      |WITH x AS (
      |  SELECT o_orderpriority AS prio, o_totalprice AS v FROM orders),
      |med AS (SELECT median(v) AS med FROM x),
      |g AS (
      |  SELECT prio,
      |    CAST(sum(CASE WHEN v > med THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_above,
      |    CAST(sum(CASE WHEN v <= med THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_below
      |  FROM x, med GROUP BY prio),
      |tot AS (
      |  SELECT CAST(sum(n_above) AS BIGINT) AS ta,
      |    CAST(sum(n_below) AS BIGINT) AS tb,
      |    CAST(sum(n_above + n_below) AS BIGINT) AS n
      |  FROM g),
      |c AS (
      |  SELECT prio, n_above, n_below,
      |    CAST(round(
      |      (n_above - CAST((n_above + n_below) * ta AS DOUBLE) / n)
      |      * (n_above - CAST((n_above + n_below) * ta AS DOUBLE) / n)
      |      / (CAST((n_above + n_below) * ta AS DOUBLE) / n)
      |      * 1000000) AS BIGINT)
      |    + CAST(round(
      |      (n_below - CAST((n_above + n_below) * tb AS DOUBLE) / n)
      |      * (n_below - CAST((n_above + n_below) * tb AS DOUBLE) / n)
      |      / (CAST((n_above + n_below) * tb AS DOUBLE) / n)
      |      * 1000000) AS BIGINT) AS contrib6
      |  FROM g, tot),
      |chi AS (SELECT sum(contrib6) AS chi6 FROM c)
      |SELECT prio, n_above, n_below,
      |  ROUND(CAST(contrib6 AS DOUBLE) / 1000000, 6) AS contrib,
      |  ROUND(CAST(chi6 AS DOUBLE) / 1000000, 6) AS chi2
      |FROM c, chi ORDER BY prio""".stripMargin) { (s, d) =>
    val x = t(s, d, "orders").select(col("o_orderpriority").as("prio"),
      col("o_totalprice").as("v"))
    // the grand median buffers every value in ONE reducer — scale-gated
    // (graft.ApproxGate): exact at oracle scales, sketch past the
    // threshold (above/below counts shift only within the sketch's
    // ~0.01%-rank band around the true median)
    val ap = graft.ApproxGate.useApprox(s, d, "orders")
    val med = x.agg(graft.ApproxGate.pct(col("v"), 0.5, ap).as("med"))
    val g = x.crossJoin(broadcast(med))
      .groupBy("prio")
      .agg(sum(when(col("v") > col("med"), 1).otherwise(0))
          .cast(LongType).as("n_above"),
        sum(when(col("v") <= col("med"), 1).otherwise(0))
          .cast(LongType).as("n_below"))
    val tot = g.agg(sum(col("n_above")).cast(LongType).as("ta"),
      sum(col("n_below")).cast(LongType).as("tb"),
      sum(col("n_above") + col("n_below")).cast(LongType).as("n"))
    def cellContrib(obs: org.apache.spark.sql.Column,
        colTot: org.apache.spark.sql.Column) = {
      val e = ((col("n_above") + col("n_below")) * colTot)
        .cast(DoubleType) / col("n")
      round((obs - e) * (obs - e) / e * 1000000).cast(LongType)
    }
    val c = g.crossJoin(broadcast(tot))
      .select(col("prio"), col("n_above"), col("n_below"),
        (cellContrib(col("n_above"), col("ta"))
          + cellContrib(col("n_below"), col("tb"))).as("contrib6"))
    val chi = c.agg(sum(col("contrib6")).as("chi6"))
    c.crossJoin(broadcast(chi))
      .select(col("prio"), col("n_above"), col("n_below"),
        round(col("contrib6").cast(DoubleType) / 1000000L, 6)
          .as("contrib"),
        round(col("chi6").cast(DoubleType) / 1000000L, 6).as("chi2"))
      .orderBy("prio")
  }

  /** Cochran's Q test: did the population of active customers CHANGE
    * its participation pattern across 1995/1996/1997 (k=3 matched
    * binary treatments per customer-block)? Flags, row sums Ri, column
    * totals Cj, ΣRi² are all exact integers from ONE grouped aggregate;
    * Q = (k−1)(kΣCj²−(ΣCj)²)/(kΣRi−ΣRi²) is a single final double row.
    * All-zero and all-k blocks contribute 0 to both Q terms, so no
    * block filter is needed (and none is applied). */
  val qCochranQ = Q(
    "q_cochran_q",
    """WITH f AS (
      |  SELECT o_custkey AS cust,
      |    max(CASE WHEN EXTRACT(year FROM o_orderdate) = 1995
      |      THEN 1 ELSE 0 END) AS f1,
      |    max(CASE WHEN EXTRACT(year FROM o_orderdate) = 1996
      |      THEN 1 ELSE 0 END) AS f2,
      |    max(CASE WHEN EXTRACT(year FROM o_orderdate) = 1997
      |      THEN 1 ELSE 0 END) AS f3
      |  FROM orders
      |  WHERE EXTRACT(year FROM o_orderdate) IN (1995, 1996, 1997)
      |  GROUP BY 1),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n_blocks,
      |    CAST(sum(f1) AS HUGEINT) AS c1,
      |    CAST(sum(f2) AS HUGEINT) AS c2,
      |    CAST(sum(f3) AS HUGEINT) AS c3,
      |    CAST(sum(f1 + f2 + f3) AS HUGEINT) AS sr,
      |    CAST(sum((f1 + f2 + f3) * (f1 + f2 + f3)) AS HUGEINT) AS sr2
      |  FROM f)
      |SELECT CAST(n_blocks AS BIGINT) AS n_blocks,
      |  CAST(c1 AS BIGINT) AS n_1995, CAST(c2 AS BIGINT) AS n_1996,
      |  CAST(c3 AS BIGINT) AS n_1997,
      |  ROUND(2 * (3 * CAST(c1 * c1 + c2 * c2 + c3 * c3 AS DOUBLE)
      |      - CAST(sr * sr AS DOUBLE))
      |    / (3 * CAST(sr AS DOUBLE) - CAST(sr2 AS DOUBLE)), 6) AS q_stat
      |FROM m""".stripMargin) { (s, d) =>
    val yr = year(col("o_orderdate"))
    val f = t(s, d, "orders")
      .where(yr.isin(1995, 1996, 1997))
      .groupBy(col("o_custkey").as("cust"))
      .agg(max(when(yr === 1995, 1).otherwise(0)).as("f1"),
        max(when(yr === 1996, 1).otherwise(0)).as("f2"),
        max(when(yr === 1997, 1).otherwise(0)).as("f3"))
    val ri = col("f1") + col("f2") + col("f3")
    val m = f.agg(count(lit(1)).cast(big38).as("n_blocks"),
      sum(col("f1")).cast(big38).as("c1"),
      sum(col("f2")).cast(big38).as("c2"),
      sum(col("f3")).cast(big38).as("c3"),
      sum(ri).cast(big38).as("sr"),
      sum(ri * ri).cast(big38).as("sr2"))
    m.select(col("n_blocks").cast(LongType).as("n_blocks"),
      col("c1").cast(LongType).as("n_1995"),
      col("c2").cast(LongType).as("n_1996"),
      col("c3").cast(LongType).as("n_1997"),
      round(lit(2) * (lit(3) * (col("c1") * col("c1")
          + col("c2") * col("c2") + col("c3") * col("c3"))
          .cast(DoubleType)
        - (col("sr") * col("sr")).cast(DoubleType))
        / (lit(3) * col("sr").cast(DoubleType)
          - col("sr2").cast(DoubleType)), 6).as("q_stat"))
  }

  /** The ESD query's round k over the series `ser`k (`ser` for k = 1):
    * exact moments `s`k, quantized deviations `r`k, the argmax `w`k and,
    * below round 3, the next round's series without it. */
  private def esdRoundSql(k: Int): String = {
    val src = if (k == 1) "ser" else s"ser$k"
    s"""s$k AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n, sum(CAST(v AS HUGEINT))
       |      AS a, sum(CAST(v AS HUGEINT) * v) AS b
       |  FROM $src),
       |r$k AS (
       |  SELECT mth, v,
       |    CAST(round(abs(v - CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
       |      / sqrt((CAST(b AS DOUBLE)
       |        - CAST(a AS DOUBLE) * CAST(a AS DOUBLE) / CAST(n AS DOUBLE))
       |        / (CAST(n AS DOUBLE) - 1)) * 1000000000) AS BIGINT) AS r9
       |  FROM $src, s$k),
       |w$k AS (SELECT * FROM r$k ORDER BY r9 DESC, mth LIMIT 1)""".stripMargin +
      (if (k == 3) "" else
        s""",
           |ser${k + 1} AS (SELECT $src.* FROM $src, w$k WHERE $src.mth <> w$k.mth)""".stripMargin)
  }

  /** Generalized ESD (Rosner) anomaly screen: three unrolled
    * test-and-remove rounds on the monthly revenue panel — the
    * multi-outlier-safe upgrade over a single Grubbs pass (one giant
    * month can MASK a second one; ESD re-estimates μ/σ after each
    * removal). Each round is one exact HUGEINT moment aggregate over the
    * ≤84-row panel + an argmax on the ·10⁹-quantized deviation (ties by
    * month) — fixed 3-round unroll, no driver loop, the q_kcore
    * fixed-sweep contract. */
  val qAnomalyEsd = Q(
    "q_anomaly_esd",
    s"""WITH ser AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
      |    ${sumCentsSql}
      |      AS v
      |  FROM orders GROUP BY 1),
      |${(1 to 3).map(esdRoundSql).mkString(",\n")}
      |SELECT iteration, mth, ROUND(CAST(v AS DOUBLE) / 100, 2) AS revenue,
      |  ROUND(CAST(r9 AS DOUBLE) / 1000000000, 6) AS r_stat
      |FROM (
      |  SELECT 1 AS iteration, mth, v, r9 FROM w1
      |  UNION ALL SELECT 2, mth, v, r9 FROM w2
      |  UNION ALL SELECT 3, mth, v, r9 FROM w3)
      |ORDER BY iteration""".stripMargin) { (s, d) =>
    val ser = t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType)
        .as("mth"))
      .agg(sumCents.as("v"))
    def round1(panel: DataFrame): DataFrame = {
      val st = panel.agg(count(lit(1)).cast(big38).as("n"),
        sum(col("v").cast(big38)).as("a"),
        sum(col("v").cast(big38) * col("v")).as("b"))
      val mu = col("a").cast(DoubleType) / col("n").cast(DoubleType)
      val sd = sqrt((col("b").cast(DoubleType)
        - col("a").cast(DoubleType) * col("a").cast(DoubleType)
          / col("n").cast(DoubleType))
        / (col("n").cast(DoubleType) - 1))
      panel.crossJoin(broadcast(st))
        .select(col("mth"), col("v"),
          round(abs(col("v") - mu) / sd * 1000000000L).cast(LongType)
            .as("r9"))
        .orderBy(col("r9").desc, col("mth")).limit(1)
    }
    val w1 = round1(ser)
    val ser2 = ser.join(broadcast(w1.select(col("mth").as("x1"))),
      col("mth") === col("x1"), "left_anti")
    val w2 = round1(ser2)
    val ser3 = ser2.join(broadcast(w2.select(col("mth").as("x2"))),
      col("mth") === col("x2"), "left_anti")
    val w3 = round1(ser3)
    w1.select(lit(1).as("iteration"), col("mth"), col("v"), col("r9"))
      .unionAll(w2.select(lit(2).as("iteration"), col("mth"), col("v"),
        col("r9")))
      .unionAll(w3.select(lit(3).as("iteration"), col("mth"), col("v"),
        col("r9")))
      .select(col("iteration"), col("mth"),
        round(col("v").cast(DoubleType) / 100, 2).as("revenue"),
        round(col("r9").cast(DoubleType) / 1000000000L, 6).as("r_stat"))
      .orderBy("iteration")
  }

  /** Gehan–Breslow generalized Wilcoxon survival test: BUILDING-segment
    * vs rest on the q_kaplan_meier durations — the early-difference-
    * weighted complement to q_logrank_test (logrank weights late; Gehan
    * weights where the risk set is LARGE, i.e. early churn gaps). Pair
    * scores run on the bounded (month × event × group) cell grid —
    * exact integer count products, permutation variance
    * nA·nB·Σc·s²/(n(n−1)), one final z. */
  val qGehanWilcoxon = Q(
    "q_gehan_wilcoxon",
    s"""WITH ${AnalyticsQueries.custSpansCte},
      |obs AS (
      |  SELECT datediff('day', first_d, last_d) // 30 AS tm,
      |    CASE WHEN datediff('day', last_d, m) > 60 THEN 1 ELSE 0 END
      |      AS ev,
      |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp
      |  FROM cust JOIN customer ON o_custkey = c_custkey, mx),
      |cells AS (
      |  SELECT tm, ev, grp, CAST(count(*) AS HUGEINT) AS c
      |  FROM obs GROUP BY 1, 2, 3),
      |sc AS (
      |  SELECT x.tm, x.ev, x.grp, x.c,
      |    COALESCE((SELECT sum(y.c) FROM cells y
      |      WHERE y.tm < x.tm AND y.ev = 1), 0)
      |    - CASE WHEN x.ev = 1 THEN
      |        COALESCE((SELECT sum(y.c) FROM cells y
      |          WHERE y.tm > x.tm), 0) ELSE 0 END AS s
      |  FROM cells x),
      |ag AS (
      |  SELECT sum(CASE WHEN grp = 1 THEN c * s ELSE 0 END) AS w,
      |    sum(CASE WHEN grp = 1 THEN c ELSE 0 END) AS na,
      |    sum(CASE WHEN grp = 0 THEN c ELSE 0 END) AS nb,
      |    sum(c * s * s) AS ss2, sum(c) AS n
      |  FROM sc)
      |SELECT CAST(na AS BIGINT) AS n_building,
      |  CAST(nb AS BIGINT) AS n_rest,
      |  CAST(w AS BIGINT) AS gehan_w,
      |  ROUND(CAST(w AS DOUBLE)
      |    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
      |      * CAST(ss2 AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))), 4) AS z,
      |  CASE WHEN abs(CAST(w AS DOUBLE)
      |    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
      |      * CAST(ss2 AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)))) > 1.96
      |    THEN 1 ELSE 0 END AS significant
      |FROM ag""".stripMargin) { (s, d) =>
    val (cust, mx) = AnalyticsQueries.custSpans(s, d)
    val obs = cust
      .join(broadcast(t(s, d, "customer")
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .crossJoin(broadcast(mx))
      .select(expr("datediff(last_d, first_d) DIV 30").as("tm"),
        when(datediff(col("m"), col("last_d")) > 60, 1).otherwise(0)
          .as("ev"),
        when(col("c_mktsegment") === "BUILDING", 1).otherwise(0)
          .as("grp"))
    val cells = obs.groupBy("tm", "ev", "grp")
      .agg(count(lit(1)).cast(big38).as("c"))
    // per-cell pair scores via two bounded cell-grid self-joins
    val less = cells.filter(col("ev") === 1)
      .select(col("tm").as("ltm"), col("c").as("lc"))
    val greater = cells
      .select(col("tm").as("gtm"), col("c").as("gc"))
    val x = cells.select(col("tm"), col("ev"), col("grp"), col("c"))
    val withLess = x.join(less, col("ltm") < col("tm"), "left")
      .groupBy("tm", "ev", "grp", "c")
      .agg(coalesce(sum(col("lc")), lit(0).cast(big38)).as("nless"))
    val sc = withLess.join(greater, col("gtm") > col("tm"), "left")
      .groupBy(col("tm"), col("ev"), col("grp"), col("c"), col("nless"))
      .agg(coalesce(sum(col("gc")), lit(0).cast(big38)).as("ngreater"))
      .select(col("grp"), col("c"),
        (col("nless") - when(col("ev") === 1, col("ngreater"))
          .otherwise(0)).as("s"))
    val ag = sc.agg(
      sum(when(col("grp") === 1, col("c") * col("s")).otherwise(0))
        .as("w"),
      sum(when(col("grp") === 1, col("c")).otherwise(0)).as("na"),
      sum(when(col("grp") === 0, col("c")).otherwise(0)).as("nb"),
      sum(col("c") * col("s") * col("s")).as("ss2"),
      sum(col("c")).as("n"))
    val zc = col("w").cast(DoubleType)
      ./(sqrt(col("na").cast(DoubleType) * col("nb").cast(DoubleType)
        * col("ss2").cast(DoubleType)
        / (col("n").cast(DoubleType) * (col("n").cast(DoubleType) - 1))))
    ag.select(col("na").cast(LongType).as("n_building"),
      col("nb").cast(LongType).as("n_rest"),
      col("w").cast(LongType).as("gehan_w"),
      round(zc, 4).as("z"),
      when(abs(zc) > 1.96, 1).otherwise(0).as("significant"))
  }

  /** 1996 and 1997 orders with segment, year and exact cents: the
    * frame of the mix/rate split and the segment waterfall. */
  private def segYears(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .select(col("c_mktsegment").as("seg"),
        year(col("o_orderdate")).cast(LongType).as("yr"),
        priceCents(col("o_totalprice")).as("cents"))

  /** DuckDB twin of [[segYears]]. */
  private val segYearsSql =
    s"""SELECT c_mktsegment AS seg,
       |    CAST(year(o_orderdate) AS BIGINT) AS yr,
       |    ${priceCentsSql("o_totalprice")}
       |      AS cents
       |  FROM orders JOIN customer ON o_custkey = c_custkey
       |  WHERE year(o_orderdate) IN (1996, 1997)""".stripMargin

  /** The mix/rate panel of a (key, yr, cents) frame over 1996 and 1997:
    * per key the mean order value m (millicents, exact DIV) and the
    * order share sh (ppm, exact DIV) of each year, as (key, m96, sh96,
    * b`key`, m97, sh97). */
  private def mixRatePanel(x: DataFrame, key: String): DataFrame = {
    val g = x.groupBy(key, "yr")
      .agg(count(lit(1)).cast(big38).as("n"),
        sum(col("cents").cast(big38)).as("sc"))
    val ty = g.groupBy("yr").agg(sum(col("n")).as("nt"))
    val p = g.join(broadcast(ty.withColumnRenamed("yr", "tyr")),
        col("yr") === col("tyr"))
      .select(col(key), col("yr"),
        expr("sc * 1000 DIV n").as("m3"),
        expr("n * 1000000 DIV nt").as("sh6"))
    val a = p.filter(col("yr") === 1996)
      .select(col(key), col("m3").as("m96"), col("sh6").as("sh96"))
    val b = p.filter(col("yr") === 1997)
      .select(col(key).as(s"b$key"), col("m3").as("m97"),
        col("sh6").as("sh97"))
    a.join(b, col(key) === col(s"b$key"))
  }

  /** DuckDB twin of [[mixRatePanel]]'s year means and shares: the CTEs
    * `g`, `ty` and `p` (key, yr, m3, sh6) over a CTE `x`. */
  private def yearMeansSharesSql(key: String): String =
    s"""g AS (
       |  SELECT $key, yr, CAST(count(*) AS HUGEINT) AS n,
       |    sum(CAST(cents AS HUGEINT)) AS sc
       |  FROM x GROUP BY 1, 2),
       |ty AS (SELECT yr, sum(n) AS nt FROM g GROUP BY 1),
       |p AS (
       |  SELECT g.$key, g.yr,
       |    g.sc * 1000 // g.n AS m3,
       |    g.n * 1000000 // ty.nt AS sh6
       |  FROM g JOIN ty ON g.yr = ty.yr)""".stripMargin

  /** Mix/rate decomposition of the 1996→1997 change in mean order value
    * across market segments (the Oaxaca–Blinder / price-volume split):
    * rate effect = Σ share96·(m97−m96), mix effect = Σ (share97−share96)
    * ·m97 — WHY the average moved: did segments change behavior, or did
    * the mix of segments shift? All means and shares are exact integer
    * DIVs (millicents / ppm); per-segment effects are exact integer
    * products scaled once at output. */
  val qMixRateDecomp = Q(
    "q_mix_rate_decomp",
    s"""WITH x AS (
      |  $segYearsSql),
      |${yearMeansSharesSql("seg")},
      |w AS (
      |  SELECT a.seg, a.m3 AS m96, b.m3 AS m97,
      |    a.sh6 AS sh96, b.sh6 AS sh97
      |  FROM p a JOIN p b ON a.seg = b.seg
      |  WHERE a.yr = 1996 AND b.yr = 1997)
      |SELECT seg,
      |  ROUND(CAST(m96 AS DOUBLE) / 1e5, 2) AS mean96_dollars,
      |  ROUND(CAST(m97 AS DOUBLE) / 1e5, 2) AS mean97_dollars,
      |  ROUND(CAST(sh96 AS DOUBLE) / 1e4, 4) AS share96_pct,
      |  ROUND(CAST(sh97 AS DOUBLE) / 1e4, 4) AS share97_pct,
      |  ROUND(CAST(sh96 * (m97 - m96) AS DOUBLE) / 1e11, 4)
      |    AS rate_effect_dollars,
      |  ROUND(CAST((sh97 - sh96) * m97 AS DOUBLE) / 1e11, 4)
      |    AS mix_effect_dollars
      |FROM w ORDER BY seg""".stripMargin) { (s, d) =>
    mixRatePanel(segYears(s, d), "seg").select(col("seg"),
        round(col("m96").cast(DoubleType) / 1e5, 2).as("mean96_dollars"),
        round(col("m97").cast(DoubleType) / 1e5, 2).as("mean97_dollars"),
        round(col("sh96").cast(DoubleType) / 1e4, 4).as("share96_pct"),
        round(col("sh97").cast(DoubleType) / 1e4, 4).as("share97_pct"),
        round((col("sh96") * (col("m97") - col("m96"))).cast(DoubleType)
          / 1e11, 4).as("rate_effect_dollars"),
        round(((col("sh97") - col("sh96")) * col("m97")).cast(DoubleType)
          / 1e11, 4).as("mix_effect_dollars"))
      .orderBy("seg")
  }

  /** Segment waterfall of the 1996→1997 revenue change: per-segment
    * deltas with a running cumulative — the bridge chart between two
    * annual totals, exact cents end-to-end (the running sum is over the
    * bounded 5-segment panel). */
  val qWaterfallSegments = Q(
    "q_waterfall_segments",
    s"""WITH x AS (
      |  $segYearsSql),
      |g AS (
      |  SELECT seg,
      |    sum(CASE WHEN yr = 1996 THEN CAST(cents AS HUGEINT)
      |      ELSE 0 END) AS r96,
      |    sum(CASE WHEN yr = 1997 THEN CAST(cents AS HUGEINT)
      |      ELSE 0 END) AS r97
      |  FROM x GROUP BY 1),
      |w AS (
      |  SELECT seg, r96, r97, r97 - r96 AS delta,
      |    sum(r97 - r96) OVER (ORDER BY seg) AS running
      |  FROM g)
      |SELECT seg,
      |  ROUND(CAST(r96 AS DOUBLE) / 100, 2) AS rev96,
      |  ROUND(CAST(r97 AS DOUBLE) / 100, 2) AS rev97,
      |  ROUND(CAST(delta AS DOUBLE) / 100, 2) AS delta,
      |  ROUND(CAST(running AS DOUBLE) / 100, 2) AS running_delta,
      |  ROUND(CAST(delta AS DOUBLE)
      |    / CAST((SELECT sum(delta) FROM w) AS DOUBLE), 6)
      |    AS share_of_total_delta
      |FROM w ORDER BY seg""".stripMargin) { (s, d) =>
    val x = segYears(s, d)
    val g = x.groupBy("seg").agg(
      sum(when(col("yr") === 1996, col("cents").cast(big38))
        .otherwise(0)).as("r96"),
      sum(when(col("yr") === 1997, col("cents").cast(big38))
        .otherwise(0)).as("r97"))
    val w = g
      .withColumn("delta", col("r97") - col("r96"))
      .withColumn("running",
        sum(col("r97") - col("r96")).over(
          org.apache.spark.sql.expressions.Window.orderBy("seg")))
    val tot = w.agg(sum(col("delta")).as("td"))
    w.crossJoin(broadcast(tot))
      .select(col("seg"),
        round(col("r96").cast(DoubleType) / 100, 2).as("rev96"),
        round(col("r97").cast(DoubleType) / 100, 2).as("rev97"),
        round(col("delta").cast(DoubleType) / 100, 2).as("delta"),
        round(col("running").cast(DoubleType) / 100, 2).as("running_delta"),
        round(col("delta").cast(DoubleType)
          / col("td").cast(DoubleType), 6).as("share_of_total_delta"))
      .orderBy("seg")
  }

  /** Benjamini–Yekutieli FDR step-up over the q_fdr_bh per-nation
    * urgent-share z-tests — the dependence-safe variant (threshold
    * divided by the harmonic sum c(m) = Σ1/i), for when the 25 tests
    * share the pooled baseline and BH's independence assumption is
    * shaky. The p-values ride the same ·10⁹-quantized A&S normal-CDF
    * panel; the step-up compare p9·m·c9 ≤ rank·α·10⁹ runs in exact
    * DECIMAL(38) integers (c9 itself is an exact Σ(10⁹ DIV i) sum). */
  val qBenjaminiYekutieli = Q(
    "q_benjamini_yekutieli",
    s"""WITH ${AnalyticsQueries.urgentZCte()},
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY p9, n_name) AS rank,
      |    count(*) OVER () AS m
      |  FROM pv),
      |hc AS (
      |  SELECT sum(1000000000 // rank) AS c9, max(m) AS m FROM rk),
      |cut AS (
      |  SELECT rk.*, hc.c9,
      |    max(CASE WHEN CAST(rk.p9 AS HUGEINT) * rk.m * hc.c9
      |      <= CAST(rk.rank AS HUGEINT) * 50000000 * 1000000000
      |      THEN rk.rank ELSE 0 END) OVER () AS max_rank
      |  FROM rk, hc)
      |SELECT n_name, CAST(n1 AS BIGINT) AS n_orders,
      |  CAST(u1 AS BIGINT) AS n_urgent, ROUND(z, 4) AS z,
      |  ROUND(CAST(p9 AS DOUBLE) / 1000000000, 6) AS p_value,
      |  CAST(rank AS BIGINT) AS p_rank,
      |  CASE WHEN rank <= max_rank THEN 1 ELSE 0 END AS rejected_by
      |FROM cut ORDER BY p_rank, n_name""".stripMargin) { (s, d) =>
    val pv = AnalyticsQueries.urgentZ(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("p9"), col("n_name"))
    val rk = pv
      .withColumn("rank", row_number().over(w).cast(LongType))
      .crossJoin(broadcast(pv.agg(count(lit(1)).as("m"))))
    val hc = rk.agg(sum(expr("1000000000 DIV rank")).as("c9"))
    val cut = rk.crossJoin(broadcast(hc))
      .withColumn("max_rank",
        max(when(expr("CAST(p9 AS DECIMAL(38,0)) * m * c9")
          <= expr("CAST(rank AS DECIMAL(38,0)) * 50000000 * 1000000000"),
          col("rank")).otherwise(0L))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(lit(1))))
    cut.select(col("n_name"), col("n1").cast(LongType).as("n_orders"),
        col("u1").cast(LongType).as("n_urgent"), round(col("z"), 4).as("z"),
        round(col("p9").cast(DoubleType) / 1000000000L, 6).as("p_value"),
        col("rank").as("p_rank"),
        when(col("rank") <= col("max_rank"), 1).otherwise(0)
          .as("rejected_by"))
      .orderBy("p_rank", "n_name")
  }

  /** Fleiss' kappa across THREE deterministic document "raters"
    * (vowel-ratio > 0.32, n_chars > 400, tokens > 80 — each a binary
    * "keep" judgment) — the multi-rater extension of q_cohens_kappa for
    * labeler-pool QA: pairwise kappas can all look fine while the POOL
    * disagrees. With 3 raters / 2 categories every document contributes
    * 3 or 1 agreeing pairs — exact integers end-to-end; κ's one-row
    * assembly is the only double. */
  val qFleissKappa = Q(
    "q_fleiss_kappa",
    """WITH r AS (
      |  SELECT doc_id,
      |    (CASE WHEN CAST(length(text) - length(translate(text,
      |        'aeiou', '')) AS DOUBLE) / length(text) > 0.32
      |      THEN 1 ELSE 0 END)
      |    + (CASE WHEN n_chars > 400 THEN 1 ELSE 0 END)
      |    + (CASE WHEN len(string_split(text, ' ')) > 80
      |      THEN 1 ELSE 0 END) AS k1
      |  FROM documents),
      |per AS (
      |  SELECT doc_id, k1, 3 - k1 AS k0,
      |    (k1 * (k1 - 1) + (3 - k1) * (2 - k1)) // 2 AS agree_pairs
      |  FROM r),
      |ag AS (
      |  SELECT count(*) AS n, sum(agree_pairs) AS sap,
      |    sum(k1) AS sk1
      |  FROM per)
      |SELECT CAST(n AS BIGINT) AS n_docs,
      |  ROUND(CAST(sap AS DOUBLE) / (3 * CAST(n AS DOUBLE)), 6)
      |    AS p_observed,
      |  ROUND((CAST(sap AS DOUBLE) / (3 * CAST(n AS DOUBLE))
      |    - (CAST(sk1 AS DOUBLE) / (3 * CAST(n AS DOUBLE))
      |       * (CAST(sk1 AS DOUBLE) / (3 * CAST(n AS DOUBLE)))
      |      + (1 - CAST(sk1 AS DOUBLE) / (3 * CAST(n AS DOUBLE)))
      |       * (1 - CAST(sk1 AS DOUBLE) / (3 * CAST(n AS DOUBLE)))))
      |    / (1 - (CAST(sk1 AS DOUBLE) / (3 * CAST(n AS DOUBLE))
      |       * (CAST(sk1 AS DOUBLE) / (3 * CAST(n AS DOUBLE)))
      |      + (1 - CAST(sk1 AS DOUBLE) / (3 * CAST(n AS DOUBLE)))
      |       * (1 - CAST(sk1 AS DOUBLE) / (3 * CAST(n AS DOUBLE))))), 6)
      |    AS fleiss_kappa
      |FROM ag""".stripMargin) { (s, d) =>
    val r = t(s, d, "documents")
      .select(col("doc_id"),
        ((when((length(col("text"))
          - length(translate(col("text"), "aeiou", "")))
          .cast(DoubleType) / length(col("text")) > 0.32, 1).otherwise(0))
          + when(col("n_chars") > 400, 1).otherwise(0)
          + when(size(split(col("text"), " ")) > 80, 1).otherwise(0))
          .as("k1"))
    val per = r.select(col("doc_id"), col("k1"),
      expr("(k1 * (k1 - 1) + (3 - k1) * (2 - k1)) DIV 2")
        .as("agree_pairs"))
    val ag = per.agg(count(lit(1)).as("n"),
      sum(col("agree_pairs")).as("sap"), sum(col("k1")).as("sk1"))
    val nD = lit(3) * col("n").cast(DoubleType)
    val p1 = col("sk1").cast(DoubleType) / nD
    val pe = p1 * p1 + (lit(1) - p1) * (lit(1) - p1)
    val po = col("sap").cast(DoubleType) / nD
    ag.select(col("n").cast(LongType).as("n_docs"),
      round(po, 6).as("p_observed"),
      round((po - pe) / (lit(1) - pe), 6).as("fleiss_kappa"))
  }

  /** SRE-style multiwindow burn-rate panel on the event stream: "error"
    * = value > 90 (documented fixture threshold), SLO budget 5%; burn =
    * error-rate/budget over trailing 1/7/28-day windows, alert when the
    * 1d AND 7d burns both exceed 2× (the fast+slow window rule that
    * kills both false pages and slow leaks). Rolling exact integer sums
    * on the calendar-bounded day panel; rates are ·10⁶ integer DIVs.
    * Output: the last 10 days. */
  val qBurnRate = Q(
    "q_burn_rate",
    """WITH dd AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n,
      |    sum(CASE WHEN value > 90 THEN 1 ELSE 0 END) AS e
      |  FROM events GROUP BY 1),
      |w AS (
      |  SELECT day, n, e,
      |    sum(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING
      |      AND CURRENT ROW) AS n7,
      |    sum(e) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING
      |      AND CURRENT ROW) AS e7,
      |    sum(n) OVER (ORDER BY day ROWS BETWEEN 27 PRECEDING
      |      AND CURRENT ROW) AS n28,
      |    sum(e) OVER (ORDER BY day ROWS BETWEEN 27 PRECEDING
      |      AND CURRENT ROW) AS e28,
      |    row_number() OVER (ORDER BY day DESC) AS rn
      |  FROM dd)
      |SELECT day,
      |  ROUND(CAST(e * 1000000 // n AS DOUBLE) / 1e6, 6) AS rate_1d,
      |  ROUND(CAST(e7 * 1000000 // n7 AS DOUBLE) / 1e6, 6) AS rate_7d,
      |  ROUND(CAST(e28 * 1000000 // n28 AS DOUBLE) / 1e6, 6) AS rate_28d,
      |  ROUND(CAST(e * 1000000 // n AS DOUBLE) / 1e6 / 0.05, 4)
      |    AS burn_1d,
      |  ROUND(CAST(e7 * 1000000 // n7 AS DOUBLE) / 1e6 / 0.05, 4)
      |    AS burn_7d,
      |  CASE WHEN e * 10 > n AND e7 * 10 > n7 THEN 1 ELSE 0 END
      |    AS page_alert
      |FROM w WHERE rn <= 10 ORDER BY day""".stripMargin) { (s, d) =>
    val dd = graft.Tables.tsAsNtz(t(s, d, "events"))
      .groupBy(col("ts").cast(DateType).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > 90, 1).otherwise(0)).as("e"))
    val w7 = Window.orderBy("day").rowsBetween(-6, 0)
    val w28 = Window.orderBy("day").rowsBetween(-27, 0)
    val w = dd
      .withColumn("n7", sum(col("n")).over(w7))
      .withColumn("e7", sum(col("e")).over(w7))
      .withColumn("n28", sum(col("n")).over(w28))
      .withColumn("e28", sum(col("e")).over(w28))
      .withColumn("rn",
        row_number().over(Window.orderBy(col("day").desc)))
    w.filter(col("rn") <= 10)
      .select(col("day"),
        round(expr("e * 1000000 DIV n").cast(DoubleType) / 1e6, 6)
          .as("rate_1d"),
        round(expr("e7 * 1000000 DIV n7").cast(DoubleType) / 1e6, 6)
          .as("rate_7d"),
        round(expr("e28 * 1000000 DIV n28").cast(DoubleType) / 1e6, 6)
          .as("rate_28d"),
        round(expr("e * 1000000 DIV n").cast(DoubleType) / 1e6 / 0.05, 4)
          .as("burn_1d"),
        round(expr("e7 * 1000000 DIV n7").cast(DoubleType) / 1e6 / 0.05, 4)
          .as("burn_7d"),
        when(col("e") * 10 > col("n")
          && col("e7") * 10 > col("n7"), 1).otherwise(0).as("page_alert"))
      .orderBy("day")
  }

  /** Delta attribution: which NATIONS moved the 1996→1997 global mean
    * order value, each nation's total effect split out via the
    * q_mix_rate_decomp identity and ranked by |effect| — the automated
    * "why did the metric move" drill-down, one level deeper than the
    * segment waterfall. Exact integer-DIV means/shares; effects exact
    * integer products; integer ranking. Top 10. */
  val qDeltaAttribution = Q(
    "q_delta_attribution",
    s"""WITH x AS (
      |  SELECT n_name AS nation,
      |    CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    ${priceCentsSql("o_totalprice")}
      |      AS cents
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  WHERE year(o_orderdate) IN (1996, 1997)),
      |${yearMeansSharesSql("nation")},
      |w AS (
      |  SELECT a.nation, a.m3 AS m96, b.m3 AS m97,
      |    a.sh6 AS sh96, b.sh6 AS sh97,
      |    a.sh6 * (b.m3 - a.m3) + (b.sh6 - a.sh6) * b.m3 AS eff
      |  FROM p a JOIN p b ON a.nation = b.nation
      |  WHERE a.yr = 1996 AND b.yr = 1997),
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY abs(eff) DESC, nation)
      |    AS rank
      |  FROM w)
      |SELECT nation, CAST(rank AS BIGINT) AS rank,
      |  ROUND(CAST(eff AS DOUBLE) / 1e11, 4) AS total_effect_dollars,
      |  ROUND(CAST(sh96 * (m97 - m96) AS DOUBLE) / 1e11, 4)
      |    AS rate_part,
      |  ROUND(CAST((sh97 - sh96) * m97 AS DOUBLE) / 1e11, 4)
      |    AS mix_part
      |FROM rk WHERE rank <= 10 ORDER BY rank, nation""".stripMargin) {
    (s, d) =>
    val x = t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .select(col("n_name").as("nation"),
        year(col("o_orderdate")).cast(LongType).as("yr"),
        priceCents(col("o_totalprice")).as("cents"))
    val w = mixRatePanel(x, "nation")
      .withColumn("eff", col("sh96") * (col("m97") - col("m96"))
        + (col("sh97") - col("sh96")) * col("m97"))
    val rk = w.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(abs(col("eff")).desc, col("nation"))).cast(LongType))
    rk.filter(col("rank") <= 10)
      .select(col("nation"), col("rank"),
        round(col("eff").cast(DoubleType) / 1e11, 4)
          .as("total_effect_dollars"),
        round((col("sh96") * (col("m97") - col("m96"))).cast(DoubleType)
          / 1e11, 4).as("rate_part"),
        round(((col("sh97") - col("sh96")) * col("m97")).cast(DoubleType)
          / 1e11, 4).as("mix_part"))
      .orderBy("rank", "nation")
  }

  /** MASE for the q_forecast_snaive backtest: MAE(seasonal-naive) /
    * MAE(naive-1) — the scale-free forecast-accuracy metric that (unlike
    * MAPE) survives near-zero months and compares across series. Pure
    * exact integer error sums on the bounded monthly panel; one final
    * ratio. MASE < 1 ⇒ the seasonal model beats last-month-carried-
    * forward. */
  val qForecastMase = Q(
    "q_forecast_mase",
    s"""WITH m AS (
      |  SELECT date_trunc('month', o_orderdate) AS mth,
      |    ${sumCentsSql}
      |      AS rev
      |  FROM orders GROUP BY 1),
      |f AS (
      |  SELECT mth, rev, lag(rev, 12) OVER (ORDER BY mth) AS fc12,
      |    lag(rev, 1) OVER (ORDER BY mth) AS fc1
      |  FROM m),
      |ag AS (
      |  SELECT
      |    sum(CASE WHEN fc12 IS NOT NULL
      |      THEN abs(rev - fc12) END) AS s12,
      |    sum(CASE WHEN fc12 IS NOT NULL THEN 1 ELSE 0 END) AS n12,
      |    sum(CASE WHEN fc1 IS NOT NULL
      |      THEN abs(rev - fc1) END) AS s1,
      |    sum(CASE WHEN fc1 IS NOT NULL THEN 1 ELSE 0 END) AS n1
      |  FROM f)
      |SELECT CAST(n12 AS BIGINT) AS n_backtest,
      |  CAST(s12 // n12 AS DOUBLE) / 100 AS mae_snaive_cents,
      |  CAST(s1 // n1 AS DOUBLE) / 100 AS mae_naive1_cents,
      |  CAST((CAST(s12 AS HUGEINT) * n1 * 1000000)
      |    // (CAST(s1 AS HUGEINT) * n12) AS DOUBLE) / 1e6 AS mase
      |FROM ag""".stripMargin) { (s, d) =>
    val m = t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
      .agg(sumCents
        .as("rev"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("mth")
    val f = m
      .withColumn("fc12", lag(col("rev"), 12).over(w))
      .withColumn("fc1", lag(col("rev"), 1).over(w))
    val ag = f.agg(
      sum(when(col("fc12").isNotNull, abs(col("rev") - col("fc12"))))
        .as("s12"),
      sum(when(col("fc12").isNotNull, 1).otherwise(0)).as("n12"),
      sum(when(col("fc1").isNotNull, abs(col("rev") - col("fc1"))))
        .as("s1"),
      sum(when(col("fc1").isNotNull, 1).otherwise(0)).as("n1"))
    ag.select(col("n12").cast(LongType).as("n_backtest"),
      (expr("s12 DIV n12").cast(DoubleType) / 100).as("mae_snaive_cents"),
      (expr("s1 DIV n1").cast(DoubleType) / 100).as("mae_naive1_cents"),
      (expr("(CAST(s12 AS DECIMAL(38,0)) * n1 * 1000000)" +
        " DIV (CAST(s1 AS DECIMAL(38,0)) * n12)").cast(DoubleType) / 1e6)
        .as("mase"))
  }

  /** Two-way fixed-effects panel slope: does order VOLUME move average
    * order VALUE within a nation-month, after absorbing nation effects
    * and common time shocks? The (nation × month) panel is bounded
    * (≤ 25·84 cells); the within transformation ỹ = y − ȳᵢ − ȳₜ + ȳ uses
    * group means quantized to integer millicents (the q_anova idiom —
    * exact cross-engine reproducibility traded for O(1 millicent)
    * demeaning bias, documented), so Σx̃ỹ / Σx̃² runs on exact integer
    * products. The aggregation-trap family's panel member: the pooled
    * q_agg_regression slope confounds nation mix; this one cannot. */
  val qPanelFe = Q(
    "q_panel_fe",
    """WITH cell AS (
      |  SELECT c_nationkey AS nk,
      |    date_trunc('month', o_orderdate) AS mth,
      |    CAST(count(*) AS BIGINT) AS x,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS HUGEINT)) * 1000 // count(*) AS BIGINT) AS y3
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |mi AS (
      |  SELECT nk, CAST(round(CAST(sum(y3) AS DOUBLE) / count(*))
      |      AS BIGINT) AS yi,
      |    CAST(round(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS xi
      |  FROM cell GROUP BY nk),
      |mt AS (
      |  SELECT mth, CAST(round(CAST(sum(y3) AS DOUBLE) / count(*))
      |      AS BIGINT) AS yt,
      |    CAST(round(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS xt
      |  FROM cell GROUP BY mth),
      |mg AS (
      |  SELECT CAST(round(CAST(sum(y3) AS DOUBLE) / count(*)) AS BIGINT)
      |      AS yg,
      |    CAST(round(CAST(sum(x) AS DOUBLE) / count(*)) AS BIGINT) AS xg
      |  FROM cell),
      |w AS (
      |  SELECT cell.y3 - mi.yi - mt.yt + mg.yg AS yw,
      |    cell.x - mi.xi - mt.xt + mg.xg AS xw
      |  FROM cell JOIN mi ON cell.nk = mi.nk
      |  JOIN mt ON cell.mth = mt.mth, mg),
      |ag AS (
      |  SELECT count(*) AS n,
      |    sum(CAST(xw AS HUGEINT) * yw) AS sxy,
      |    sum(CAST(xw AS HUGEINT) * xw) AS sxx,
      |    sum(CAST(yw AS HUGEINT) * yw) AS syy
      |  FROM w)
      |SELECT CAST(n AS BIGINT) AS n_cells,
      |  ROUND(CAST(sxy AS DOUBLE) / CAST(sxx AS DOUBLE) / 1000, 4)
      |    AS fe_slope_cents_per_order,
      |  ROUND(CAST(sxy AS DOUBLE) * CAST(sxy AS DOUBLE)
      |    / (CAST(sxx AS DOUBLE) * CAST(syy AS DOUBLE)), 6)
      |    AS within_r2
      |FROM ag""".stripMargin) { (s, d) =>
    val cell = t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")
        .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        date_trunc("month", col("o_orderdate")).as("mth"))
      .agg(count(lit(1)).as("x"),
        expr("CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100" +
          " AS DECIMAL(38,0))) * 1000 DIV count(*) AS BIGINT)").as("y3"))
    val mi = cell.groupBy(col("nk").as("mink")).agg(
      round(sum(col("y3")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("yi"),
      round(sum(col("x")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("xi"))
    val mt = cell.groupBy(col("mth").as("mtm")).agg(
      round(sum(col("y3")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("yt"),
      round(sum(col("x")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("xt"))
    val mg = cell.agg(
      round(sum(col("y3")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("yg"),
      round(sum(col("x")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("xg"))
    val w = cell
      .join(broadcast(mi), col("nk") === col("mink"))
      .join(broadcast(mt), col("mth") === col("mtm"))
      .crossJoin(broadcast(mg))
      .select((col("y3") - col("yi") - col("yt") + col("yg")).as("yw"),
        (col("x") - col("xi") - col("xt") + col("xg")).as("xw"))
    val ag = w.agg(count(lit(1)).as("n"),
      sum(col("xw").cast(big38) * col("yw")).as("sxy"),
      sum(col("xw").cast(big38) * col("xw")).as("sxx"),
      sum(col("yw").cast(big38) * col("yw")).as("syy"))
    ag.select(col("n").cast(LongType).as("n_cells"),
      round(col("sxy").cast(DoubleType) / col("sxx").cast(DoubleType)
        / 1000, 4).as("fe_slope_cents_per_order"),
      round(col("sxy").cast(DoubleType) * col("sxy").cast(DoubleType)
        / (col("sxx").cast(DoubleType) * col("syy").cast(DoubleType)), 6)
        .as("within_r2"))
  }

  /** Two-way factorial ANOVA on order values: segment × priority main
    * effects + interaction (Type-I cell-means sums on the unbalanced
    * design, documented) — the factorial gap q_anova (one-way) leaves
    * open; a significant interaction means per-segment priority effects
    * can't be read off the margins. Every S²/n term quantizes to an
    * integer on its own bounded row (q_anova ssb_part idiom); the F
    * panel assembles once. */
  val qTwoWayAnova = Q(
    "q_two_way_anova",
    s"""WITH x AS (
      |  SELECT c_mktsegment AS a, o_orderpriority AS b,
      |    ${priceCentsSql("o_totalprice")}
      |      AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cell AS (
      |  SELECT a, b, CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(cents AS HUGEINT)) AS s,
      |    sum(CAST(cents AS HUGEINT) * cents) AS q
      |  FROM x GROUP BY 1, 2),
      |tot AS (
      |  SELECT sum(n) AS nn, sum(s) AS ts, sum(q) AS tq,
      |    count(*) AS n_cells
      |  FROM cell),
      |sca AS (
      |  SELECT sum(CAST(round(CAST(sa * sa AS DOUBLE) / na) AS HUGEINT))
      |    AS ssa_part, count(*) AS ka
      |  FROM (SELECT a, sum(s) AS sa, sum(n) AS na FROM cell GROUP BY a)
      |    z),
      |scb AS (
      |  SELECT sum(CAST(round(CAST(sb * sb AS DOUBLE) / nb) AS HUGEINT))
      |    AS ssb_part, count(*) AS kb
      |  FROM (SELECT b, sum(s) AS sb, sum(n) AS nb FROM cell GROUP BY b)
      |    z),
      |scc AS (
      |  SELECT sum(CAST(round(CAST(s * s AS DOUBLE) / n) AS HUGEINT))
      |    AS ssc_part
      |  FROM cell),
      |f AS (
      |  SELECT tot.nn, tot.n_cells, sca.ka, scb.kb,
      |    CAST(sca.ssa_part AS DOUBLE)
      |      - CAST(tot.ts AS DOUBLE) * tot.ts / tot.nn AS ssa,
      |    CAST(scb.ssb_part AS DOUBLE)
      |      - CAST(tot.ts AS DOUBLE) * tot.ts / tot.nn AS ssb,
      |    CAST(scc.ssc_part AS DOUBLE)
      |      - CAST(tot.ts AS DOUBLE) * tot.ts / tot.nn AS sscell,
      |    CAST(tot.tq AS DOUBLE)
      |      - CAST(scc.ssc_part AS DOUBLE) AS sse
      |  FROM tot, sca, scb, scc)
      |SELECT CAST(nn AS BIGINT) AS n,
      |  ROUND(ssa / (ka - 1)
      |    / (sse / (CAST(nn AS DOUBLE) - n_cells)), 4) AS f_segment,
      |  ROUND(ssb / (kb - 1)
      |    / (sse / (CAST(nn AS DOUBLE) - n_cells)), 4) AS f_priority,
      |  ROUND((sscell - ssa - ssb) / ((ka - 1) * (kb - 1))
      |    / (sse / (CAST(nn AS DOUBLE) - n_cells)), 4) AS f_interaction
      |FROM f""".stripMargin) { (s, d) =>
    val x = t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("a"),
        col("o_orderpriority").as("b"),
        priceCents(col("o_totalprice")).as("cents"))
    val cell = x.groupBy("a", "b")
      .agg(count(lit(1)).cast(big38).as("n"),
        sum(col("cents").cast(big38)).as("s"),
        sum(col("cents").cast(big38) * col("cents")).as("q"))
      .localCheckpoint()
    val tot = cell.agg(sum(col("n")).as("nn"), sum(col("s")).as("ts"),
      sum(col("q")).as("tq"), count(lit(1)).as("n_cells"))
    val sca = cell.groupBy("a")
      .agg(sum(col("s")).as("sa"), sum(col("n")).as("na"))
      .agg(sum(round((col("sa") * col("sa")).cast(DoubleType)
        / col("na").cast(DoubleType)).cast(big38)).as("ssa_part"),
        count(lit(1)).as("ka"))
    val scb = cell.groupBy("b")
      .agg(sum(col("s")).as("sb"), sum(col("n")).as("nb"))
      .agg(sum(round((col("sb") * col("sb")).cast(DoubleType)
        / col("nb").cast(DoubleType)).cast(big38)).as("ssb_part"),
        count(lit(1)).as("kb"))
    val scc = cell.agg(sum(round((col("s") * col("s")).cast(DoubleType)
      / col("n").cast(DoubleType)).cast(big38)).as("ssc_part"))
    val f = tot.crossJoin(broadcast(sca)).crossJoin(broadcast(scb))
      .crossJoin(broadcast(scc))
      .select(col("nn"), col("n_cells"), col("ka"), col("kb"),
        (col("ssa_part").cast(DoubleType)
          - col("ts").cast(DoubleType) * col("ts") / col("nn")).as("ssa"),
        (col("ssb_part").cast(DoubleType)
          - col("ts").cast(DoubleType) * col("ts") / col("nn")).as("ssb"),
        (col("ssc_part").cast(DoubleType)
          - col("ts").cast(DoubleType) * col("ts") / col("nn"))
          .as("sscell"),
        (col("tq").cast(DoubleType) - col("ssc_part").cast(DoubleType))
          .as("sse"))
    val mse = col("sse") / (col("nn").cast(DoubleType) - col("n_cells"))
    f.select(col("nn").cast(LongType).as("n"),
      round(col("ssa") / (col("ka") - 1) / mse, 4).as("f_segment"),
      round(col("ssb") / (col("kb") - 1) / mse, 4).as("f_priority"),
      round((col("sscell") - col("ssa") - col("ssb"))
        / ((col("ka") - 1) * (col("kb") - 1)) / mse, 4)
        .as("f_interaction"))
  }

  /** Cochran–Armitage trend test: does the returned-line share rise
    * MONOTONICALLY with quantity bucket (ordered scores 1..5)? The
    * ordered-alternative complement to q_chi2_feature_select's omnibus
    * χ² — trend tests see dose-response signals the omnibus dilutes.
    * Exact integer counts/scores; one-row double z. */
  val qPropTrend = Q(
    "q_prop_trend",
    """WITH b AS (
      |  SELECT (CAST(l_quantity AS BIGINT) - 1) // 10 + 1 AS s,
      |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS r
      |  FROM lineitem),
      |g AS (
      |  SELECT s, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(r) AS HUGEINT) AS rr
      |  FROM b GROUP BY s),
      |ag AS (
      |  SELECT sum(n) AS nn, sum(rr) AS rt,
      |    sum(s * rr) AS srr, sum(s * n) AS sn,
      |    sum(s * s * n) AS ssn
      |  FROM g)
      |SELECT CAST(nn AS BIGINT) AS n,
      |  ROUND((CAST(srr AS DOUBLE)
      |    - CAST(rt AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE))
      |    / sqrt(CAST(rt AS DOUBLE) / CAST(nn AS DOUBLE)
      |      * (1 - CAST(rt AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * (CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * CAST(sn AS
      |        DOUBLE) / CAST(nn AS DOUBLE))), 4) AS trend_z,
      |  CASE WHEN abs((CAST(srr AS DOUBLE)
      |    - CAST(rt AS DOUBLE) * CAST(sn AS DOUBLE) / CAST(nn AS DOUBLE))
      |    / sqrt(CAST(rt AS DOUBLE) / CAST(nn AS DOUBLE)
      |      * (1 - CAST(rt AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * (CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * CAST(sn AS
      |        DOUBLE) / CAST(nn AS DOUBLE)))) > 1.96 THEN 1 ELSE 0 END
      |    AS significant
      |FROM ag""".stripMargin) { (s, d) =>
    val b = t(s, d, "lineitem")
      .select(expr("(CAST(l_quantity AS BIGINT) - 1) DIV 10 + 1").as("s"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("r"))
    val g = b.groupBy("s")
      .agg(count(lit(1)).cast(big38).as("n"),
        sum(col("r")).cast(big38).as("rr"))
    val ag = g.agg(sum(col("n")).as("nn"), sum(col("rr")).as("rt"),
      sum(col("s") * col("rr")).as("srr"),
      sum(col("s") * col("n")).as("sn"),
      sum(col("s") * col("s") * col("n")).as("ssn"))
    val zc = (col("srr").cast(DoubleType)
      - col("rt").cast(DoubleType) * col("sn").cast(DoubleType)
        / col("nn").cast(DoubleType))
      ./(sqrt(col("rt").cast(DoubleType) / col("nn").cast(DoubleType)
        * (lit(1) - col("rt").cast(DoubleType)
          / col("nn").cast(DoubleType))
        * (col("ssn").cast(DoubleType)
          - col("sn").cast(DoubleType) * col("sn").cast(DoubleType)
            / col("nn").cast(DoubleType))))
    ag.select(col("nn").cast(LongType).as("n"),
      round(zc, 4).as("trend_z"),
      when(abs(zc) > 1.96, 1).otherwise(0).as("significant"))
  }

  /** Lincoln–Petersen / Chapman capture–recapture estimate of the
    * active customer population from two observation windows (1995 and
    * 1996 order activity), with the truth column the fixture can
    * actually check — the "how many customers exist that we never see"
    * estimator used whenever a census is impossible (and a neat
    * validation: TPC-H customers order independently, so the estimate
    * should land near the true distinct count). Exact integer capture
    * counts; Chapman estimate + SE on the one-row panel. */
  val qCaptureRecapture = Q(
    "q_capture_recapture",
    """WITH w1 AS (
      |  SELECT DISTINCT o_custkey AS c FROM orders
      |  WHERE year(o_orderdate) = 1995),
      |w2 AS (
      |  SELECT DISTINCT o_custkey AS c FROM orders
      |  WHERE year(o_orderdate) = 1996),
      |ag AS (
      |  SELECT (SELECT count(*) FROM w1) AS n1,
      |    (SELECT count(*) FROM w2) AS n2,
      |    (SELECT count(*) FROM w1 JOIN w2 ON w1.c = w2.c) AS m,
      |    (SELECT count(DISTINCT o_custkey) FROM orders) AS truth)
      |SELECT CAST(n1 AS BIGINT) AS captured_1995,
      |  CAST(n2 AS BIGINT) AS captured_1996,
      |  CAST(m AS BIGINT) AS recaptured,
      |  CAST(truth AS BIGINT) AS true_ever_active,
      |  ROUND(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) / (m + 1) - 1, 2)
      |    AS chapman_estimate,
      |  ROUND(sqrt(CAST(n1 + 1 AS DOUBLE) * (n2 + 1) * (n1 - m)
      |    * (n2 - m) / ((CAST(m AS DOUBLE) + 1) * (m + 1) * (m + 2))),
      |    2) AS chapman_se
      |FROM ag""".stripMargin) { (s, d) =>
    val o = t(s, d, "orders")
    val w1 = o.filter(year(col("o_orderdate")) === 1995)
      .select(col("o_custkey").as("c")).distinct()
    val w2 = o.filter(year(col("o_orderdate")) === 1996)
      .select(col("o_custkey").as("c2")).distinct()
    val n1 = w1.agg(count(lit(1)).as("n1"))
    val n2 = w2.agg(count(lit(1)).as("n2"))
    val m = w1.join(w2, col("c") === col("c2"))
      .agg(count(lit(1)).as("m"))
    val truth = o.agg(countDistinct(col("o_custkey")).as("truth"))
    val ag = n1.crossJoin(n2).crossJoin(m).crossJoin(truth)
    ag.select(col("n1").cast(LongType).as("captured_1995"),
      col("n2").cast(LongType).as("captured_1996"),
      col("m").cast(LongType).as("recaptured"),
      col("truth").cast(LongType).as("true_ever_active"),
      round((col("n1") + 1).cast(DoubleType) * (col("n2") + 1)
        / (col("m") + 1) - 1, 2).as("chapman_estimate"),
      round(sqrt((col("n1") + 1).cast(DoubleType) * (col("n2") + 1)
        * (col("n1") - col("m")) * (col("n2") - col("m"))
        / ((col("m").cast(DoubleType) + 1) * (col("m") + 1)
          * (col("m") + 2))), 2).as("chapman_se"))
  }

  /** Chatterjee's ξ correlation (2021) between order value and order
    * size: rank-based, ASYMMETRIC, and consistent for ANY functional
    * dependence — it detects the relationships Pearson (linear) and
    * Spearman (monotone) both score near zero (a V-shape, a sinusoid).
    * ξ = 1 − 3·Σ|r_{i+1} − r_i| / (n² − 1) with x-order from
    * GlobalRank (no unpartitioned window) and max-rank y ties from the
    * BOUNDED total-quantity domain (broadcast prefix map) — integers
    * end-to-end, one final division. */
  val qXiCorrelation = Q(
    "q_xi_correlation",
    s"""WITH xy AS (
      |  SELECT o.o_orderkey AS ok,
      |    ${priceCentsSql("o.o_totalprice")}
      |      AS x,
      |    CAST(sum(l.l_quantity) AS BIGINT) AS y
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY 1, 2),
      |yr AS (
      |  SELECT y, sum(count(*)) OVER (ORDER BY y) AS r
      |  FROM xy GROUP BY y),
      |rk AS (
      |  SELECT xy.ok, xy.x, yr.r,
      |    row_number() OVER (ORDER BY xy.x, xy.ok) AS rn
      |  FROM xy JOIN yr ON xy.y = yr.y),
      |pr AS (
      |  SELECT a.r AS ra, b.r AS rb
      |  FROM rk a JOIN rk b ON b.rn = a.rn + 1),
      |ag AS (
      |  SELECT (SELECT count(*) FROM xy) AS n,
      |    sum(abs(CAST(ra - rb AS HUGEINT))) AS s
      |  FROM pr)
      |SELECT CAST(n AS BIGINT) AS n,
      |  ROUND(1 - 3 * CAST(s AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * n - 1), 6) AS xi
      |FROM ag""".stripMargin) { (s, d) =>
    val xy = t(s, d, "orders")
      .join(t(s, d, "lineitem").select("l_orderkey", "l_quantity"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey").as("ok"),
        priceCents(col("o_totalprice")).as("x"))
      .agg(sum(col("l_quantity")).cast(LongType).as("y"))
    // y (total order quantity) lives on a bounded domain — the max-rank
    // tie map is a broadcast prefix sum over ≤ a few hundred values
    val yr = xy.groupBy("y").agg(count(lit(1)).as("c"))
      .withColumn("r", sum(col("c")).over(Window.orderBy("y")))
      .select(col("y").as("yy"), col("r"))
    val (ranked0, n) = graft.plans.GlobalRank.withGlobalRowNumber(
      xy.join(broadcast(yr), col("y") === col("yy")).select("ok", "x", "r"),
      "rn", 8, col("x"), col("ok"))
    // Adjacent-pair Σ|Δr| WITHOUT an rn self-join: block rows by rn range
    // and DUPLICATE each block's last row as a ghost first row of the
    // next block, so one block-partitioned lag sees every adjacent pair
    // exactly once (boundary pairs via the ghost). One shuffle on the
    // block key replaces the two-sided rn⋈rn+1 shuffle join.
    val ranked = ranked0.select("rn", "r").localCheckpoint()
    val k = math.max(1L, (n + 31) / 32)
    val blocked = ranked
      .withColumn("blk", expr(s"(rn - 1) DIV ${k}L"))
      .unionByName(ranked.filter(col("rn") % k === 0)
        .withColumn("blk", expr(s"(rn - 1) DIV ${k}L + 1")))
    val wb = Window.partitionBy("blk").orderBy("rn")
    val pr = blocked.withColumn("rb", lag(col("r"), 1).over(wb))
      .filter(col("rb").isNotNull)
    val ag = pr.agg(sum(abs((col("r") - col("rb")).cast(big38))).as("s"))
    ag.select(lit(n).cast(LongType).as("n"),
      round(lit(1) - lit(3) * col("s").cast(DoubleType)
        / (lit(n).cast(DoubleType) * n - 1), 6).as("xi"))
  }

  /** Paired permutation test (B = 200 seeded sign-flips) on per-customer
    * mean order value 1994 vs 1995 — the EXACT-logic companion to
    * q_wilcoxon_signed: no normal approximation, just "how often does a
    * random sign assignment beat the observed total". The distributed
    * permutation test: each pair draws its 200 flips from one md5 hash
    * (map-side fan-out, the q_bootstrap_ci shape, fenced before the
    * explode), every replicate total is an exact integer sum, and p is
    * an exact add-one fraction. */
  val qPermutationTest = Q(
    "q_permutation_test",
    """WITH pc AS (
      |  SELECT o_custkey AS c,
      |    CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |      AS HUGEINT)) * 1000 // count(*) AS BIGINT) AS m3
      |  FROM orders WHERE year(o_orderdate) IN (1994, 1995)
      |  GROUP BY 1, 2),
      |pd AS (
      |  SELECT a.c, b.m3 - a.m3 AS dd
      |  FROM pc a JOIN pc b ON a.c = b.c
      |  WHERE a.yr = 1994 AND b.yr = 1995),
      |obs AS (SELECT sum(dd) AS t0, count(*) AS np FROM pd),
      |fl AS (
      |  SELECT g.b,
      |    sum(CASE WHEN CAST(concat('0x', substr(md5(concat(pd.c, ':',
      |        g.b)), 1, 15)) AS BIGINT) % 2 = 0
      |      THEN pd.dd ELSE -pd.dd END) AS tb
      |  FROM pd, generate_series(1, 200) AS g(b)
      |  GROUP BY g.b)
      |SELECT CAST(np AS BIGINT) AS n_pairs,
      |  ROUND(CAST(t0 AS DOUBLE) / 1e5 / np, 2) AS mean_diff_dollars,
      |  ROUND((CAST((SELECT count(*) FROM fl, obs
      |      WHERE abs(tb) >= abs(t0)) AS DOUBLE) + 1) / 201, 6)
      |    AS p_value
      |FROM obs""".stripMargin) { (s, d) =>
    val pc = t(s, d, "orders")
      .filter(year(col("o_orderdate")).isin(1994, 1995))
      .groupBy(col("o_custkey").as("c"),
        year(col("o_orderdate")).cast(LongType).as("yr"))
      .agg(expr("CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100" +
        " AS DECIMAL(38,0))) * 1000 DIV count(*) AS BIGINT)").as("m3"))
    val a = pc.filter(col("yr") === 1994)
      .select(col("c"), col("m3").as("ma"))
    val b = pc.filter(col("yr") === 1995)
      .select(col("c").as("cb"), col("m3").as("mb"))
    // fence the paired-difference table: the 200× explode would
    // otherwise re-run the year join per consumer (q_bootstrap_ci lesson)
    val pd = a.join(b, col("c") === col("cb"))
      .select(col("c"), (col("mb") - col("ma")).as("dd"))
      .localCheckpoint()
    val obs = pd.agg(sum(col("dd")).as("t0"), count(lit(1)).as("np"))
    val fl = pd
      .select(col("c"), col("dd"),
        explode(sequence(lit(1), lit(200))).as("b"))
      .select(col("b"),
        when(graft.llm.TextOps.hash60(
          concat(col("c"), lit(":"), col("b"))) % 2 === 0, col("dd"))
          .otherwise(-col("dd")).as("sd"))
      .groupBy("b").agg(sum(col("sd")).as("tb"))
    val cnt = fl.crossJoin(broadcast(obs))
      .filter(abs(col("tb")) >= abs(col("t0")))
      .agg(count(lit(1)).as("nge"))
    obs.crossJoin(broadcast(cnt))
      .select(col("np").cast(LongType).as("n_pairs"),
        round(col("t0").cast(DoubleType) / 1e5 / col("np"), 2)
          .as("mean_diff_dollars"),
        round((col("nge").cast(DoubleType) + 1) / 201, 6).as("p_value"))
  }

  /** Huber M-estimator of location (two unrolled IRLS rounds, k = 1.345σ)
    * for the mean order value — the robust middle ground between the
    * mean (efficient, fragile) and the median (robust, wasteful), next
    * to q_trimmed_mean / q_robust_scale. Weights quantize to ppm on
    * their own row, each round's weighted mean is an exact integer DIV,
    * and σ comes once from exact moments. */
  val qHuberLocation = Q(
    "q_huber_location",
    s"""WITH x AS (
      |  SELECT ${priceCentsSql("o_totalprice")}
      |      AS v
      |  FROM orders),
      |mo AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(v AS HUGEINT)) AS s, sum(CAST(v AS HUGEINT) * v) AS q
      |  FROM x),
      |st AS (
      |  SELECT n, s // n AS mu0,
      |    CAST(round(1.345 * sqrt((CAST(q AS DOUBLE)
      |      - CAST(s AS DOUBLE) * s / CAST(n AS DOUBLE))
      |      / CAST(n AS DOUBLE))) AS BIGINT) AS k
      |  FROM mo),
      |r1 AS (
      |  SELECT st.k,
      |    sum(CASE WHEN abs(v - mu0) <= k THEN CAST(1000000 AS HUGEINT)
      |      ELSE (k * 1000000) // abs(v - mu0) END * v) AS wx,
      |    sum(CASE WHEN abs(v - mu0) <= k THEN CAST(1000000 AS HUGEINT)
      |      ELSE (k * 1000000) // abs(v - mu0) END) AS w
      |  FROM x, st GROUP BY st.k),
      |m1 AS (SELECT k, wx // w AS mu1 FROM r1),
      |r2 AS (
      |  SELECT
      |    sum(CASE WHEN abs(v - mu1) <= k THEN CAST(1000000 AS HUGEINT)
      |      ELSE (k * 1000000) // abs(v - mu1) END * v) AS wx,
      |    sum(CASE WHEN abs(v - mu1) <= k THEN CAST(1000000 AS HUGEINT)
      |      ELSE (k * 1000000) // abs(v - mu1) END) AS w
      |  FROM x, m1),
      |m2 AS (SELECT wx // w AS mu2 FROM r2)
      |SELECT ROUND(CAST(st.mu0 AS DOUBLE) / 100, 2) AS mean_dollars,
      |  ROUND(CAST(m1.mu1 AS DOUBLE) / 100, 2) AS huber_round1,
      |  ROUND(CAST(m2.mu2 AS DOUBLE) / 100, 2) AS huber_round2
      |FROM st, m1, m2""".stripMargin) { (s, d) =>
    val x = t(s, d, "orders")
      .select(priceCents(col("o_totalprice")).as("v"))
    val mo = x.agg(count(lit(1)).cast(big38).as("n"),
      sum(col("v").cast(big38)).as("s"),
      sum(col("v").cast(big38) * col("v")).as("q"))
    val st = mo.select(col("n"), expr("s DIV n").as("mu0"),
      round(lit(1.345) * sqrt((col("q").cast(DoubleType)
        - col("s").cast(DoubleType) * col("s") / col("n").cast(DoubleType))
        / col("n").cast(DoubleType))).cast(LongType).as("k"))
    // weights via expr so the integer DIV semantics match the oracle
    val r1 = x.crossJoin(broadcast(st))
      .select(col("k"), col("v"),
        expr("CASE WHEN abs(v - mu0) <= k THEN CAST(1000000 AS" +
          " DECIMAL(38,0)) ELSE (CAST(k AS DECIMAL(38,0)) * 1000000)" +
          " DIV abs(v - mu0) END").as("w6"))
      .groupBy("k")
      .agg(sum(col("w6") * col("v")).as("wx"), sum(col("w6")).as("w"))
    val m1 = r1.select(col("k"), expr("wx DIV w").as("mu1"))
    val r2 = x.crossJoin(broadcast(m1))
      .select(col("v"),
        expr("CASE WHEN abs(v - mu1) <= k THEN CAST(1000000 AS" +
          " DECIMAL(38,0)) ELSE (CAST(k AS DECIMAL(38,0)) * 1000000)" +
          " DIV abs(v - mu1) END").as("w6"))
      .agg(sum(col("w6") * col("v")).as("wx"), sum(col("w6")).as("w"))
    val m2 = r2.select(expr("wx DIV w").as("mu2"))
    st.crossJoin(broadcast(m1)).crossJoin(broadcast(m2))
      .select(round(col("mu0").cast(DoubleType) / 100, 2)
          .as("mean_dollars"),
        round(col("mu1").cast(DoubleType) / 100, 2).as("huber_round1"),
        round(col("mu2").cast(DoubleType) / 100, 2).as("huber_round2"))
  }

  /** Weibull survival fit by median-rank regression on the
    * q_kaplan_meier durations: ln(−ln(1−F)) vs ln t is linear exactly
    * when lifetimes are Weibull — slope = shape k (k < 1 ⇒ churn hazard
    * DECREASES with tenure: survive the first months and you stay),
    * scale = exp(−a/k). The parametric member of the survival family
    * (KM/NA/logrank/Gehan are all nonparametric). F from exact
    * cumulative ranks (Bernard's approximation); both regression
    * coordinates ·10⁹-quantized per bounded duration row before the
    * exact co-moment sums. */
  val qWeibullFit = Q(
    "q_weibull_fit",
    """WITH cust AS (
      |  SELECT o_custkey,
      |    datediff('day', MIN(CAST(o_orderdate AS DATE)),
      |      MAX(CAST(o_orderdate AS DATE))) AS t
      |  FROM orders GROUP BY 1),
      |g AS (
      |  SELECT t, count(*) AS c FROM cust WHERE t >= 1 GROUP BY t),
      |cr AS (
      |  SELECT t, sum(c) OVER (ORDER BY t) AS cum,
      |    sum(c) OVER () AS n
      |  FROM g),
      |pt AS (
      |  SELECT CAST(round(ln(CAST(t AS DOUBLE)) * 1000000000)
      |      AS BIGINT) AS x9,
      |    CAST(round(ln(-ln(1 - (CAST(cum AS DOUBLE) - 0.3)
      |      / (CAST(n AS DOUBLE) + 0.4))) * 1000000000) AS BIGINT) AS y9
      |  FROM cr WHERE cum < n),
      |mo AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS m,
      |    sum(CAST(x9 AS HUGEINT)) AS sx, sum(CAST(y9 AS HUGEINT)) AS sy,
      |    sum(CAST(x9 AS HUGEINT) * x9) AS sxx,
      |    sum(CAST(x9 AS HUGEINT) * y9) AS sxy
      |  FROM pt),
      |co AS (
      |  SELECT m,
      |    (CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS k,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM mo)
      |SELECT CAST(m AS BIGINT) AS n_points,
      |  ROUND(k, 4) AS weibull_shape,
      |  ROUND(exp(-((syd - k * sxd) / CAST(m AS DOUBLE) / 1e9) / k), 2)
      |    AS weibull_scale_days
      |FROM co""".stripMargin) { (s, d) =>
    val cust = t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(datediff(max(col("o_orderdate").cast(DateType)),
        min(col("o_orderdate").cast(DateType))).as("t"))
    val g = cust.filter(col("t") >= 1)
      .groupBy("t").agg(count(lit(1)).as("c"))
    val tot = g.agg(sum(col("c")).as("n"))
    val cr = g
      .withColumn("cum", sum(col("c")).over(Window.orderBy("t")))
      .crossJoin(broadcast(tot))
    val pt = cr.filter(col("cum") < col("n"))
      .select(
        round(log(col("t").cast(DoubleType)) * 1000000000L)
          .cast(LongType).as("x9"),
        round(log(-log(lit(1) - (col("cum").cast(DoubleType) - 0.3)
          / (col("n").cast(DoubleType) + 0.4))) * 1000000000L)
          .cast(LongType).as("y9"))
    val mo = pt.agg(count(lit(1)).cast(big38).as("m"),
      sum(col("x9").cast(big38)).as("sx"),
      sum(col("y9").cast(big38)).as("sy"),
      sum(col("x9").cast(big38) * col("x9")).as("sxx"),
      sum(col("x9").cast(big38) * col("y9")).as("sxy"))
    val co = mo.select(col("m"),
      ((col("m").cast(DoubleType) * col("sxy").cast(DoubleType)
        - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
        / (col("m").cast(DoubleType) * col("sxx").cast(DoubleType)
          - col("sx").cast(DoubleType) * col("sx").cast(DoubleType)))
        .as("k"),
      col("sx").cast(DoubleType).as("sxd"),
      col("sy").cast(DoubleType).as("syd"))
    co.select(col("m").cast(LongType).as("n_points"),
      round(col("k"), 4).as("weibull_shape"),
      round(exp(-((col("syd") - col("k") * col("sxd"))
        / col("m").cast(DoubleType) / 1e9) / col("k")), 2)
        .as("weibull_scale_days"))
  }

  /** Negative-binomial method-of-moments fit to per-customer order
    * counts (r, p from mean/variance) — the overdispersed count model
    * q_dispersion's index points at: a Poisson fit underestimates the
    * heavy-buyer tail; NB's r says HOW heterogeneous demand is. Exact
    * moments; closed-form MoM on the one-row panel. */
  val qNbFit = Q(
    "q_nb_fit",
    """WITH cc AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS c
      |  FROM orders GROUP BY 1),
      |mo AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(c AS HUGEINT)) AS s,
      |    sum(CAST(c AS HUGEINT) * c) AS q
      |  FROM cc),
      |st AS (
      |  SELECT n, CAST(s AS DOUBLE) / CAST(n AS DOUBLE) AS m,
      |    (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s
      |      / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS v
      |  FROM mo)
      |SELECT CAST(n AS BIGINT) AS n_customers,
      |  ROUND(m, 4) AS mean_orders, ROUND(v, 4) AS var_orders,
      |  ROUND(v / m, 4) AS dispersion_index,
      |  CASE WHEN v > m THEN ROUND(m * m / (v - m), 4) ELSE NULL END
      |    AS nb_r,
      |  CASE WHEN v > m THEN ROUND(m / v, 6) ELSE NULL END AS nb_p
      |FROM st""".stripMargin) { (s, d) =>
    val cc = t(s, d, "orders").groupBy("o_custkey")
      .agg(count(lit(1)).cast(LongType).as("c"))
    val mo = cc.agg(count(lit(1)).cast(big38).as("n"),
      sum(col("c").cast(big38)).as("s"),
      sum(col("c").cast(big38) * col("c")).as("q"))
    val st = mo.select(col("n"),
      (col("s").cast(DoubleType) / col("n").cast(DoubleType)).as("m"),
      ((col("q").cast(DoubleType) - col("s").cast(DoubleType) * col("s")
        / col("n").cast(DoubleType)) / col("n").cast(DoubleType)).as("v"))
    st.select(col("n").cast(LongType).as("n_customers"),
      round(col("m"), 4).as("mean_orders"),
      round(col("v"), 4).as("var_orders"),
      round(col("v") / col("m"), 4).as("dispersion_index"),
      when(col("v") > col("m"),
        round(col("m") * col("m") / (col("v") - col("m")), 4))
        .otherwise(lit(null)).as("nb_r"),
      when(col("v") > col("m"), round(col("m") / col("v"), 6))
        .otherwise(lit(null)).as("nb_p"))
  }

  /** Empirical-Bayes shrinkage of per-nation urgent-order rates toward
    * the grand rate (Beta-Binomial, method-of-moments prior) — the
    * James-Stein move every per-entity league table needs: small
    * nations' extreme raw rates are mostly noise, and the shrunk
    * estimate says so quantitatively. Prior strength quantized ONCE
    * (·10³) from exact between-nation moments; every shrunk rate is an
    * exact integer DIV. */
  val qEbShrinkage = Q(
    "q_eb_shrinkage",
    """WITH o AS (
      |  SELECT n_name,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |g AS (
      |  SELECT n_name, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(u) AS HUGEINT) AS k
      |  FROM o GROUP BY 1),
      |r AS (SELECT n_name, n, k, k * 1000000 // n AS p6 FROM g),
      |mo AS (
      |  SELECT count(*) AS kk, sum(p6) AS sp,
      |    sum(CAST(p6 AS HUGEINT) * p6) AS sq,
      |    (SELECT sum(k) * 1000000 // sum(n) FROM g) AS pbar6
      |  FROM r),
      |pr AS (
      |  SELECT pbar6,
      |    CAST(round(
      |      CAST(pbar6 AS DOUBLE) * (1000000 - pbar6) /
      |      ((CAST(sq AS DOUBLE) - CAST(sp AS DOUBLE) * sp / kk) / kk)
      |      * 1000) AS BIGINT) AS m3
      |  FROM mo),
      |sh AS (
      |  SELECT r.n_name, r.n, r.k, r.p6, pr.pbar6, pr.m3,
      |    (r.k * 1000 + pr.m3 * pr.pbar6 // 1000000)
      |      * 1000000 // (r.n * 1000 + pr.m3) AS shrunk6
      |  FROM r, pr)
      |SELECT n_name AS nation, CAST(n AS BIGINT) AS n_orders,
      |  ROUND(CAST(p6 AS DOUBLE) / 1e6, 6) AS raw_rate,
      |  ROUND(CAST(shrunk6 AS DOUBLE) / 1e6, 6) AS shrunk_rate,
      |  ROUND(CAST(m3 AS DOUBLE) / 1000
      |    / (CAST(n AS DOUBLE) + CAST(m3 AS DOUBLE) / 1000), 6)
      |    AS prior_weight
      |FROM sh ORDER BY nation""".stripMargin) { (s, d) =>
    val o = t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("u"))
    val g = o.groupBy("n_name")
      .agg(count(lit(1)).cast(big38).as("n"),
        sum(col("u")).cast(big38).as("k"))
    val r = g.select(col("n_name"), col("n"), col("k"),
      expr("k * 1000000 DIV n").as("p6"))
    val gt = g.agg(expr("sum(k) * 1000000 DIV sum(n)").as("pbar6"))
    val mo = r.agg(count(lit(1)).as("kk"), sum(col("p6")).as("sp"),
        sum(col("p6").cast(big38) * col("p6")).as("sq"))
      .crossJoin(broadcast(gt))
    val pr = mo.select(col("pbar6"),
      round(col("pbar6").cast(DoubleType) * (lit(1000000) - col("pbar6"))
        / ((col("sq").cast(DoubleType)
          - col("sp").cast(DoubleType) * col("sp") / col("kk"))
          / col("kk"))
        * 1000).cast(LongType).as("m3"))
    val sh = r.crossJoin(broadcast(pr))
      .select(col("n_name"), col("n"), col("k"), col("p6"),
        col("pbar6"), col("m3"),
        expr("(k * 1000 + m3 * pbar6 DIV 1000000) * 1000000" +
          " DIV (n * 1000 + m3)").as("shrunk6"))
    sh.select(col("n_name").as("nation"),
        col("n").cast(LongType).as("n_orders"),
        round(col("p6").cast(DoubleType) / 1e6, 6).as("raw_rate"),
        round(col("shrunk6").cast(DoubleType) / 1e6, 6).as("shrunk_rate"),
        round(col("m3").cast(DoubleType) / 1000
          / (col("n").cast(DoubleType) + col("m3").cast(DoubleType)
            / 1000), 6).as("prior_weight"))
      .orderBy("nation")
  }

  val all: Seq[Q] = Seq(qMoodsMedian, qCochranQ, qAnomalyEsd,
    qGehanWilcoxon, qMixRateDecomp, qWaterfallSegments,
    qBenjaminiYekutieli, qFleissKappa, qBurnRate, qDeltaAttribution,
    qForecastMase, qPanelFe, qTwoWayAnova, qPropTrend, qCaptureRecapture,
    qXiCorrelation, qPermutationTest, qHuberLocation,
    qWeibullFit, qNbFit, qEbShrinkage,
    qJarqueBera, qLevene, qBinomialCi, qMcnemar,
    qTrimmedMean, qSimpsons, qMissingDays, qAssortativity, qTost,
    qCmhTest, qPartialCorr, qDispersion,
    qQqDeciles, qMatrixDensity, qFirstTokenDist, qNearZeroVar,
    qKruskalWallis, qHillTail, qEwmaChart, qCcfLeadlag,
    qFriedman, qGranger, qLjungBox, qCooksDistance,
    qHolmBonferroni, qExtremeValue, qCemMatch, qMarkovEntropy,
    qVarianceRatio, qRichClub, qBradleyTerry, qAaCalibration)
}
