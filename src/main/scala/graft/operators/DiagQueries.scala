package graft.operators

import graft.Q
import graft.Dsl._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Regression / time-series diagnostics (round-7 continuation): the
  * model-assumption checks an analytics engine runs BEFORE trusting the
  * OLS/ANOVA/forecast output it already produces — serial correlation
  * (Durbin–Watson), heteroskedasticity (Breusch–Pagan), structural break
  * (Chow), variance homogeneity (Bartlett, the parametric complement to
  * q_levene), calendar goodness-of-fit (χ² GoF), a paired nonparametric
  * test (Wilcoxon signed-rank), and the trading-style series monitors
  * (max drawdown, RSI, Bollinger breakouts, PACF).
  *
  * House determinism contract throughout: raw moment sums stay exact
  * (DECIMAL(38)/HUGEINT) at any merge order; doubles appear only in
  * final bounded-panel expressions with IDENTICAL operation order on
  * both engines; any double that must cross a row boundary is quantized
  * to an integer first (the q_anova / q_cusum idiom).
  */
object DiagQueries {

  private val big38 = DecimalType(38, 0)

  /** Daily revenue series: (day DATE, t = days since 1992-01-01, cents).
    * Bounded by the calendar (TPC-H dates span 7 years ⇒ ≤ 2,557 rows at
    * ANY scale factor), so windows/self-joins over it are scale-free. */
  private def dailySeries(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("day"))
      .agg((sum(dec2(col("o_totalprice"))) * 100).cast(LongType).as("cents"))
      .withColumn("tix", datediff(col("day"), lit("1992-01-01")).cast(LongType))

  private val dailySql =
    """ser AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents,
      |    CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)
      |      AS tix
      |  FROM orders GROUP BY 1)""".stripMargin

  /** Monthly revenue series (≤ 84 rows — the q_cusum domain). */
  private def monthlySeries(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType).as("mth"))
      .agg((sum(dec2(col("o_totalprice"))) * 100).cast(LongType).as("cents"))

  private val monthlySql =
    """ser AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1)""".stripMargin

  /** Durbin–Watson serial-correlation test on the residuals of the
    * daily-revenue-vs-time OLS trend. The trend coefficients come from ONE
    * exact HUGEINT co-moment aggregate; each day's residual is computed in
    * double with identical op order on both engines and rounded to whole
    * cents (an integer) BEFORE the cross-row sums, so Σe² and Σ(Δe)² are
    * exact at any merge order. DW ≈ 2(1−ρ); < 1 screams positive serial
    * correlation — the "your daily KPI trend t-stats are fiction" alarm. */
  val qDurbinWatson = Q(
    "q_durbin_watson",
    s"""WITH $dailySql,
      |mo AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(tix AS HUGEINT)) AS st,
      |    sum(CAST(cents AS HUGEINT)) AS sv,
      |    sum(CAST(tix AS HUGEINT) * tix) AS stt,
      |    sum(CAST(tix AS HUGEINT) * cents) AS stv
      |  FROM ser),
      |co AS (
      |  SELECT n,
      |    (CAST(n AS DOUBLE) * CAST(stv AS DOUBLE)
      |      - CAST(st AS DOUBLE) * CAST(sv AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(stt AS DOUBLE)
      |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)) AS b,
      |    CAST(st AS DOUBLE) AS std, CAST(sv AS DOUBLE) AS svd
      |  FROM mo),
      |res AS (
      |  SELECT ser.day,
      |    CAST(round(cents - (svd - b * std) / CAST(n AS DOUBLE)
      |      - b * tix) AS BIGINT) AS e
      |  FROM ser, co),
      |pair AS (
      |  SELECT a.e AS e1, b.e AS e0
      |  FROM res a JOIN res b ON b.day = a.day - 1),
      |agg AS (
      |  SELECT
      |    (SELECT sum(CAST(e AS HUGEINT) * e) FROM res) AS den,
      |    (SELECT count(*) FROM res) AS n_days,
      |    sum(CAST(e1 - e0 AS HUGEINT) * (e1 - e0)) AS num
      |  FROM pair)
      |SELECT CAST(n_days AS BIGINT) AS n_days,
      |  ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS dw,
      |  ROUND(1 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 2, 6)
      |    AS rho_approx
      |FROM agg""".stripMargin) { (s, d) =>
    val ser = dailySeries(s, d)
    val mo = ser.agg(
      count(lit(1)).cast(big38).as("n"),
      sum(col("tix").cast(big38)).as("st"),
      sum(col("cents").cast(big38)).as("sv"),
      sum(col("tix").cast(big38) * col("tix")).as("stt"),
      sum(col("tix").cast(big38) * col("cents")).as("stv"))
    val co = mo.select(col("n"),
      ((col("n").cast(DoubleType) * col("stv").cast(DoubleType)
        - col("st").cast(DoubleType) * col("sv").cast(DoubleType))
        / (col("n").cast(DoubleType) * col("stt").cast(DoubleType)
          - col("st").cast(DoubleType) * col("st").cast(DoubleType))).as("b"),
      col("st").cast(DoubleType).as("std"),
      col("sv").cast(DoubleType).as("svd"))
    val res = ser.crossJoin(broadcast(co))
      .select(col("day"),
        round(col("cents") - (col("svd") - col("b") * col("std"))
          / col("n").cast(DoubleType) - col("b") * col("tix"))
          .cast(LongType).as("e"))
    val a = res.select(col("day"), col("e").as("e1"))
    val b = res.select(col("day").as("bday"), col("e").as("e0"))
    // res is the calendar-bounded daily panel (≤2.4k rows by
    // construction) — broadcast the lag side explicitly; sf0.1 size
    // estimates demoted this self-join to SMJ unhinted
    val pair = a.join(broadcast(b), date_sub(col("day"), 1) === col("bday"))
    val den = res.agg(sum(col("e").cast(big38) * col("e")).as("den"),
      count(lit(1)).as("n_days"))
    val num = pair.agg(
      sum((col("e1") - col("e0")).cast(big38) * (col("e1") - col("e0")))
        .as("num"))
    num.crossJoin(broadcast(den))
      .select(col("n_days").cast(LongType).as("n_days"),
        round(col("num").cast(DoubleType) / col("den").cast(DoubleType), 6)
          .as("dw"),
        round(lit(1) - col("num").cast(DoubleType)
          / col("den").cast(DoubleType) / 2, 6).as("rho_approx"))
  }

  /** Breusch–Pagan heteroskedasticity screen for the discount→quantity
    * OLS. Both regressor and response live on tiny integer grids
    * (discount pct 0..10 × quantity 1..50), so the fact table collapses
    * to ≤ 550 exact-count cells in ONE aggregate; residuals and their
    * squares are per-CELL doubles quantized to ·10⁶ integers before the
    * count-weighted cross-cell sums (all exact). LM = n·R² of the
    * u² ~ x auxiliary regression; big LM ⇒ the error variance moves with
    * discount and every homoskedastic SE downstream is understated. */
  val qBreuschPagan = Q(
    "q_breusch_pagan",
    """WITH cell AS (
      |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
      |    CAST(l_quantity AS BIGINT) AS y,
      |    CAST(count(*) AS HUGEINT) AS c
      |  FROM lineitem GROUP BY 1, 2),
      |mo AS (
      |  SELECT sum(c) AS n, sum(c * x) AS sx, sum(c * x * x) AS sxx,
      |    sum(c * y) AS sy, sum(c * x * y) AS sxy
      |  FROM cell),
      |co AS (
      |  SELECT n, CAST(sx AS DOUBLE) AS sxd,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
      |    CAST(sy AS DOUBLE) AS syd, sxx
      |  FROM mo),
      |u AS (
      |  SELECT cell.x, cell.c,
      |    CAST(round(
      |      (y - (syd - b * sxd) / CAST(n AS DOUBLE) - b * x)
      |      * (y - (syd - b * sxd) / CAST(n AS DOUBLE) - b * x)
      |      * 1000000) AS BIGINT) AS u6
      |  FROM cell, co),
      |aux AS (
      |  SELECT sum(c * u6) AS su, sum(c * x * u6) AS sxu,
      |    sum(c * CAST(u6 AS HUGEINT) * u6) AS suu
      |  FROM u)
      |SELECT CAST(mo.n AS BIGINT) AS n, ROUND(b, 6) AS slope,
      |  ROUND(CAST(mo.n AS DOUBLE)
      |    * (CAST(mo.n AS DOUBLE) * CAST(sxu AS DOUBLE)
      |       - CAST(mo.sx AS DOUBLE) * CAST(su AS DOUBLE))
      |    * (CAST(mo.n AS DOUBLE) * CAST(sxu AS DOUBLE)
      |       - CAST(mo.sx AS DOUBLE) * CAST(su AS DOUBLE))
      |    / ((CAST(mo.n AS DOUBLE) * CAST(mo.sxx AS DOUBLE)
      |       - CAST(mo.sx AS DOUBLE) * CAST(mo.sx AS DOUBLE))
      |      * (CAST(mo.n AS DOUBLE) * CAST(suu AS DOUBLE)
      |       - CAST(su AS DOUBLE) * CAST(su AS DOUBLE))), 6) AS bp_lm
      |FROM mo, co, aux""".stripMargin) { (s, d) =>
    val cell = t(s, d, "lineitem")
      .groupBy(round(col("l_discount") * 100).cast(LongType).as("x"),
        col("l_quantity").cast(LongType).as("y"))
      .agg(count(lit(1)).cast(big38).as("c"))
    val mo = cell.agg(sum(col("c")).as("n"),
      sum(col("c") * col("x")).as("sx"),
      sum(col("c") * col("x") * col("x")).as("sxx"),
      sum(col("c") * col("y")).as("sy"),
      sum(col("c") * col("x") * col("y")).as("sxy"))
    val co = mo.select(col("n"), col("sx"), col("sxx"),
      col("sx").cast(DoubleType).as("sxd"),
      ((col("n").cast(DoubleType) * col("sxy").cast(DoubleType)
        - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
        / (col("n").cast(DoubleType) * col("sxx").cast(DoubleType)
          - col("sx").cast(DoubleType) * col("sx").cast(DoubleType))).as("b"),
      col("sy").cast(DoubleType).as("syd"))
    val resid = col("y") - (col("syd") - col("b") * col("sxd")) /
      col("n").cast(DoubleType) - col("b") * col("x")
    val u = cell.crossJoin(broadcast(co))
      .select(col("x"), col("c"), col("n"), col("sx"), col("sxx"), col("b"),
        round(resid * resid * 1000000).cast(LongType).as("u6"))
    val aux = u.groupBy("n", "sx", "sxx", "b")
      .agg(sum(col("c") * col("u6")).as("su"),
        sum(col("c") * col("x") * col("u6")).as("sxu"),
        sum(col("c") * col("u6").cast(big38) * col("u6")).as("suu"))
    val sxuC = col("n").cast(DoubleType) * col("sxu").cast(DoubleType) -
      col("sx").cast(DoubleType) * col("su").cast(DoubleType)
    aux.select(col("n").cast(LongType).as("n"),
      round(col("b"), 6).as("slope"),
      round(col("n").cast(DoubleType) * sxuC * sxuC
        / ((col("n").cast(DoubleType) * col("sxx").cast(DoubleType)
          - col("sx").cast(DoubleType) * col("sx").cast(DoubleType))
          * (col("n").cast(DoubleType) * col("suu").cast(DoubleType)
            - col("su").cast(DoubleType) * col("su").cast(DoubleType))), 6)
        .as("bp_lm"))
  }

  /** The Chow test's residual sum of squares Syy − Sxy²/Sxx in doubles,
    * over the exact moment columns n, sx, sy, sxx, sxy, syy. */
  private val ssrSql =
    """(CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |    - (CAST(sxy AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (CAST(sxy AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(sxx AS DOUBLE)
      |       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))""".stripMargin

  /** Chow structural-break test: did the discount→quantity relationship
    * change at the 1998-07-01 shipdate boundary (the fixture's mid-range)? One grouped exact
    * co-moment aggregate (2 segment rows); pooled moments are the exact
    * integer SUM of the segment rows; each SSR is a closed-form double on
    * its own final row. F = ((SSRp − SSR₀ − SSR₁)/2)/((SSR₀+SSR₁)/(n−4)).
    * The "your one global model is actually two regimes" detector. */
  val qChowTest = Q(
    "q_chow_test",
    s"""WITH seg AS (
      |  SELECT CASE WHEN l_shipdate < DATE '1998-07-01' THEN 0 ELSE 1 END
      |      AS s,
      |    CAST(round(l_discount * 100) AS BIGINT) AS x,
      |    CAST(l_quantity AS BIGINT) AS y
      |  FROM lineitem),
      |g AS (
      |  SELECT s, CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
      |    sum(CAST(x AS HUGEINT) * x) AS sxx,
      |    sum(CAST(x AS HUGEINT) * y) AS sxy,
      |    sum(CAST(y AS HUGEINT) * y) AS syy
      |  FROM seg GROUP BY s),
      |ss AS (
      |  SELECT s, n,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
      |    $ssrSql
      |      AS ssr
      |  FROM g),
      |p AS (
      |  SELECT CAST(sum(n) AS HUGEINT) AS n, sum(sx) AS sx, sum(sy) AS sy,
      |    sum(sxx) AS sxx, sum(sxy) AS sxy, sum(syy) AS syy
      |  FROM g),
      |pp AS (
      |  SELECT n,
      |    $ssrSql
      |      AS ssrp
      |  FROM p)
      |SELECT
      |  CAST((SELECT n FROM ss WHERE s = 0) AS BIGINT) AS n_pre,
      |  CAST((SELECT n FROM ss WHERE s = 1) AS BIGINT) AS n_post,
      |  ROUND((SELECT b FROM ss WHERE s = 0), 6) AS slope_pre,
      |  ROUND((SELECT b FROM ss WHERE s = 1), 6) AS slope_post,
      |  ROUND((ssrp - (SELECT sum(ssr) FROM ss)) / 2
      |    / ((SELECT sum(ssr) FROM ss) / (CAST(n AS DOUBLE) - 4)), 6)
      |    AS chow_f
      |FROM pp""".stripMargin) { (s, d) =>
    val seg = t(s, d, "lineitem").select(
      when(col("l_shipdate") < lit("1998-07-01").cast(DateType), 0)
        .otherwise(1).as("s"),
      round(col("l_discount") * 100).cast(LongType).as("x"),
      col("l_quantity").cast(LongType).as("y"))
    val g = seg.groupBy("s").agg(
      count(lit(1)).cast(big38).as("n"),
      sum(col("x").cast(big38)).as("sx"),
      sum(col("y").cast(big38)).as("sy"),
      sum(col("x").cast(big38) * col("x")).as("sxx"),
      sum(col("x").cast(big38) * col("y")).as("sxy"),
      sum(col("y").cast(big38) * col("y")).as("syy"))
    def ssrCol = {
      val nd = col("n").cast(DoubleType)
      val cxy = col("sxy").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sy").cast(DoubleType) / nd
      val cxx = col("sxx").cast(DoubleType) -
        col("sx").cast(DoubleType) * col("sx").cast(DoubleType) / nd
      val cyy = col("syy").cast(DoubleType) -
        col("sy").cast(DoubleType) * col("sy").cast(DoubleType) / nd
      (cyy - cxy * cxy / cxx,
        (nd * col("sxy").cast(DoubleType)
          - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
          / (nd * col("sxx").cast(DoubleType)
            - col("sx").cast(DoubleType) * col("sx").cast(DoubleType)))
    }
    val (ssrExpr, bExpr) = ssrCol
    val ss = g.select(col("s"), col("n"), bExpr.as("b"), ssrExpr.as("ssr"))
    val p = g.agg(sum(col("n")).as("n"), sum(col("sx")).as("sx"),
      sum(col("sy")).as("sy"), sum(col("sxx")).as("sxx"),
      sum(col("sxy")).as("sxy"), sum(col("syy")).as("syy"))
    val (ssrpExpr, _) = ssrCol
    val pp = p.select(col("n"), ssrpExpr.as("ssrp"))
    // 2-row bounded panel pivoted to one row; exact integer n's
    val flat = ss.agg(
      sum(when(col("s") === 0, col("n"))).as("n0"),
      sum(when(col("s") === 1, col("n"))).as("n1"),
      // b/ssr are per-row doubles on a 2-row panel; max(when) selects,
      // never adds, so no double is aggregated across rows
      max(when(col("s") === 0, col("b"))).as("b0"),
      max(when(col("s") === 1, col("b"))).as("b1"),
      max(when(col("s") === 0, col("ssr"))).as("ssr0"),
      max(when(col("s") === 1, col("ssr"))).as("ssr1"))
    flat.crossJoin(broadcast(pp))
      .select(col("n0").cast(LongType).as("n_pre"),
        col("n1").cast(LongType).as("n_post"),
        round(col("b0"), 6).as("slope_pre"),
        round(col("b1"), 6).as("slope_post"),
        round((col("ssrp") - (col("ssr0") + col("ssr1"))) / 2
          / ((col("ssr0") + col("ssr1"))
            / (col("n").cast(DoubleType) - 4)), 6).as("chow_f"))
  }

  /** Bartlett variance-homogeneity test across order priorities — the
    * parametric (normality-assuming, more powerful) complement to
    * q_levene's Brown–Forsythe. Per-group s² from exact HUGEINT sums;
    * every cross-group term is quantized to an integer on its own group
    * row first (ln s² at ·10⁹, s² at ·10³ cents², 1/(nᵢ−1) at ·10¹⁸ via
    * exact integer division), so the k-row sums are exact. */
  val qBartlett = Q(
    "q_bartlett",
    s"""WITH x AS (
      |  SELECT o_orderpriority AS prio,
      |    ${priceCentsSql("o_totalprice")} AS v
      |  FROM orders),
      |g AS (
      |  SELECT prio, CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(v AS HUGEINT)) AS s1, sum(CAST(v AS HUGEINT) * v) AS s2
      |  FROM x GROUP BY prio),
      |v AS (
      |  SELECT prio, n,
      |    (CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) - 1) AS s2v
      |  FROM g),
      |q AS (
      |  SELECT prio, n,
      |    CAST(round(ln(s2v) * 1000000000) AS HUGEINT) AS ln9,
      |    CAST(round(s2v * 1000) AS HUGEINT) AS v3,
      |    CAST(1000000000000000000 AS HUGEINT) // (n - 1) AS inv18
      |  FROM v),
      |agg AS (
      |  SELECT count(*) AS k, sum(n) AS nn,
      |    sum((n - 1) * ln9) AS sln9, sum((n - 1) * v3) AS sv3,
      |    sum(inv18) AS sinv18
      |  FROM q)
      |SELECT CAST(k AS BIGINT) AS k, CAST(nn AS BIGINT) AS n,
      |  ROUND(((CAST(nn AS DOUBLE) - k)
      |      * ln(CAST(sv3 AS DOUBLE) / 1000 / (CAST(nn AS DOUBLE) - k))
      |      - CAST(sln9 AS DOUBLE) / 1000000000)
      |    / (1 + (CAST(sinv18 AS DOUBLE) / 1e18
      |        - 1 / (CAST(nn AS DOUBLE) - k)) / (3 * (k - 1))), 6)
      |    AS bartlett_t
      |FROM agg""".stripMargin) { (s, d) =>
    val x = t(s, d, "orders").select(col("o_orderpriority").as("prio"),
      priceCents(col("o_totalprice")).as("v"))
    val g = x.groupBy("prio").agg(
      count(lit(1)).cast(big38).as("n"),
      sum(col("v").cast(big38)).as("s1"),
      sum(col("v").cast(big38) * col("v")).as("s2"))
    val v = g.select(col("prio"), col("n"),
      ((col("s2").cast(DoubleType)
        - col("s1").cast(DoubleType) * col("s1").cast(DoubleType)
          / col("n").cast(DoubleType))
        / (col("n").cast(DoubleType) - 1)).as("s2v"))
    val q = v.select(col("prio"), col("n"),
      round(log(col("s2v")) * 1000000000L).cast(big38).as("ln9"),
      round(col("s2v") * 1000).cast(big38).as("v3"),
      expr("CAST(1000000000000000000 AS DECIMAL(38,0)) DIV (n - 1)")
        .as("inv18"))
    val agg = q.agg(count(lit(1)).as("k"), sum(col("n")).as("nn"),
      sum((col("n") - 1) * col("ln9")).as("sln9"),
      sum((col("n") - 1) * col("v3")).as("sv3"),
      sum(col("inv18")).as("sinv18"))
    agg.select(col("k").cast(LongType).as("k"),
      col("nn").cast(LongType).as("n"),
      round(((col("nn").cast(DoubleType) - col("k"))
        * log(col("sv3").cast(DoubleType) / 1000
          / (col("nn").cast(DoubleType) - col("k")))
        - col("sln9").cast(DoubleType) / 1000000000L)
        / (lit(1) + (col("sinv18").cast(DoubleType) / lit(1e18)
          - lit(1) / (col("nn").cast(DoubleType) - col("k")))
          / (lit(3) * (col("k") - 1))), 6).as("bartlett_t"))
  }

  /** χ² goodness-of-fit of order volume against a uniform day-of-week
    * profile (ISO numbering, 1 = Monday). Exact counts on the bounded
    * 7-key domain; each cell's (obs−exp)²/exp is quantized ·10⁶ on its
    * own row before the 7-row total, so the final χ² is exact. The
    * calendar-assumption check under q_seasonality's descriptive view. */
  val qChi2Gof = Q(
    "q_chi2_gof",
    """WITH per AS (
      |  SELECT CAST(isodow(CAST(o_orderdate AS DATE)) AS INT) AS dow,
      |    CAST(count(*) AS BIGINT) AS obs
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT sum(obs) AS n FROM per),
      |c AS (
      |  SELECT dow, obs, CAST(n AS DOUBLE) / 7 AS expected,
      |    CAST(round((obs - CAST(n AS DOUBLE) / 7)
      |      * (obs - CAST(n AS DOUBLE) / 7) / (CAST(n AS DOUBLE) / 7)
      |      * 1000000) AS BIGINT) AS contrib6
      |  FROM per, tot),
      |chi AS (SELECT sum(contrib6) AS chi6 FROM c)
      |SELECT dow, obs, ROUND(expected, 6) AS expected,
      |  ROUND(CAST(contrib6 AS DOUBLE) / 1000000, 6) AS contrib,
      |  ROUND(CAST(chi6 AS DOUBLE) / 1000000, 6) AS chi2
      |FROM c, chi ORDER BY dow""".stripMargin) { (s, d) =>
    val per = t(s, d, "orders")
      .groupBy((weekday(col("o_orderdate").cast(DateType)) + 1).as("dow"))
      .agg(count(lit(1)).as("obs"))
    val tot = per.agg(sum(col("obs")).as("n"))
    val expd = col("n").cast(DoubleType) / 7
    val c = per.crossJoin(broadcast(tot))
      .select(col("dow"), col("obs"), expd.as("expected"),
        round((col("obs") - expd) * (col("obs") - expd) / expd * 1000000)
          .cast(LongType).as("contrib6"))
    val chi = c.agg(sum(col("contrib6")).as("chi6"))
    c.crossJoin(broadcast(chi))
      .select(col("dow"), col("obs"),
        round(col("expected"), 6).as("expected"),
        round(col("contrib6").cast(DoubleType) / 1000000, 6).as("contrib"),
        round(col("chi6").cast(DoubleType) / 1000000, 6).as("chi2"))
      .orderBy("dow")
  }

  /** Wilcoxon signed-rank test on paired per-customer mean order values,
    * 1994 vs 1995 (customers active in BOTH years; zero differences
    * dropped per the classical procedure). Differences are exact-cent
    * integers (double means from exact sums, rounded); ranking uses the
    * house row_number tie convention (|d|, then custkey — documented, not
    * tie-averaged) via GlobalRank, so no unpartitioned data-sized window;
    * W⁺ is an exact DECIMAL(38) rank sum. The paired answer to
    * q_mannwhitney's independent-samples question. */
  val qWilcoxonSigned = Q(
    "q_wilcoxon_signed",
    """WITH per AS (
      |  SELECT o_custkey AS cust,
      |    CAST(EXTRACT(year FROM o_orderdate) AS INT) AS yr,
      |    CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |      AS s
      |  FROM orders
      |  WHERE EXTRACT(year FROM o_orderdate) IN (1994, 1995)
      |  GROUP BY 1, 2),
      |pair AS (
      |  SELECT cust,
      |    CAST(round(
      |      CAST(max(CASE WHEN yr = 1995 THEN s END) AS DOUBLE)
      |        / CAST(max(CASE WHEN yr = 1995 THEN n END) AS DOUBLE)
      |      - CAST(max(CASE WHEN yr = 1994 THEN s END) AS DOUBLE)
      |        / CAST(max(CASE WHEN yr = 1994 THEN n END) AS DOUBLE))
      |      AS BIGINT) AS d
      |  FROM per GROUP BY cust
      |  HAVING count(*) = 2),
      |nz AS (SELECT cust, d FROM pair WHERE d <> 0),
      |r AS (
      |  SELECT d,
      |    CAST(row_number() OVER (ORDER BY abs(d), cust) AS HUGEINT) AS rk
      |  FROM nz),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CASE WHEN d > 0 THEN rk ELSE CAST(0 AS HUGEINT) END) AS wp
      |  FROM r)
      |SELECT CAST(n AS BIGINT) AS n_pairs, CAST(wp AS BIGINT) AS w_plus,
      |  ROUND((CAST(wp AS DOUBLE) - CAST(n * (n + 1) AS DOUBLE) / 4)
      |    / sqrt(CAST(n * (n + 1) * (2 * n + 1) AS DOUBLE) / 24), 6) AS z
      |FROM m""".stripMargin) { (s, d) =>
    import graft.plans.GlobalRank
    val per = t(s, d, "orders")
      .where(year(col("o_orderdate")).isin(1994, 1995))
      .groupBy(col("o_custkey").as("cust"),
        year(col("o_orderdate")).as("yr"))
      .agg(count(lit(1)).cast(big38).as("n"),
        sum((dec2(col("o_totalprice")) * 100).cast(big38)).as("s"))
    val pair = per.groupBy("cust")
      .agg(count(lit(1)).as("ny"),
        max(when(col("yr") === 1995, col("s"))).as("s95"),
        max(when(col("yr") === 1995, col("n"))).as("n95"),
        max(when(col("yr") === 1994, col("s"))).as("s94"),
        max(when(col("yr") === 1994, col("n"))).as("n94"))
      .where(col("ny") === 2)
      .select(col("cust"),
        round(col("s95").cast(DoubleType) / col("n95").cast(DoubleType)
          - col("s94").cast(DoubleType) / col("n94").cast(DoubleType))
          .cast(LongType).as("d"))
    val nz = pair.where(col("d") =!= 0)
    val (ranked, _) = GlobalRank.withGlobalRowNumber(
      nz, "rk", 16, abs(col("d")), col("cust"))
    val m = ranked.agg(count(lit(1)).cast(big38).as("n"),
      sum(when(col("d") > 0, col("rk")).otherwise(0L).cast(big38)).as("wp"))
    m.select(col("n").cast(LongType).as("n_pairs"),
      col("wp").cast(LongType).as("w_plus"),
      round((col("wp").cast(DoubleType)
        - (col("n") * (col("n") + 1)).cast(DoubleType) / 4)
        / sqrt((col("n") * (col("n") + 1) * (lit(2) * col("n") + 1))
          .cast(DoubleType) / 24), 6).as("z"))
  }

  /** Maximum drawdown of the monthly revenue series: the largest
    * peak-to-trough decline, found EXACTLY as the max over all ordered
    * month pairs of (v_p − v_t)·10⁹ DIV v_p — a bounded ≤84² self-join in
    * pure integer arithmetic (ties broken by earliest peak, then earliest
    * trough). The worst-case-sequence risk statistic mean profiles hide. */
  val qMaxDrawdown = Q(
    "q_max_drawdown",
    s"""WITH $monthlySql,
      |pair AS (
      |  SELECT p.mth AS peak_mth, t.mth AS trough_mth,
      |    p.cents AS peak_cents, t.cents AS trough_cents,
      |    (CAST(p.cents - t.cents AS HUGEINT) * 1000000000) // p.cents
      |      AS dd9
      |  FROM ser p JOIN ser t ON p.mth <= t.mth AND p.cents > 0)
      |SELECT peak_mth, trough_mth,
      |  ROUND(CAST(peak_cents AS DOUBLE) / 100, 2) AS peak_revenue,
      |  ROUND(CAST(trough_cents AS DOUBLE) / 100, 2) AS trough_revenue,
      |  ROUND(CAST(dd9 AS DOUBLE) / 1000000000, 6) AS max_drawdown
      |FROM pair
      |ORDER BY dd9 DESC, peak_mth, trough_mth LIMIT 1""".stripMargin) {
    (s, d) =>
    val ser = monthlySeries(s, d)
    val p = ser.select(col("mth").as("peak_mth"),
      col("cents").as("peak_cents"))
    val tt = ser.select(col("mth").as("trough_mth"),
      col("cents").as("trough_cents"))
    val pair = p.join(tt, col("peak_mth") <= col("trough_mth")
        && col("peak_cents") > 0)
      .withColumn("dd9",
        expr("(CAST(peak_cents - trough_cents AS DECIMAL(38,0))" +
          " * 1000000000) DIV peak_cents"))
    pair.orderBy(col("dd9").desc, col("peak_mth"), col("trough_mth"))
      .limit(1)
      .select(col("peak_mth"), col("trough_mth"),
        round(col("peak_cents").cast(DoubleType) / 100, 2)
          .as("peak_revenue"),
        round(col("trough_cents").cast(DoubleType) / 100, 2)
          .as("trough_revenue"),
        round(col("dd9").cast(DoubleType) / 1000000000L, 6)
          .as("max_drawdown"))
  }

  /** 14-day RSI (SMA flavor — closed-form, no Wilder recursion) on daily
    * revenue: gains/losses are exact integer sums over a 14-row window on
    * the calendar-bounded daily panel; RSI = 100·Σgain/(Σgain+Σloss) with
    * ONE final division. Reported for the last 10 fully-windowed days —
    * the overbought/oversold monitor for any daily KPI. */
  val qRsi = Q(
    "q_rsi",
    s"""WITH $dailySql,
      |ch AS (
      |  SELECT a.day, a.cents - b.cents AS chg
      |  FROM ser a JOIN ser b ON b.day = a.day - 1),
      |w AS (
      |  SELECT day,
      |    count(*) OVER win AS cnt,
      |    sum(CASE WHEN chg > 0 THEN CAST(chg AS HUGEINT)
      |        ELSE CAST(0 AS HUGEINT) END) OVER win AS sg,
      |    sum(CASE WHEN chg < 0 THEN CAST(-chg AS HUGEINT)
      |        ELSE CAST(0 AS HUGEINT) END) OVER win AS sl
      |  FROM ch
      |  WINDOW win AS (ORDER BY day ROWS BETWEEN 13 PRECEDING
      |    AND CURRENT ROW)),
      |f AS (SELECT * FROM w WHERE cnt = 14),
      |last10 AS (SELECT * FROM f ORDER BY day DESC LIMIT 10)
      |SELECT day,
      |  ROUND(100 * CAST(sg AS DOUBLE) / CAST(sg + sl AS DOUBLE), 4)
      |    AS rsi14
      |FROM last10 ORDER BY day""".stripMargin) { (s, d) =>
    val ser = dailySeries(s, d)
    val a = ser.select(col("day"), col("cents"))
    val b = ser.select(col("day").as("bday"), col("cents").as("bcents"))
    val ch = a.join(b, date_sub(col("day"), 1) === col("bday"))
      .select(col("day"), (col("cents") - col("bcents")).as("chg"))
    // calendar-bounded panel (≤2,557 rows at any SF): unpartitioned
    // window is over the bounded post-agg domain, not the fact table
    val win = Window.orderBy("day").rowsBetween(-13, 0)
    val w = ch.select(col("day"),
      count(lit(1)).over(win).as("cnt"),
      sum(when(col("chg") > 0, col("chg")).otherwise(0L).cast(big38))
        .over(win).as("sg"),
      sum(when(col("chg") < 0, -col("chg")).otherwise(0L).cast(big38))
        .over(win).as("sl"))
    w.where(col("cnt") === 14)
      .orderBy(col("day").desc).limit(10)
      .select(col("day"),
        round(lit(100) * col("sg").cast(DoubleType)
          / (col("sg") + col("sl")).cast(DoubleType), 4).as("rsi14"))
      .orderBy("day")
  }

  /** Bollinger-band breakout census: 20-day rolling mean ± 2σ on daily
    * revenue (exact integer rolling sums ⇒ double mean/σ with identical
    * op order), yearly counts of upper/lower breakouts. The volatility-
    * regime summary of the daily series — which years ran hot. */
  val qBollinger = Q(
    "q_bollinger",
    s"""WITH $dailySql,
      |w AS (
      |  SELECT day, cents,
      |    count(*) OVER win AS cnt,
      |    sum(CAST(cents AS HUGEINT)) OVER win AS s1,
      |    sum(CAST(cents AS HUGEINT) * cents) OVER win AS s2
      |  FROM ser
      |  WINDOW win AS (ORDER BY day ROWS BETWEEN 19 PRECEDING
      |    AND CURRENT ROW)),
      |f AS (
      |  SELECT CAST(EXTRACT(year FROM day) AS INT) AS yr, cents,
      |    CAST(s1 AS DOUBLE) / 20 AS mu,
      |    sqrt((CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 20) / 19) AS sd
      |  FROM w WHERE cnt = 20)
      |SELECT yr, count(*) AS n_days,
      |  CAST(sum(CASE WHEN cents > mu + 2 * sd THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_upper,
      |  CAST(sum(CASE WHEN cents < mu - 2 * sd THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_lower
      |FROM f GROUP BY yr ORDER BY yr""".stripMargin) { (s, d) =>
    val ser = dailySeries(s, d)
    val win = Window.orderBy("day").rowsBetween(-19, 0)
    val w = ser.select(col("day"), col("cents"),
      count(lit(1)).over(win).as("cnt"),
      sum(col("cents").cast(big38)).over(win).as("s1"),
      sum(col("cents").cast(big38) * col("cents")).over(win).as("s2"))
    val mu = col("s1").cast(DoubleType) / 20
    val sd = sqrt((col("s2").cast(DoubleType)
      - col("s1").cast(DoubleType) * col("s1").cast(DoubleType) / 20) / 19)
    val f = w.where(col("cnt") === 20)
      .select(year(col("day")).as("yr"), col("cents"),
        mu.as("mu"), sd.as("sd"))
    f.groupBy("yr").agg(count(lit(1)).as("n_days"),
        sum(when(col("cents") > col("mu") + lit(2) * col("sd"), 1)
          .otherwise(0)).cast(LongType).as("n_upper"),
        sum(when(col("cents") < col("mu") - lit(2) * col("sd"), 1)
          .otherwise(0)).cast(LongType).as("n_lower"))
      .orderBy("yr")
  }

  /** Partial autocorrelation of daily revenue at lags 1–3 via the
    * Durbin–Levinson recursion on the per-lag Pearson autocorrelations
    * (each r_k estimated on its own lag-pair sample — the q_autocorr
    * estimator, documented). All r_k come from exact HUGEINT co-moments;
    * the recursion runs on the final one-row panel in double with
    * identical op order. PACF is what separates "AR(1) is enough" from
    * "there is direct lag-2/3 structure" before anyone fits a forecast. */
  val qPacf = Q(
    "q_pacf",
    s"""WITH $dailySql,
      |lags(lag) AS (VALUES (1), (2), (3)),
      |pairs AS (
      |  SELECT l.lag, CAST(a.cents AS HUGEINT) AS x,
      |    CAST(b.cents AS HUGEINT) AS y
      |  FROM ser a CROSS JOIN lags l
      |  JOIN ser b ON b.day = a.day - l.lag),
      |m AS (
      |  SELECT lag, CAST(count(*) AS HUGEINT) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
      |    sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM pairs GROUP BY lag),
      |rr AS (
      |  SELECT lag,
      |    CAST(n * sxy - sx * sy AS DOUBLE)
      |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS r
      |  FROM m),
      |p AS (
      |  SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
      |    max(CASE WHEN lag = 2 THEN r END) AS r2,
      |    max(CASE WHEN lag = 3 THEN r END) AS r3
      |  FROM rr),
      |dl AS (
      |  SELECT r1, r2, r3,
      |    (r2 - r1 * r1) / (1 - r1 * r1) AS phi22,
      |    r1 - (r2 - r1 * r1) / (1 - r1 * r1) * r1 AS phi21
      |  FROM p)
      |SELECT lag, ROUND(pacf, 6) AS pacf FROM (
      |  SELECT 1 AS lag, r1 AS pacf FROM dl
      |  UNION ALL SELECT 2, phi22 FROM dl
      |  UNION ALL
      |  SELECT 3, (r3 - phi21 * r2 - phi22 * r1)
      |    / (1 - phi21 * r1 - phi22 * r2) FROM dl)
      |ORDER BY lag""".stripMargin) { (s, d) =>
    import s.implicits._
    val ser = dailySeries(s, d)
    val lags = Seq(1, 2, 3).toDF("lag")
    val a = ser.select(col("day"), col("cents").cast(big38).as("x"))
      .crossJoin(broadcast(lags))
    val b = ser.select(col("day").as("bday"), col("cents").cast(big38).as("y"))
    val pairs = a.join(b, date_sub(col("day"), col("lag")) === col("bday"))
    val m = pairs.groupBy("lag").agg(count(lit(1)).cast(big38).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val rr = m.select(col("lag"),
      ((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
        / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType))
          * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
            .cast(DoubleType)))).as("r"))
    // 3-row bounded panel → one row (max(when) selects, never sums)
    val p = rr.agg(max(when(col("lag") === 1, col("r"))).as("r1"),
      max(when(col("lag") === 2, col("r"))).as("r2"),
      max(when(col("lag") === 3, col("r"))).as("r3"))
    val dl = p.select(col("r1"), col("r2"), col("r3"),
      ((col("r2") - col("r1") * col("r1"))
        / (lit(1) - col("r1") * col("r1"))).as("phi22"))
      .withColumn("phi21", col("r1") - col("phi22") * col("r1"))
    val l1 = dl.select(lit(1).as("lag"), col("r1").as("pacf"))
    val l2 = dl.select(lit(2).as("lag"), col("phi22").as("pacf"))
    val l3 = dl.select(lit(3).as("lag"),
      ((col("r3") - col("phi21") * col("r2") - col("phi22") * col("r1"))
        / (lit(1) - col("phi21") * col("r1") - col("phi22") * col("r2")))
        .as("pacf"))
    l1.unionAll(l2).unionAll(l3)
      .select(col("lag"), round(col("pacf"), 6).as("pacf"))
      .orderBy("lag")
  }

  /** Dickey–Fuller unit-root test (lag-0, with intercept) on monthly
    * revenue: Δy_t regressed on y_{t-1}. The lag pairing is a rank-shift
    * self-join on the ≤84-row bounded panel; all six co-moments are exact
    * HUGEINT sums, and β̂ / se(β̂) / t are computed once on the one-row
    * final panel with identical double op order on both engines. A t far
    * below −2.89 (the 5% critical value) rejects the unit root — i.e. the
    * series mean-reverts and trend forecasts on levels are defensible. */
  val qAdfTest = Q(
    "q_adf_test",
    s"""WITH $monthlySql,
      |idx AS (
      |  SELECT row_number() OVER (ORDER BY mth) AS rn, cents FROM ser),
      |pr AS (
      |  SELECT a.cents AS y1, b.cents AS y0
      |  FROM idx a JOIN idx b ON b.rn = a.rn - 1),
      |mo AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(y0 AS HUGEINT)) AS sx,
      |    sum(CAST(y1 - y0 AS HUGEINT)) AS sd,
      |    sum(CAST(y0 AS HUGEINT) * y0) AS sxx,
      |    sum(CAST(y0 AS HUGEINT) * (y1 - y0)) AS sxd,
      |    sum(CAST(y1 - y0 AS HUGEINT) * (y1 - y0)) AS sdd
      |  FROM pr),
      |co AS (
      |  SELECT n,
      |    (CAST(n AS DOUBLE) * CAST(sxd AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sd AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta,
      |    CAST(sx AS DOUBLE) AS sxd2, CAST(sd AS DOUBLE) AS sdd2,
      |    CAST(sxd AS DOUBLE) AS sxdd, CAST(sdd AS DOUBLE) AS sddd,
      |    CAST(sxx AS DOUBLE) AS sxxd
      |  FROM mo),
      |fin AS (
      |  SELECT n, beta,
      |    (sddd - (sdd2 - beta * sxd2) / CAST(n AS DOUBLE) * sdd2
      |      - beta * sxdd) / (CAST(n AS DOUBLE) - 2) AS s2,
      |    CAST(n AS DOUBLE) * sxxd - sxd2 * sxd2 AS sxxc
      |  FROM co)
      |SELECT CAST(n AS BIGINT) AS n_pairs, ROUND(beta, 6) AS beta,
      |  ROUND(beta / sqrt(s2 * CAST(n AS DOUBLE) / sxxc), 4) AS adf_t,
      |  CASE WHEN beta / sqrt(s2 * CAST(n AS DOUBLE) / sxxc) < -2.89
      |    THEN 1 ELSE 0 END AS mean_reverting
      |FROM fin""".stripMargin) { (s, d) =>
    val ser = monthlySeries(s, d)
    val idx = ser.withColumn("rn", row_number().over(Window.orderBy("mth")))
    val a = idx.select(col("rn"), col("cents").as("y1"))
    val b = idx.select(col("rn").as("brn"), col("cents").as("y0"))
    val pr = a.join(b, col("brn") === col("rn") - 1)
    val mo = pr.agg(count(lit(1)).cast(big38).as("n"),
      sum(col("y0").cast(big38)).as("sx"),
      sum((col("y1") - col("y0")).cast(big38)).as("sd"),
      sum(col("y0").cast(big38) * col("y0")).as("sxx"),
      sum(col("y0").cast(big38) * (col("y1") - col("y0"))).as("sxd"),
      sum((col("y1") - col("y0")).cast(big38) * (col("y1") - col("y0")))
        .as("sdd"))
    val co = mo.select(col("n"),
      ((col("n").cast(DoubleType) * col("sxd").cast(DoubleType)
        - col("sx").cast(DoubleType) * col("sd").cast(DoubleType))
        / (col("n").cast(DoubleType) * col("sxx").cast(DoubleType)
          - col("sx").cast(DoubleType) * col("sx").cast(DoubleType)))
        .as("beta"),
      col("sx").cast(DoubleType).as("sxd2"),
      col("sd").cast(DoubleType).as("sdd2"),
      col("sxd").cast(DoubleType).as("sxdd"),
      col("sdd").cast(DoubleType).as("sddd"),
      col("sxx").cast(DoubleType).as("sxxd"))
    val fin = co.select(col("n"), col("beta"),
      ((col("sddd") - (col("sdd2") - col("beta") * col("sxd2"))
        / col("n").cast(DoubleType) * col("sdd2")
        - col("beta") * col("sxdd"))
        / (col("n").cast(DoubleType) - 2)).as("s2"),
      (col("n").cast(DoubleType) * col("sxxd")
        - col("sxd2") * col("sxd2")).as("sxxc"))
    fin.select(col("n").cast(LongType).as("n_pairs"),
      round(col("beta"), 6).as("beta"),
      round(col("beta")
        / sqrt(col("s2") * col("n").cast(DoubleType) / col("sxxc")), 4)
        .as("adf_t"),
      when(col("beta")
        / sqrt(col("s2") * col("n").cast(DoubleType) / col("sxxc")) < -2.89,
        1).otherwise(0).as("mean_reverting"))
  }

  /** KPSS level-stationarity statistic on monthly revenue — the
    * complement of q_adf_test (KPSS's null IS stationarity). Fully exact
    * integer pipeline: with e'_t = n·y_t − Σy (scaled demeaned series,
    * integer) and S'_t its prefix sum, KPSS = ΣS'²/(n·Σe'²) — the n
    * scalings cancel so the ONLY double op is the final division. Prefix
    * sums run on the bounded ≤84-row panel. */
  val qKpssTest = Q(
    "q_kpss_test",
    s"""WITH $monthlySql,
      |st AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(cents AS HUGEINT)) AS s
      |  FROM ser),
      |e AS (
      |  SELECT mth, n * cents - s AS ep, n FROM ser, st),
      |p AS (
      |  SELECT n, ep, sum(ep) OVER (ORDER BY mth) AS sp FROM e),
      |ag AS (
      |  SELECT max(n) AS n, sum(sp * sp) AS ssp, sum(ep * ep) AS see
      |  FROM p)
      |SELECT CAST(n AS BIGINT) AS n_months,
      |  ROUND(CAST(ssp AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(see AS DOUBLE)), 6) AS kpss_stat,
      |  CASE WHEN CAST(ssp AS DOUBLE)
      |    / (CAST(n AS DOUBLE) * CAST(see AS DOUBLE)) < 0.463
      |    THEN 1 ELSE 0 END AS level_stationary
      |FROM ag""".stripMargin) { (s, d) =>
    val ser = monthlySeries(s, d)
    val st = ser.agg(count(lit(1)).cast(big38).as("n"),
      sum(col("cents").cast(big38)).as("s"))
    val e = ser.crossJoin(broadcast(st))
      .select(col("mth"), (col("n") * col("cents") - col("s")).as("ep"),
        col("n"))
    val p = e.withColumn("sp", sum(col("ep")).over(Window.orderBy("mth")))
    val ag = p.agg(max(col("n")).as("n"),
      sum(col("sp") * col("sp")).as("ssp"),
      sum(col("ep") * col("ep")).as("see"))
    ag.select(col("n").cast(LongType).as("n_months"),
      round(col("ssp").cast(DoubleType)
        / (col("n").cast(DoubleType) * col("see").cast(DoubleType)), 6)
        .as("kpss_stat"),
      when(col("ssp").cast(DoubleType)
        / (col("n").cast(DoubleType) * col("see").cast(DoubleType)) < 0.463,
        1).otherwise(0).as("level_stationary"))
  }

  /** Standardized, ·10⁶-quantized monthly series shared by the spectral
    * queries: (tt 0-based month index, z6 BIGINT, n). */
  private def standardizedMonthly(
      s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ser = monthlySeries(s, d)
    val st = ser.agg(count(lit(1)).as("n"),
      sum(col("cents").cast(big38)).as("s"),
      sum(col("cents").cast(big38) * col("cents")).as("sq"))
    val mz = st.select(col("n"),
      (col("s").cast(DoubleType) / col("n")).as("mu"),
      sqrt((col("sq").cast(DoubleType)
        - col("s").cast(DoubleType) * col("s").cast(DoubleType)
          / col("n")) / col("n")).as("sd"))
    val z = ser.crossJoin(broadcast(mz))
      .select((row_number().over(Window.orderBy("mth")) - 1).as("tt"),
        round((col("cents").cast(DoubleType) - col("mu")) / col("sd")
          * 1000000).cast(big38).as("z6"),
        col("n"))
    (z, mz)
  }

  /** DuckDB twin of [[standardizedMonthly]] and [[fourierSums]]: the ser,
    * st, mz and z CTEs, then k and sp (k, sc, ss). */
  private val fourierSql =
    s"""$monthlySql,
       |st AS (
       |  SELECT count(*) AS n, sum(CAST(cents AS HUGEINT)) AS s,
       |    sum(CAST(cents AS HUGEINT) * cents) AS sq
       |  FROM ser),
       |mz AS (
       |  SELECT n, CAST(s AS DOUBLE) / n AS mu,
       |    sqrt((CAST(sq AS DOUBLE)
       |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / n) AS sd
       |  FROM st),
       |z AS (
       |  SELECT row_number() OVER (ORDER BY mth) - 1 AS tt,
       |    CAST(round((CAST(cents AS DOUBLE) - mu) / sd * 1000000)
       |      AS HUGEINT) AS z6, n
       |  FROM ser, mz),
       |k AS (SELECT tt + 1 AS k FROM z WHERE tt + 1 <= n // 2),
       |sp AS (
       |  SELECT k.k,
       |    sum(z.z6 * CAST(round(cos(2 * pi() * k.k * z.tt
       |      / CAST(z.n AS DOUBLE)) * 1000000) AS HUGEINT)) AS sc,
       |    sum(z.z6 * CAST(round(sin(2 * pi() * k.k * z.tt
       |      / CAST(z.n AS DOUBLE)) * 1000000) AS HUGEINT)) AS ss
       |  FROM k, z GROUP BY k.k)""".stripMargin

  /** Per Fourier frequency k = 1..n/2 of the standardized series `z`
    * (tt, z6, n), the ·10⁶-quantized cosine and sine sums (k, sc, ss):
    * exact integer sums over the (k × t) panel, ≤ 42·84 rows at any SF. */
  private def fourierSums(z: DataFrame): DataFrame = {
    val kDf = z.filter(col("tt") + 1 <= expr("n DIV 2"))
      .select((col("tt") + 1).as("k"))
    // broadcast the months-bounded panel explicitly: at sf1 the
    // estimator-driven broadcast of this post-agg frame silently
    // demoted to CartesianProduct (the round-9 regression class,
    // one decade up) -- the panel is <= n_months rows by construction
    kDf.crossJoin(broadcast(z))
      .groupBy("k")
      .agg(
        sum(col("z6") * round(cos(lit(2) * lit(math.Pi) * col("k")
          * col("tt") / col("n").cast(DoubleType)) * 1000000)
          .cast(big38)).as("sc"),
        sum(col("z6") * round(sin(lit(2) * lit(math.Pi) * col("k")
          * col("tt") / col("n").cast(DoubleType)) * 1000000)
          .cast(big38)).as("ss"))
  }

  /** Raw periodogram of the standardized monthly revenue series: for each
    * Fourier frequency k = 1..n/2, the power share
    * P_k = S_c² + S_s² with S_c = Σ_t z_t·cos(2πkt/n). The series is
    * standardized and ·10⁶-quantized ONCE (μ, σ from exact moments; the
    * per-row double ops are order-identical on both engines), the cos/sin
    * weights are ·10⁶-quantized per (k,t), so every S_c/S_s is an EXACT
    * integer sum and power shares are exact-int ratios — merge-order-proof
    * and scale-free (standardization kills the cents magnitude). The
    * (k × t) expansion is ≤ 42·84 rows at any SF. The k=12-month peak is
    * the seasonality detector q_seasonality reads off directly. */
  val qPeriodogram = Q(
    "q_periodogram",
    s"""WITH $fourierSql,
      |pw AS (
      |  SELECT k, sc * sc + ss * ss AS p,
      |    sum(sc * sc + ss * ss) OVER () AS ptot,
      |    max(n) OVER () AS n
      |  FROM sp, (SELECT max(n) AS n FROM z))
      |SELECT CAST(k AS BIGINT) AS k,
      |  ROUND(CAST(n AS DOUBLE) / k, 2) AS period_months,
      |  ROUND(CAST(p AS DOUBLE) / CAST(ptot AS DOUBLE), 6) AS power_share
      |FROM pw ORDER BY k""".stripMargin) { (s, d) =>
    val (zDf, _) = standardizedMonthly(s, d)
    val sp = fourierSums(zDf)
    val nDf = zDf.agg(max(col("n")).as("n"))
    val pRaw = sp.crossJoin(broadcast(nDf))
      .select(col("k"), (col("sc") * col("sc") + col("ss") * col("ss"))
        .as("p"), col("n"))
    val ptot = pRaw.agg(sum(col("p")).as("ptot"))
    val pw = pRaw.crossJoin(broadcast(ptot))
    pw.select(col("k").cast(LongType).as("k"),
        round(col("n").cast(DoubleType) / col("k"), 2).as("period_months"),
        round(col("p").cast(DoubleType) / col("ptot").cast(DoubleType), 6)
          .as("power_share"))
      .orderBy("k")
  }

  /** Spectral entropy of the q_periodogram power distribution — one
    * number for "how concentrated is the series' energy": ~0 means one
    * dominant cycle (strong seasonality ⇒ forecastable), ~1 (normalized)
    * means white noise. Power shares are exact-int ratios; each
    * share·ln(share) term is ·10¹²-quantized BEFORE the cross-row sum
    * (the q_bartlett ln idiom), so the sum is merge-order-proof. */
  val qSpectralEntropy = Q(
    "q_spectral_entropy",
    s"""WITH $fourierSql,
      |pw AS (
      |  SELECT k, sc * sc + ss * ss AS p,
      |    sum(sc * sc + ss * ss) OVER () AS ptot
      |  FROM sp),
      |terms AS (
      |  SELECT count(*) AS nf,
      |    sum(CAST(round(CAST(p AS DOUBLE) / CAST(ptot AS DOUBLE)
      |      * ln(CAST(p AS DOUBLE) / CAST(ptot AS DOUBLE))
      |      * 1000000000000) AS BIGINT)) AS c12
      |  FROM pw WHERE p > 0)
      |SELECT CAST(nf AS BIGINT) AS n_freqs,
      |  ROUND(-CAST(c12 AS DOUBLE) / 1e12, 6) AS spectral_entropy,
      |  ROUND(-CAST(c12 AS DOUBLE) / 1e12 / ln(CAST(nf AS DOUBLE)), 6)
      |    AS entropy_norm
      |FROM terms""".stripMargin) { (s, d) =>
    val sp = fourierSums(standardizedMonthly(s, d)._1)
    val pRaw = sp
      .select((col("sc") * col("sc") + col("ss") * col("ss")).as("p"))
    val ptot = pRaw.agg(sum(col("p")).as("ptot"))
    val pw = pRaw.crossJoin(broadcast(ptot))
    val terms = pw.filter(col("p") > 0).agg(
      count(lit(1)).as("nf"),
      sum(round(col("p").cast(DoubleType) / col("ptot").cast(DoubleType)
        * log(col("p").cast(DoubleType) / col("ptot").cast(DoubleType))
        * 1000000000000L).cast(LongType)).as("c12"))
    terms.select(col("nf").cast(LongType).as("n_freqs"),
      round(-col("c12").cast(DoubleType) / 1e12, 6).as("spectral_entropy"),
      round(-col("c12").cast(DoubleType) / 1e12
        / log(col("nf").cast(DoubleType)), 6).as("entropy_norm"))
  }

  /** Mann–Kendall monotonic-trend test on monthly revenue — the
    * nonparametric companion to q_theil_sen's slope: S = Σ_{i<j}
    * sign(y_j − y_i) over the ≤84² bounded pair domain (pure integer),
    * normal approximation Z = (S − sign(S))/√(n(n−1)(2n+5)/18). Exact
    * cents make ties measure-zero, so the untied variance formula is used
    * on both engines identically. |Z| > 1.96 ⇒ a real monotonic drift the
    * mean-based q_changepoint could miss under heavy tails. */
  val qMannKendall = Q(
    "q_mann_kendall",
    s"""WITH $monthlySql,
      |idx AS (
      |  SELECT row_number() OVER (ORDER BY mth) AS rn, cents FROM ser),
      |pr AS (
      |  SELECT CASE WHEN b.cents > a.cents THEN 1
      |    WHEN b.cents < a.cents THEN -1 ELSE 0 END AS sg
      |  FROM idx a JOIN idx b ON b.rn > a.rn),
      |ag AS (
      |  SELECT sum(sg) AS s_stat,
      |    (SELECT CAST(count(*) AS DOUBLE) FROM idx) AS n
      |  FROM pr)
      |SELECT CAST(n AS BIGINT) AS n_months,
      |  CAST(s_stat AS BIGINT) AS s_stat,
      |  ROUND((s_stat - CASE WHEN s_stat > 0 THEN 1
      |      WHEN s_stat < 0 THEN -1 ELSE 0 END)
      |    / sqrt(n * (n - 1) * (2 * n + 5) / 18), 4) AS z,
      |  CASE WHEN abs((s_stat - CASE WHEN s_stat > 0 THEN 1
      |      WHEN s_stat < 0 THEN -1 ELSE 0 END)
      |    / sqrt(n * (n - 1) * (2 * n + 5) / 18)) > 1.96
      |    THEN 1 ELSE 0 END AS trending
      |FROM ag""".stripMargin) { (s, d) =>
    val ser = monthlySeries(s, d)
    val idx = ser.withColumn("rn", row_number().over(Window.orderBy("mth")))
    val a = idx.select(col("rn"), col("cents").as("ca"))
    val b = idx.select(col("rn").as("brn"), col("cents").as("cb"))
    val pr = a.join(b, col("brn") > col("rn"))
      .select(when(col("cb") > col("ca"), 1)
        .when(col("cb") < col("ca"), -1).otherwise(0).as("sg"))
    val nDf = idx.agg(count(lit(1)).cast(DoubleType).as("n"))
    val ag = pr.agg(sum(col("sg")).as("s_stat"))
      .crossJoin(broadcast(nDf))
    val zc = (col("s_stat") - when(col("s_stat") > 0, 1)
      .when(col("s_stat") < 0, -1).otherwise(0))
      ./(sqrt(col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) / 18))
    ag.select(col("n").cast(LongType).as("n_months"),
      col("s_stat").cast(LongType).as("s_stat"),
      round(zc, 4).as("z"),
      when(abs(zc) > 1.96, 1).otherwise(0).as("trending"))
  }

  /** Per-nation customer-acctbal moments (cents): the shared input of the
    * Welch-ANOVA / Tukey-HSD pair. */
  private def nationAcctbalMoments(s: SparkSession, d: String): DataFrame =
    t(s, d, "customer")
      .select(col("c_nationkey").as("nk"),
        (dec2(col("c_acctbal")) * 100).cast(LongType).as("cents"))
      .groupBy("nk")
      .agg(count(lit(1)).cast(big38).as("ng"),
        sum(col("cents").cast(big38)).as("sg"),
        sum(col("cents").cast(big38) * col("cents")).as("qg"))

  private val nationAcctbalSql =
    """g AS (
      |  SELECT c_nationkey AS nk, CAST(count(*) AS HUGEINT) AS ng,
      |    sum(CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)) AS sg,
      |    sum(CAST(CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)
      |      * CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)) AS qg
      |  FROM customer GROUP BY 1)""".stripMargin

  /** Welch's heteroskedastic ANOVA on customer acctbal across the 25
    * nations — the q_anova F assumes equal group variances (q_levene /
    * q_bartlett test exactly that assumption); Welch's F* is the one to
    * trust when they reject. Group weights w_i = n_i/s_i² are
    * ·10¹⁵-quantized and the weighted grand mean is an exact integer DIV,
    * so both cross-group sums (numerator ∑w·dev², correction ∑b_i) are
    * exact-integer and merge-order-proof; only the one-row final panel is
    * double. */
  val qWelchAnova = Q(
    "q_welch_anova",
    s"""WITH $nationAcctbalSql,
      |w AS (
      |  SELECT nk, ng, sg * 1000 // ng AS m3,
      |    CAST(round(CAST(ng AS DOUBLE)
      |      / ((CAST(qg AS DOUBLE) - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE)
      |          / CAST(ng AS DOUBLE)) / (CAST(ng AS DOUBLE) - 1))
      |      * 1e15) AS HUGEINT) AS w15
      |  FROM g),
      |tot AS (
      |  SELECT count(*) AS k, sum(w15) AS ww, sum(w15 * m3) // sum(w15)
      |    AS xb3
      |  FROM w),
      |terms AS (
      |  SELECT max(tot.k) AS k, max(tot.ww) AS ww,
      |    sum(w.w15 * (w.m3 - tot.xb3) * (w.m3 - tot.xb3)) AS anum,
      |    sum(CAST(round(
      |      (1 - CAST(w.w15 AS DOUBLE) / CAST(tot.ww AS DOUBLE))
      |      * (1 - CAST(w.w15 AS DOUBLE) / CAST(tot.ww AS DOUBLE))
      |      / (CAST(w.ng AS DOUBLE) - 1) * 1e12) AS HUGEINT)) AS bsum
      |  FROM w, tot)
      |SELECT CAST(k AS INT) AS k_groups,
      |  ROUND(CAST(anum AS DOUBLE) / 1e21 / (k - 1)
      |    / (1 + 2.0 * (k - 2) / (k * k - 1.0)
      |      * (CAST(bsum AS DOUBLE) / 1e12)), 4) AS f_welch,
      |  ROUND((k * k - 1.0) / (3 * CAST(bsum AS DOUBLE) / 1e12), 2)
      |    AS df2
      |FROM terms""".stripMargin) { (s, d) =>
    val g = nationAcctbalMoments(s, d)
    val w = g.select(col("nk"), col("ng"),
      expr("sg * 1000 DIV ng").as("m3"),
      round(col("ng").cast(DoubleType)
        / ((col("qg").cast(DoubleType)
          - col("sg").cast(DoubleType) * col("sg").cast(DoubleType)
            / col("ng").cast(DoubleType))
          / (col("ng").cast(DoubleType) - 1)) * 1e15)
        .cast(big38).as("w15"))
    val tot = w.agg(count(lit(1)).as("k"), sum(col("w15")).as("ww"),
      expr("sum(w15 * m3) DIV sum(w15)").as("xb3"))
    val terms = w.crossJoin(broadcast(tot)).agg(
      max(col("k")).as("k"), max(col("ww")).as("ww"),
      sum(col("w15") * (col("m3") - col("xb3"))
        * (col("m3") - col("xb3"))).as("anum"),
      sum(round(
        (lit(1) - col("w15").cast(DoubleType) / col("ww").cast(DoubleType))
          * (lit(1) - col("w15").cast(DoubleType)
            / col("ww").cast(DoubleType))
          / (col("ng").cast(DoubleType) - 1) * 1e12)
        .cast(big38)).as("bsum"))
    terms.select(col("k").cast(IntegerType).as("k_groups"),
      round(col("anum").cast(DoubleType) / 1e21 / (col("k") - 1)
        / (lit(1) + lit(2.0) * (col("k") - 2)
          / (col("k") * col("k") - lit(1.0))
          * (col("bsum").cast(DoubleType) / 1e12)), 4).as("f_welch"),
      round((col("k") * col("k") - lit(1.0))
        / (lit(3) * col("bsum").cast(DoubleType) / 1e12), 2).as("df2"))
  }

  /** Tukey-HSD-style pairwise nation comparison on customer acctbal: the
    * post-hoc step after q_anova/q_welch_anova rejects — WHICH of the 300
    * nation pairs actually differ. Studentized statistic
    * q = |m̄_a − m̄_b| / √(MSE/2·(1/n_a+1/n_b)) with the pooled MSE from
    * ·1-cent²-quantized per-group within-SS (the q_anova ssw idiom) and
    * exact integer-DIV millicent means. 25 groups ⇒ a 300-row bounded
    * pair panel; flag threshold 5.24 ≈ q₀.₀₅(25, ∞). */
  val qTukeyHsd = Q(
    "q_tukey_hsd",
    s"""WITH $nationAcctbalSql,
      |wss AS (
      |  SELECT sum(CAST(round((CAST(ng AS DOUBLE) * CAST(qg AS DOUBLE)
      |      - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
      |      / CAST(ng AS DOUBLE)) AS HUGEINT)) AS ssw,
      |    sum(ng) AS n, count(*) AS k
      |  FROM g),
      |m AS (
      |  SELECT n_name, ng, sg * 1000 // ng AS m3
      |  FROM g JOIN nation ON nk = n_nationkey),
      |pairs AS (
      |  SELECT a.n_name AS nation_a, b.n_name AS nation_b,
      |    a.m3 AS ma, b.m3 AS mb, a.ng AS na, b.ng AS nb
      |  FROM m a JOIN m b ON a.n_name < b.n_name)
      |SELECT nation_a, nation_b,
      |  CAST(ma - mb AS DOUBLE) / 1e5 AS diff_dollars,
      |  ROUND(abs(CAST(ma - mb AS DOUBLE)) / 1000
      |    / sqrt(CAST(ssw AS DOUBLE) / (CAST(n AS DOUBLE) - k) / 2
      |      * (1 / CAST(na AS DOUBLE) + 1 / CAST(nb AS DOUBLE))), 4)
      |    AS q_stat,
      |  CASE WHEN abs(CAST(ma - mb AS DOUBLE)) / 1000
      |    / sqrt(CAST(ssw AS DOUBLE) / (CAST(n AS DOUBLE) - k) / 2
      |      * (1 / CAST(na AS DOUBLE) + 1 / CAST(nb AS DOUBLE))) > 5.24
      |    THEN 1 ELSE 0 END AS significant
      |FROM pairs, wss ORDER BY nation_a, nation_b""".stripMargin) {
    (s, d) =>
    val g = nationAcctbalMoments(s, d)
    val wss = g.agg(
      sum(round((col("ng").cast(DoubleType) * col("qg").cast(DoubleType)
        - col("sg").cast(DoubleType) * col("sg").cast(DoubleType))
        / col("ng").cast(DoubleType)).cast(big38)).as("ssw"),
      sum(col("ng")).as("n"), count(lit(1)).as("k"))
    val m = g.join(broadcast(t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("nk") === col("n_nationkey"))
      .select(col("n_name"), col("ng"), expr("sg * 1000 DIV ng").as("m3"))
    val a = m.select(col("n_name").as("nation_a"), col("m3").as("ma"),
      col("ng").as("na"))
    val b = m.select(col("n_name").as("nation_b"), col("m3").as("mb"),
      col("ng").as("nb"))
    // both sides are 25-row nation panels at ANY fact-table scale —
    // broadcast the right side so the theta-join plans as BNLJ, never a
    // shuffled CartesianProduct (caught by the r8 PLANS.md regen)
    val pairs = a.join(broadcast(b), col("nation_a") < col("nation_b"))
    val se = sqrt(col("ssw").cast(DoubleType)
      / (col("n").cast(DoubleType) - col("k")) / 2
      * (lit(1) / col("na").cast(DoubleType)
        + lit(1) / col("nb").cast(DoubleType)))
    pairs.crossJoin(broadcast(wss))
      .select(col("nation_a"), col("nation_b"),
        ((col("ma") - col("mb")).cast(DoubleType) / 1e5)
          .as("diff_dollars"),
        round(abs((col("ma") - col("mb")).cast(DoubleType)) / 1000 / se, 4)
          .as("q_stat"),
        when(abs((col("ma") - col("mb")).cast(DoubleType)) / 1000 / se
          > 5.24, 1).otherwise(0).as("significant"))
      .orderBy("nation_a", "nation_b")
  }

  /** Two-sample Poisson rate-ratio test on daily order arrival: early era
    * (before 1995-05-01) vs late era, exposures fixed by the calendar.
    * Counts are exact; the one-row Wald panel on the log scale
    * (z = ln(r̂)/√(1/c₁+1/c₂)) is the standard E-commerce "did arrival
    * intensity change between eras" monitor. */
  val qPoissonRatio = Q(
    "q_poisson_ratio",
    """WITH c AS (
      |  SELECT
      |    sum(CASE WHEN o_orderdate < DATE '1995-05-01'
      |      THEN 1 ELSE 0 END) AS c1,
      |    sum(CASE WHEN o_orderdate >= DATE '1995-05-01'
      |      THEN 1 ELSE 0 END) AS c2,
      |    CAST(DATE '1995-05-01' - DATE '1992-01-01' AS DOUBLE) AS d1,
      |    CAST(DATE '1998-09-01' - DATE '1995-05-01' AS DOUBLE) AS d2
      |  FROM orders)
      |SELECT CAST(c1 AS BIGINT) AS orders_early,
      |  CAST(c2 AS BIGINT) AS orders_late,
      |  ROUND(c1 / d1, 4) AS rate_early,
      |  ROUND(c2 / d2, 4) AS rate_late,
      |  ROUND(c1 / d1 / (c2 / d2), 6) AS rate_ratio,
      |  ROUND(ln(c1 / d1 / (c2 / d2))
      |    / sqrt(1.0 / c1 + 1.0 / c2), 4) AS z,
      |  CASE WHEN abs(ln(c1 / d1 / (c2 / d2))
      |    / sqrt(1.0 / c1 + 1.0 / c2)) > 1.96 THEN 1 ELSE 0 END
      |    AS significant
      |FROM c""".stripMargin) { (s, d) =>
    val c = t(s, d, "orders").agg(
      sum(when(col("o_orderdate") < lit("1995-05-01"), 1).otherwise(0))
        .as("c1"),
      sum(when(col("o_orderdate") >= lit("1995-05-01"), 1).otherwise(0))
        .as("c2"),
      max(datediff(lit("1995-05-01"), lit("1992-01-01"))
        .cast(DoubleType)).as("d1"),
      max(datediff(lit("1998-09-01"), lit("1995-05-01"))
        .cast(DoubleType)).as("d2"))
    val z = log(col("c1") / col("d1") / (col("c2") / col("d2")))
      ./(sqrt(lit(1.0) / col("c1") + lit(1.0) / col("c2")))
    c.select(col("c1").cast(LongType).as("orders_early"),
      col("c2").cast(LongType).as("orders_late"),
      round(col("c1") / col("d1"), 4).as("rate_early"),
      round(col("c2") / col("d2"), 4).as("rate_late"),
      round(col("c1") / col("d1") / (col("c2") / col("d2")), 6)
        .as("rate_ratio"),
      round(z, 4).as("z"),
      when(abs(z) > 1.96, 1).otherwise(0).as("significant"))
  }

  /** DuckDB daily revenue series with its ISO day of week and centered
    * 7-day trend: series (day, dow, cents) and tr (…, tsum, tn), tn < 7
    * at the ends. Shared by the seasonal-decomposition oracles. */
  private[operators] val dowTrendSql =
    s"""series AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    isodow(CAST(o_orderdate AS DATE)) AS dow,
      |    sum(${priceCentsSql("o_totalprice")})
      |      AS cents
      |  FROM orders GROUP BY 1, 2),
      |tr AS (
      |  SELECT day, dow, cents,
      |    sum(cents) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |      AND 3 FOLLOWING) AS tsum,
      |    count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
      |      AND 3 FOLLOWING) AS tn
      |  FROM series)""".stripMargin

  /** The full-window days (day, dow, cents, det7 = 7·cents − trend sum)
    * and the integer seasonal index per dow (dow, s7q = round(mean
    * det7)): the exact-integer detrending q_decomp_strength and
    * q_residual_outliers share. Oracle twin: [[detrend7Sql]]. */
  private def detrend7(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val series = t(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("day"),
        dayofweek(col("o_orderdate")).as("dowRaw"))
      .agg(sumCents
        .as("cents"))
      // isodow: Mon=1..Sun=7; Spark dayofweek: Sun=1..Sat=7
      .withColumn("dow", when(col("dowRaw") === 1, 7)
        .otherwise(col("dowRaw") - 1))
    val wTr = Window.orderBy("day").rowsBetween(-3, 3)
    val full7 = series
      .withColumn("tsum", sum(col("cents")).over(wTr))
      .withColumn("tn", count(lit(1)).over(wTr))
      .filter(col("tn") === 7)
      .select(col("day"), col("dow"), col("cents"),
        (lit(7) * col("cents") - col("tsum")).as("det7"))
    (full7, full7.groupBy("dow")
      .agg(round(sum(col("det7")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("s7q")))
  }

  /** DuckDB twin of [[detrend7]]: [[dowTrendSql]], full7 and seas. */
  private val detrend7Sql =
    s"""$dowTrendSql,
       |full7 AS (
       |  SELECT day, dow, cents, 7 * cents - tsum AS det7
       |  FROM tr WHERE tn = 7),
       |seas AS (
       |  SELECT dow,
       |    CAST(round(CAST(sum(det7) AS DOUBLE) / count(*)) AS BIGINT)
       |      AS s7q
       |  FROM full7 GROUP BY dow)""".stripMargin

  /** Hyndman trend/seasonal STRENGTH of the daily revenue series — the
    * one-number "is this series forecastable, and by what" summary over
    * the q_decompose components: F = max(0, 1 − Var(R)/Var(X+R)). The
    * decomposition stays EXACT end-to-end: det7 = 7·y − Σ₇y is integer,
    * the per-dow seasonal is quantized to one integer per dow (the
    * q_anova ssw idiom), so the residual series is integer and all three
    * variances come from exact DECIMAL(38) moments; the two F ratios are
    * one-row double expressions. */
  val qDecompStrength = Q(
    "q_decomp_strength",
    s"""WITH $detrend7Sql,
      |r AS (
      |  SELECT f.det7 - s.s7q AS r700, f.det7,
      |    7 * f.cents - s.s7q AS tr700
      |  FROM full7 f JOIN seas s ON f.dow = s.dow),
      |mo AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(r700 AS HUGEINT)) AS sr,
      |    sum(CAST(r700 AS HUGEINT) * r700) AS srr,
      |    sum(CAST(det7 AS HUGEINT)) AS sd,
      |    sum(CAST(det7 AS HUGEINT) * det7) AS sdd,
      |    sum(CAST(tr700 AS HUGEINT)) AS st,
      |    sum(CAST(tr700 AS HUGEINT) * tr700) AS stt
      |  FROM r)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  ROUND(GREATEST(0, 1 - (CAST(srr AS DOUBLE)
      |      - CAST(sr AS DOUBLE) * sr / CAST(n AS DOUBLE))
      |    / (CAST(stt AS DOUBLE)
      |      - CAST(st AS DOUBLE) * st / CAST(n AS DOUBLE))), 6)
      |    AS trend_strength,
      |  ROUND(GREATEST(0, 1 - (CAST(srr AS DOUBLE)
      |      - CAST(sr AS DOUBLE) * sr / CAST(n AS DOUBLE))
      |    / (CAST(sdd AS DOUBLE)
      |      - CAST(sd AS DOUBLE) * sd / CAST(n AS DOUBLE))), 6)
      |    AS seasonal_strength
      |FROM mo""".stripMargin) { (s, d) =>
    val (full7, seas) = detrend7(s, d)
    val r = full7.join(broadcast(seas.withColumnRenamed("dow", "sdow")),
        col("dow") === col("sdow"))
      .select((col("det7") - col("s7q")).as("r700"), col("det7"),
        (lit(7) * col("cents") - col("s7q")).as("tr700"))
    val mo = r.agg(count(lit(1)).cast(big38).as("n"),
      sum(col("r700").cast(big38)).as("sr"),
      sum(col("r700").cast(big38) * col("r700")).as("srr"),
      sum(col("det7").cast(big38)).as("sd"),
      sum(col("det7").cast(big38) * col("det7")).as("sdd"),
      sum(col("tr700").cast(big38)).as("st"),
      sum(col("tr700").cast(big38) * col("tr700")).as("stt"))
    def cvar(sq: String, sm: String): Column =
      col(sq).cast(DoubleType)
        .minus(col(sm).cast(DoubleType) * col(sm) / col("n").cast(DoubleType))
    mo.select(col("n").cast(LongType).as("n_days"),
      round(greatest(lit(0), lit(1) - cvar("srr", "sr") / cvar("stt", "st")),
        6).as("trend_strength"),
      round(greatest(lit(0), lit(1) - cvar("srr", "sr") / cvar("sdd", "sd")),
        6).as("seasonal_strength"))
  }

  /** Hampel outlier filter on daily revenue: a point is an outlier when
    * it sits more than 3 robust sigmas (1.4826·MAD) from the rolling
    * 15-day median — the despiking pass that precedes any trend fit
    * (q_rolling_zscore's mean/σ version breaks down when the window
    * itself contains the spike; median/MAD does not). Window medians are
    * exact mid-elements of sorted 15-element arrays (odd window, no
    * averaging); the flag compare is |x−med|·10000 vs 3·14826·mad/10 —
    * pure integers. Output: the flagged days. */
  val qHampelFilter = Q(
    "q_hampel_filter",
    s"""WITH series AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    sum(${priceCentsSql("o_totalprice")})
      |      AS cents
      |  FROM orders GROUP BY 1),
      |wd AS (
      |  SELECT day, cents,
      |    list_sort(list(cents) OVER (ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 7 FOLLOWING)) AS wlist,
      |    count(*) OVER (ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 7 FOLLOWING) AS wn
      |  FROM series),
      |med AS (
      |  SELECT day, cents, wlist[8] AS wmed
      |  FROM wd WHERE wn = 15)
      |SELECT day, ROUND(CAST(cents AS DOUBLE) / 100, 2) AS revenue,
      |  ROUND(CAST(wmed AS DOUBLE) / 100, 2) AS window_median
      |FROM med
      |WHERE abs(cents - wmed) * 10000 > 3 * 12533
      |  * (SELECT CAST(round(CAST(sum(abs(cents - wmed)) AS DOUBLE)
      |      / count(*)) AS BIGINT) FROM med)
      |ORDER BY day""".stripMargin) { (s, d) =>
    val series = t(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("day"))
      .agg(sumCents
        .as("cents"))
    val w15 = Window.orderBy("day").rowsBetween(-7, 7)
    val wd = series
      .withColumn("wlist", collect_list(col("cents")).over(w15))
      .withColumn("wn", count(lit(1)).over(w15))
    val med = wd.filter(col("wn") === 15)
      .select(col("day"), col("cents"),
        element_at(array_sort(col("wlist")), 8).as("wmed"))
    val madScale = med.agg(
      round(sum(abs(col("cents") - col("wmed"))).cast(DoubleType)
        / count(lit(1))).cast(LongType).as("madq"))
    med.crossJoin(broadcast(madScale))
      .filter(abs(col("cents") - col("wmed")) * 10000
        > lit(3) * 12533 * col("madq"))
      .select(col("day"),
        round(col("cents").cast(DoubleType) / 100, 2).as("revenue"),
        round(col("wmed").cast(DoubleType) / 100, 2).as("window_median"))
      .orderBy("day")
  }

  /** Decomposition-residual outliers: days whose q_decompose residual
    * sits > 3σ from the residual mean — the STL-style anomaly screen
    * that q_rolling_zscore (raw series) and q_hampel_filter (level
    * spikes) both miss when the anomaly hides inside a strong weekly
    * pattern (a "normal-looking" Monday that behaves like a Sunday).
    * The residual series is the exact integer r700 of q_decomp_strength;
    * the flag compare (r700−μ700q)² > 9σ² runs on quantized integers. */
  val qResidualOutliers = Q(
    "q_residual_outliers",
    s"""WITH $detrend7Sql,
      |r AS (
      |  SELECT f.day, f.cents, f.det7 - s.s7q AS r700
      |  FROM full7 f JOIN seas s ON f.dow = s.dow),
      |mo AS (
      |  SELECT CAST(round(CAST(sum(r700) AS DOUBLE) / count(*))
      |      AS BIGINT) AS muq,
      |    CAST(round(sqrt((CAST(sum(CAST(r700 AS HUGEINT) * r700)
      |        AS DOUBLE)
      |      - CAST(sum(CAST(r700 AS HUGEINT)) AS DOUBLE)
      |        * sum(CAST(r700 AS HUGEINT)) / count(*)) / count(*)))
      |      AS BIGINT) AS sdq
      |  FROM r)
      |SELECT day, ROUND(CAST(cents AS DOUBLE) / 100, 2) AS revenue,
      |  ROUND(CAST(r700 AS DOUBLE) / 700 / 100, 2) AS residual_dollars,
      |  CASE WHEN r700 > muq THEN 1 ELSE -1 END AS direction
      |FROM r, mo
      |WHERE abs(r700 - muq) > 3 * sdq
      |ORDER BY day""".stripMargin) { (s, d) =>
    val (full7, seas) = detrend7(s, d)
    val r = full7.join(broadcast(seas.withColumnRenamed("dow", "sdow")),
        col("dow") === col("sdow"))
      .select(col("day"), col("cents"),
        (col("det7") - col("s7q")).as("r700"))
    val mo = r.agg(
      round(sum(col("r700")).cast(DoubleType) / count(lit(1)))
        .cast(LongType).as("muq"),
      round(sqrt((sum(col("r700").cast(big38) * col("r700"))
        .cast(DoubleType)
        - sum(col("r700").cast(big38)).cast(DoubleType)
          * sum(col("r700").cast(big38)) / count(lit(1)))
        / count(lit(1)))).cast(LongType).as("sdq"))
    r.crossJoin(broadcast(mo))
      .filter(abs(col("r700") - col("muq")) > lit(3) * col("sdq"))
      .select(col("day"),
        round(col("cents").cast(DoubleType) / 100, 2).as("revenue"),
        round(col("r700").cast(DoubleType) / 700 / 100, 2)
          .as("residual_dollars"),
        when(col("r700") > col("muq"), 1).otherwise(-1).as("direction"))
      .orderBy("day")
  }

  /** Year-over-year seasonality-profile similarity: each full year's
    * 12 monthly revenue shares (ppm, exact integer DIV) compared
    * pairwise by squared-ppm distance — which years' shapes match
    * (stable seasonality ⇒ q_forecast_snaive is trustworthy; an odd
    * year out pinpoints WHEN the shape broke). Bounded 7×12 panel,
    * exact integers end-to-end. */
  val qYearSimilarity = Q(
    "q_year_similarity",
    """WITH m AS (
      |  SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
      |    CAST(month(o_orderdate) AS BIGINT) AS mon,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS HUGEINT)
      |      AS cents
      |  FROM orders GROUP BY 1, 2),
      |fy AS (
      |  SELECT yr FROM m GROUP BY yr HAVING count(*) = 12),
      |sh AS (
      |  SELECT m.yr, m.mon,
      |    m.cents * 1000000 // sum(m.cents) OVER (PARTITION BY m.yr)
      |      AS sh6
      |  FROM m JOIN fy ON m.yr = fy.yr),
      |pairs AS (
      |  SELECT a.yr AS year_a, b.yr AS year_b,
      |    sum((a.sh6 - b.sh6) * (a.sh6 - b.sh6)) AS d2
      |  FROM sh a JOIN sh b ON a.mon = b.mon AND a.yr < b.yr
      |  GROUP BY 1, 2)
      |SELECT year_a, year_b,
      |  ROUND(sqrt(CAST(d2 AS DOUBLE)) / 1e4, 4) AS profile_dist_pct
      |FROM pairs ORDER BY year_a, year_b""".stripMargin) { (s, d) =>
    val m = t(s, d, "orders")
      .groupBy(year(col("o_orderdate")).cast(LongType).as("yr"),
        month(col("o_orderdate")).cast(LongType).as("mon"))
      .agg(sum(dec2(col("o_totalprice")) * 100).cast(big38).as("cents"))
    val fy = m.groupBy("yr").agg(count(lit(1)).as("nm"))
      .filter(col("nm") === 12).select(col("yr").as("fyr"))
    val tot = m.join(broadcast(fy), col("yr") === col("fyr"))
      .groupBy(col("yr").as("tyr")).agg(sum(col("cents")).as("ycents"))
    val sh = m.join(broadcast(tot), col("yr") === col("tyr"))
      .select(col("yr"), col("mon"),
        expr("cents * 1000000 DIV ycents").as("sh6"))
    val a = sh.select(col("yr").as("year_a"), col("mon"),
      col("sh6").as("sha"))
    val b = sh.select(col("yr").as("year_b"), col("mon").as("bmon"),
      col("sh6").as("shb"))
    val pairs = a.join(b, col("mon") === col("bmon")
        && col("year_a") < col("year_b"))
      .groupBy("year_a", "year_b")
      .agg(sum((col("sha") - col("shb")) * (col("sha") - col("shb")))
        .as("d2"))
    pairs.select(col("year_a"), col("year_b"),
        round(sqrt(col("d2").cast(DoubleType)) / 1e4, 4)
          .as("profile_dist_pct"))
      .orderBy("year_a", "year_b")
  }

  /** Two-level binary-segmentation changepoint detection on monthly
    * revenue: the best split of the whole series, then the best split of
    * each resulting half — THREE changepoints where q_changepoint stops
    * at one (a ramp-then-plateau series needs at least two). Segment
    * SSEs come from one prefix-sum pass (exact integers; each candidate
    * segment's SSE is ·1-quantized cents² BEFORE the two-segment total),
    * so every argmin is an integer argmin with a smallest-index
    * tiebreak; the fixed two-level unroll is the q_kcore bounded-depth
    * contract. */
  val qChangepointTwo = Q(
    "q_changepoint_two",
    s"""WITH $monthlySql,
      |p AS (
      |  SELECT row_number() OVER (ORDER BY mth) AS rn, mth,
      |    sum(CAST(cents AS HUGEINT)) OVER (ORDER BY mth) AS ps,
      |    sum(CAST(cents AS HUGEINT) * cents) OVER (ORDER BY mth) AS pq
      |  FROM ser),
      |tot AS (SELECT max(rn) AS n, max(ps) AS ts, max(pq) AS tq FROM p),
      |s1 AS (
      |  SELECT p.rn AS k, p.mth,
      |    CAST(round(CAST(p.pq AS DOUBLE)
      |      - CAST(p.ps AS DOUBLE) * p.ps / p.rn) AS HUGEINT)
      |    + CAST(round(CAST(tot.tq - p.pq AS DOUBLE)
      |      - CAST(tot.ts - p.ps AS DOUBLE) * (tot.ts - p.ps)
      |        / (tot.n - p.rn)) AS HUGEINT) AS sse2,
      |    CAST(round(CAST(tot.tq AS DOUBLE)
      |      - CAST(tot.ts AS DOUBLE) * tot.ts / tot.n) AS HUGEINT)
      |      AS sse0
      |  FROM p, tot WHERE p.rn < tot.n),
      |cp1 AS (
      |  SELECT k, mth, sse2, sse0 FROM s1
      |  ORDER BY sse2, k LIMIT 1),
      |lhs AS (
      |  SELECT p.rn AS k, p.mth,
      |    CAST(round(CAST(p.pq AS DOUBLE)
      |      - CAST(p.ps AS DOUBLE) * p.ps / p.rn) AS HUGEINT)
      |    + CAST(round(CAST(c.cpq - p.pq AS DOUBLE)
      |      - CAST(c.cps - p.ps AS DOUBLE) * (c.cps - p.ps)
      |        / (c.ck - p.rn)) AS HUGEINT) AS sse2,
      |    CAST(round(CAST(c.cpq AS DOUBLE)
      |      - CAST(c.cps AS DOUBLE) * c.cps / c.ck) AS HUGEINT) AS sse0
      |  FROM p, (SELECT cp1.k AS ck, pp.ps AS cps, pp.pq AS cpq
      |           FROM cp1 JOIN p pp ON pp.rn = cp1.k) c
      |  WHERE p.rn < c.ck),
      |cp2l AS (SELECT k, mth, sse2, sse0 FROM lhs ORDER BY sse2, k
      |         LIMIT 1),
      |rhs AS (
      |  SELECT p.rn AS k, p.mth,
      |    CAST(round(CAST(p.pq - c.cpq AS DOUBLE)
      |      - CAST(p.ps - c.cps AS DOUBLE) * (p.ps - c.cps)
      |        / (p.rn - c.ck)) AS HUGEINT)
      |    + CAST(round(CAST(tot.tq - p.pq AS DOUBLE)
      |      - CAST(tot.ts - p.ps AS DOUBLE) * (tot.ts - p.ps)
      |        / (tot.n - p.rn)) AS HUGEINT) AS sse2,
      |    CAST(round(CAST(tot.tq - c.cpq AS DOUBLE)
      |      - CAST(tot.ts - c.cps AS DOUBLE) * (tot.ts - c.cps)
      |        / (tot.n - c.ck)) AS HUGEINT) AS sse0
      |  FROM p, tot,
      |    (SELECT cp1.k AS ck, pp.ps AS cps, pp.pq AS cpq
      |     FROM cp1 JOIN p pp ON pp.rn = cp1.k) c
      |  WHERE p.rn > c.ck AND p.rn < tot.n),
      |cp2r AS (SELECT k, mth, sse2, sse0 FROM rhs ORDER BY sse2, k
      |         LIMIT 1)
      |SELECT level, cp_month, ROUND(sse_drop_pct, 4) AS sse_drop_pct
      |FROM (
      |  SELECT 1 AS level, CAST(mth AS DATE) AS cp_month,
      |    CAST(sse0 - sse2 AS DOUBLE) * 100 / CAST(sse0 AS DOUBLE)
      |      AS sse_drop_pct
      |  FROM cp1
      |  UNION ALL
      |  SELECT 2, CAST(mth AS DATE),
      |    CAST(sse0 - sse2 AS DOUBLE) * 100 / CAST(sse0 AS DOUBLE)
      |  FROM cp2l
      |  UNION ALL
      |  SELECT 3, CAST(mth AS DATE),
      |    CAST(sse0 - sse2 AS DOUBLE) * 100 / CAST(sse0 AS DOUBLE)
      |  FROM cp2r) z
      |ORDER BY level""".stripMargin) { (s, d) =>
    val ser = monthlySeries(s, d)
    val wOrd = Window.orderBy("mth")
    val p = ser.select(
        row_number().over(wOrd).cast(LongType).as("rn"), col("mth"),
        sum(col("cents").cast(big38)).over(wOrd).as("ps"),
        sum(col("cents").cast(big38) * col("cents")).over(wOrd).as("pq"))
    val tot = p.agg(max(col("rn")).as("n"), max(col("ps")).as("ts"),
      max(col("pq")).as("tq"))
    def sseq(q: Column, ss: Column, m: Column): Column =
      round(q.cast(DoubleType)
        - ss.cast(DoubleType) * ss / m.cast(DoubleType)).cast(big38)
    def argmin(df: DataFrame): DataFrame =
      df.orderBy(col("sse2"), col("k")).limit(1)
    val s1 = p.crossJoin(broadcast(tot)).filter(col("rn") < col("n"))
      .select(col("rn").as("k"), col("mth"),
        (sseq(col("pq"), col("ps"), col("rn"))
          + sseq(col("tq") - col("pq"), col("ts") - col("ps"),
            col("n") - col("rn"))).as("sse2"),
        sseq(col("tq"), col("ts"), col("n")).as("sse0"))
    val cp1 = argmin(s1)
    val cRow = cp1.select(col("k").as("ck"))
      .join(p.select(col("rn"), col("ps").as("cps"),
        col("pq").as("cpq")), col("rn") === col("ck"))
      .select("ck", "cps", "cpq")
    val lhs = p.crossJoin(broadcast(cRow)).filter(col("rn") < col("ck"))
      .select(col("rn").as("k"), col("mth"),
        (sseq(col("pq"), col("ps"), col("rn"))
          + sseq(col("cpq") - col("pq"), col("cps") - col("ps"),
            col("ck") - col("rn"))).as("sse2"),
        sseq(col("cpq"), col("cps"), col("ck")).as("sse0"))
    val cp2l = argmin(lhs)
    val rhs = p.crossJoin(broadcast(tot)).crossJoin(broadcast(cRow))
      .filter(col("rn") > col("ck") && col("rn") < col("n"))
      .select(col("rn").as("k"), col("mth"),
        (sseq(col("pq") - col("cpq"), col("ps") - col("cps"),
          col("rn") - col("ck"))
          + sseq(col("tq") - col("pq"), col("ts") - col("ps"),
            col("n") - col("rn"))).as("sse2"),
        sseq(col("tq") - col("cpq"), col("ts") - col("cps"),
          col("n") - col("ck")).as("sse0"))
    val cp2r = argmin(rhs)
    def lvl(df: DataFrame, level: Int): DataFrame =
      df.select(lit(level).as("level"),
        col("mth").cast(DateType).as("cp_month"),
        ((col("sse0") - col("sse2")).cast(DoubleType) * 100
          / col("sse0").cast(DoubleType)).as("sse_drop_pct"))
    lvl(cp1, 1).unionByName(lvl(cp2l, 2)).unionByName(lvl(cp2r, 3))
      .select(col("level"), col("cp_month"),
        round(col("sse_drop_pct"), 4).as("sse_drop_pct"))
      .orderBy("level")
  }

  /** Hurst exponent of daily revenue by rescaled-range (R/S) analysis:
    * long-range dependence the ACF misses (H > 0.5 = persistent trends,
    * < 0.5 = mean-reverting). For block sizes m ∈ {16,32,64,128}, each
    * FULL block's R/S is (maxD − minD)/√(m·Σx² − S²) with D_k =
    * m·prefix_k − k·S — every quantity under the sqrt and inside the
    * range is an EXACT DECIMAL(38)/HUGEINT integer, so the only doubles
    * are one per block (ln(R/S), ·10⁹-quantized before the per-m sum).
    * H = OLS slope of mean-ln(R/S) on ln(m) over the 4-point panel,
    * computed from exact integer cross-sums (ln(m) itself ·10⁹-quantized
    * identically on both engines). Windows run per (m, block) on the
    * calendar-bounded daily panel. */
  val qHurst = Q(
    "q_hurst",
    s"""WITH $dailySql,
       |idx AS (
       |  SELECT cents,
       |    row_number() OVER (ORDER BY day) AS i,
       |    count(*) OVER () AS n
       |  FROM ser),
       |blk AS (
       |  SELECT m.m, (i - 1) // m.m AS b, i, cents
       |  FROM idx CROSS JOIN (
       |    SELECT CAST(unnest([16, 32, 64, 128]) AS BIGINT) AS m) m
       |  WHERE (i - 1) // m.m < n // m.m),
       |pre AS (
       |  SELECT m, b, cents,
       |    row_number() OVER (PARTITION BY m, b ORDER BY i) AS k,
       |    sum(CAST(cents AS HUGEINT))
       |      OVER (PARTITION BY m, b ORDER BY i) AS pref,
       |    sum(CAST(cents AS HUGEINT)) OVER (PARTITION BY m, b) AS sm,
       |    sum(CAST(cents AS HUGEINT) * cents)
       |      OVER (PARTITION BY m, b) AS sq
       |  FROM blk),
       |rs AS (
       |  SELECT m, b,
       |    CAST(round(ln(CAST(max(m * pref - k * sm)
       |          - min(m * pref - k * sm) AS DOUBLE)
       |        / sqrt(CAST(m * max(sq) - max(sm) * max(sm) AS DOUBLE)))
       |      * 1000000000) AS HUGEINT) AS l9
       |  FROM pre GROUP BY m, b),
       |pm AS (
       |  -- mean ln(R/S) ·10⁹ as FLOOR(sum/nb): the +nb·10¹⁵ shift keeps
       |  -- the numerator positive so // and DIV agree even if a block's
       |  -- ln(R/S) went negative (negative integer division truncates
       |  -- differently across engines)
       |  SELECT m, count(*) AS nb,
       |    (sum(l9) + count(*) * CAST(1000000000000000 AS HUGEINT))
       |      // count(*) - 1000000000000000 AS y9
       |  FROM rs GROUP BY m),
       |fit AS (
       |  SELECT count(*) AS k4,
       |    sum(CAST(round(ln(CAST(m AS DOUBLE)) * 1000000000) AS HUGEINT))
       |      AS sx,
       |    sum(y9) AS sy,
       |    sum(CAST(round(ln(CAST(m AS DOUBLE)) * 1000000000) AS HUGEINT)
       |      * y9) AS sxy,
       |    sum(CAST(round(ln(CAST(m AS DOUBLE)) * 1000000000) AS HUGEINT)
       |      * CAST(round(ln(CAST(m AS DOUBLE)) * 1000000000) AS HUGEINT))
       |      AS sxx
       |  FROM pm)
       |SELECT m, CAST(nb AS BIGINT) AS n_blocks,
       |  ROUND(CAST(y9 AS DOUBLE) / 1000000000, 6) AS mean_ln_rs,
       |  ROUND((CAST(k4 AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (CAST(k4 AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS hurst
       |FROM pm, fit ORDER BY m""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ser = dailySeries(s, d)
    val n = ser.count()
    val idx = ser.withColumn("i",
      row_number().over(Window.orderBy("day")).cast(LongType))
    import s.implicits._
    val ms = Seq(16L, 32L, 64L, 128L).toDF("m")
    val blk = idx.crossJoin(broadcast(ms))
      .filter(expr(s"(i - 1) DIV m < ${n}L DIV m"))
      .select(col("m"), expr("(i - 1) DIV m").as("b"), col("i"),
        col("cents"))
    val wOrd = Window.partitionBy("m", "b").orderBy("i")
    val wAll = Window.partitionBy("m", "b")
    val pre = blk
      .withColumn("k", row_number().over(wOrd).cast(LongType))
      .withColumn("pref", sum(col("cents").cast(big38)).over(wOrd))
      .withColumn("sm", sum(col("cents").cast(big38)).over(wAll))
      .withColumn("sq",
        sum((col("cents").cast(big38) * col("cents")).cast(big38))
          .over(wAll))
    val dNum = col("m") * col("pref") - col("k") * col("sm")
    val rs = pre.groupBy("m", "b")
      .agg(round(log((max(dNum) - min(dNum)).cast(DoubleType)
          / sqrt((max(col("m") * col("sq"))
            - max(col("sm")) * max(col("sm"))).cast(DoubleType)))
        * 1000000000L).cast(big38).as("l9"))
    val pm = rs.groupBy("m")
      .agg(count(lit(1)).as("nb"),
        (expr("(sum(l9) + count(*) * CAST(1000000000000000 AS" +
          " DECIMAL(38,0))) DIV count(*)") - 1000000000000000L).as("y9"))
    val x9 = round(log(col("m").cast(DoubleType)) * 1000000000L)
      .cast(big38)
    val fit = pm.agg(count(lit(1)).as("k4"),
      sum(x9).as("sx"), sum(col("y9")).as("sy"),
      sum((x9 * col("y9")).cast(big38)).as("sxy"),
      sum((x9 * x9).cast(big38)).as("sxx"))
    pm.crossJoin(broadcast(fit))
      .select(col("m"), col("nb").cast(LongType).as("n_blocks"),
        round(col("y9").cast(DoubleType) / 1000000000L, 6)
          .as("mean_ln_rs"),
        round((col("k4").cast(DoubleType) * col("sxy").cast(DoubleType)
            - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
          / (col("k4").cast(DoubleType) * col("sxx").cast(DoubleType)
            - col("sx").cast(DoubleType) * col("sx").cast(DoubleType)), 6)
          .as("hurst"))
      .orderBy("m")
  }

  /** Sample entropy (m = 2, r = 0.2σ) of the daily revenue series — the
    * regularity/complexity readout: low SampEn = repetitive dynamics,
    * high = noise-like. Length-2 template matches B and length-3 matches
    * A are EXACT pair counts from one bounded non-equi self-join of the
    * calendar panel (≤2.4k templates ⇒ ≤3M comparisons, broadcast side);
    * the tolerance r is the same sqrt-of-exact-integers double on both
    * engines and compares against integer |diffs|, so counts can never
    * drift. SampEn = −ln(A/B). */
  val qSampleEntropy = Q(
    "q_sample_entropy",
    s"""WITH $dailySql,
       |idx AS (
       |  SELECT cents,
       |    row_number() OVER (ORDER BY day) AS i,
       |    count(*) OVER () AS n
       |  FROM ser),
       |mom AS (
       |  SELECT count(*) AS n, sum(CAST(cents AS HUGEINT)) AS sc,
       |    sum(CAST(cents AS HUGEINT) * cents) AS sq
       |  FROM idx),
       |tol AS (
       |  SELECT 0.2 * sqrt((CAST(sq AS DOUBLE)
       |    - CAST(sc AS DOUBLE) * sc / n) / n) AS r
       |  FROM mom),
       |tm AS (
       |  SELECT i, cents AS x0,
       |    lead(cents, 1) OVER (ORDER BY i) AS x1,
       |    lead(cents, 2) OVER (ORDER BY i) AS x2
       |  FROM idx),
       |tmpl AS (SELECT * FROM tm WHERE x2 IS NOT NULL),
       |pairs AS (
       |  SELECT
       |    count(*) AS b,
       |    sum(CASE WHEN abs(a.x2 - c.x2) <= r THEN 1 ELSE 0 END) AS a
       |  FROM tmpl a JOIN tmpl c ON a.i < c.i, tol
       |  WHERE abs(a.x0 - c.x0) <= r AND abs(a.x1 - c.x1) <= r)
       |SELECT (SELECT count(*) FROM tmpl) AS n_templates,
       |  (SELECT ROUND(r / 100, 6) FROM tol) AS r_dollars,
       |  CAST(b AS BIGINT) AS b_matches, CAST(a AS BIGINT) AS a_matches,
       |  ROUND(-ln(CAST(a AS DOUBLE) / CAST(b AS DOUBLE)), 6) AS sampen
       |FROM pairs""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ser = dailySeries(s, d)
    val idx = ser.withColumn("i",
      row_number().over(Window.orderBy("day")).cast(LongType))
    val mom = idx.agg(count(lit(1)).as("n"),
      sum(col("cents").cast(big38)).as("sc"),
      sum((col("cents").cast(big38) * col("cents")).cast(big38)).as("sq"))
    val r = mom.select((lit(0.2) * sqrt((col("sq").cast(DoubleType)
      - col("sc").cast(DoubleType) * col("sc") / col("n"))
      / col("n"))).as("r"))
    val wi = Window.orderBy("i")
    val tmpl = idx
      .withColumn("x1", lead(col("cents"), 1).over(wi))
      .withColumn("x2", lead(col("cents"), 2).over(wi))
      .filter(col("x2").isNotNull)
      .select(col("i"), col("cents").as("x0"), col("x1"), col("x2"))
    val c = tmpl.select(col("i").as("ci"), col("x0").as("cx0"),
      col("x1").as("cx1"), col("x2").as("cx2"))
    val pairs = tmpl.crossJoin(broadcast(r))
      .join(broadcast(c), col("i") < col("ci")
        && abs(col("x0") - col("cx0")) <= col("r")
        && abs(col("x1") - col("cx1")) <= col("r"))
      .agg(count(lit(1)).as("b"),
        sum(when(abs(col("x2") - col("cx2")) <= col("r"), 1).otherwise(0))
          .as("a"))
    val nT = tmpl.count()
    val rv = r.head().getDouble(0)
    pairs.select(lit(nT).as("n_templates"),
      round(lit(rv) / 100, 6).as("r_dollars"),
      col("b").cast(LongType).as("b_matches"),
      col("a").cast(LongType).as("a_matches"),
      round(-log(col("a").cast(DoubleType) / col("b").cast(DoubleType)),
        6).as("sampen"))
  }

  val all: Seq[Q] = Seq(qDurbinWatson, qBreuschPagan, qChowTest, qBartlett,
    qChi2Gof, qWilcoxonSigned, qMaxDrawdown, qRsi, qBollinger, qPacf,
    qAdfTest, qKpssTest, qPeriodogram, qSpectralEntropy, qMannKendall,
    qWelchAnova, qTukeyHsd, qPoissonRatio, qDecompStrength, qHampelFilter,
    qResidualOutliers, qYearSimilarity, qChangepointTwo,
    qHurst, qSampleEntropy)
}
