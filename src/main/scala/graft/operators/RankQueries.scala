package graft.operators

import graft.Q
import graft.Dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Rank-based effect sizes, post-hoc tests and goodness-of-fit (round-9
  * battery): Cliff's δ, Dunn's post-hoc z after Kruskal–Wallis,
  * Brunner–Munzel, Page's trend test, and the Anderson–Darling
  * uniformity check on the engine's own hash splitter.
  *
  * Shared machinery and determinism contract: all ranks are exact-integer
  * DOUBLED midranks (2×midrank is always integral) derived from
  * `GlobalRank.withGlobalRowNumber` row numbers — never a data-sized
  * unpartitioned window; per-group ranks come from ONE composite-key
  * GlobalRank pass plus a broadcast offset panel (the q_trimmed_mean
  * idiom). Doubles appear only in final per-row expressions written with
  * the identical operation order in the DuckDB oracle.
  */
object RankQueries {

  private val big38 = DecimalType(38, 0)

  /** Orders (key, customer, total) with their customer's segment. */
  private def segOrders(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
      .join(broadcast(t(s, d, "customer")
          .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))

  /** Every order in exact cents, grouped by its segment name: the
    * k-group frame of Dunn's test and Kruskal–Wallis. */
  private[operators] def segCents(s: SparkSession, d: String): DataFrame =
    segOrders(s, d).select(col("c_mktsegment").as("grp"),
      priceCents(col("o_totalprice")).as("cents"), col("o_orderkey"))

  /** Orders of two named segments with exact integer cents — the shared
    * two-sample frame for Cliff's δ and Brunner–Munzel (grp 1 = second
    * segment so the composite GlobalRank key sorts group blocks). */
  private def twoSeg(s: SparkSession, d: String, a: String, b: String)
      : DataFrame =
    segOrders(s, d).filter(col("c_mktsegment").isin(a, b))
      .select(when(col("c_mktsegment") === b, 1).otherwise(0).as("grp"),
        priceCents(col("o_totalprice")).as("cents"),
        col("o_orderkey"))

  private val twoSegSql =
    s"""SELECT CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END
      |      AS grp,
      |    ${priceCentsSql("o_totalprice")}
      |      AS cents,
      |    o_orderkey
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')""".stripMargin

  /** Pooled doubled midranks by value of a frame ranked into `grk`:
    * (cents, ar2 = 2·midrank as an exact integer, cv = ties at cents). */
  private def pooledMidranks(ranked: DataFrame): DataFrame =
    ranked.groupBy("cents")
      .agg(sum(col("grk")).as("srk"), count(lit(1)).as("cv"))
      .select(col("cents"), expr("(2 * srk) DIV cv").as("ar2"), col("cv"))

  /** Exact rank sums of `x` (grp, cents, o_orderkey) on one pooled
    * ranking: the [[pooledMidranks]] panel `pv` and per group `gr` (grp,
    * r2g = doubled midrank sum, ng = size). */
  private[operators] def midrankSums(x: DataFrame): (DataFrame, DataFrame) = {
    val (ranked, _) = graft.plans.GlobalRank.withGlobalRowNumber(
      x, "grk", 32, col("cents"), col("o_orderkey"))
    val pv = pooledMidranks(ranked)
    val gr = ranked.groupBy("grp", "cents").agg(count(lit(1)).as("c"))
      .join(pv.drop("cv"), "cents").groupBy("grp")
      .agg(sum((col("c").cast(big38) * col("ar2")).cast(big38)).as("r2g"),
        sum(col("c")).as("ng"))
    (pv, gr)
  }

  /** DuckDB twin of [[midrankSums]]: the `r`, `pv`, `gv` and `gr` CTEs
    * over a CTE `x`. */
  private val midrankSumsSql =
    """r AS (
      |  SELECT grp, cents,
      |    row_number() OVER (ORDER BY cents, o_orderkey) AS grk
      |  FROM x),
      |pv AS (
      |  SELECT cents, (2 * sum(grk)) // count(*) AS ar2, count(*) AS cv
      |  FROM r GROUP BY cents),
      |gv AS (SELECT grp, cents, count(*) AS c FROM r GROUP BY 1, 2),
      |gr AS (
      |  SELECT grp, sum(CAST(c AS HUGEINT) * ar2) AS r2g, sum(c) AS ng
      |  FROM gv JOIN pv USING (cents) GROUP BY grp)""".stripMargin

  /** Cliff's δ ordinal effect size between BUILDING and MACHINERY order
    * totals: δ = P(X₀>X₁) − P(X₀<X₁), computed EXACTLY from midrank sums
    * via δ = 2U/(n₁n₂) − 1 (U the tie-adjusted Mann–Whitney count) — no
    * pair enumeration, one GlobalRank pass + value-keyed aggregates. The
    * magnitude label uses Romano's |δ| cutpoints (0.147/0.33/0.474)
    * decided by INTEGER cross-multiplication, so the label can never
    * disagree across engines on a boundary. Complements q_mannwhitney
    * (significance) with the effect-size readout reviewers actually ask
    * for. */
  val qCliffsDelta = Q(
    "q_cliffs_delta",
    s"""WITH x AS (
       |  $twoSegSql),
       |$midrankSumsSql,
       |m AS (
       |  SELECT
       |    max(CASE WHEN grp = 1 THEN r2g END) AS r2a,
       |    CAST(max(CASE WHEN grp = 1 THEN ng END) AS HUGEINT) AS n1,
       |    CAST(max(CASE WHEN grp = 0 THEN ng END) AS HUGEINT) AS n2
       |  FROM gr)
       |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |  CAST(r2a - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
       |  ROUND(CAST(r2a - n1 * (n1 + 1) AS DOUBLE)
       |    / CAST(n1 * n2 AS DOUBLE) - 1, 6) AS cliffs_delta,
       |  CASE
       |    WHEN abs(r2a - n1 * (n1 + 1) - n1 * n2) * 1000 < 147 * n1 * n2
       |      THEN 'negligible'
       |    WHEN abs(r2a - n1 * (n1 + 1) - n1 * n2) * 1000 < 330 * n1 * n2
       |      THEN 'small'
       |    WHEN abs(r2a - n1 * (n1 + 1) - n1 * n2) * 1000 < 474 * n1 * n2
       |      THEN 'medium'
       |    ELSE 'large' END AS magnitude
       |FROM m""".stripMargin) { (s, d) =>
    val (_, gr) = midrankSums(twoSeg(s, d, "BUILDING", "MACHINERY"))
    val m = gr.agg(
      max(when(col("grp") === 1, col("r2g"))).as("r2a"),
      max(when(col("grp") === 1, col("ng"))).cast(big38).as("n1"),
      max(when(col("grp") === 0, col("ng"))).cast(big38).as("n2"))
    val u2 = col("r2a") - col("n1") * (col("n1") + 1) // = 2·U₁, exact
    val devAbs = abs(u2 - col("n1") * col("n2")) * 1000 // |δ|·n₁n₂·1000
    val n12 = col("n1") * col("n2")
    m.select(col("n1").cast(LongType).as("n1"),
      col("n2").cast(LongType).as("n2"),
      u2.cast(LongType).as("u1_x2"),
      round(u2.cast(DoubleType) / n12.cast(DoubleType) - 1, 6)
        .as("cliffs_delta"),
      when(devAbs < lit(147) * n12, "negligible")
        .when(devAbs < lit(330) * n12, "small")
        .when(devAbs < lit(474) * n12, "medium")
        .otherwise("large").as("magnitude"))
  }

  /** Dunn's post-hoc test: which SEGMENT PAIRS differ, after
    * q_kruskal_wallis says "some do"? Pairwise mean-midrank z-scores on
    * the pooled ranking with the tie-corrected variance, flagged at the
    * Bonferroni-adjusted two-sided 5% level (10 pairs ⇒ |z| > 2.807034).
    * Rank sums stay exact integers (doubled midranks); each pair's z is
    * one final double expression on the 10-row pair panel; the flag is
    * computed from the ROUNDED z so both engines decide boundaries
    * identically. */
  val qDunnsTest = Q(
    "q_dunns_test",
    s"""WITH x AS (
      |  SELECT c_mktsegment AS grp,
      |    ${priceCentsSql("o_totalprice")}
      |      AS cents,
      |    o_orderkey
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |$midrankSumsSql,
      |tot AS (SELECT sum(ng) AS n FROM gr),
      |ties AS (
      |  SELECT sum(CAST(cv AS HUGEINT) * cv * cv - cv) AS tsum FROM pv),
      |z AS (
      |  SELECT a.grp AS seg_a, b.grp AS seg_b,
      |    ROUND((CAST(a.r2g AS DOUBLE) / (2 * CAST(a.ng AS DOUBLE))
      |        - CAST(b.r2g AS DOUBLE) / (2 * CAST(b.ng AS DOUBLE)))
      |      / sqrt((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 12
      |          - CAST(tsum AS DOUBLE) / (12 * (CAST(n AS DOUBLE) - 1)))
      |        * (1.0 / CAST(a.ng AS DOUBLE)
      |          + 1.0 / CAST(b.ng AS DOUBLE))), 6) AS z
      |  FROM gr a JOIN gr b ON a.grp < b.grp, tot, ties)
      |SELECT seg_a, seg_b, z,
      |  CASE WHEN abs(z) > 2.807034 THEN 1 ELSE 0 END AS sig_bonferroni
      |FROM z ORDER BY seg_a, seg_b""".stripMargin) { (s, d) =>
    val (pv, gr) = midrankSums(segCents(s, d))
    val tot = gr.agg(sum(col("ng")).as("n"))
    val ties = pv.agg(
      sum((col("cv").cast(big38) * col("cv") * col("cv") - col("cv"))
        .cast(big38)).as("tsum"))
    val a = gr.select(col("grp").as("seg_a"), col("r2g").as("r2ga"),
      col("ng").as("nga"))
    val b = gr.select(col("grp").as("seg_b"), col("r2g").as("r2gb"),
      col("ng").as("ngb"))
    val nD = col("n").cast(DoubleType)
    val z = round((col("r2ga").cast(DoubleType)
          / (lit(2) * col("nga").cast(DoubleType))
        - col("r2gb").cast(DoubleType)
          / (lit(2) * col("ngb").cast(DoubleType)))
      / sqrt((nD * (nD + 1) / 12
          - col("tsum").cast(DoubleType) / (lit(12) * (nD - 1)))
        * (lit(1.0) / col("nga").cast(DoubleType)
          + lit(1.0) / col("ngb").cast(DoubleType))), 6)
    a.join(broadcast(b), col("seg_a") < col("seg_b"))
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ties))
      .select(col("seg_a"), col("seg_b"), z.as("z"))
      .select(col("seg_a"), col("seg_b"), col("z"),
        when(abs(col("z")) > 2.807034, 1).otherwise(0)
          .as("sig_bonferroni"))
      .orderBy("seg_a", "seg_b")
  }

  /** Brunner–Munzel test (the rank-based two-sample test that, unlike
    * Mann–Whitney, stays valid under unequal variances/shapes):
    * BUILDING vs MACHINERY order totals. Placements (combined midrank −
    * within-group midrank) come from TWO GlobalRank passes — one pooled,
    * one composite-key (grp·10¹² + cents) with broadcast group offsets —
    * so both rank structures are exact doubled-midrank integers and the
    * placement sums Σd, Σd² per group are exact HUGEINT/DECIMAL(38)
    * aggregates. Reports the relative effect p̂ = P(X₀<X₁) + ½P(=), the
    * W statistic and its Welch-style df. */
  val qBrunnerMunzel = Q(
    "q_brunner_munzel",
    s"""WITH x AS (
       |  $twoSegSql),
       |r AS (
       |  SELECT grp, cents,
       |    row_number() OVER (ORDER BY cents, o_orderkey) AS grk,
       |    row_number() OVER (PARTITION BY grp
       |      ORDER BY cents, o_orderkey) AS rkw
       |  FROM x),
       |pv AS (
       |  SELECT cents, (2 * sum(grk)) // count(*) AS ar2
       |  FROM r GROUP BY cents),
       |wv AS (
       |  SELECT grp, cents, (2 * sum(rkw)) // count(*) AS aw2,
       |    count(*) AS c
       |  FROM r GROUP BY 1, 2),
       |gs AS (
       |  SELECT grp,
       |    sum(CAST(c AS HUGEINT) * ar2) AS r2g,
       |    sum(CAST(c AS HUGEINT) * (ar2 - aw2)) AS d2s,
       |    sum(CAST(c AS HUGEINT) * (ar2 - aw2) * (ar2 - aw2)) AS d2q,
       |    sum(c) AS ng
       |  FROM wv JOIN pv USING (cents) GROUP BY grp),
       |m AS (
       |  SELECT
       |    max(CASE WHEN grp = 0 THEN CAST(r2g AS DOUBLE) END) AS r2g1,
       |    max(CASE WHEN grp = 1 THEN CAST(r2g AS DOUBLE) END) AS r2g2,
       |    max(CASE WHEN grp = 0 THEN CAST(d2s AS DOUBLE) END) AS d2s1,
       |    max(CASE WHEN grp = 1 THEN CAST(d2s AS DOUBLE) END) AS d2s2,
       |    max(CASE WHEN grp = 0 THEN CAST(d2q AS DOUBLE) END) AS d2q1,
       |    max(CASE WHEN grp = 1 THEN CAST(d2q AS DOUBLE) END) AS d2q2,
       |    max(CASE WHEN grp = 0 THEN CAST(ng AS DOUBLE) END) AS n1,
       |    max(CASE WHEN grp = 1 THEN CAST(ng AS DOUBLE) END) AS n2
       |  FROM gs),
       |v AS (
       |  SELECT n1, n2, n1 + n2 AS n,
       |    r2g1 / (2 * n1) AS rb1, r2g2 / (2 * n2) AS rb2,
       |    (d2q1 / 4 - (d2s1 / 2) * (d2s1 / 2) / n1) / (n1 - 1) AS v1,
       |    (d2q2 / 4 - (d2s2 / 2) * (d2s2 / 2) / n2) / (n2 - 1) AS v2
       |  FROM m)
       |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |  ROUND((rb2 - (n2 + 1) / 2) / n1, 6) AS p_hat,
       |  ROUND(n1 * n2 * (rb2 - rb1) / (n * sqrt(n1 * v1 + n2 * v2)), 6)
       |    AS w,
       |  ROUND((n1 * v1 + n2 * v2) * (n1 * v1 + n2 * v2)
       |    / ((n1 * v1) * (n1 * v1) / (n1 - 1)
       |      + (n2 * v2) * (n2 * v2) / (n2 - 1)), 6) AS df
       |FROM v""".stripMargin) { (s, d) =>
    val x = twoSeg(s, d, "BUILDING", "MACHINERY")
      .withColumn("skey",
        col("grp").cast(LongType) * lit(1000000000000L) + col("cents"))
    val (pooled, _) = graft.plans.GlobalRank.withGlobalRowNumber(
      x, "grk", 32, col("cents"), col("o_orderkey"))
    val (comp, _) = graft.plans.GlobalRank.withGlobalRowNumber(
      x, "gk", 32, col("skey"), col("o_orderkey"))
    // group-local rank = composite global rank − group offset (the
    // q_trimmed_mean idiom: a 2-row broadcast, never a 2-partition window)
    val offs = comp.groupBy(col("grp").as("ogrp"))
      .agg(min(col("gk")).as("off"))
    val within = comp.join(broadcast(offs), col("grp") === col("ogrp"))
      .select(col("grp"), col("cents"), col("o_orderkey"),
        (col("gk") - col("off") + 1).as("rkw"))
    val pv = pooledMidranks(pooled).drop("cv")
    val wv = within.groupBy("grp", "cents")
      .agg(sum(col("rkw")).as("srw"), count(lit(1)).as("c"))
      .select(col("grp"), col("cents"),
        expr("(2 * srw) DIV c").as("aw2"), col("c"))
    val d2 = col("ar2") - col("aw2")
    val gs = wv.join(pv, "cents").groupBy("grp")
      .agg(sum((col("c").cast(big38) * col("ar2")).cast(big38)).as("r2g"),
        sum((col("c").cast(big38) * d2).cast(big38)).as("d2s"),
        sum((col("c").cast(big38) * d2 * d2).cast(big38)).as("d2q"),
        sum(col("c")).as("ng"))
    def pick(g: Int, c: String) =
      max(when(col("grp") === g, col(c))).cast(DoubleType)
    val m = gs.agg(
      pick(0, "r2g").as("r2g1"), pick(1, "r2g").as("r2g2"),
      pick(0, "d2s").as("d2s1"), pick(1, "d2s").as("d2s2"),
      pick(0, "d2q").as("d2q1"), pick(1, "d2q").as("d2q2"),
      pick(0, "ng").as("n1"), pick(1, "ng").as("n2"))
    val v = m.select(col("n1"), col("n2"),
      (col("n1") + col("n2")).as("n"),
      (col("r2g1") / (lit(2) * col("n1"))).as("rb1"),
      (col("r2g2") / (lit(2) * col("n2"))).as("rb2"),
      ((col("d2q1") / 4 - (col("d2s1") / 2) * (col("d2s1") / 2)
        / col("n1")) / (col("n1") - 1)).as("v1"),
      ((col("d2q2") / 4 - (col("d2s2") / 2) * (col("d2s2") / 2)
        / col("n2")) / (col("n2") - 1)).as("v2"))
    val nv = col("n1") * col("v1") + col("n2") * col("v2")
    v.select(col("n1").cast(LongType).as("n1"),
      col("n2").cast(LongType).as("n2"),
      round((col("rb2") - (col("n2") + 1) / 2) / col("n1"), 6).as("p_hat"),
      round(col("n1") * col("n2") * (col("rb2") - col("rb1"))
        / (col("n") * sqrt(nv)), 6).as("w"),
      round(nv * nv
        / ((col("n1") * col("v1")) * (col("n1") * col("v1"))
            / (col("n1") - 1)
          + (col("n2") * col("v2")) * (col("n2") * col("v2"))
            / (col("n2") - 1)), 6).as("df"))
  }

  /** Page's L trend test for an ORDERED alternative: do yearly order
    * totals trend monotonically, judged across nation blocks? Each
    * complete block (nation with all 7 order years) ranks its years by
    * the exact integer micro-average cents (sum·10⁶ DIV count — no
    * double compare in a rank), L = Σ blocks Σ years j·rank_j, and the
    * normal approximation z = (L − bk(k+1)²/4)/√(bk²(k+1)²(k−1)/144).
    * The window is per-nation over a ≤7-row year panel — partitioned,
    * domain-bounded. */
  val qPageTrend = Q(
    "q_page_trend",
    """WITH cell AS (
      |  SELECT n_name,
      |    CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
      |    (sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |      * 1000000) // count(*) AS av6
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |full_blocks AS (
      |  SELECT n_name FROM cell GROUP BY 1 HAVING count(*) = 7),
      |rk AS (
      |  SELECT cell.n_name, yr,
      |    row_number() OVER (PARTITION BY cell.n_name
      |      ORDER BY av6, yr) AS rnk
      |  FROM cell JOIN full_blocks USING (n_name)),
      |l AS (
      |  SELECT count(*) // 7 AS b,
      |    sum((yr - 1991) * CAST(rnk AS HUGEINT)) AS lstat
      |  FROM rk)
      |SELECT CAST(b AS BIGINT) AS n_blocks, 7 AS k,
      |  CAST(lstat AS BIGINT) AS l,
      |  ROUND((CAST(lstat AS DOUBLE) - CAST(b AS DOUBLE) * 7 * 64 / 4)
      |    / sqrt(CAST(b AS DOUBLE) * 49 * 64 * 6 / 144), 6) AS z
      |FROM l""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val cell = t(s, d, "orders")
      .select("o_custkey", "o_orderdate", "o_totalprice")
      .join(broadcast(t(s, d, "customer")
          .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")
          .select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"),
        year(col("o_orderdate").cast(DateType)).cast(LongType).as("yr"))
      .agg(expr(
        "(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100" +
          " AS DECIMAL(38,0))) * 1000000) DIV count(*)").as("av6"))
    val fullBlocks = cell.groupBy("n_name").agg(count(lit(1)).as("ny"))
      .filter(col("ny") === 7).select("n_name")
    val w = Window.partitionBy("n_name").orderBy("av6", "yr")
    val rk = cell.join(broadcast(fullBlocks), "n_name")
      .withColumn("rnk", row_number().over(w))
    val l = rk.agg((count(lit(1)) / 7).cast(big38).as("b"),
      sum((col("yr") - 1991) * col("rnk").cast(big38)).as("lstat"))
    l.select(col("b").cast(LongType).as("n_blocks"),
      lit(7).as("k"), col("lstat").cast(LongType).as("l"),
      round((col("lstat").cast(DoubleType)
          - col("b").cast(DoubleType) * 7 * 64 / 4)
        / sqrt(col("b").cast(DoubleType) * 49 * 64 * 6 / 144), 6).as("z"))
  }

  /** Anderson–Darling uniformity test on the engine's OWN train/test
    * hash splitter (the md5-prefix value behind q_sample_hash /
    * q_split_train_test): if the splitter is biased, every downstream
    * split inherits it — this is the audit that certifies it. u_i =
    * (h mod 10⁹ + 1)/(10⁹+1) ranked by one GlobalRank pass; each row's
    * tail-weighted log term is ·10⁶-quantized so the data-sized sum is
    * exact; A² = −n − S/(n·10⁶) with the fully-specified-distribution
    * 5% critical value 2.492 decided on the ROUNDED statistic. */
  val qAndersonDarling = Q(
    "q_anderson_darling",
    """WITH u AS (
      |  SELECT doc_id,
      |    (CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
      |      % 1000000000) + 1 AS u9
      |  FROM documents),
      |n AS (SELECT count(*) AS n FROM u),
      |r AS (
      |  SELECT u9, row_number() OVER (ORDER BY u9, doc_id) AS i
      |  FROM u),
      |q AS (
      |  SELECT CAST(round(
      |    ((2 * i - 1) * ln(CAST(u9 AS DOUBLE) / 1000000001)
      |      + (2 * (n - i) + 1) * ln(1 - CAST(u9 AS DOUBLE) / 1000000001))
      |    * 1000000) AS HUGEINT) AS t6
      |  FROM r, n),
      |a AS (SELECT sum(t6) AS s6 FROM q)
      |SELECT CAST(n AS BIGINT) AS n,
      |  ROUND(-CAST(n AS DOUBLE)
      |    - CAST(s6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000), 6) AS a2,
      |  CASE WHEN ROUND(-CAST(n AS DOUBLE)
      |    - CAST(s6 AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000), 6) > 2.492
      |    THEN 1 ELSE 0 END AS reject_5pct
      |FROM a, n""".stripMargin) { (s, d) =>
    val u = t(s, d, "documents").select(col("doc_id"),
      (graft.llm.TextOps.hash60(col("text")) % 1000000000L + 1).as("u9"))
    val (ranked, n) = graft.plans.GlobalRank.withGlobalRowNumber(
      u, "i", 32, col("u9"), col("doc_id"))
    val uD = col("u9").cast(DoubleType) / 1000000001L
    val t6 = round(((lit(2) * col("i") - 1) * log(uD)
      + (lit(2) * (lit(n) - col("i")) + 1) * log(lit(1) - uD))
      * 1000000).cast(big38)
    val a = ranked.select(t6.as("t6")).agg(sum(col("t6")).as("s6"))
    val a2 = round(lit(-1.0) * n
      - col("s6").cast(DoubleType) / (lit(n.toDouble) * 1000000), 6)
    a.select(lit(n).as("n"), a2.as("a2"),
      when(a2 > 2.492, 1).otherwise(0).as("reject_5pct"))
  }

  /** Jonckheere–Terpstra test for an ORDERED alternative across the 5
    * market segments (alphabetical order as the hypothesized direction —
    * the harness shape; a real deployment orders groups by dose/tier):
    * JT = Σ_{i<j} U_ij counted EXACTLY from per-value group histograms
    * and their global running sums (`GlobalRank.withGlobalRunningSums` —
    * one pass, five cumulative counts, never an unpartitioned data-sized
    * window). Ties contribute ½ (doubled arithmetic keeps integers);
    * the z uses the standard no-tie null moments (documented — the tie
    * correction is negligible at continuous-price tie rates). */
  val qJonckheere = Q(
    "q_jonckheere",
    s"""WITH x AS (
      |  SELECT c_mktsegment AS grp,
      |    ${priceCentsSql("o_totalprice")}
      |      AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |gv AS (
      |  SELECT cents,
      |    sum(CASE WHEN grp = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS c1,
      |    sum(CASE WHEN grp = 'BUILDING' THEN 1 ELSE 0 END) AS c2,
      |    sum(CASE WHEN grp = 'FURNITURE' THEN 1 ELSE 0 END) AS c3,
      |    sum(CASE WHEN grp = 'HOUSEHOLD' THEN 1 ELSE 0 END) AS c4,
      |    sum(CASE WHEN grp = 'MACHINERY' THEN 1 ELSE 0 END) AS c5
      |  FROM x GROUP BY cents),
      |cum AS (
      |  SELECT c1, c2, c3, c4, c5,
      |    sum(c1) OVER w AS m1, sum(c2) OVER w AS m2,
      |    sum(c3) OVER w AS m3, sum(c4) OVER w AS m4
      |  FROM gv WINDOW w AS (ORDER BY cents)),
      |jt AS (
      |  SELECT
      |    sum(CAST(c2 AS HUGEINT) * (2 * (m1 - c1) + c1)
      |      + CAST(c3 AS HUGEINT) * (2 * (m1 - c1) + c1
      |        + 2 * (m2 - c2) + c2)
      |      + CAST(c4 AS HUGEINT) * (2 * (m1 - c1) + c1
      |        + 2 * (m2 - c2) + c2 + 2 * (m3 - c3) + c3)
      |      + CAST(c5 AS HUGEINT) * (2 * (m1 - c1) + c1
      |        + 2 * (m2 - c2) + c2 + 2 * (m3 - c3) + c3
      |        + 2 * (m4 - c4) + c4)) AS jt2
      |  FROM cum),
      |ns AS (
      |  SELECT CAST(sum(c1) AS HUGEINT) AS n1,
      |    CAST(sum(c2) AS HUGEINT) AS n2, CAST(sum(c3) AS HUGEINT) AS n3,
      |    CAST(sum(c4) AS HUGEINT) AS n4, CAST(sum(c5) AS HUGEINT) AS n5
      |  FROM gv),
      |t AS (
      |  SELECT jt2, n1 + n2 + n3 + n4 + n5 AS n,
      |    n1 * n1 + n2 * n2 + n3 * n3 + n4 * n4 + n5 * n5 AS sq,
      |    n1 * n1 * (2 * n1 + 3) + n2 * n2 * (2 * n2 + 3)
      |      + n3 * n3 * (2 * n3 + 3) + n4 * n4 * (2 * n4 + 3)
      |      + n5 * n5 * (2 * n5 + 3) AS sq3
      |  FROM jt, ns)
      |SELECT CAST(jt2 AS BIGINT) AS jt_x2, CAST(n AS BIGINT) AS n,
      |  ROUND((CAST(jt2 AS DOUBLE) / 2
      |      - (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |        - CAST(sq AS DOUBLE)) / 4)
      |    / sqrt((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
      |        * (2 * CAST(n AS DOUBLE) + 3) - CAST(sq3 AS DOUBLE)) / 72),
      |    6) AS z
      |FROM t""".stripMargin) { (s, d) =>
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
      "MACHINERY")
    val x = t(s, d, "orders").select("o_custkey", "o_totalprice")
      .join(broadcast(t(s, d, "customer")
          .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("grp"),
        priceCents(col("o_totalprice")).as("cents"))
    val gv = x.groupBy("cents").agg(
      segs.zipWithIndex.map { case (g, i) =>
        sum(when(col("grp") === g, 1L).otherwise(0L)).as(s"c${i + 1}")
      }.head,
      segs.zipWithIndex.tail.map { case (g, i) =>
        sum(when(col("grp") === g, 1L).otherwise(0L)).as(s"c${i + 1}")
      }: _*)
    // m5 is unused by the pair terms (group 5 has no higher group) but
    // riding it along returns ALL five grand totals from the one pass
    val (cum, totals) = graft.plans.GlobalRank.withGlobalRunningSums(
      gv, (1 to 5).map(i => (col(s"c$i"), s"m$i")), 32, col("cents"))
    // per-value exclusive "strictly below" count for group i: mᵢ − cᵢ;
    // doubled-U row term: Σ_{i<j} cⱼ·(2·(mᵢ−cᵢ) + cᵢ)
    def below(i: Int) = lit(2) * (col(s"m$i") - col(s"c$i")) + col(s"c$i")
    val rowTerm = (2 to 5).map { j =>
      col(s"c$j").cast(big38) * (1 until j).map(below).reduce(_ + _)
    }.reduce(_ + _)
    val jt = cum.agg(sum(rowTerm).as("jt2"))
    // exact-integer null moments, cast to double ONCE (matches the
    // oracle's HUGEINT-sum-then-CAST at any scale)
    val n = totals.sum.toDouble
    val sq = totals.map(t0 => BigInt(t0) * t0).sum.toDouble
    val sq3 = totals.map(t0 => BigInt(t0) * t0 * (2 * t0 + 3)).sum.toDouble
    jt.select(col("jt2").cast(LongType).as("jt_x2"),
      lit(totals.sum).as("n"),
      round((col("jt2").cast(DoubleType) / 2 - (lit(n) * n - sq) / 4)
        / sqrt((lit(n) * n * (2 * n + 3) - sq3) / 72), 6).as("z"))
  }

  val all: Seq[Q] = Seq(qCliffsDelta, qDunnsTest, qBrunnerMunzel,
    qPageTrend, qAndersonDarling, qJonckheere)
}
