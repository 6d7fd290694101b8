package graft.operators

import graft.Q
import graft.Dsl._
import graft.functions.VectorFunctions
import graft.llm.SimSearch
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Model-evaluation operators: the metrics a training pipeline computes
  * over scored datasets (AUC, decile lift, confusion matrices). The
  * fixture "model" is a deterministic score the oracle can reproduce —
  * order total as the score, urgent priority as the label — so every
  * metric is an exact-arithmetic property of the data, not of a trained
  * artifact (the trained-model variants live in the q_mf_* / q_metric_*
  * families). Determinism contract as everywhere: exact int/decimal
  * sums, GlobalRank total orders instead of unpartitioned windows,
  * doubles only in final expressions, round 6, total ORDER BY.
  */
object EvalQueries {

  /** score = order total in cents (exact), label = urgent priority. */
  private def scored(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select(
      col("o_orderkey"),
      priceCents(col("o_totalprice")).as("cents"),
      when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("label"))

  /** Per score decile, highest scores first (decile 1 = the top 10 %
    * by cents, ties by order key): (decile, n_rows, n_pos). The global
    * row number comes from GlobalRank, which also counts the table, so
    * no second fact aggregate runs. Oracle twin: [[topDecilesSql]]. */
  private def topDeciles(s: SparkSession, d: String): DataFrame = {
    val (ranked, nTotal) = graft.plans.GlobalRank.withGlobalRowNumber(
      scored(s, d).withColumn("negc", -col("cents")), "rn", 32,
      col("negc"), col("o_orderkey"))
    ranked
      .select(
        (expr(s"(rn - 1) * 10 DIV ${nTotal}L").cast(IntegerType) + 1)
          .as("decile"),
        col("label"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_rows"), sum(col("label")).as("n_pos"))
  }

  /** DuckDB twin of [[topDeciles]]: the x and d CTEs. */
  private val topDecilesSql =
    s"""x AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      |      AS label,
      |    row_number() OVER (ORDER BY
      |      -${priceCentsSql("o_totalprice")},
      |      o_orderkey) AS rn,
      |    count(*) OVER () AS n
      |  FROM orders),
      |d AS (
      |  SELECT CAST((rn - 1) * 10 // n AS INT) + 1 AS decile,
      |    count(*) AS n_rows, sum(label) AS n_pos
      |  FROM x GROUP BY 1)""".stripMargin

  /** Each order's predicted probability as an integer ppm of the largest
    * order total, and its probability decile (label, p_ppm, bin): exact
    * integer arithmetic, so binning and every sum over it are exact.
    * Oracle twin: [[ppmBinsSql]]. */
  private def ppmBins(s: SparkSession, d: String): DataFrame = {
    val x = scored(s, d)
    val mx = x.agg(max(col("cents")).as("maxc"))
    x.crossJoin(broadcast(mx))
      .select(col("label"),
        expr("cents * 1000000 DIV maxc").as("p_ppm"),
        least(expr("cents * 1000000 DIV maxc * 10 DIV 1000000"), lit(9L))
          .as("bin"))
  }

  /** DuckDB twin of [[ppmBins]]: the x, mx and p CTEs. */
  private val ppmBinsSql =
    s"""x AS (
      |  SELECT ${priceCentsSql("o_totalprice")}
      |      AS cents,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
      |  FROM orders),
      |mx AS (SELECT max(cents) AS maxc FROM x),
      |p AS (
      |  SELECT label, cents * 1000000 // maxc AS p_ppm,
      |    LEAST(cents * 1000000 // maxc * 10 // 1000000, 9) AS bin
      |  FROM x CROSS JOIN mx)""".stripMargin

  /** Exact rank-sum aggregates of a (label, rk) frame: n1 positives, n0
    * negatives and the positives' rank sum r1, as DECIMAL(38). */
  private def rankSums: Seq[Column] = {
    val big38 = DecimalType(38, 0)
    Seq(sum(col("label")).cast(big38).as("n1"),
      (count(lit(1)) - sum(col("label"))).cast(big38).as("n0"),
      sum(when(col("label") === 1, col("rk")).otherwise(0L).cast(big38))
        .as("r1"))
  }

  /** DuckDB twin of [[rankSums]], HUGEINT sums. */
  private val rankSumsSql =
    """CAST(sum(label) AS HUGEINT) AS n1,
      |    CAST(count(*) - sum(label) AS HUGEINT) AS n0,
      |    sum(CASE WHEN label = 1 THEN CAST(rk AS HUGEINT)
      |        ELSE CAST(0 AS HUGEINT) END) AS r1""".stripMargin

  /** AUC = (2·r1 − n1(n1+1)) / (2·n1·n0) over [[rankSums]], round 6. */
  private def auc: Column =
    round((lit(2) * col("r1") - col("n1") * (col("n1") + 1)).cast(DoubleType)
      / (lit(2) * col("n1") * col("n0")).cast(DoubleType), 6)

  /** DuckDB twin of [[auc]]. */
  private val aucSql =
    """ROUND(CAST(2 * r1 - n1 * (n1 + 1) AS DOUBLE)
      |    / CAST(2 * n1 * n0 AS DOUBLE), 6)""".stripMargin

  /** ROC AUC via the rank-sum (Mann–Whitney) identity: AUC =
    * (R₁ − n₁(n₁+1)/2) / (n₁n₀) where R₁ is the positive class's rank sum
    * under a TOTAL order (score, then key — the q_mannwhitney row-number
    * tie convention, documented rather than tie-averaged; money scores
    * make exact-cent ties rare). The ranking is GlobalRank (range-bucketed
    * two-pass — no unpartitioned window at 10¹⁰ rows); the rank sum is an
    * exact DECIMAL(38)/HUGEINT aggregate and the one division happens in
    * the final single-row select. */
  val qAuc = Q(
    "q_auc",
    s"""WITH x AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      |      AS label,
      |    row_number() OVER (ORDER BY
      |      ${priceCentsSql("o_totalprice")},
      |      o_orderkey) AS rk
      |  FROM orders),
      |m AS (
      |  SELECT $rankSumsSql
      |  FROM x)
      |SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
      |  $aucSql AS auc
      |FROM m""".stripMargin) { (s, d) =>
    val (ranked, _) = graft.plans.GlobalRank.withGlobalRowNumber(
      scored(s, d), "rk", 32, col("cents"), col("o_orderkey"))
    ranked.agg(rankSums.head, rankSums.tail: _*)
      .select(col("n1").cast(LongType).as("n_pos"),
        col("n0").cast(LongType).as("n_neg"), auc.as("auc"))
  }

  /** Decile lift table: rank by score DESC (GlobalRank on the negated
    * score), deciles by exact integer division of the global row number,
    * per-decile response rate and CUMULATIVE lift over the 10-row
    * post-aggregation domain (the window never touches the fact table).
    * The campaign-targeting / ranking-quality readout. */
  val qLiftDeciles = Q(
    "q_lift_deciles",
    s"""WITH $topDecilesSql,
      |tot AS (SELECT sum(n_rows) AS n, sum(n_pos) AS pos FROM d),
      |c AS (
      |  SELECT decile, n_rows, n_pos,
      |    sum(n_rows) OVER (ORDER BY decile) AS cum_rows,
      |    sum(n_pos) OVER (ORDER BY decile) AS cum_pos
      |  FROM d)
      |SELECT decile, n_rows, CAST(n_pos AS BIGINT) AS n_pos,
      |  ROUND(CAST(n_pos AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS rate,
      |  ROUND(CAST(cum_pos AS DOUBLE) / CAST(cum_rows AS DOUBLE)
      |    / (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cum_lift
      |FROM c CROSS JOIN tot ORDER BY decile""".stripMargin) { (s, d) =>
    val dec = topDeciles(s, d)
    val tot = dec.agg(sum("n_rows").as("n"), sum("n_pos").as("pos"))
    // 10-row bounded domain: an unpartitioned window here is free
    val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    dec.withColumn("cum_rows", sum(col("n_rows")).over(w))
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n_rows"),
        col("n_pos").cast(LongType).as("n_pos"),
        round(col("n_pos").cast(DoubleType) / col("n_rows").cast(DoubleType), 6)
          .as("rate"),
        round(col("cum_pos").cast(DoubleType) / col("cum_rows").cast(DoubleType)
          / (col("pos").cast(DoubleType) / col("n").cast(DoubleType)), 6)
          .as("cum_lift"))
      .orderBy("decile")
  }

  /** Confusion matrices at a panel of fixed decision thresholds —
    * precision/recall/F1/accuracy per operating point. ONE fact scan: the
    * threshold panel is a 3-row broadcast crossed into the scan, so the
    * whole sweep is a single bounded-domain aggregate; every cell is an
    * exact count and the ratios are final-expression doubles (nullif
    * guards empty cells). */
  val qConfusionMatrix = Q(
    "q_confusion_matrix",
    s"""WITH th AS (SELECT unnest([10000000, 20000000, 30000000]) AS thr),
      |x AS (
      |  SELECT thr,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label,
      |    CASE WHEN ${priceCentsSql("o_totalprice")}
      |      >= thr THEN 1 ELSE 0 END AS pred
      |  FROM orders CROSS JOIN th),
      |m AS (
      |  SELECT thr,
      |    sum(pred * label) AS tp, sum(pred * (1 - label)) AS fp,
      |    sum((1 - pred) * label) AS fn,
      |    sum((1 - pred) * (1 - label)) AS tn
      |  FROM x GROUP BY thr)
      |SELECT CAST(thr AS BIGINT) AS thr,
      |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
      |  ROUND(CAST(tp AS DOUBLE) / nullif(tp + fp, 0), 6) AS precision,
      |  ROUND(CAST(tp AS DOUBLE) / nullif(tp + fn, 0), 6) AS recall,
      |  ROUND(CAST(2 * tp AS DOUBLE) / nullif(2 * tp + fp + fn, 0), 6) AS f1,
      |  ROUND(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy
      |FROM m ORDER BY thr""".stripMargin) { (s, d) =>
    import s.implicits._
    val th = Seq(10000000L, 20000000L, 30000000L).toDF("thr")
    val x = scored(s, d).crossJoin(broadcast(th))
      .select(col("thr"), col("label"),
        when(col("cents") >= col("thr"), 1).otherwise(0).as("pred"))
    val m = x.groupBy("thr").agg(
      sum(col("pred") * col("label")).as("tp"),
      sum(col("pred") * (lit(1) - col("label"))).as("fp"),
      sum((lit(1) - col("pred")) * col("label")).as("fn"),
      sum((lit(1) - col("pred")) * (lit(1) - col("label"))).as("tn"))
    def r(num: Column, den: Column, name: String): Column =
      round(num.cast(DoubleType) / den, 6).as(name)
    m.select(col("thr"),
      col("tp").cast(LongType).as("tp"), col("fp").cast(LongType).as("fp"),
      col("fn").cast(LongType).as("fn"), col("tn").cast(LongType).as("tn"),
      r(col("tp"), nullif(col("tp") + col("fp"), lit(0)), "precision"),
      r(col("tp"), nullif(col("tp") + col("fn"), lit(0)), "recall"),
      r(lit(2) * col("tp"),
        nullif(lit(2) * col("tp") + col("fp") + col("fn"), lit(0)), "f1"),
      r(col("tp") + col("tn"),
        (col("tp") + col("fp") + col("fn") + col("tn")).cast(DoubleType),
        "accuracy"))
      .orderBy("thr")
  }

  /** Calibration (reliability) table + Brier score per bin: predicted
    * probability = score scaled into [0,1] by the global max (exact
    * integer ppm arithmetic: p_ppm = cents·10⁶ DIV max_cents, so binning
    * and all sums are exact int/decimal — no double accumulates anywhere).
    * Per decile-of-predicted-probability: mean predicted vs empirical
    * positive rate (the reliability curve a scored pipeline publishes) and
    * the per-bin Brier term Σ(p−y)²/n from exact DECIMAL(38) squares.
    * ONE fact scan + a broadcast one-row max; the 10-row output domain is
    * post-aggregation. */
  val qCalibration = Q(
    "q_calibration",
    s"""WITH $ppmBinsSql,
      |b AS (
      |  SELECT bin, count(*) AS n, CAST(sum(label) AS BIGINT) AS n_pos,
      |    sum(CAST(p_ppm AS HUGEINT)) AS sum_ppm,
      |    sum(CAST(p_ppm - label * 1000000 AS HUGEINT)
      |      * CAST(p_ppm - label * 1000000 AS HUGEINT)) AS sumsq
      |  FROM p GROUP BY bin)
      |SELECT CAST(bin AS INT) AS bin, n, n_pos,
      |  ROUND(CAST(sum_ppm AS DOUBLE) / CAST(n AS DOUBLE) / 1000000, 6)
      |    AS mean_pred,
      |  ROUND(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS frac_pos,
      |  ROUND(CAST(sumsq AS DOUBLE) / CAST(n AS DOUBLE) / 1000000000000, 6)
      |    AS brier
      |FROM b ORDER BY bin""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val p = ppmBins(s, d)
    val dev = (col("p_ppm") - col("label") * 1000000L).cast(big38)
    p.groupBy("bin")
      .agg(count(lit(1)).as("n"),
        sum(col("label")).cast(LongType).as("n_pos"),
        sum(col("p_ppm").cast(big38)).as("sum_ppm"),
        sum(dev * dev).as("sumsq"))
      .select(col("bin").cast(IntegerType).as("bin"), col("n"), col("n_pos"),
        round(col("sum_ppm").cast(DoubleType) / col("n").cast(DoubleType)
          / 1000000L, 6).as("mean_pred"),
        round(col("n_pos").cast(DoubleType) / col("n").cast(DoubleType), 6)
          .as("frac_pos"),
        round(col("sumsq").cast(DoubleType) / col("n").cast(DoubleType)
          / 1000000000000L, 6).as("brier"))
      .orderBy("bin")
  }

  /** Mean reciprocal rank of label-relevance retrieval over the embedding
    * corpus: every 25th vector is a query; candidates are ranked by cosine
    * (µ-quantized to 4 dp BEFORE ranking, vec_id tie-break — the
    * q_hard_negatives cross-engine rank idiom); the first same-label hit's
    * rank gives rr = 1/rank. The mean is exact: 10⁹ DIV rank is integer,
    * so Σrr is reduction-order-independent and the single division
    * happens on the final row. The query panel is bounded (broadcast) and
    * candidate scoring is one scan of the corpus per panel — the eval
    * harness shape; production retrieval goes through the ANN family. */
  val qMrr = Q(
    "q_mrr",
    s"""WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |ranked AS (
      |  SELECT q.vec_id AS qid, q.label AS q_label, e.label,
      |    ${SimSearch.probeRankSql} AS rk
      |  FROM (SELECT * FROM e WHERE vec_id % 25 = 0) q
      |  JOIN e ON e.vec_id <> q.vec_id),
      |firsts AS (
      |  SELECT qid, min(rk) AS first_rank FROM ranked
      |  WHERE label = q_label GROUP BY qid)
      |SELECT count(*) AS n_queries,
      |  ROUND(CAST(sum(1000000000 // first_rank) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE) / 1000000000, 6) AS mrr,
      |  ROUND(CAST(sum(CASE WHEN first_rank <= 10 THEN 1 ELSE 0 END)
      |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS hit_at_10,
      |  ROUND(CAST(sum(first_rank) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
      |    AS mean_first_rank
      |FROM firsts""".stripMargin) { (s, d) =>
    val embs = t(s, d, "embeddings")
    val queries = SimSearch.probePanel(embs, col("vec_id") % 25 === 0)
    val scored = embs
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("q_label"), col("label"), col("vec_id"),
        VectorFunctions.cosine4(col("embedding"), col("q_e"))
          .as("score"))
    val firsts = scored
      .withColumn("rk", row_number().over(SimSearch.byScore).cast(LongType))
      .filter(col("label") === col("q_label"))
      .groupBy("qid").agg(min(col("rk")).as("first_rank"))
    firsts.agg(
      count(lit(1)).as("n_queries"),
      round(sum(expr("1000000000 DIV first_rank")).cast(DoubleType)
        / count(lit(1)).cast(DoubleType) / 1000000000L, 6).as("mrr"),
      round(sum(when(col("first_rank") <= 10, 1).otherwise(0))
        .cast(DoubleType) / count(lit(1)).cast(DoubleType), 6).as("hit_at_10"),
      round(sum(col("first_rank")).cast(DoubleType)
        / count(lit(1)).cast(DoubleType), 6).as("mean_first_rank"))
  }

  /** Inverse-propensity-score (IPS) off-policy estimate: what would the
    * UNIFORM policy's mean reward have been, estimated from logs produced
    * by the empirical (frequency-skewed) logging policy — the standard
    * counterfactual-eval primitive for recommender/ranking changes. The
    * logging propensity of an action is its empirical frequency c/n and
    * the target propensity 1/K, so each log row's importance weight is
    * the exact-integer ratio n/(K·c); the weighted-reward accumulation
    * quantizes each double term at 10⁻⁶ and sums HUGEINT (reduction-order
    * proof). One fact scan + a broadcast K-row action-frequency table. */
  val qIpsEstimate = Q(
    "q_ips_estimate",
    """WITH freq AS (
      |  SELECT event_type, count(*) AS c FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS k FROM freq),
      |w AS (
      |  SELECT e.value, f.c, t.n, t.k,
      |    CAST(ROUND(e.value * (CAST(t.n AS DOUBLE)
      |      / CAST(t.k * f.c AS DOUBLE)) * 1000000) AS HUGEINT) AS term6
      |  FROM events e
      |  JOIN freq f ON e.event_type = f.event_type
      |  CROSS JOIN tot t)
      |SELECT CAST(max(n) AS BIGINT) AS n, CAST(max(k) AS INT) AS k,
      |  ROUND(CAST(sum(term6) AS DOUBLE) / 1000000
      |    / CAST(max(n) AS DOUBLE), 6) AS ips_value
      |FROM w""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val events = t(s, d, "events")
    val freq = events.groupBy("event_type").agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum("c").cast(LongType).as("n"),
      count(lit(1)).as("k"))
    val term6 = round(col("value") * (col("n").cast(DoubleType)
      / (col("k") * col("c")).cast(DoubleType)) * 1000000L).cast(big38)
    events.join(broadcast(freq.withColumnRenamed("event_type", "ft")),
        col("event_type") === col("ft"))
      .crossJoin(broadcast(tot))
      .agg(max(col("n")).cast(LongType).as("n_out"),
        max(col("k")).cast(IntegerType).as("k_out"),
        sum(term6).as("s6"))
      .select(col("n_out").as("n"), col("k_out").as("k"),
        round(col("s6").cast(DoubleType) / 1000000L
          / col("n_out").cast(DoubleType), 6).as("ips_value"))
  }

  /** MAP, precision and recall at 10 of a ranked retrieval panel
    * `ranked` (qid, q_label, rk ≤ 10, is_rel, hits = relevant results up
    * to rk) against the per-label relevant counts `nl` (label, n_label):
    * per-query integer ·10⁹ terms, one final division per metric. R is
    * guarded to ≥ 1, so a singleton-label query scores an explicit 0. */
  private def mapAt10(ranked: DataFrame, nl: DataFrame): DataFrame =
    ranked
      .join(broadcast(nl.withColumnRenamed("label", "nl_label")),
        col("q_label") === col("nl_label"))
      .groupBy("qid")
      .agg(
        sum(when(col("is_rel") === 1,
          expr("(hits * 1000000000) DIV rk")).otherwise(0L)).as("ap9_num"),
        max(col("hits")).as("hits10"),
        least(greatest(max(col("n_label")) - 1, lit(1)), lit(10))
          .as("r10"))
      .agg(
        count(lit(1)).as("n_queries"),
        round(sum(expr("ap9_num DIV r10")).cast(DoubleType)
          / count(lit(1)) / 1000000000L, 6).as("map_at_10"),
        round(sum(col("hits10")).cast(DoubleType) / count(lit(1)) / 10, 6)
          .as("precision_at_10"),
        round(sum(expr("(hits10 * 1000000000) DIV r10")).cast(DoubleType)
          / count(lit(1)) / 1000000000L, 6).as("recall_at_10"))

  /** Mean average precision / precision / recall at k=10 over the same
    * label-relevance retrieval panel as q_mrr (every 25th vector queries
    * the corpus, same-label = relevant). AP@10 sums hits@i/i at each
    * relevant position, normalized by min(R,10) with R the query's
    * relevant-corpus size; every per-position term is the exact integer
    * (hits·10⁹) DIV i, and the per-query normalization is another integer
    * DIV, so the panel mean is a reduction-order-proof integer sum with
    * one final division. R is guarded to ≥ 1: a singleton-label probe
    * (no possible relevant neighbors) contributes an explicit 0 to
    * MAP/recall instead of a non-ANSI NULL that would silently vanish
    * from the sums while still counting in n_queries. The panel is
    * bounded (broadcast) and candidate scoring is ONE corpus scan —
    * same eval-harness shape as q_mrr. */
  val qMapAtK = Q(
    "q_map_at_k",
    s"""WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings),
      |nl AS (SELECT label, count(*) AS n_label FROM e GROUP BY label),
      |ranked AS (
      |  SELECT q.vec_id AS qid, q.label AS q_label,
      |    CASE WHEN e.label = q.label THEN 1 ELSE 0 END AS is_rel,
      |    ${SimSearch.probeRankSql} AS rk
      |  FROM (SELECT * FROM e WHERE vec_id % 25 = 0) q
      |  JOIN e ON e.vec_id <> q.vec_id),
      |top10 AS (
      |  SELECT qid, q_label, rk, is_rel,
      |    sum(is_rel) OVER (PARTITION BY qid ORDER BY rk) AS hits
      |  FROM ranked WHERE rk <= 10),
      |perq AS (
      |  SELECT t.qid,
      |    sum(CASE WHEN t.is_rel = 1
      |        THEN (t.hits * 1000000000) // t.rk ELSE 0 END) AS ap9_num,
      |    max(t.hits) AS hits10,
      |    LEAST(GREATEST(max(n.n_label) - 1, 1), 10) AS r10
      |  FROM top10 t JOIN nl n ON t.q_label = n.label
      |  GROUP BY t.qid)
      |SELECT count(*) AS n_queries,
      |  ROUND(CAST(sum(ap9_num // r10) AS DOUBLE) / count(*)
      |    / 1000000000, 6) AS map_at_10,
      |  ROUND(CAST(sum(hits10) AS DOUBLE) / count(*) / 10, 6)
      |    AS precision_at_10,
      |  ROUND(CAST(sum((hits10 * 1000000000) // r10) AS DOUBLE) / count(*)
      |    / 1000000000, 6) AS recall_at_10
      |FROM perq""".stripMargin) { (s, d) =>
    val embs = t(s, d, "embeddings")
    val nl = embs.groupBy("label").agg(count(lit(1)).as("n_label"))
    val queries = SimSearch.probePanel(embs, col("vec_id") % 25 === 0)
    val scored = embs
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("q_label"), col("vec_id"),
        when(col("label") === col("q_label"), 1).otherwise(0).as("is_rel"),
        VectorFunctions.cosine4(col("embedding"), col("q_e"))
          .as("score"))
    val cum = org.apache.spark.sql.expressions.Window.partitionBy("qid")
      .orderBy("rk")
    val top10 = scored
      .withColumn("rk", row_number().over(SimSearch.byScore).cast(LongType))
      .filter(col("rk") <= 10)
      .withColumn("hits", sum(col("is_rel")).over(cum))
    mapAt10(top10, nl)
  }

  /** MAP / precision / recall at k=10 over the SAME retrieval panel as
    * q_map_at_k, but with the candidate scan pruned through the shared
    * trained-IVF index (`warm:ann_indexes` — identical build params to
    * q_sim_trained_ivf): each panel query scores only nProbe of the
    * index's lists instead of the full corpus, which is what turns the
    * panel × corpus evaluation cross (42× at the sf0.1→sf1 decade) into
    * a fixed-fraction scan. The small probe panel broadcasts; the
    * corpus side never shuffles; per-query top-10 comes out of the
    * blocked-GEMM per-list scoring with its bounded insertion top-k
    * merge on the list-id cogroup ([[graft.llm.SimSearch
    * .cosineGemmTopKAll]]). The metric denominators (per-label
    * relevant counts) stay EXACT over the full corpus, so the readout is
    * "ANN retrieval quality measured against the true relevance sets" —
    * the honest eval — and its delta vs the exhaustive q_map_at_k is
    * pinned in PipelineSpec. Seeded-Lloyd index → rows-only. */
  val qMapAtKAnn = Q.noOracle("q_map_at_k_ann") { (s, d) =>
    val embs = t(s, d, "embeddings")
    // List count scales with the corpus (~250 vectors/list, min 8,
    // gemm build) so the probed fraction SHRINKS as data grows —
    // candidates per query stay O(nProbe × 250) and the panel×corpus
    // cross never returns (fixed nLists measured 12.3× at the
    // sf0.1→sf1 decade; the literal-centroid row form then measured
    // 203 s at sf10 — 512 inlined 64-dim centroids leave codegen and
    // the crossJoin build materializes corpus × nLists rows — so both
    // halves run the gemm path). At the driver's oracle/bench scales
    // (≤2k vectors) this is the nLists = 8 gemm index
    // `warm:ann_indexes` builds, so the memo is shared.
    val nLists = math.max(8, math.min(4096,
      math.round(graft.Tables.countCached(s, d, "embeddings") / 250.0)
        .toInt))
    val index = SimSearch.ivfIndexGemmCached(embs, d, nLists,
      lloydIters = 2)
    val probes = embs.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_e"))
    val top10 = SimSearch.cosineGemmTopKAll(index, probes,
      k = 10, nProbe = 3)
    // relevance/label joins run on the |panel|×10 survivor rows
    val labels = embs.select(col("vec_id"), col("label"))
    val nl = embs.groupBy("label").agg(count(lit(1)).as("n_label"))
    val cum = Window.partitionBy("qid").orderBy("rk")
    val ranked = top10
      .join(labels.withColumnRenamed("vec_id", "probe_id")
        .withColumnRenamed("label", "q_label"), "probe_id")
      .join(labels, "vec_id")
      .select(col("probe_id").as("qid"), col("q_label"),
        col("rk").cast(LongType).as("rk"),
        when(col("label") === col("q_label"), 1).otherwise(0).as("is_rel"))
      .withColumn("hits", sum(col("is_rel")).over(cum))
    mapAt10(ranked, nl)
  }

  /** Feature screening: point-biserial correlation of each candidate
    * numeric feature (order value, line count, total quantity) with the
    * urgent-priority label — the one-pass filter ranking features before
    * any model sees them. Each feature's Σx/Σx²/Σxy are exact integers
    * (cents / counts; Σxy = Σx over positives since y∈{0,1}), stacked via
    * UNION so one aggregation computes all features; r is one
    * fixed-op-order double expression per feature. */
  val qFeatureCorrTarget = Q(
    "q_feature_corr_target",
    s"""WITH b AS (
      |  SELECT l_orderkey, count(*) AS n_lines,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT)
      |      AS qty_c
      |  FROM lineitem GROUP BY 1),
      |o AS (
      |  SELECT o_orderkey,
      |    ${priceCentsSql("o_totalprice")}
      |      AS cents,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y,
      |    b.n_lines, b.qty_c
      |  FROM orders JOIN b ON o_orderkey = b.l_orderkey),
      |f AS (
      |  SELECT 'price_cents' AS feature, cents AS x, y FROM o
      |  UNION ALL SELECT 'n_lines', n_lines, y FROM o
      |  UNION ALL SELECT 'qty_cents', qty_c, y FROM o),
      |m AS (
      |  SELECT feature, count(*) AS n,
      |    CAST(sum(x) AS HUGEINT) AS sx,
      |    sum(CAST(x AS HUGEINT) * CAST(x AS HUGEINT)) AS sxx,
      |    CAST(sum(y) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN y = 1 THEN x ELSE 0 END) AS HUGEINT) AS sxy
      |  FROM f GROUP BY feature)
      |SELECT feature, n, n1 AS n_pos,
      |  ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * n1)
      |    / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * n1 - CAST(n1 AS DOUBLE) * n1)), 6)
      |    AS r_pb
      |FROM m ORDER BY feature""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val b = t(s, d, "lineitem").groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        sum(dec2(col("l_quantity")) * 100).cast(LongType).as("qty_c"))
    val o = t(s, d, "orders")
      .join(b, col("o_orderkey") === col("l_orderkey"))
      .select(
        priceCents(col("o_totalprice")).as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("y"),
        col("n_lines"), col("qty_c"))
    val f = o.select(lit("price_cents").as("feature"),
        col("cents").as("x"), col("y"))
      .unionByName(o.select(lit("n_lines").as("feature"),
        col("n_lines").as("x"), col("y")))
      .unionByName(o.select(lit("qty_cents").as("feature"),
        col("qty_c").as("x"), col("y")))
    val m = f.groupBy("feature").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(big38)).as("sx"),
      sum(col("x").cast(big38) * col("x").cast(big38)).as("sxx"),
      sum(col("y")).cast(LongType).as("n1"),
      sum(when(col("y") === 1, col("x")).otherwise(0L).cast(big38))
        .as("sxy"))
    m.select(col("feature"), col("n"), col("n1").as("n_pos"),
      round((col("n").cast(DoubleType) * col("sxy").cast(DoubleType)
        - col("sx").cast(DoubleType) * col("n1"))
        / sqrt((col("n").cast(DoubleType) * col("sxx").cast(DoubleType)
          - col("sx").cast(DoubleType) * col("sx").cast(DoubleType))
          * (col("n").cast(DoubleType) * col("n1")
            - col("n1").cast(DoubleType) * col("n1"))), 6).as("r_pb"))
      .orderBy("feature")
  }

  /** Isotonic (PAV) calibration of the urgent-rate curve over score
    * deciles, via the minimax CLOSED FORM fit_d = max_{j≤d} min_{k≥d}
    * mean(y[j..k]) — no sequential pooling loop, just joins over the
    * bounded 10-decile grid (121 ranges), so both engines compute the
    * identical fit from identical integers: range means are exact
    * (Σpos·10⁹) DIV Σcnt off prefix sums, and the min/max lattice is
    * integer-only. Deciles come from GlobalRank (no data-sized window);
    * the result is the monotone calibration map q_calibration's raw
    * reliability bins feed into. */
  val qIsotonic = Q(
    "q_isotonic",
    s"""WITH x AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      |      AS label,
      |    row_number() OVER (ORDER BY
      |      ${priceCentsSql("o_totalprice")},
      |      o_orderkey) AS rn,
      |    count(*) OVER () AS n
      |  FROM orders),
      |d AS (
      |  SELECT CAST((rn - 1) * 10 // n AS INT) + 1 AS decile,
      |    count(*) AS cnt, sum(label) AS pos
      |  FROM x GROUP BY 1),
      |p AS (
      |  SELECT decile AS dd,
      |    sum(cnt) OVER (ORDER BY decile) AS c,
      |    sum(pos) OVER (ORDER BY decile) AS s
      |  FROM d),
      |p0 AS (SELECT 0 AS dd, 0 AS c, 0 AS s UNION ALL SELECT * FROM p),
      |ranges AS (
      |  SELECT a.dd AS jm1, b.dd AS k,
      |    ((b.s - a.s) * 1000000000) // (b.c - a.c) AS mean9
      |  FROM p0 a JOIN p0 b ON a.dd < b.dd),
      |ds AS (SELECT d AS dd FROM generate_series(1, 10) t(d)),
      |innr AS (
      |  SELECT ds.dd, r.jm1, min(r.mean9) AS mn
      |  FROM ds JOIN ranges r ON r.jm1 <= ds.dd - 1 AND r.k >= ds.dd
      |  GROUP BY 1, 2),
      |fit AS (SELECT dd, max(mn) AS fit9 FROM innr GROUP BY 1)
      |SELECT d.decile, CAST(cnt AS BIGINT) AS n_rows,
      |  CAST(pos AS BIGINT) AS n_pos,
      |  ROUND(CAST(pos AS DOUBLE) / cnt, 6) AS raw_rate,
      |  ROUND(CAST(fit9 AS DOUBLE) / 1000000000, 6) AS iso_rate
      |FROM d JOIN fit ON d.decile = fit.dd
      |ORDER BY decile""".stripMargin) { (s, d) =>
    val (ranked, nTotal) = graft.plans.GlobalRank.withGlobalRowNumber(
      scored(s, d), "rn", 32, col("cents"), col("o_orderkey"))
    val dec = ranked
      .select(
        (expr(s"(rn - 1) * 10 DIV ${nTotal}L").cast(IntegerType) + 1)
          .as("decile"),
        col("label"))
      .groupBy("decile")
      .agg(count(lit(1)).as("cnt"), sum(col("label")).as("pos"))
    // everything below runs on the bounded 10-row decile table
    val wCum = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val p = dec
      .withColumn("c", sum(col("cnt")).over(wCum))
      .withColumn("s", sum(col("pos")).over(wCum))
      .select(col("decile").cast(LongType).as("dd"),
        col("c").cast(LongType), col("s").cast(LongType))
    val spark = s
    import spark.implicits._
    val p0 = Seq((0L, 0L, 0L)).toDF("dd", "c", "s").unionByName(p)
    // both theta-join sides are ≤11-row decile panels BY CONSTRUCTION —
    // broadcast explicitly so growing size ESTIMATES can never demote the
    // non-equi join to a CartesianProduct (it did at sf0.1 unhinted)
    val ranges = p0.as("a")
      .join(broadcast(p0.as("b")), col("a.dd") < col("b.dd"))
      .select(col("a.dd").as("jm1"), col("b.dd").as("k"),
        expr("((b.s - a.s) * 1000000000) DIV (b.c - a.c)").as("mean9"))
    val ds = s.range(1, 11).select(col("id").as("dd"))
    val innr = ds.join(broadcast(ranges),
        col("jm1") <= col("dd") - 1 && col("k") >= col("dd"))
      .groupBy("dd", "jm1").agg(min(col("mean9")).as("mn"))
    val fit = innr.groupBy("dd").agg(max(col("mn")).as("fit9"))
    dec.join(broadcast(fit), col("decile") === col("dd"))
      .select(col("decile"), col("cnt").cast(LongType).as("n_rows"),
        col("pos").cast(LongType).as("n_pos"),
        round(col("pos").cast(DoubleType) / col("cnt"), 6).as("raw_rate"),
        round(col("fit9").cast(DoubleType) / 1000000000L, 6)
          .as("iso_rate"))
      .orderBy("decile")
  }

  /** Grouped AUC (the production "GAUC" ranking metric): the q_auc
    * rank-sum identity evaluated per market segment, because a model
    * can rank well globally while ranking WITHIN every segment at
    * chance. Per-group ranks come from ONE GlobalRank pass on the
    * (segment-char, cents, key) composite plus broadcast group offsets
    * (the q_trimmed_mean idiom — no segment-partitioned data-sized
    * window); rank sums are exact DECIMAL(38)/HUGEINT; each group's
    * AUC is one final double division on the bounded 5-row table. */
  val qAucByGroup = Q(
    "q_auc_by_group",
    s"""WITH x AS (
      |  SELECT c_mktsegment AS seg,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      |      AS label,
      |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY
      |      ${priceCentsSql("o_totalprice")},
      |      o_orderkey) AS rk
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |m AS (
      |  SELECT seg, $rankSumsSql
      |  FROM x GROUP BY seg)
      |SELECT seg, CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
      |  $aucSql AS auc
      |FROM m ORDER BY seg""".stripMargin) { (s, d) =>
    // scored() carries no custkey, so rebuild with the segment join inline
    val base = t(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"),
        priceCents(col("o_totalprice")).as("cents"),
        when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)
          .as("label"))
      .join(broadcast(t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .withColumn("skey",
        ascii(substring(col("seg"), 1, 1)).cast(LongType)
          * lit(10000000000000L) + col("cents"))
    val (ranked, _) = graft.plans.GlobalRank.withGlobalRowNumber(
      base, "grk", 32, col("skey"), col("o_orderkey"))
    val offs = ranked.groupBy("seg").agg(min(col("grk")).as("off"))
    val m = ranked.join(broadcast(offs), "seg")
      .select(col("seg"), col("label"),
        (col("grk") - col("off") + 1).as("rk"))
      .groupBy("seg")
      .agg(rankSums.head, rankSums.tail: _*)
    m.select(col("seg"), col("n1").cast(LongType).as("n_pos"),
        col("n0").cast(LongType).as("n_neg"), auc.as("auc"))
      .orderBy("seg")
  }

  /** Precision / recall / F1 at the 10 score-decile operating points
    * (classify-positive = score in the top d deciles): the
    * threshold-sweep table behind every "where do we set the cutoff"
    * decision, one row per candidate cutoff. Deciles come from the same
    * GlobalRank pass as q_lift_deciles; cumulative TP/row counts are
    * exact integers accumulated over the 10-row post-agg panel; P/R/F1
    * are one double expression per output row (F1 = 2TP/(rows+P) —
    * algebraically 2PR/(P+R), but in the integer-sum form). */
  val qPrCurve = Q(
    "q_pr_curve",
    s"""WITH $topDecilesSql,
      |tot AS (SELECT sum(n_pos) AS pos FROM d),
      |c AS (
      |  SELECT decile, n_rows,
      |    sum(n_rows) OVER (ORDER BY decile) AS cum_rows,
      |    sum(n_pos) OVER (ORDER BY decile) AS tp
      |  FROM d)
      |SELECT decile, CAST(cum_rows AS BIGINT) AS n_flagged,
      |  CAST(tp AS BIGINT) AS tp,
      |  ROUND(CAST(tp AS DOUBLE) / CAST(cum_rows AS DOUBLE), 6)
      |    AS precision,
      |  ROUND(CAST(tp AS DOUBLE) / CAST(pos AS DOUBLE), 6) AS recall,
      |  ROUND(2 * CAST(tp AS DOUBLE) / CAST(cum_rows + pos AS DOUBLE), 6)
      |    AS f1
      |FROM c CROSS JOIN tot ORDER BY decile""".stripMargin) { (s, d) =>
    val dec = topDeciles(s, d)
    val tot = dec.agg(sum("n_pos").as("pos"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("decile")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    dec.withColumn("cum_rows", sum(col("n_rows")).over(w))
      .withColumn("tp", sum(col("n_pos")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("cum_rows").cast(LongType).as("n_flagged"),
        col("tp").cast(LongType).as("tp"),
        round(col("tp").cast(DoubleType) / col("cum_rows").cast(DoubleType),
          6).as("precision"),
        round(col("tp").cast(DoubleType) / col("pos").cast(DoubleType), 6)
          .as("recall"),
        round(lit(2) * col("tp").cast(DoubleType)
          / (col("cum_rows") + col("pos")).cast(DoubleType), 6).as("f1"))
      .orderBy("decile")
  }

  /** Kolmogorov–Smirnov model-separation statistic: the max gap between
    * the positive and negative score CDFs, plus the score threshold that
    * attains it — the credit-scoring cousin of q_auc (q_ks_test answers
    * the same question for two event populations; this one reads a
    * score/label panel and returns an operating point). Both cumulative
    * counts ride ONE GlobalRank multi-running-sum pass; the gap numerator
    * &#124;cp·n0 − cn·n1&#124; is exact DECIMAL(38) per row; the argmax is a
    * TakeOrdered under a total (gap DESC, cents, key) order. */
  val qKsModel = Q(
    "q_ks_model",
    s"""WITH x AS (
      |  SELECT o_orderkey,
      |    ${priceCentsSql("o_totalprice")}
      |      AS cents,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS label
      |  FROM orders),
      |tot AS (
      |  SELECT CAST(sum(label) AS HUGEINT) AS n1,
      |    CAST(count(*) - sum(label) AS HUGEINT) AS n0
      |  FROM x),
      |c AS (
      |  SELECT cents, o_orderkey, label,
      |    sum(label) OVER w AS cp,
      |    sum(1 - label) OVER w AS cn
      |  FROM x WINDOW w AS (ORDER BY cents, o_orderkey)),
      |g AS (
      |  SELECT cents,
      |    abs(CAST(cp AS HUGEINT) * (SELECT n0 FROM tot)
      |      - CAST(cn AS HUGEINT) * (SELECT n1 FROM tot)) AS gap,
      |    o_orderkey
      |  FROM c)
      |SELECT CAST((SELECT n1 FROM tot) AS BIGINT) AS n_pos,
      |  CAST((SELECT n0 FROM tot) AS BIGINT) AS n_neg,
      |  ROUND(CAST(gap AS DOUBLE)
      |    / CAST((SELECT n1 FROM tot) * (SELECT n0 FROM tot) AS DOUBLE),
      |    6) AS ks,
      |  ROUND(CAST(cents AS DOUBLE) / 100, 2) AS threshold
      |FROM g ORDER BY gap DESC, cents, o_orderkey LIMIT 1""".stripMargin) {
    (s, d) =>
    val big38 = DecimalType(38, 0)
    val x = scored(s, d)
    val (cum, totals) = graft.plans.GlobalRank.withGlobalRunningSums(
      x, Seq((col("label"), "cp"), (lit(1) - col("label"), "cn")),
      32, col("cents"), col("o_orderkey"))
    val Seq(n1, n0) = totals
    val g = cum.select(col("cents"), col("o_orderkey"),
      abs(col("cp").cast(big38) * lit(n0)
        - col("cn").cast(big38) * lit(n1)).as("gap"))
    g.orderBy(col("gap").desc, col("cents"), col("o_orderkey")).limit(1)
      .select(lit(n1).as("n_pos"), lit(n0).as("n_neg"),
        round(col("gap").cast(DoubleType)
          / (lit(n1).cast(big38) * lit(n0)).cast(DoubleType), 6).as("ks"),
        round(col("cents").cast(DoubleType) / 100, 2).as("threshold"))
  }

  /** Murphy decomposition of the Brier score over the q_calibration
    * 10-bin panel: Brier = reliability − resolution + uncertainty.
    * Reliability (calibration error proper) and resolution (how much the
    * bins separate outcomes) are per-bin doubles quantized to ·10⁻⁶
    * integers on their own bin row before the 10-row sums; uncertainty
    * is ȳ(1−ȳ) from exact global counts. The "is the model USEFUL or
    * just honest" split a single Brier number can't answer. */
  val qBrierDecomp = Q(
    "q_brier_decomp",
    s"""WITH $ppmBinsSql,
      |tot AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(label) AS HUGEINT) AS npos
      |  FROM p),
      |b AS (
      |  SELECT bin, CAST(count(*) AS HUGEINT) AS nb,
      |    CAST(sum(label) AS HUGEINT) AS nbpos,
      |    sum(CAST(p_ppm AS HUGEINT)) AS sum_ppm
      |  FROM p GROUP BY bin),
      |q AS (
      |  SELECT bin, nb, nbpos,
      |    CAST(round(CAST(nb AS DOUBLE)
      |      * (CAST(sum_ppm AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000
      |         - CAST(nbpos AS DOUBLE) / CAST(nb AS DOUBLE))
      |      * (CAST(sum_ppm AS DOUBLE) / CAST(nb AS DOUBLE) / 1000000
      |         - CAST(nbpos AS DOUBLE) / CAST(nb AS DOUBLE))
      |      * 1000000) AS HUGEINT) AS rel6,
      |    CAST(round(CAST(nb AS DOUBLE)
      |      * (CAST(nbpos AS DOUBLE) / CAST(nb AS DOUBLE)
      |         - CAST((SELECT npos FROM tot) AS DOUBLE)
      |           / CAST((SELECT n FROM tot) AS DOUBLE))
      |      * (CAST(nbpos AS DOUBLE) / CAST(nb AS DOUBLE)
      |         - CAST((SELECT npos FROM tot) AS DOUBLE)
      |           / CAST((SELECT n FROM tot) AS DOUBLE))
      |      * 1000000) AS HUGEINT) AS res6
      |  FROM b),
      |agg AS (SELECT sum(rel6) AS srel6, sum(res6) AS sres6 FROM q)
      |SELECT CAST((SELECT n FROM tot) AS BIGINT) AS n,
      |  ROUND(CAST(srel6 AS DOUBLE) / 1000000
      |    / CAST((SELECT n FROM tot) AS DOUBLE), 6) AS reliability,
      |  ROUND(CAST(sres6 AS DOUBLE) / 1000000
      |    / CAST((SELECT n FROM tot) AS DOUBLE), 6) AS resolution,
      |  ROUND(CAST((SELECT npos FROM tot) AS DOUBLE)
      |      / CAST((SELECT n FROM tot) AS DOUBLE)
      |    * (1 - CAST((SELECT npos FROM tot) AS DOUBLE)
      |      / CAST((SELECT n FROM tot) AS DOUBLE)), 6) AS uncertainty
      |FROM agg""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val p = ppmBins(s, d)
    val tot = p.agg(count(lit(1)).cast(big38).as("n"),
      sum(col("label")).cast(big38).as("npos"))
    val b = p.groupBy("bin")
      .agg(count(lit(1)).cast(big38).as("nb"),
        sum(col("label")).cast(big38).as("nbpos"),
        sum(col("p_ppm").cast(big38)).as("sum_ppm"))
    val nbD = col("nb").cast(DoubleType)
    val meanPred = col("sum_ppm").cast(DoubleType) / nbD / 1000000L
    val fracPos = col("nbpos").cast(DoubleType) / nbD
    val base = col("npos").cast(DoubleType) / col("n").cast(DoubleType)
    val q = b.crossJoin(broadcast(tot))
      .select(col("n"), col("npos"),
        round(nbD * (meanPred - fracPos) * (meanPred - fracPos) * 1000000)
          .cast(big38).as("rel6"),
        round(nbD * (fracPos - base) * (fracPos - base) * 1000000)
          .cast(big38).as("res6"))
    q.groupBy("n", "npos")
      .agg(sum(col("rel6")).as("srel6"), sum(col("res6")).as("sres6"))
      .select(col("n").cast(LongType).as("n"),
        round(col("srel6").cast(DoubleType) / 1000000L
          / col("n").cast(DoubleType), 6).as("reliability"),
        round(col("sres6").cast(DoubleType) / 1000000L
          / col("n").cast(DoubleType), 6).as("resolution"),
        round(base * (lit(1) - base), 6).as("uncertainty"))
  }

  /** Holdout regression metrics for the discount→quantity OLS: fit on
    * the deterministic 80% content-hash split, score MAE / RMSE / MAPE /
    * R² on the held-out 20% — the train/eval loop every model in the
    * registry should close. Train coefficients come from one exact
    * co-moment aggregate; each test row's error terms are quantized to
    * ·10⁶ integers BEFORE the cross-row sums (|e|, e², |e|/y — y ≥ 1),
    * so all metric numerators are merge-order-proof. */
  val qRegressionMetrics = Q(
    "q_regression_metrics",
    """WITH li AS (
      |  SELECT CAST(round(l_discount * 100) AS BIGINT) AS x,
      |    CAST(l_quantity AS BIGINT) AS y,
      |    CASE WHEN CAST(concat('0x', substr(md5(concat(
      |        l_orderkey, ':', l_linenumber)), 1, 15)) AS BIGINT)
      |        % 10 < 8
      |      THEN 1 ELSE 0 END AS is_train
      |  FROM lineitem),
      |mo AS (
      |  SELECT CAST(sum(is_train) AS HUGEINT) AS n,
      |    sum(CASE WHEN is_train = 1 THEN CAST(x AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS sx,
      |    sum(CASE WHEN is_train = 1 THEN CAST(x AS HUGEINT) * x
      |      ELSE CAST(0 AS HUGEINT) END) AS sxx,
      |    sum(CASE WHEN is_train = 1 THEN CAST(y AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS sy,
      |    sum(CASE WHEN is_train = 1 THEN CAST(x AS HUGEINT) * y
      |      ELSE CAST(0 AS HUGEINT) END) AS sxy
      |  FROM li),
      |co AS (
      |  SELECT n,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
      |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      |  FROM mo),
      |te AS (
      |  SELECT y,
      |    y - (syd - b * sxd) / CAST(n AS DOUBLE) - b * x AS e
      |  FROM li, co WHERE is_train = 0),
      |q AS (
      |  SELECT y,
      |    CAST(round(abs(e) * 1000000) AS HUGEINT) AS ae6,
      |    CAST(round(e * e * 1000000) AS HUGEINT) AS se6,
      |    CAST(round(abs(e) / y * 1000000) AS HUGEINT) AS ape6
      |  FROM te),
      |agg AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS nt,
      |    sum(ae6) AS sae, sum(se6) AS sse, sum(ape6) AS sape,
      |    sum(CAST(y AS HUGEINT)) AS sy2, sum(CAST(y AS HUGEINT) * y)
      |      AS syy2
      |  FROM q)
      |SELECT CAST((SELECT n FROM mo) AS BIGINT) AS n_train,
      |  CAST(nt AS BIGINT) AS n_test,
      |  ROUND((SELECT b FROM co), 6) AS slope,
      |  ROUND(CAST(sae AS DOUBLE) / CAST(nt AS DOUBLE) / 1000000, 6)
      |    AS mae,
      |  ROUND(sqrt(CAST(sse AS DOUBLE) / CAST(nt AS DOUBLE) / 1000000),
      |    6) AS rmse,
      |  ROUND(CAST(sape AS DOUBLE) / CAST(nt AS DOUBLE) / 1000000, 6)
      |    AS mape,
      |  ROUND(1 - (CAST(sse AS DOUBLE) / 1000000)
      |    / (CAST(syy2 AS DOUBLE)
      |      - CAST(sy2 AS DOUBLE) * CAST(sy2 AS DOUBLE)
      |        / CAST(nt AS DOUBLE)), 6) AS r2
      |FROM agg""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val h = graft.llm.TextOps.hash60 _
    val li = t(s, d, "lineitem").select(
      round(col("l_discount") * 100).cast(LongType).as("x"),
      col("l_quantity").cast(LongType).as("y"),
      when(h(concat(col("l_orderkey").cast(StringType), lit(":"),
        col("l_linenumber").cast(StringType))) % 10 < 8, 1)
        .otherwise(0).as("is_train"))
    val z = lit(0L).cast(big38)
    val mo = li.agg(sum(col("is_train")).cast(big38).as("n"),
      sum(when(col("is_train") === 1, col("x").cast(big38)).otherwise(z))
        .as("sx"),
      sum(when(col("is_train") === 1, col("x").cast(big38) * col("x"))
        .otherwise(z)).as("sxx"),
      sum(when(col("is_train") === 1, col("y").cast(big38)).otherwise(z))
        .as("sy"),
      sum(when(col("is_train") === 1, col("x").cast(big38) * col("y"))
        .otherwise(z)).as("sxy"))
    val co = mo.select(col("n"),
      ((col("n").cast(DoubleType) * col("sxy").cast(DoubleType)
        - col("sx").cast(DoubleType) * col("sy").cast(DoubleType))
        / (col("n").cast(DoubleType) * col("sxx").cast(DoubleType)
          - col("sx").cast(DoubleType) * col("sx").cast(DoubleType)))
        .as("b"),
      col("sx").cast(DoubleType).as("sxd"),
      col("sy").cast(DoubleType).as("syd"))
    val e = col("y") - (col("syd") - col("b") * col("sxd")) /
      col("n").cast(DoubleType) - col("b") * col("x")
    val q = li.where(col("is_train") === 0).crossJoin(broadcast(co))
      .select(col("y"), col("n"), col("b"),
        round(abs(e) * 1000000).cast(big38).as("ae6"),
        round(e * e * 1000000).cast(big38).as("se6"),
        round(abs(e) / col("y") * 1000000).cast(big38).as("ape6"))
    val agg = q.groupBy("n", "b").agg(
      count(lit(1)).cast(big38).as("nt"),
      sum(col("ae6")).as("sae"), sum(col("se6")).as("sse"),
      sum(col("ape6")).as("sape"),
      sum(col("y").cast(big38)).as("sy2"),
      sum(col("y").cast(big38) * col("y")).as("syy2"))
    agg.select(col("n").cast(LongType).as("n_train"),
      col("nt").cast(LongType).as("n_test"),
      round(col("b"), 6).as("slope"),
      round(col("sae").cast(DoubleType) / col("nt").cast(DoubleType)
        / 1000000L, 6).as("mae"),
      round(sqrt(col("sse").cast(DoubleType) / col("nt").cast(DoubleType)
        / 1000000L), 6).as("rmse"),
      round(col("sape").cast(DoubleType) / col("nt").cast(DoubleType)
        / 1000000L, 6).as("mape"),
      round(lit(1) - (col("sse").cast(DoubleType) / 1000000L)
        / (col("syy2").cast(DoubleType)
          - col("sy2").cast(DoubleType) * col("sy2").cast(DoubleType)
            / col("nt").cast(DoubleType)), 6).as("r2"))
  }

  /** Stacked (feature, category, label) exact counts for the categorical
    * feature screens: four lineitem-local features against the returned
    * (l_returnflag = 'R') label, ONE scan with a 4× map-side fan-out —
    * no fact-fact join, bounded output (≤16 categories total). */
  private def featureCells(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .select(
        explode(array(
          struct(lit("discount_pct").as("feature"),
            concat(lit("D"), round(col("l_discount") * 100)
              .cast(LongType)).as("cat")),
          struct(lit("tax_pct").as("feature"),
            concat(lit("T"), round(col("l_tax") * 100)
              .cast(LongType)).as("cat")),
          struct(lit("line_status").as("feature"),
            col("l_linestatus").as("cat")),
          struct(lit("qty_bucket").as("feature"),
            concat(lit("Q"),
              expr("(CAST(l_quantity AS BIGINT) - 1) DIV 10")).as("cat"))))
          .as("fc"),
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("lbl"))
      .select(col("fc.feature").as("feature"), col("fc.cat").as("cat"),
        col("lbl"))
      .groupBy("feature", "cat", "lbl")
      .agg(count(lit(1)).as("c"))

  private val featureCellsSql =
    """cells AS (
      |  SELECT feature, cat, lbl, count(*) AS c FROM (
      |    SELECT 'discount_pct' AS feature,
      |      'D' || CAST(CAST(round(l_discount * 100) AS BIGINT)
      |        AS VARCHAR) AS cat,
      |      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS lbl
      |    FROM lineitem
      |    UNION ALL
      |    SELECT 'tax_pct',
      |      'T' || CAST(CAST(round(l_tax * 100) AS BIGINT) AS VARCHAR),
      |      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
      |    UNION ALL
      |    SELECT 'line_status', l_linestatus,
      |      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
      |    UNION ALL
      |    SELECT 'qty_bucket',
      |      'Q' || CAST((CAST(l_quantity AS BIGINT) - 1) // 10 AS VARCHAR),
      |      CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem
      |  ) u GROUP BY 1, 2, 3)""".stripMargin

  /** χ² feature screen: each categorical feature ranked by independence
    * χ² against the returned-line label (+ Cramér's V since the label is
    * binary: V = √(χ²/n)). The fact table collapses to ≤16 exact-count
    * (feature, cat, label) cells in one fan-out scan; expected counts are
    * per-cell doubles from exact margins, quantized ·10⁶ BEFORE the
    * per-feature sums. The ranking is the pre-model "which columns carry
    * signal" pass — and line_status scoring near-top is the screen
    * CATCHING a leaky feature (it is determined mid-flight with the
    * return outcome). */
  val qChi2FeatureSelect = Q(
    "q_chi2_feature_select",
    s"""WITH $featureCellsSql,
      |mg AS (
      |  SELECT feature, cat, lbl, c,
      |    sum(c) OVER (PARTITION BY feature, cat) AS rc,
      |    sum(c) OVER (PARTITION BY feature, lbl) AS lc,
      |    sum(c) OVER (PARTITION BY feature) AS n
      |  FROM cells),
      |term AS (
      |  SELECT feature,
      |    CAST(round((c - CAST(rc AS DOUBLE) * CAST(lc AS DOUBLE)
      |        / CAST(n AS DOUBLE))
      |      * (c - CAST(rc AS DOUBLE) * CAST(lc AS DOUBLE)
      |        / CAST(n AS DOUBLE))
      |      / (CAST(rc AS DOUBLE) * CAST(lc AS DOUBLE)
      |        / CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS t6,
      |    n
      |  FROM mg),
      |f AS (
      |  SELECT feature, count(*) AS n_cells, max(n) AS n,
      |    sum(t6) AS chi2_6
      |  FROM term GROUP BY feature)
      |SELECT feature, CAST(n_cells // 2 AS BIGINT) AS n_cats,
      |  ROUND(CAST(chi2_6 AS DOUBLE) / 1e6, 4) AS chi2,
      |  ROUND(sqrt(CAST(chi2_6 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)), 6)
      |    AS cramers_v
      |FROM f ORDER BY chi2_6 DESC, feature""".stripMargin) { (s, d) =>
    val cells = featureCells(s, d)
    val wRc = Window.partitionBy("feature", "cat")
    val wLc = Window.partitionBy("feature", "lbl")
    val wN = Window.partitionBy("feature")
    val mg = cells
      .withColumn("rc", sum(col("c")).over(wRc))
      .withColumn("lc", sum(col("c")).over(wLc))
      .withColumn("n", sum(col("c")).over(wN))
    val e = col("rc").cast(DoubleType) * col("lc").cast(DoubleType)
      ./(col("n").cast(DoubleType))
    val term = mg.select(col("feature"),
      round((col("c") - e) * (col("c") - e) / e * 1000000)
        .cast(LongType).as("t6"), col("n"))
    val f = term.groupBy("feature").agg(count(lit(1)).as("n_cells"),
      max(col("n")).as("n"), sum(col("t6")).as("chi2_6"))
    f.select(col("feature"), expr("n_cells DIV 2").as("n_cats"),
        round(col("chi2_6").cast(DoubleType) / 1e6, 4).as("chi2"),
        round(sqrt(col("chi2_6").cast(DoubleType) / 1e6
          / col("n").cast(DoubleType)), 6).as("cramers_v"))
      .orderBy(col("chi2_6").desc, col("feature"))
  }

  /** Information-gain feature screen over the same stacked cells:
    * IG(f) = H(label) − Σ_cat p(cat)·H(label|cat) in nats, plus the
    * normalized share of label entropy explained. Every per-category
    * entropy contribution is ·10⁹-quantized on its own bounded cell row
    * before the per-feature sum (q_bartlett ln idiom); H(label) comes
    * from one exact global count pair. The MI-based twin of the χ²
    * screen — χ² finds association, IG prices it in bits. */
  val qInfoGain = Q(
    "q_info_gain",
    s"""WITH $featureCellsSql,
      |mg AS (
      |  SELECT feature, cat, lbl, c,
      |    sum(c) OVER (PARTITION BY feature, cat) AS rc,
      |    sum(c) OVER (PARTITION BY feature) AS n
      |  FROM cells),
      |cond AS (
      |  SELECT feature,
      |    sum(CAST(round(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
      |      * ln(CAST(c AS DOUBLE) / CAST(rc AS DOUBLE))
      |      * 1000000000) AS BIGINT)) AS hc9
      |  FROM mg WHERE c > 0 GROUP BY feature),
      |gl AS (
      |  SELECT sum(CAST(round(CAST(cl AS DOUBLE) / CAST(nn AS DOUBLE)
      |      * ln(CAST(cl AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * 1000000000) AS BIGINT)) AS hy9
      |  FROM (
      |    SELECT lbl, sum(c) AS cl, sum(sum(c)) OVER () AS nn
      |    FROM cells WHERE feature = 'line_status' GROUP BY lbl) z)
      |SELECT feature,
      |  ROUND((-CAST(hy9 AS DOUBLE) + CAST(hc9 AS DOUBLE)) / 1e9, 6)
      |    AS info_gain_nats,
      |  ROUND((-CAST(hy9 AS DOUBLE) + CAST(hc9 AS DOUBLE))
      |    / (-CAST(hy9 AS DOUBLE)), 6) AS share_of_entropy
      |FROM cond, gl ORDER BY hc9 DESC, feature""".stripMargin) { (s, d) =>
    val cells = featureCells(s, d)
    val wRc = Window.partitionBy("feature", "cat")
    val wN = Window.partitionBy("feature")
    val mg = cells
      .withColumn("rc", sum(col("c")).over(wRc))
      .withColumn("n", sum(col("c")).over(wN))
    val cond = mg.filter(col("c") > 0).groupBy("feature").agg(
      sum(round(col("c").cast(DoubleType) / col("n").cast(DoubleType)
        * log(col("c").cast(DoubleType) / col("rc").cast(DoubleType))
        * 1000000000L).cast(LongType)).as("hc9"))
    val glTot = cells.filter(col("feature") === "line_status")
      .groupBy("lbl").agg(sum(col("c")).as("cl"))
    val gl = glTot
      .crossJoin(broadcast(glTot.agg(sum(col("cl")).as("nn"))))
      .agg(sum(round(col("cl").cast(DoubleType) / col("nn").cast(DoubleType)
        * log(col("cl").cast(DoubleType) / col("nn").cast(DoubleType))
        * 1000000000L).cast(LongType)).as("hy9"))
    cond.crossJoin(broadcast(gl))
      .select(col("feature"),
        round((-col("hy9").cast(DoubleType) + col("hc9").cast(DoubleType))
          / 1e9, 6).as("info_gain_nats"),
        round((-col("hy9").cast(DoubleType) + col("hc9").cast(DoubleType))
          / (-col("hy9").cast(DoubleType)), 6).as("share_of_entropy"))
      .orderBy(col("hc9").desc, col("feature"))
  }

  /** Decision-stump threshold sweep: for every split l_quantity ≤ t the
    * weighted-Gini impurity of the returned-label children — the full
    * 49-point curve a tree learner's first node would scan, computed from
    * ≤50 exact per-quantity count cells with prefix sums over the bounded
    * value grid. Impurities are doubles from exact integers with
    * identical op order; the best split is an integer argmin over the
    * ·10⁹-quantized weighted impurity. */
  val qDecisionStump = Q(
    "q_decision_stump",
    """WITH q AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS qty,
      |    count(*) AS c,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS p
      |  FROM lineitem GROUP BY 1),
      |pre AS (
      |  SELECT qty, sum(c) OVER (ORDER BY qty) AS nl,
      |    sum(p) OVER (ORDER BY qty) AS pl,
      |    sum(c) OVER () AS n, sum(p) OVER () AS pt
      |  FROM q),
      |cur AS (
      |  SELECT qty AS threshold, nl, n,
      |    1.0 - (CAST(pt AS DOUBLE) / n) * (CAST(pt AS DOUBLE) / n)
      |      - (CAST(n - pt AS DOUBLE) / n) * (CAST(n - pt AS DOUBLE) / n)
      |      AS gini_parent,
      |    ((CAST(nl AS DOUBLE)
      |      - (CAST(pl AS DOUBLE) * pl + CAST(nl - pl AS DOUBLE)
      |        * (nl - pl)) / nl)
      |     + (CAST(n - nl AS DOUBLE)
      |      - (CAST(pt - pl AS DOUBLE) * (pt - pl)
      |        + CAST(n - nl - pt + pl AS DOUBLE) * (n - nl - pt + pl))
      |        / (n - nl))) / n AS w_gini
      |  FROM pre WHERE nl < n),
      |qz AS (
      |  SELECT threshold, nl, gini_parent, w_gini,
      |    CAST(round(w_gini * 1000000000) AS BIGINT) AS w9,
      |    min(CAST(round(w_gini * 1000000000) AS BIGINT)) OVER () AS best9
      |  FROM cur)
      |SELECT CAST(threshold AS BIGINT) AS threshold,
      |  CAST(nl AS BIGINT) AS n_left,
      |  ROUND(gini_parent - w_gini, 6) AS gini_gain,
      |  CASE WHEN w9 = best9 THEN 1 ELSE 0 END AS is_best
      |FROM qz ORDER BY threshold""".stripMargin) { (s, d) =>
    val q = t(s, d, "lineitem")
      .groupBy(col("l_quantity").cast(LongType).as("qty"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("p"))
    val tot = q.agg(sum(col("c")).as("n"), sum(col("p")).as("pt"))
    val pre = q
      .withColumn("nl", sum(col("c")).over(Window.orderBy("qty")))
      .withColumn("pl", sum(col("p")).over(Window.orderBy("qty")))
      .crossJoin(broadcast(tot))
    val nD = col("n").cast(DoubleType)
    val giniParent = lit(1.0)
      .minus((col("pt").cast(DoubleType) / nD)
        * (col("pt").cast(DoubleType) / nD))
      .minus(((col("n") - col("pt")).cast(DoubleType) / nD)
        * ((col("n") - col("pt")).cast(DoubleType) / nD))
    val wGini = ((col("nl").cast(DoubleType)
      - (col("pl").cast(DoubleType) * col("pl")
        + (col("nl") - col("pl")).cast(DoubleType)
          * (col("nl") - col("pl"))) / col("nl"))
      .plus((col("n") - col("nl")).cast(DoubleType)
        - ((col("pt") - col("pl")).cast(DoubleType)
          * (col("pt") - col("pl"))
          + (col("n") - col("nl") - col("pt") + col("pl")).cast(DoubleType)
            * (col("n") - col("nl") - col("pt") + col("pl")))
          / (col("n") - col("nl"))))./(nD)
    val cur = pre.filter(col("nl") < col("n"))
      .select(col("qty").as("threshold"), col("nl"),
        giniParent.as("gini_parent"), wGini.as("w_gini"))
    val qz = cur
      .withColumn("w9", round(col("w_gini") * 1000000000L).cast(LongType))
    val best = qz.agg(min(col("w9")).as("best9"))
    qz.crossJoin(broadcast(best))
      .select(col("threshold").cast(LongType).as("threshold"),
        col("nl").cast(LongType).as("n_left"),
        round(col("gini_parent") - col("w_gini"), 6).as("gini_gain"),
        when(col("w9") === col("best9"), 1).otherwise(0).as("is_best"))
      .orderBy("threshold")
  }

  /** Pairwise Cramér's V across the four categorical lineitem features —
    * the feature-REDUNDANCY matrix that complements the target screens
    * (two features both passing q_chi2_feature_select but with V ≈ 1
    * between them carry one signal, not two). One 6×-fan-out scan stacks
    * every unordered feature pair; each pair's ≤28-cell contingency gets
    * exact margins from bounded windows and ·10⁶-quantized χ² terms. */
  val qCramersMatrix = Q(
    "q_cramers_matrix",
    """WITH st AS (
      |  SELECT feat_a, feat_b, a, b, count(*) AS c FROM (
      |    SELECT 'line_status' AS feat_a, 'return_flag' AS feat_b,
      |      l_linestatus AS a, l_returnflag AS b FROM lineitem
      |    UNION ALL SELECT 'discount_pct', 'line_status',
      |      'D' || CAST(CAST(round(l_discount * 100) AS BIGINT)
      |        AS VARCHAR), l_linestatus FROM lineitem
      |    UNION ALL SELECT 'line_status', 'qty_bucket', l_linestatus,
      |      'Q' || CAST((CAST(l_quantity AS BIGINT) - 1) // 10
      |        AS VARCHAR) FROM lineitem
      |    UNION ALL SELECT 'discount_pct', 'return_flag',
      |      'D' || CAST(CAST(round(l_discount * 100) AS BIGINT)
      |        AS VARCHAR), l_returnflag FROM lineitem
      |    UNION ALL SELECT 'qty_bucket', 'return_flag',
      |      'Q' || CAST((CAST(l_quantity AS BIGINT) - 1) // 10
      |        AS VARCHAR), l_returnflag FROM lineitem
      |    UNION ALL SELECT 'discount_pct', 'qty_bucket',
      |      'D' || CAST(CAST(round(l_discount * 100) AS BIGINT)
      |        AS VARCHAR),
      |      'Q' || CAST((CAST(l_quantity AS BIGINT) - 1) // 10
      |        AS VARCHAR) FROM lineitem
      |  ) u GROUP BY 1, 2, 3, 4),
      |mg AS (
      |  SELECT feat_a, feat_b, c,
      |    sum(c) OVER (PARTITION BY feat_a, feat_b, a) AS ra,
      |    sum(c) OVER (PARTITION BY feat_a, feat_b, b) AS rb,
      |    sum(c) OVER (PARTITION BY feat_a, feat_b) AS n
      |  FROM st),
      |term AS (
      |  SELECT feat_a, feat_b, n,
      |    CAST(round((c - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
      |        / CAST(n AS DOUBLE))
      |      * (c - CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
      |        / CAST(n AS DOUBLE))
      |      / (CAST(ra AS DOUBLE) * CAST(rb AS DOUBLE)
      |        / CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS t6
      |  FROM mg),
      |dims AS (
      |  SELECT feat_a, feat_b, count(DISTINCT a) AS ka,
      |    count(DISTINCT b) AS kb
      |  FROM st GROUP BY 1, 2),
      |f AS (
      |  SELECT term.feat_a, term.feat_b, max(term.n) AS n,
      |    sum(t6) AS chi2_6, max(ka) AS ka, max(kb) AS kb
      |  FROM term JOIN dims
      |    ON term.feat_a = dims.feat_a AND term.feat_b = dims.feat_b
      |  GROUP BY 1, 2)
      |SELECT feat_a, feat_b,
      |  ROUND(CAST(chi2_6 AS DOUBLE) / 1e6, 4) AS chi2,
      |  ROUND(sqrt(CAST(chi2_6 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
      |    / LEAST(ka - 1, kb - 1)), 6) AS cramers_v
      |FROM f ORDER BY feat_a, feat_b""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem")
    def pairStruct(fa: String, fb: String, a: Column, b: Column): Column =
      struct(lit(fa).as("feat_a"), lit(fb).as("feat_b"),
        a.as("a"), b.as("b"))
    val dCat = concat(lit("D"), round(col("l_discount") * 100)
      .cast(LongType))
    val qCat = concat(lit("Q"),
      expr("(CAST(l_quantity AS BIGINT) - 1) DIV 10"))
    val st = li.select(explode(array(
        pairStruct("line_status", "return_flag",
          col("l_linestatus"), col("l_returnflag")),
        pairStruct("discount_pct", "line_status",
          dCat, col("l_linestatus")),
        pairStruct("line_status", "qty_bucket",
          col("l_linestatus"), qCat),
        pairStruct("discount_pct", "return_flag",
          dCat, col("l_returnflag")),
        pairStruct("qty_bucket", "return_flag",
          qCat, col("l_returnflag")),
        pairStruct("discount_pct", "qty_bucket",
          dCat, qCat))).as("p"))
      .select(col("p.feat_a").as("feat_a"), col("p.feat_b").as("feat_b"),
        col("p.a").as("a"), col("p.b").as("b"))
      .groupBy("feat_a", "feat_b", "a", "b")
      .agg(count(lit(1)).as("c"))
    val mg = st
      .withColumn("ra",
        sum(col("c")).over(Window.partitionBy("feat_a", "feat_b", "a")))
      .withColumn("rb",
        sum(col("c")).over(Window.partitionBy("feat_a", "feat_b", "b")))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy("feat_a", "feat_b")))
    val e = col("ra").cast(DoubleType) * col("rb").cast(DoubleType)
      ./(col("n").cast(DoubleType))
    val term = mg.select(col("feat_a"), col("feat_b"), col("n"),
      round((col("c") - e) * (col("c") - e) / e * 1000000)
        .cast(LongType).as("t6"))
    val dims = st.groupBy("feat_a", "feat_b")
      .agg(countDistinct(col("a")).as("ka"),
        countDistinct(col("b")).as("kb"))
    val f = term.join(dims, Seq("feat_a", "feat_b"))
      .groupBy("feat_a", "feat_b")
      .agg(max(col("n")).as("n"), sum(col("t6")).as("chi2_6"),
        max(col("ka")).as("ka"), max(col("kb")).as("kb"))
    f.select(col("feat_a"), col("feat_b"),
        round(col("chi2_6").cast(DoubleType) / 1e6, 4).as("chi2"),
        round(sqrt(col("chi2_6").cast(DoubleType) / 1e6
          / col("n").cast(DoubleType)
          / least(col("ka") - 1, col("kb") - 1)), 6).as("cramers_v"))
      .orderBy("feat_a", "feat_b")
  }

  /** Variance-inflation factors for the three numeric lineitem regressors
    * (quantity, discount pct, extendedprice cents): VIF_j = 1/(1−R²_j)
    * with R²_j of x_j on the other two in the 3-variable closed form from
    * the pairwise correlations — the multicollinearity gate before
    * trusting any q_regression_multi coefficient (price is quantity ×
    * unit price, so its VIF SHOULD flag). Nine exact HUGEINT co-moments
    * in ONE scan; everything after is a one-row double panel. */
  val qVif = Q(
    "q_vif",
    """WITH x AS (
      |  SELECT CAST(l_quantity AS BIGINT) AS q,
      |    CAST(round(l_discount * 100) AS BIGINT) AS d,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS p
      |  FROM lineitem),
      |mo AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST(q AS HUGEINT)) AS s1, sum(CAST(d AS HUGEINT)) AS s2,
      |    sum(CAST(p AS HUGEINT)) AS s3,
      |    sum(CAST(q AS HUGEINT) * q) AS s11,
      |    sum(CAST(d AS HUGEINT) * d) AS s22,
      |    sum(CAST(p AS HUGEINT) * p) AS s33,
      |    sum(CAST(q AS HUGEINT) * d) AS s12,
      |    sum(CAST(q AS HUGEINT) * p) AS s13,
      |    sum(CAST(d AS HUGEINT) * p) AS s23
      |  FROM x),
      |r AS (
      |  SELECT
      |    (CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
      |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
      |        - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS r12,
      |    (CAST(n AS DOUBLE) * CAST(s13 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
      |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(s33 AS DOUBLE)
      |        - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))) AS r13,
      |    (CAST(n AS DOUBLE) * CAST(s23 AS DOUBLE)
      |      - CAST(s2 AS DOUBLE) * CAST(s3 AS DOUBLE))
      |    / sqrt((CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
      |        - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
      |      * (CAST(n AS DOUBLE) * CAST(s33 AS DOUBLE)
      |        - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))) AS r23
      |  FROM mo),
      |v AS (
      |  SELECT
      |    (r12 * r12 + r13 * r13 - 2 * r12 * r13 * r23)
      |      / (1 - r23 * r23) AS r2_q,
      |    (r12 * r12 + r23 * r23 - 2 * r12 * r23 * r13)
      |      / (1 - r13 * r13) AS r2_d,
      |    (r13 * r13 + r23 * r23 - 2 * r13 * r23 * r12)
      |      / (1 - r12 * r12) AS r2_p
      |  FROM r)
      |SELECT feature, ROUND(r2, 6) AS r2_on_others,
      |  ROUND(1 / (1 - r2), 4) AS vif
      |FROM (
      |  SELECT 'quantity' AS feature, r2_q AS r2 FROM v
      |  UNION ALL SELECT 'discount_pct', r2_d FROM v
      |  UNION ALL SELECT 'extended_price', r2_p FROM v) z
      |ORDER BY feature""".stripMargin) { (s, d) =>
    val x = t(s, d, "lineitem").select(
      col("l_quantity").cast(LongType).as("q"),
      round(col("l_discount") * 100).cast(LongType).as("d"),
      (dec2(col("l_extendedprice")) * 100).cast(LongType).as("p"))
    val mo = x.agg(count(lit(1)).cast(big38e).as("n"),
      sum(col("q").cast(big38e)).as("s1"),
      sum(col("d").cast(big38e)).as("s2"),
      sum(col("p").cast(big38e)).as("s3"),
      sum(col("q").cast(big38e) * col("q")).as("s11"),
      sum(col("d").cast(big38e) * col("d")).as("s22"),
      sum(col("p").cast(big38e) * col("p")).as("s33"),
      sum(col("q").cast(big38e) * col("d")).as("s12"),
      sum(col("q").cast(big38e) * col("p")).as("s13"),
      sum(col("d").cast(big38e) * col("p")).as("s23"))
    def corr2(sij: String, si: String, sj: String,
        sii: String, sjj: String): Column =
      ((col("n").cast(DoubleType) * col(sij).cast(DoubleType)
        - col(si).cast(DoubleType) * col(sj).cast(DoubleType))
        / sqrt((col("n").cast(DoubleType) * col(sii).cast(DoubleType)
          - col(si).cast(DoubleType) * col(si).cast(DoubleType))
          * (col("n").cast(DoubleType) * col(sjj).cast(DoubleType)
            - col(sj).cast(DoubleType) * col(sj).cast(DoubleType))))
    val r = mo.select(
      corr2("s12", "s1", "s2", "s11", "s22").as("r12"),
      corr2("s13", "s1", "s3", "s11", "s33").as("r13"),
      corr2("s23", "s2", "s3", "s22", "s33").as("r23"))
    def r2Of(a: Column, b: Column, c: Column): Column =
      (a * a + b * b - lit(2) * a * b * c) / (lit(1) - c * c)
    val v = r.select(
      r2Of(col("r12"), col("r13"), col("r23")).as("r2_q"),
      r2Of(col("r12"), col("r23"), col("r13")).as("r2_d"),
      r2Of(col("r13"), col("r23"), col("r12")).as("r2_p"))
    val rows = v.select(lit("quantity").as("feature"), col("r2_q").as("r2"))
      .unionAll(v.select(lit("discount_pct"), col("r2_d")))
      .unionAll(v.select(lit("extended_price"), col("r2_p")))
    rows.select(col("feature"), round(col("r2"), 6).as("r2_on_others"),
        round(lit(1) / (lit(1) - col("r2")), 4).as("vif"))
      .orderBy("feature")
  }

  private val big38e = DecimalType(38, 0)

  /** Classifier-fairness audit — demographic parity and equalized odds
    * per protected group: for the deterministic scored classifier
    * (order total > $150k predicts urgent) and group = market segment,
    * the per-group positive-prediction rate (DP), TPR and FPR (EO), each
    * with its gap against the pooled rate. The production fairness
    * dashboard the WSDM'19 societal-metric family feeds into, on
    * classifier decisions instead of recommender losses. ONE fact scan:
    * six exact counting aggregates per group, the pooled row is the same
    * six sums re-reduced and broadcast back; every rate/gap is a
    * final-expression double. */
  val qFairnessClf = Q(
    "q_fairness_clf",
    s"""WITH x AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CASE WHEN ${priceCentsSql("o.o_totalprice")} > 15000000 THEN 1 ELSE 0 END AS pred,
      |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      |      AS label
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |g AS (
      |  SELECT seg, count(*) AS n, sum(pred) AS np,
      |    sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS npos,
      |    sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS nneg,
      |    sum(CASE WHEN pred = 1 AND label = 1 THEN 1 ELSE 0 END) AS tp,
      |    sum(CASE WHEN pred = 1 AND label = 0 THEN 1 ELSE 0 END) AS fp
      |  FROM x GROUP BY seg),
      |tot AS (
      |  SELECT sum(n) AS tn, sum(np) AS tnp, sum(npos) AS tpos,
      |    sum(nneg) AS tneg, sum(tp) AS ttp, sum(fp) AS tfp
      |  FROM g)
      |SELECT seg, CAST(n AS BIGINT) AS n,
      |  ROUND(CAST(np AS DOUBLE) / n, 6) AS pos_rate,
      |  ROUND(CAST(tp AS DOUBLE) / npos, 6) AS tpr,
      |  ROUND(CAST(fp AS DOUBLE) / nneg, 6) AS fpr,
      |  ROUND(CAST(np AS DOUBLE) / n - CAST(tnp AS DOUBLE) / tn, 6)
      |    AS dp_gap,
      |  ROUND(CAST(tp AS DOUBLE) / npos - CAST(ttp AS DOUBLE) / tpos, 6)
      |    AS tpr_gap,
      |  ROUND(CAST(fp AS DOUBLE) / nneg - CAST(tfp AS DOUBLE) / tneg, 6)
      |    AS fpr_gap
      |FROM g CROSS JOIN tot ORDER BY seg""".stripMargin) { (s, d) =>
    val x = t(s, d, "orders")
      .join(t(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
      .select(col("seg"),
        when(priceCents(col("o_totalprice")) > 15000000L, 1)
          .otherwise(0).as("pred"),
        when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)
          .as("label"))
    val g = x.groupBy("seg").agg(
      count(lit(1)).as("n"), sum(col("pred")).as("np"),
      sum(when(col("label") === 1, 1).otherwise(0)).as("npos"),
      sum(when(col("label") === 0, 1).otherwise(0)).as("nneg"),
      sum(when(col("pred") === 1 && col("label") === 1, 1).otherwise(0))
        .as("tp"),
      sum(when(col("pred") === 1 && col("label") === 0, 1).otherwise(0))
        .as("fp"))
    val tot = g.agg(sum("n").as("tn"), sum("np").as("tnp"),
      sum("npos").as("tpos"), sum("nneg").as("tneg"),
      sum("tp").as("ttp"), sum("fp").as("tfp"))
    g.crossJoin(broadcast(tot))
      .select(col("seg"), col("n").cast(LongType).as("n"),
        round(col("np").cast(DoubleType) / col("n"), 6).as("pos_rate"),
        round(col("tp").cast(DoubleType) / col("npos"), 6).as("tpr"),
        round(col("fp").cast(DoubleType) / col("nneg"), 6).as("fpr"),
        round(col("np").cast(DoubleType) / col("n")
          - col("tnp").cast(DoubleType) / col("tn"), 6).as("dp_gap"),
        round(col("tp").cast(DoubleType) / col("npos")
          - col("ttp").cast(DoubleType) / col("tpos"), 6).as("tpr_gap"),
        round(col("fp").cast(DoubleType) / col("nneg")
          - col("tfp").cast(DoubleType) / col("tneg"), 6).as("fpr_gap"))
      .orderBy("seg")
  }

  /** Odds ratio with Woolf's logit confidence interval for the 2×2
    * exposure×outcome table (BUILDING-segment customer × urgent
    * priority) — the epidemiology-style effect readout q_abtest_ztest's
    * rate difference does not give: a multiplicative association with a
    * CI that is valid for rare outcomes. Four exact cell counts from one
    * fact scan; OR and exp(ln OR ± 1.96·SE) are final-expression doubles
    * on the one-row result. */
  val qOddsRatioCi = Q(
    "q_odds_ratio_ci",
    """WITH x AS (
      |  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
      |      AS e,
      |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |c2 AS (
      |  SELECT
      |    sum(CASE WHEN e = 1 AND y = 1 THEN 1 ELSE 0 END) AS a,
      |    sum(CASE WHEN e = 1 AND y = 0 THEN 1 ELSE 0 END) AS b,
      |    sum(CASE WHEN e = 0 AND y = 1 THEN 1 ELSE 0 END) AS c,
      |    sum(CASE WHEN e = 0 AND y = 0 THEN 1 ELSE 0 END) AS d
      |  FROM x)
      |SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
      |  CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
      |  ROUND(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)
      |    AS odds_ratio,
      |  ROUND(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
      |    - 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6)
      |    AS ci_lo,
      |  ROUND(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
      |    + 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6)
      |    AS ci_hi
      |FROM c2""".stripMargin) { (s, d) =>
    val x = t(s, d, "orders")
      .join(t(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment").as("seg")),
        col("o_custkey") === col("c_custkey"))
      .select(when(col("seg") === "BUILDING", 1).otherwise(0).as("e"),
        when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0).as("y"))
    val c2 = x.agg(
      sum(when(col("e") === 1 && col("y") === 1, 1).otherwise(0)).as("a"),
      sum(when(col("e") === 1 && col("y") === 0, 1).otherwise(0)).as("b"),
      sum(when(col("e") === 0 && col("y") === 1, 1).otherwise(0)).as("c"),
      sum(when(col("e") === 0 && col("y") === 0, 1).otherwise(0)).as("d"))
    val orCol = (col("a").cast(DoubleType) * col("d"))
      ./(col("b").cast(DoubleType) * col("c"))
    val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b")
      + lit(1.0) / col("c") + lit(1.0) / col("d"))
    c2.select(col("a").cast(LongType).as("a"),
      col("b").cast(LongType).as("b"), col("c").cast(LongType).as("c"),
      col("d").cast(LongType).as("d"),
      round(orCol, 6).as("odds_ratio"),
      round(exp(log(orCol) - lit(1.96) * se), 6).as("ci_lo"),
      round(exp(log(orCol) + lit(1.96) * se), 6).as("ci_hi"))
  }

  /** Hosmer–Lemeshow goodness-of-fit for the price→urgent score:
    * equal-count risk deciles (GlobalRank ntile — never a data-sized
    * unpartitioned window), per-decile observed positives O vs expected
    * E = Σp̂, χ² = Σ (O−E)²/(E(1−E/n)). Expected sums are exact integer
    * µ-probability sums; each decile's χ² term is one double expression
    * ·10⁶-quantized before the exact 10-term total — the pooled
    * "is the score calibrated AT ALL" verdict beside q_calibration's
    * per-bin curve (df = g−2 for the usual model-fit reading). */
  val qHosmerLemeshow = Q(
    "q_hosmer_lemeshow",
    s"""WITH x AS (
      |  SELECT ${priceCentsSql("o_totalprice")}
      |      AS cents,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END
      |      AS label, o_orderkey
      |  FROM orders),
      |mx AS (SELECT max(cents) AS maxc, count(*) AS n FROM x),
      |p AS (
      |  SELECT label, cents * 1000000 // maxc AS p_ppm,
      |    ((row_number() OVER (ORDER BY cents, o_orderkey) - 1) * 10)
      |      // n AS g
      |  FROM x CROSS JOIN mx),
      |b AS (
      |  SELECT g, count(*) AS n, CAST(sum(label) AS BIGINT) AS o,
      |    sum(CAST(p_ppm AS HUGEINT)) AS e6
      |  FROM p GROUP BY g),
      |terms AS (
      |  SELECT g, n, o,
      |    CAST(round(
      |      (CAST(o AS DOUBLE) - CAST(e6 AS DOUBLE) / 1000000)
      |      * (CAST(o AS DOUBLE) - CAST(e6 AS DOUBLE) / 1000000)
      |      / ((CAST(e6 AS DOUBLE) / 1000000)
      |        * (1 - CAST(e6 AS DOUBLE) / 1000000 / n))
      |      * 1000000) AS HUGEINT) AS t6
      |  FROM b)
      |SELECT CAST(sum(n) AS BIGINT) AS n, CAST(count(*) AS INT) AS g,
      |  ROUND(CAST(sum(t6) AS DOUBLE) / 1000000, 6) AS chi2_hl,
      |  CAST(count(*) - 2 AS BIGINT) AS df
      |FROM terms""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val x = scored(s, d)
    val mx = x.agg(max(col("cents")).as("maxc"))
    val (ranked, n) = graft.plans.GlobalRank.withGlobalRowNumber(
      x, "rk", 32, col("cents"), col("o_orderkey"))
    val p = ranked.crossJoin(broadcast(mx))
      .select(col("label"),
        expr("cents * 1000000 DIV maxc").as("p_ppm"),
        expr(s"((rk - 1) * 10) DIV ${n}L").as("g"))
    val b = p.groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("label")).cast(LongType).as("o"),
        sum(col("p_ppm").cast(big38)).as("e6"))
    val e = col("e6").cast(DoubleType) / 1000000L
    val t6 = round((col("o").cast(DoubleType) - e)
      * (col("o").cast(DoubleType) - e)
      / (e * (lit(1) - e / col("n"))) * 1000000L).cast(big38)
    b.select(col("n"), t6.as("t6"))
      .agg(sum(col("n")).cast(LongType).as("n"),
        count(lit(1)).cast(IntegerType).as("g"),
        round(sum(col("t6")).cast(DoubleType) / 1000000L, 6).as("chi2_hl"),
        (count(lit(1)) - 2).cast(LongType).as("df"))
  }

  /** Uplift-by-decile harness (the A/B readout a targeting model needs):
    * deterministic hash-split of customers into treatment/control,
    * outcome = ordered in 1997+, deciles of the acctbal score via ONE
    * GlobalRank pass. Per decile: arm sizes, conversions, the uplift
    * point estimate, and the CUMULATIVE uplift curve (the Qini-style
    * top-k readout) — all counts exact integers, rates/uplift final
    * µ-integer DIVs. On a null treatment (hash split) the curve should
    * hug 0 — the A/A-style sanity rail (q_aa_calibration's idiom) that
    * validates the harness before a real campaign runs through it. */
  val qUpliftDeciles = Q(
    "q_uplift_deciles",
    """WITH conv AS (
      |  SELECT DISTINCT o_custkey FROM orders
      |  WHERE CAST(o_orderdate AS DATE) >= DATE '1997-01-01'),
      |c AS (
      |  SELECT c_custkey,
      |    CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) % 2 AS treat,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
      |    CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END AS y
      |  FROM customer LEFT JOIN conv ON c_custkey = o_custkey),
      |n AS (SELECT count(*) AS n FROM c),
      |r AS (
      |  SELECT treat, y,
      |    ((row_number() OVER (ORDER BY bal DESC, c_custkey) - 1) * 10)
      |      // n AS decile
      |  FROM c CROSS JOIN n),
      |d AS (
      |  SELECT decile,
      |    sum(treat) AS n_t, sum(1 - treat) AS n_c,
      |    sum(treat * y) AS conv_t, sum((1 - treat) * y) AS conv_c
      |  FROM r GROUP BY decile),
      |cum AS (
      |  SELECT decile, n_t, n_c, conv_t, conv_c,
      |    sum(n_t) OVER w AS ct_n, sum(n_c) OVER w AS cc_n,
      |    sum(conv_t) OVER w AS ct_conv, sum(conv_c) OVER w AS cc_conv
      |  FROM d WINDOW w AS (ORDER BY decile))
      |SELECT CAST(decile AS INT) AS decile,
      |  CAST(n_t AS BIGINT) AS n_t, CAST(n_c AS BIGINT) AS n_c,
      |  CAST(conv_t AS BIGINT) AS conv_t, CAST(conv_c AS BIGINT) AS conv_c,
      |  ROUND(CAST(conv_t * 1000000 // n_t AS DOUBLE) / 1000000
      |    - CAST(conv_c * 1000000 // n_c AS DOUBLE) / 1000000, 6)
      |    AS uplift,
      |  ROUND(CAST(ct_conv * 1000000 // ct_n AS DOUBLE) / 1000000
      |    - CAST(cc_conv * 1000000 // cc_n AS DOUBLE) / 1000000, 6)
      |    AS uplift_cum
      |FROM cum ORDER BY decile""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val conv = t(s, d, "orders")
      .filter(col("o_orderdate").cast(DateType) >= lit("1997-01-01"))
      .select(col("o_custkey")).distinct()
    val c = t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
      .join(conv, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"),
        (graft.llm.TextOps.hash60(col("c_custkey").cast(StringType)) % 2)
          .as("treat"),
        (dec2(col("c_acctbal")) * 100).cast(LongType).as("bal"),
        when(col("o_custkey").isNull, 0).otherwise(1).as("y"))
    val (ranked, n) = graft.plans.GlobalRank.withGlobalRowNumber(
      c, "rk", 32, -col("bal"), col("c_custkey"))
    val d0 = ranked
      .select(col("treat"), col("y"),
        expr(s"((rk - 1) * 10) DIV ${n}L").as("decile"))
      .groupBy("decile")
      .agg(sum(col("treat")).as("n_t"),
        sum(lit(1) - col("treat")).as("n_c"),
        sum(col("treat") * col("y")).as("conv_t"),
        sum((lit(1) - col("treat")) * col("y")).as("conv_c"))
    // cumulative over the bounded 10-row decile panel
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = d0.limit(10)
      .withColumn("ct_n", sum(col("n_t")).over(w))
      .withColumn("cc_n", sum(col("n_c")).over(w))
      .withColumn("ct_conv", sum(col("conv_t")).over(w))
      .withColumn("cc_conv", sum(col("conv_c")).over(w))
    def rate(conv: String, nn: String) =
      expr(s"CAST($conv * 1000000 DIV $nn AS DOUBLE) / 1000000")
    cum.select(col("decile").cast(IntegerType).as("decile"),
      col("n_t").cast(LongType).as("n_t"),
      col("n_c").cast(LongType).as("n_c"),
      col("conv_t").cast(LongType).as("conv_t"),
      col("conv_c").cast(LongType).as("conv_c"),
      round(rate("conv_t", "n_t") - rate("conv_c", "n_c"), 6).as("uplift"),
      round(rate("ct_conv", "ct_n") - rate("cc_conv", "cc_n"), 6)
        .as("uplift_cum"))
      .orderBy("decile")
  }

  val all: Seq[Q] = Seq(qIsotonic, qAuc, qLiftDeciles, qConfusionMatrix,
    qCalibration, qMrr, qIpsEstimate, qMapAtK, qMapAtKAnn,
    qFeatureCorrTarget,
    qAucByGroup, qPrCurve, qKsModel, qBrierDecomp, qRegressionMetrics,
    qChi2FeatureSelect, qInfoGain, qDecisionStump, qCramersMatrix, qVif,
    qFairnessClf, qOddsRatioCi, qHosmerLemeshow, qUpliftDeciles)
}
