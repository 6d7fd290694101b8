package graft.operators

import graft.Q
import graft.Dsl._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-4 analytics/warehouse additions: CDC merge-upsert, one-scan
  * correlation matrix, quantile bucketing, rolling robust statistics,
  * lexical diversity, iterative PageRank, two-proportion A/B testing, and
  * blocked fuzzy (entity-resolution) joins. Same determinism contract as
  * the rest of the registry: exact int/decimal math wherever possible,
  * identical double op-order on both engines elsewhere, round 6 on the
  * final double columns, total ORDER BY.
  */
object AnalyticsQueries {

  private def eventsUs(s: SparkSession, d: String): DataFrame =
    t(s, d, "events").select(col("user_id"), col("event_id"),
      col("event_type"), col("value"),
      unix_micros(col("ts").cast(TimestampType)).as("us"))

  /** CDC merge/upsert (MERGE INTO semantics, batch shape): a base snapshot
    * (latest state per user before the cutoff) upserted with a changelog
    * delta (events after the cutoff, latest per key wins, unseen keys
    * insert). The oracle recomputes latest-per-user over ALL events — the
    * merge must equal the recompute, which is the correctness property a
    * nightly 100 TB CDC pipeline relies on: only the delta is scanned,
    * never history. Both windows partition by user_id (one shuffle key);
    * the final merge is a user_id equi full-outer join of two
    * already-deduplicated (user-unique) sides. */
  val qMergeUpsert = Q(
    "q_merge_upsert",
    """SELECT user_id, state, us FROM (
      |  SELECT user_id, event_type AS state, epoch_us(ts) AS us,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
      |  FROM events) x
      |WHERE rk = 1 ORDER BY user_id""".stripMargin) { (s, d) =>
    val ev = eventsUs(s, d)
    def latest(df: DataFrame): DataFrame = {
      val w = Window.partitionBy("user_id")
        .orderBy(col("us").desc, col("event_id").desc)
      df.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("user_id"), col("event_type").as("state"), col("us"))
    }
    // The cutoff is internal to the merge (the oracle recomputes from
    // scratch); any boundary produces the same merged result.
    val cut = ts("2024-01-20 00:00:00")
    val base = latest(ev.filter(col("us") <
      unix_micros(cut.cast(TimestampType))))
    val delta = latest(ev.filter(col("us") >=
      unix_micros(cut.cast(TimestampType))))
      .select(col("user_id"), col("state").as("d_state"), col("us").as("d_us"))
    base.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        coalesce(col("d_state"), col("state")).as("state"),
        coalesce(col("d_us"), col("us")).as("us"))
      .orderBy("user_id")
  }

  private val corrPairs = Seq(
    ("disc~tax", "l_discount", "l_tax"),
    ("price~disc", "l_extendedprice", "l_discount"),
    ("price~tax", "l_extendedprice", "l_tax"),
    ("qty~disc", "l_quantity", "l_discount"),
    ("qty~price", "l_quantity", "l_extendedprice"),
    ("qty~tax", "l_quantity", "l_tax"))

  /** Pairwise Pearson correlation matrix over the lineitem measures in ONE
    * scan: a single aggregate computes all co-moments, then `stack`
    * unpivots to (pair, r) rows. The oracle recomputes each pair with its
    * own scan — irrelevant for DuckDB, but on 100 TB the one-scan shape is
    * the entire point (feature-correlation profiling reads the fact table
    * once, not C(k,2) times).
    *
    * Co-moments are EXACT integers (measures quantized to cents, per-row
    * products ≤10¹⁴ in int64, sums in DECIMAL(38)/HUGEINT), so unlike the
    * built-in corr() the merge order of partial aggregates cannot perturb
    * the result at ANY parallelism or data size — r is assembled from the
    * exact sums in one fixed-op-order double expression (the
    * q_regression_multi normal-equations idiom, closing the round-5
    * DeterminismSpec flag on double co-moment merges). */
  val qCorrMatrix = Q(
    "q_corr_matrix", {
    val ints = Seq("q" -> "l_quantity", "p" -> "l_extendedprice",
      "dd" -> "l_discount", "t" -> "l_tax")
    val abbrev = Map("l_quantity" -> "q", "l_extendedprice" -> "p",
      "l_discount" -> "dd", "l_tax" -> "t")
    val xCols = ints.map { case (k, c) =>
      s"CAST(CAST($c AS DECIMAL(18,2)) * 100 AS BIGINT) AS $k" }
      .mkString(",\n    ")
    val sums = ints.map { case (k, _) =>
      s"CAST(sum(CAST($k AS HUGEINT)) AS HUGEINT) AS s_$k" } ++
      ints.map { case (k, _) =>
        s"CAST(sum(CAST($k AS HUGEINT) * $k) AS HUGEINT) AS s_${k}${k}" } ++
      corrPairs.map { case (_, a, b) =>
        val (ka, kb) = (abbrev(a), abbrev(b))
        s"CAST(sum(CAST($ka AS HUGEINT) * $kb) AS HUGEINT) AS s_${ka}${kb}" }
    val rs = corrPairs.map { case (name, a, b) =>
      val (ka, kb) = (abbrev(a), abbrev(b))
      s"""SELECT '$name' AS pair,
         |  ROUND(CAST(n * s_${ka}${kb} - s_$ka * s_$kb AS DOUBLE)
         |    / (sqrt(CAST(n * s_${ka}${ka} - s_$ka * s_$ka AS DOUBLE))
         |      * sqrt(CAST(n * s_${kb}${kb} - s_$kb * s_$kb AS DOUBLE))), 6)
         |    AS r FROM m""".stripMargin }
    s"""WITH x AS (
       |  SELECT $xCols
       |  FROM lineitem),
       |m AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    ${sums.mkString(",\n    ")}
       |  FROM x)
       |${rs.mkString("\nUNION ALL\n")}
       |ORDER BY pair""".stripMargin
    }) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val abbrev = Map("l_quantity" -> "q", "l_extendedprice" -> "p",
      "l_discount" -> "dd", "l_tax" -> "t")
    val x = t(s, d, "lineitem").select(abbrev.toSeq.sortBy(_._2).map {
      case (c, k) => (dec2(col(c)) * 100).cast(LongType).as(k) }: _*)
    val keys = abbrev.values.toSeq.sorted
    val aggs =
      Seq(count(lit(1)).cast(big38).as("n")) ++
        keys.map(k => sum(col(k).cast(big38)).as(s"s_$k")) ++
        keys.map(k => sum((col(k) * col(k)).cast(big38)).as(s"s_$k$k")) ++
        corrPairs.map { case (_, a, b) =>
          val (ka, kb) = (abbrev(a), abbrev(b))
          sum((col(ka) * col(kb)).cast(big38)).as(s"s_$ka$kb") }
    val m = x.agg(aggs.head, aggs.tail: _*)
    val rCols = corrPairs.map { case (name, a, b) =>
      val (ka, kb) = (abbrev(a), abbrev(b))
      round((col("n") * col(s"s_$ka$kb") - col(s"s_$ka") * col(s"s_$kb"))
        .cast(DoubleType)
        / (sqrt((col("n") * col(s"s_$ka$ka") - col(s"s_$ka") * col(s"s_$ka"))
            .cast(DoubleType))
          * sqrt((col("n") * col(s"s_$kb$kb") - col(s"s_$kb") * col(s"s_$kb"))
            .cast(DoubleType))), 6).as(s"r_$name")
    }
    val stackExpr = s"stack(${corrPairs.length}, " + corrPairs
      .map { case (name, _, _) => s"'$name', `r_$name`" }
      .mkString(", ") + ") AS (pair, r)"
    m.select(rCols: _*)
      .select(expr(stackExpr))
      .orderBy("pair")
  }

  /** Exact-quantile feature bucketing: quartile cuts of o_totalprice
    * (computed once, rounded 6 so both engines bucket against the SAME
    * boundary values), broadcast to every row, per-bucket count + exact
    * decimal revenue. This is the binning primitive of feature pipelines.
    * The cut computation is SCALE-GATED via [[graft.ApproxGate]] (r10
    * ladder fix): exact `percentile` at oracle scales (DuckDB-identical
    * cuts), `approx_percentile` (mergeable sketch, same
    * broadcast-the-cuts shape) past the row threshold where the exact
    * single-reducer value map measurably breaks (51x at sf1). */
  val qQuantileBuckets = Q(
    "q_quantile_buckets",
    """-- ORACLE-SCALE SEMANTICS ONLY: past ApproxGate.pctRowThreshold base
      |-- rows the Spark side switches to a mergeable approx_percentile
      |-- sketch; this exact form is what's compared at oracle scales.
      |WITH cuts AS (
      |  SELECT ROUND(quantile_cont(o_totalprice, 0.25), 6) AS q1,
      |         ROUND(quantile_cont(o_totalprice, 0.50), 6) AS q2,
      |         ROUND(quantile_cont(o_totalprice, 0.75), 6) AS q3
      |  FROM orders)
      |SELECT CAST(CASE WHEN o_totalprice <= q1 THEN 1
      |            WHEN o_totalprice <= q2 THEN 2
      |            WHEN o_totalprice <= q3 THEN 3 ELSE 4 END AS INT)
      |    AS bucket,
      |  count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders, cuts
      |GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    val orders = t(s, d, "orders")
    val ap = graft.ApproxGate.useApprox(s, d, "orders")
    val cuts = orders.agg(
      round(graft.ApproxGate.pct(col("o_totalprice"), 0.25, ap), 6).as("q1"),
      round(graft.ApproxGate.pct(col("o_totalprice"), 0.50, ap), 6).as("q2"),
      round(graft.ApproxGate.pct(col("o_totalprice"), 0.75, ap), 6).as("q3"))
    orders.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        when(col("o_totalprice") <= col("q1"), 1)
          .when(col("o_totalprice") <= col("q2"), 2)
          .when(col("o_totalprice") <= col("q3"), 3)
          .otherwise(4).cast(IntegerType))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        asDbl(sum(dec2(col("o_totalprice")))).as("revenue"))
      .orderBy("bucket")
  }

  /** Rolling robust statistic: per-user median of the last 7 event values
    * (time-series denoising that outliers can't drag, unlike a rolling
    * mean). One window pass partitioned by user_id with a bounded ROWS
    * frame — state per group is 7 values regardless of history length, so
    * the frame never grows with data size. Median of doubles is selection
    * (+ midpoint average), deterministic on both engines; rounded 6. */
  val qRollingMedian = Q(
    "q_rolling_median",
    """SELECT user_id, event_id, us, ROUND(med7, 6) AS med7 FROM (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    median(value) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med7
      |  FROM events WHERE user_id % 25 = 0) x
      |ORDER BY user_id, us, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(-6, Window.currentRow)
    // median() refuses window frames in Spark; exact percentile(0.5) is
    // the same statistic and does support ROWS frames.
    eventsUs(s, d)
      .filter(col("user_id") % 25 === 0)
      .withColumn("med7", round(percentile(col("value"), lit(0.5)).over(w), 6))
      .select("user_id", "event_id", "us", "med7")
      .orderBy("user_id", "us", "event_id")
  }

  /** Per-source lexical diversity via the Simpson index, computed with
    * EXACT integer moments: n = Σc (token count), s2 = Σc² over the term
    * histogram — simpson = 1 − s2/n², effective vocabulary = n²/s2. Both
    * are pure integer aggregates with two double divisions at the end, so
    * the result is bit-identical across engines with no transcendental
    * (the reason to prefer Simpson over Shannon entropy here: no ln()).
    * A low effective vocab flags template/boilerplate-dominated sources
    * before they flood a training mix. */
  val qSourceDiversity = Q(
    "q_source_diversity",
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |cnt AS (SELECT source, term, count(*) AS c FROM tok GROUP BY 1, 2)
      |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  count(*) AS n_terms,
      |  ROUND(1 - CAST(sum(c * c) AS DOUBLE)
      |    / (CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)), 6)
      |    AS simpson,
      |  ROUND(CAST(sum(c) AS DOUBLE) * CAST(sum(c) AS DOUBLE)
      |    / CAST(sum(c * c) AS DOUBLE), 6) AS eff_vocab
      |FROM cnt GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val cnt = t(s, d, "documents")
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy("source", "term")
      .agg(count(lit(1)).as("c"))
    cnt.groupBy("source")
      .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("s2"),
        count(lit(1)).as("n_terms"))
      .select(col("source"), col("n").cast(LongType).as("n_tokens"),
        col("n_terms"),
        round(lit(1) - col("s2").cast(DoubleType)
          / (col("n").cast(DoubleType) * col("n").cast(DoubleType)), 6)
          .as("simpson"),
        round(col("n").cast(DoubleType) * col("n").cast(DoubleType)
          / col("s2").cast(DoubleType), 6).as("eff_vocab"))
      .orderBy("source")
  }

  /** Two damped PageRank iterations over the nation-level trade graph
    * (customer nation → supplier nation, edge weight = lineitem count),
    * via `plans.PageRank.iterate` — the iterative-graph-analytics shape:
    * the edge list aggregates once (the only data-sized shuffle), then
    * every iteration is broadcast-join + re-aggregate of the TINY edge
    * table. The oracle unrolls both iterations as CTEs. Rank flows only
    * through products/divisions of exact integer weights and one uniform
    * init, rounded 6 at the very end. */
  val qPagerank = Q(
    "q_pagerank",
    s"""WITH ${TradeGraph.edgesSql("CAST(count(*) AS DOUBLE)")},
      |ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
      |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nation),
      |r0 AS (SELECT n_nationkey AS id, 1.0 / nn.n AS pr
      |       FROM nation, nn),
      |c1 AS (
      |  SELECT e.dst, sum(r0.pr * e.w / ow.outw) AS inflow
      |  FROM e JOIN r0 ON e.src = r0.id JOIN ow ON e.src = ow.src
      |  GROUP BY e.dst),
      |r1 AS (
      |  SELECT nt.n_nationkey AS id,
      |    0.15 / nn.n + 0.85 * coalesce(c1.inflow, 0) AS pr
      |  FROM nation nt CROSS JOIN nn
      |  LEFT JOIN c1 ON c1.dst = nt.n_nationkey),
      |c2 AS (
      |  SELECT e.dst, sum(r1.pr * e.w / ow.outw) AS inflow
      |  FROM e JOIN r1 ON e.src = r1.id JOIN ow ON e.src = ow.src
      |  GROUP BY e.dst),
      |r2 AS (
      |  SELECT nt.n_nationkey AS id,
      |    0.15 / nn.n + 0.85 * coalesce(c2.inflow, 0) AS pr
      |  FROM nation nt CROSS JOIN nn
      |  LEFT JOIN c2 ON c2.dst = nt.n_nationkey)
      |SELECT id AS nation_id, ROUND(pr, 6) AS pagerank
      |FROM r2 ORDER BY nation_id""".stripMargin) { (s, d) =>
    // The aggregated edge list is bounded by nations² (≤625 rows) but is
    // re-read every PageRank iteration; the shared TradeGraph local
    // relation (one fact join per run, collected once — the former
    // per-query materialization, hoisted) serves it here and in q_ppr
    // and the five GraphQueries centralities.
    val edges = TradeGraph.edges(s, d)
      .select(col("src"), col("dst"), col("w").cast(DoubleType).as("w"))
    val nodes = t(s, d, "nation").select(col("n_nationkey").as("id"))
    graft.plans.PageRank.iterate(nodes, edges, iters = 2, damping = 0.85)
      .select(col("id").as("nation_id"), round(col("rank"), 6).as("pagerank"))
      .orderBy("nation_id")
  }

  /** Two-proportion z-test per market segment (segment vs all other
    * segments): conversion = the customer has at least one purchase
    * event. Every input to the statistic is an exact integer count, and
    * the z formula applies the identical operation order on both engines
    * (division, subtraction, sqrt — all correctly-rounded IEEE ops), so
    * the result is bit-stable before the final round 6. The experiment-
    * readout primitive of product analytics, one scan + one broadcast. */
  val qAbtestZtest = Q(
    "q_abtest_ztest",
    """WITH conv AS (
      |  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
      |seg AS (
      |  SELECT c_mktsegment AS segment, count(*) AS n,
      |    CAST(sum(CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS x
      |  FROM customer c LEFT JOIN conv p ON c.c_custkey = p.user_id
      |  GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
      |               CAST(sum(x) AS BIGINT) AS tx FROM seg)
      |SELECT segment, n, x,
      |  ROUND(CAST(x AS DOUBLE) / n, 6) AS rate,
      |  ROUND((CAST(x AS DOUBLE) / n
      |      - CAST(tx - x AS DOUBLE) / (tn - n))
      |    / sqrt((CAST(tx AS DOUBLE) / tn) * (1 - CAST(tx AS DOUBLE) / tn)
      |        * (1.0 / n + 1.0 / (tn - n))), 6) AS z
      |FROM seg, tot ORDER BY segment""".stripMargin) { (s, d) =>
    val conv = t(s, d, "events")
      .filter(col("event_type") === "purchase")
      .select(col("user_id")).distinct()
    val seg = t(s, d, "customer")
      .join(broadcast(conv), col("c_custkey") === col("user_id"), "left")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("user_id").isNotNull, 1).otherwise(0))
          .cast(LongType).as("x"))
    val tot = seg.agg(sum(col("n")).cast(LongType).as("tn"),
      sum(col("x")).cast(LongType).as("tx"))
    val xD = col("x").cast(DoubleType)
    val restX = (col("tx") - col("x")).cast(DoubleType)
    val pPool = col("tx").cast(DoubleType) / col("tn")
    seg.crossJoin(broadcast(tot))
      .select(col("segment"), col("n"), col("x"),
        round(xD / col("n"), 6).as("rate"),
        round((xD / col("n") - restX / (col("tn") - col("n")))
          / sqrt(pPool * (lit(1) - pPool)
            * (lit(1.0) / col("n") + lit(1.0) / (col("tn") - col("n")))), 6)
          .as("z"))
      .orderBy("segment")
  }

  /** Blocked fuzzy join (entity resolution): candidate part pairs share a
    * blocking key, survivors have name edit distance ≤ 3. Blocking is
    * what makes fuzzy matching subquadratic — the self-join is equi on
    * the block key, so at 100 TB it's one co-partitioned shuffle and the
    * quadratic levenshtein work is confined to each (small) block; a
    * skewed mega-block is the standard AQE-skew / salting case.
    *
    * The blocking key GROWS with the data (sf1-ladder fix, VERDICT r10
    * task 1a): a fixed (brand, size mod 10) key has cardinality 250, so
    * within-block pairs grow quadratically with the catalog (200 k parts
    * → ~160 M levenshtein pairs at sf1, 44× the 10× data ratio). The fix
    * is MULTI-PASS blocking (the standard ER design for bounded blocks
    * without losing matches): candidates are the UNION of a
    * name-PREFIX-keyed pass and a name-SUFFIX-keyed pass, each of length
    * k = max(0, ceil(log10(n / 50000))) — each pass multiplies key
    * cardinality ~10× per decade of growth, holding expected block size
    * (and hence pairs per input row) bounded, while a near-duplicate
    * that differs at one end of the name is still caught by the other
    * end's pass. Prefix-ONLY blocking measurably loses pairs on this
    * catalog (627 941 of 2 503 354 sf1 survivors differ in the first
    * character — e.g. "cold bolt"/"hot bolt"); the union is EXACTLY
    * lossless at sf1 (DuckDB cross-check: 2 503 354 = 2 503 354, 0
    * lost, SCALE.md r11). The oracle SQL computes the same k from the
    * same count, so both engines block identically at every scale; at
    * oracle scales (n ≤ 20 k → k = 0) both keys are empty and results
    * are bit-identical to the single-key query. */
  val qFuzzyJoin = Q(
    "q_fuzzy_join",
    """WITH kk AS (
      |  SELECT CAST(greatest(0, ceil(log10(count(*) / 50000.0))) AS INT)
      |    AS k FROM part)
      |SELECT pk_a, pk_b, dist FROM (
      |  SELECT a.p_partkey AS pk_a, b.p_partkey AS pk_b,
      |    CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_size % 10 = b.p_size % 10
      |    AND substr(a.p_name, 1, (SELECT k FROM kk))
      |      = substr(b.p_name, 1, (SELECT k FROM kk))
      |    AND a.p_partkey < b.p_partkey
      |  WHERE levenshtein(a.p_name, b.p_name) <= 3
      |  UNION
      |  SELECT a.p_partkey, b.p_partkey,
      |    CAST(levenshtein(a.p_name, b.p_name) AS INT)
      |  FROM part a JOIN part b
      |    ON a.p_brand = b.p_brand AND a.p_size % 10 = b.p_size % 10
      |    AND right(a.p_name, (SELECT k FROM kk))
      |      = right(b.p_name, (SELECT k FROM kk))
      |    AND a.p_partkey < b.p_partkey
      |  WHERE levenshtein(a.p_name, b.p_name) <= 3)
      |ORDER BY pk_a, pk_b""".stripMargin) { (s, d) =>
    val rawPart = t(s, d, "part")
    // One metadata-cheap count sizes the blocking keys; ceil(log10) adds
    // one char per decade past 50 k rows, so expected block size stays
    // O(1) as the catalog grows (25 brands × 10 sizes × ~10^k keys/pass).
    val n = rawPart.count()
    val k = math.max(0, math.ceil(math.log10(n / 50000.0)).toInt)
    fuzzyBlockedPairs(rawPart, k).orderBy("pk_a", "pk_b")
  }

  /** Multi-pass (prefix-k ∪ suffix-k) blocked edit-distance pairs —
    * q_fuzzy_join's candidate generator, parameterized by the blocking
    * width so its recall contract is testable directly.
    *
    * KNOWN RECALL BOUND (k ≥ 1): a pair within edit distance 3 that
    * changes BOTH its first k and its last k characters matches neither
    * pass and is dropped — e.g. k = 1, "aqua bolt x" vs "zqua bolt z"
    * (distance 2, edits at both ends). AnalyticsSpec pins this class
    * with a planted pair; the blocking is measured lossless on the sf1
    * catalog (0 of 2,503,354 survivors lost — its edits concentrate at
    * one end), and at every oracle scale k = 0 makes both keys empty,
    * i.e. exact. The oracle SQL computes the same k from the same
    * count, so both engines block identically at every scale. */
  private[graft] def fuzzyBlockedPairs(rawPart: DataFrame,
      k: Int): DataFrame = {
    val part = rawPart
      .select(col("p_partkey"), col("p_brand"),
        (col("p_size") % 10).as("blk"),
        substring(col("p_name"), 1, k).as("pfx"),
        expr(s"right(p_name, $k)").as("sfx"), col("p_name"))
    def pass(key: String): DataFrame = {
      val a = part.select(col("p_partkey").as("pk_a"), col("p_brand"),
        col("blk"), col(key), col("p_name").as("name_a"))
      val b = part.select(col("p_partkey").as("pk_b"), col("p_brand"),
        col("blk"), col(key), col("p_name").as("name_b"))
      a.join(b, Seq("p_brand", "blk", key))
        .filter(col("pk_a") < col("pk_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
        .filter(col("dist") <= 3)
        .select("pk_a", "pk_b", "dist")
    }
    // dist is a pure function of the pair, so pair-dedup ≡ row-distinct
    pass("pfx").unionByName(pass("sfx")).distinct()
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the value
    * distributions of purchase vs view events: D = max |F₁(v) − F₂(v)|
    * over all observed values. The cumulative counts are GLOBAL running
    * sums over the value order — computed via
    * `plans.GlobalRank.withGlobalRunningSums` (range-bucket two-pass, both
    * cumulative counts in ONE bucket pass), NOT an unpartitioned window,
    * so the distribution comparison survives 100 TB. Every input is an
    * exact integer count; the per-row |a1/n1 − a2/n2| involves no
    * summation of doubles, so D is bit-stable before the final round. */
  val qKsTest = Q(
    "q_ks_test",
    """WITH pv AS (
      |  SELECT value,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c1,
      |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c2
      |  FROM events WHERE event_type IN ('purchase', 'view')
      |  GROUP BY value),
      |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
      |               CAST(sum(c2) AS BIGINT) AS n2 FROM pv),
      |cum AS (
      |  SELECT sum(c1) OVER (ORDER BY value) AS a1,
      |         sum(c2) OVER (ORDER BY value) AS a2
      |  FROM pv)
      |SELECT ROUND(max(abs(CAST(a1 AS DOUBLE) / n1
      |  - CAST(a2 AS DOUBLE) / n2)), 6) AS ks_d, n1, n2
      |FROM cum, tot GROUP BY n1, n2""".stripMargin) { (s, d) =>
    val pv = t(s, d, "events")
      .filter(col("event_type").isin("purchase", "view"))
      .groupBy("value")
      .agg(sum(when(col("event_type") === "purchase", 1).otherwise(0))
          .cast(LongType).as("c1"),
        sum(when(col("event_type") === "view", 1).otherwise(0))
          .cast(LongType).as("c2"))
    val (cum, totals) = graft.plans.GlobalRank.withGlobalRunningSums(
      pv, Seq(col("c1") -> "a1", col("c2") -> "a2"), 8, col("value"))
    val Seq(n1, n2) = totals
    cum.agg(round(max(abs(col("a1").cast(DoubleType) / lit(n1)
        - col("a2").cast(DoubleType) / lit(n2))), 6).as("ks_d"))
      .select(col("ks_d"), lit(n1).as("n1"), lit(n2).as("n2"))
  }

  /** Time-weighted average (TWAP): per user, each event's value weighted
    * by the µs gap to the user's next event (last event carries no
    * weight). The irregular-sampling average of sensor/price/telemetry
    * analytics — a plain mean over-counts burst periods. One per-user
    * window pass (lead) + one grouped agg; weights are exact integer µs;
    * per-user double reductions rounded 6. */
  val qTimeWeightedAvg = Q(
    "q_time_weighted_avg",
    """WITH g AS (
      |  SELECT user_id, value, epoch_us(ts) AS us,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS next_us
      |  FROM events WHERE user_id % 20 = 0)
      |SELECT user_id, count(*) AS n_segments,
      |  ROUND(CAST(sum(value * (next_us - us)) AS DOUBLE)
      |    / CAST(sum(next_us - us) AS DOUBLE), 6) AS twap
      |FROM g WHERE next_us IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    eventsUs(s, d)
      .filter(col("user_id") % 20 === 0)
      .withColumn("next_us", lead(col("us"), 1).over(w))
      .filter(col("next_us").isNotNull)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_segments"),
        round(sum(col("value") * (col("next_us") - col("us")))
            .cast(DoubleType)
          / sum(col("next_us") - col("us")).cast(DoubleType), 6).as("twap"))
      .orderBy("user_id")
  }

  /** Deterministic importance-weighted sampling: keep a document with
    * probability min(1, n_chars/500) — longer docs kept whole, short ones
    * thinned — decided by content hash against an integer threshold
    * (hash % 1e6 < n_chars·2000), so the sample is reproducible across
    * engines, runs, and partitionings (the corpus-mixing upsample/
    * downsample knob; rand() would be none of those). Pure filter + one
    * bounded-key agg; zero shuffles of the unsampled corpus. */
  val qWeightedSample = Q(
    "q_weighted_sample",
    """SELECT source, count(*) AS n_kept,
      |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
      |FROM documents
      |WHERE CAST(concat('0x', substr(md5(text), 1, 15)) AS BIGINT)
      |    % 1000000 < least(1000000, CAST(n_chars AS BIGINT) * 2000)
      |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    t(s, d, "documents")
      .filter(graft.llm.TextOps.hash60(col("text")) % 1000000L <
        least(lit(1000000L), col("n_chars") * 2000L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).cast(LongType).as("chars_kept"))
      .orderBy("source")
  }

  /** Cumulative distinct count over a window — "how many distinct event
    * types has this user touched so far" — WITHOUT a distinct window
    * aggregate (neither engine supports one): a row is flagged on its
    * first (user, type) occurrence, and the running sum of flags IS the
    * cumulative distinct count. Both windows partition by user; the
    * first-touch-attribution shape of funnel analytics. */
  val qWindowCumdistinct = Q(
    "q_window_cumdistinct",
    """WITH f AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us,
      |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
      |      ORDER BY epoch_us(ts), event_id) = 1 THEN 1 ELSE 0 END
      |      AS first_flag
      |  FROM events WHERE user_id % 50 = 0)
      |SELECT user_id, event_id, us,
      |  CAST(sum(first_flag) OVER (PARTITION BY user_id
      |    ORDER BY us, event_id) AS BIGINT) AS n_types_so_far
      |FROM f ORDER BY user_id, us, event_id""".stripMargin) { (s, d) =>
    val wFirst = Window.partitionBy("user_id", "event_type")
      .orderBy("us", "event_id")
    val wRun = Window.partitionBy("user_id").orderBy("us", "event_id")
    eventsUs(s, d)
      .filter(col("user_id") % 50 === 0)
      .withColumn("first_flag",
        when(row_number().over(wFirst) === 1, 1).otherwise(0))
      .withColumn("n_types_so_far",
        sum(col("first_flag")).over(wRun).cast(LongType))
      .select("user_id", "event_id", "us", "n_types_so_far")
      .orderBy("user_id", "us", "event_id")
  }

  /** Snapshot diff / changelog generation (the inverse of q_merge_upsert):
    * per (user, event_type) activity counts of two time slices, each key
    * classified added / removed / changed / same — the table-regression
    * audit run before promoting a new pipeline drop. Both sides are
    * pre-aggregated before the full-outer join, so the join shuffles one
    * row per key, never raw rows; at 100 TB each slice scan is
    * partition-pruned by the time predicate and the diff cost is bounded
    * by the key domain. */
  val qSnapshotDiff = Q(
    "q_snapshot_diff",
    """WITH a AS (
      |  SELECT user_id, event_type, count(*) AS c FROM events
      |  WHERE epoch_us(ts) < epoch_us(TIMESTAMP '2024-01-16 00:00:00')
      |  GROUP BY 1, 2),
      |b AS (
      |  SELECT user_id, event_type, count(*) AS c FROM events
      |  WHERE epoch_us(ts) >= epoch_us(TIMESTAMP '2024-01-16 00:00:00')
      |  GROUP BY 1, 2)
      |SELECT coalesce(a.user_id, b.user_id) AS user_id,
      |  coalesce(a.event_type, b.event_type) AS event_type,
      |  CAST(coalesce(a.c, 0) AS BIGINT) AS cnt_a,
      |  CAST(coalesce(b.c, 0) AS BIGINT) AS cnt_b,
      |  CASE WHEN a.user_id IS NULL THEN 'added'
      |       WHEN b.user_id IS NULL THEN 'removed'
      |       WHEN a.c = b.c THEN 'same' ELSE 'changed' END AS status
      |FROM a FULL JOIN b
      |  ON a.user_id = b.user_id AND a.event_type = b.event_type
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    val ev = eventsUs(s, d)
    val cut = unix_micros(ts("2024-01-16 00:00:00").cast(TimestampType))
    val a = ev.filter(col("us") < cut)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("ca"))
    val b = ev.filter(col("us") >= cut)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("cb"))
    a.join(b, Seq("user_id", "event_type"), "full_outer")
      .select(col("user_id"), col("event_type"),
        coalesce(col("ca"), lit(0L)).as("cnt_a"),
        coalesce(col("cb"), lit(0L)).as("cnt_b"),
        when(col("ca").isNull, "added")
          .when(col("cb").isNull, "removed")
          .when(col("ca") === col("cb"), "same")
          .otherwise("changed").as("status"))
      .orderBy("user_id", "event_type")
  }

  /** Two-sample chi-square drift per event_type (categorical counterpart
    * of q_ks_test's numeric KS): expected counts e = n_slice·row_total/
    * grand from EXACT int64 products with a single double division each,
    * so every per-category term is bit-stable cross-engine before the
    * final round. One conditional-sum agg over a bounded category domain
    * plus a broadcast one-row totals frame — no second scan, no window. */
  val qChi2Drift = Q(
    "q_chi2_drift",
    """WITH m AS (
      |  SELECT event_type,
      |    sum(CASE WHEN epoch_us(ts) <
      |          epoch_us(TIMESTAMP '2024-01-16 00:00:00')
      |        THEN 1 ELSE 0 END) AS oa,
      |    sum(CASE WHEN epoch_us(ts) >=
      |          epoch_us(TIMESTAMP '2024-01-16 00:00:00')
      |        THEN 1 ELSE 0 END) AS ob
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(oa) AS BIGINT) AS na,
      |               CAST(sum(ob) AS BIGINT) AS nb FROM m)
      |SELECT event_type, CAST(oa AS BIGINT) AS cnt_a,
      |  CAST(ob AS BIGINT) AS cnt_b,
      |  ROUND(
      |    (oa - CAST(na * (oa + ob) AS DOUBLE) / (na + nb))
      |      * (oa - CAST(na * (oa + ob) AS DOUBLE) / (na + nb))
      |      / (CAST(na * (oa + ob) AS DOUBLE) / (na + nb))
      |    + (ob - CAST(nb * (oa + ob) AS DOUBLE) / (na + nb))
      |      * (ob - CAST(nb * (oa + ob) AS DOUBLE) / (na + nb))
      |      / (CAST(nb * (oa + ob) AS DOUBLE) / (na + nb)), 6)
      |    AS chi2_term
      |FROM m, tot ORDER BY event_type""".stripMargin) { (s, d) =>
    val ev = eventsUs(s, d)
    val cut = unix_micros(ts("2024-01-16 00:00:00").cast(TimestampType))
    val m = ev.groupBy("event_type").agg(
      sum(when(col("us") < cut, 1L).otherwise(0L)).as("oa"),
      sum(when(col("us") >= cut, 1L).otherwise(0L)).as("ob"))
    val tot = m.agg(sum(col("oa")).as("na"), sum(col("ob")).as("nb"))
    val ea = (col("na") * (col("oa") + col("ob"))).cast(DoubleType) /
      (col("na") + col("nb"))
    val eb = (col("nb") * (col("oa") + col("ob"))).cast(DoubleType) /
      (col("na") + col("nb"))
    m.crossJoin(broadcast(tot))
      .select(col("event_type"), col("oa").as("cnt_a"), col("ob").as("cnt_b"),
        round((col("oa") - ea) * (col("oa") - ea) / ea +
          (col("ob") - eb) * (col("ob") - eb) / eb, 6).as("chi2_term"))
      .orderBy("event_type")
  }

  /** Peak concurrency by sweep-line: each event opens a 30-minute
    * activity interval [ts, ts+30m); boundary deltas (+1 open, −1 close)
    * are pre-aggregated per boundary instant, then the GLOBAL running sum
    * runs through `GlobalRank.withGlobalRunningSums` (two-pass range
    * bucketing) — never an unpartitioned window, so the capacity-planning
    * staple survives 100 TB of telemetry. Exact integer µs and counts
    * throughout. */
  val qIntervalOverlap = Q(
    "q_interval_overlap",
    """WITH b AS (
      |  SELECT epoch_us(ts) AS t, 1 AS delta FROM events
      |  UNION ALL
      |  SELECT epoch_us(ts) + 1800000000 AS t, -1 AS delta FROM events),
      |n AS (SELECT t, sum(delta) AS net FROM b GROUP BY t),
      |c AS (SELECT t, sum(net) OVER (ORDER BY t) AS cum FROM n)
      |SELECT CAST(x.mx AS BIGINT) AS max_concurrent,
      |  CAST(y.t0 AS BIGINT) AS at_us
      |FROM (SELECT max(cum) AS mx FROM c) x,
      |  (SELECT min(t) AS t0 FROM c
      |   WHERE cum = (SELECT max(cum) FROM c)) y""".stripMargin) { (s, d) =>
    val ev = eventsUs(s, d)
    val bounds = ev.select(col("us").as("t"), lit(1L).as("delta"))
      .unionByName(ev.select((col("us") + 1800000000L).as("t"),
        lit(-1L).as("delta")))
    val net = bounds.groupBy("t").agg(sum(col("delta")).as("net"))
    val (cum, _) = graft.plans.GlobalRank.withGlobalRunningSums(
      net, Seq(col("net") -> "cum"), 8, col("t"))
    cum.agg(max(struct(col("cum").as("c"), (-col("t")).as("negt"))).as("s"))
      .select(col("s.c").cast(LongType).as("max_concurrent"),
        (-col("s.negt")).cast(LongType).as("at_us"))
  }

  /** Connected components under the oracle gate: min-label propagation
    * (`plans.LabelProp`) on a deterministically sparsified part
    * co-occurrence graph (parts sharing an order, ~5% of edges kept by
    * content hash so the fixture decomposes into many components instead
    * of one giant one). Exactly 3 synchronous sweeps — a FIXED sweep
    * count is what unrolls to ANSI CTEs; the convergence-loop variant is
    * `LabelProp.run`, asserted against GraphX CC in AnalyticsSpec. Each
    * sweep shuffles O(|E|) rows on vertex ids — no all-pairs stage. */
  val qCcLabelprop = Q(
    "q_cc_labelprop",
    s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e AS (
       |  SELECT src, dst FROM (
       |    SELECT DISTINCT a.pk AS src, b.pk AS dst
       |    FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk) p
       |  WHERE (CAST(concat('0x', substr(md5(concat(src, '_', dst)), 1, 15))
       |           AS BIGINT) % 20) = 0),
       |sym AS (SELECT src, dst FROM e
       |        UNION ALL SELECT dst AS src, src AS dst FROM e),
       |${graft.plans.LabelProp.iterateSql(3)}
       |SELECT v, CAST(lbl AS BIGINT) AS lbl FROM l3 ORDER BY v""".stripMargin) {
    (s, d) =>
      // distinct co-purchase pairs = the shared PairStore's key set (the
      // store's groupBy emits each src < dst pair once)
      val edges = PairStore.pairStats(s, d).select("src", "dst")
        .filter(conv(substring(md5(concat(col("src").cast(StringType),
          lit("_"), col("dst").cast(StringType))), 1, 15), 16, 10)
          .cast(LongType) % 20 === 0)
      graft.plans.LabelProp.iterate(edges, 3).orderBy("v")
  }

  /** Item-item co-occurrence similarity (market-basket "also bought"):
    * parts sharing an order, Jaccard = co / (nA + nB − co) from EXACT
    * integer supports, ranked by (support, Jaccard). The count-based
    * complement of q_mf_item_sim's ALS-factor similarity — no training,
    * directly auditable. The self-join is BLOCKED BY ORDER KEY, so pair
    * volume is Σ basket² (bounded basket size), never catalog²; the
    * per-part support join is a bounded-key dimension join AQE broadcasts
    * when small. Exact ints + one double division + round 6 = oracle. */
  val qItemCooccur = Q(
    "q_item_cooccur",
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |n AS (SELECT pk, count(*) AS n_ok FROM li GROUP BY pk),
      |co AS (
      |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_co
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2),
      |j AS (
      |  SELECT pa, pb, n_co,
      |    ROUND(CAST(n_co AS DOUBLE) / (na.n_ok + nb.n_ok - n_co), 6)
      |      AS jaccard
      |  FROM co JOIN n na ON co.pa = na.pk JOIN n nb ON co.pb = nb.pk
      |  WHERE n_co >= 2)
      |SELECT pa, pb, n_co, jaccard FROM j
      |ORDER BY n_co DESC, jaccard DESC, pa, pb LIMIT 100""".stripMargin) {
    (s, d) =>
      // n_co over distinct (ok, pk) cells = the store's n_dist; per-part
      // order support = one count over the store's deduped basket table
      val n = PairStore.liCounts(s, d).groupBy("pk")
        .agg(count(lit(1)).as("n_ok"))
      val co = PairStore.pairStats(s, d)
        .select(col("src").as("pa"), col("dst").as("pb"),
          col("n_dist").as("n_co"))
        .filter(col("n_co") >= 2)
      co.join(n.select(col("pk").as("pa"), col("n_ok").as("na")), Seq("pa"))
        .join(n.select(col("pk").as("pb"), col("n_ok").as("nb")), Seq("pb"))
        .select(col("pa"), col("pb"), col("n_co"),
          round(col("n_co").cast(DoubleType) /
            (col("na") + col("nb") - col("n_co")), 6).as("jaccard"))
        .orderBy(col("n_co").desc, col("jaccard").desc, col("pa"), col("pb"))
        .limit(100)
  }

  /** Event-path mining: per-user ordered event-type trigrams (two lead()
    * taps on ONE user-partitioned window pass — no self-joins) → global
    * path frequencies. The product-analytics "what do users do next"
    * staple; the only shuffles are the user-keyed window and the
    * bounded-domain (≤ types³) path groupBy. */
  val qEventPaths = Q(
    "q_event_paths",
    """WITH seq AS (
      |  SELECT user_id, event_type AS e1,
      |    lead(event_type, 1) OVER w AS e2,
      |    lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
      |SELECT e1, e2, e3, count(*) AS n_paths
      |FROM seq WHERE e3 IS NOT NULL
      |GROUP BY 1, 2, 3
      |ORDER BY n_paths DESC, e1, e2, e3 LIMIT 20""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    eventsUs(s, d)
      .select(col("user_id"), col("event_type").as("e1"),
        lead(col("event_type"), 1).over(w).as("e2"),
        lead(col("event_type"), 2).over(w).as("e3"))
      .filter(col("e3").isNotNull)
      .groupBy("e1", "e2", "e3")
      .agg(count(lit(1)).as("n_paths"))
      .orderBy(col("n_paths").desc, col("e1"), col("e2"), col("e3"))
      .limit(20)
  }

  /** Triangle counting on the co-purchase graph (edges = part pairs with
    * co-occurrence support ≥ 2, canonical src < dst): per-node triangle
    * participation + the global count — the clustering/community-density
    * primitive. One wedge join (e⋈e on the shared vertex) closed by an
    * edge-existence join: Σ deg² work, never vertex³; the support filter
    * is what keeps degrees bounded on a reference-scale graph (at 100 TB
    * you additionally hash-sparsify edges, the q_cc_labelprop dial). The
    * edge list is derived once and localCheckpoint'ed because the closure
    * join references it three times. */
  val qTriangleCount = Q(
    "q_triangle_count",
    s"""WITH ${PairStore.edgeCte()},
      |${PairStore.triangleCte}
      |SELECT v, n_tri, tot.total_triangles
      |FROM pern, (SELECT CAST(sum(n_tri) / 3 AS BIGINT)
      |            AS total_triangles FROM pern) tot
      |ORDER BY n_tri DESC, v LIMIT 20""".stripMargin) { (s, d) =>
    // the store frame is already checkpoint-backed, so the triangles'
    // triple self-reference re-reads blocks, not the fact join
    val pern = PairStore.triangleCounts(
      PairStore.triangles(PairStore.edges(s, d)).localCheckpoint())
    pern.crossJoin(pern.agg((sum(col("n_tri")) / 3).cast(LongType)
        .as("total_triangles")))
      .orderBy(col("n_tri").desc, col("v"))
      .limit(20)
  }

  /** Incremental JOIN-view maintenance (the join analog of q_incr_agg):
    * the maintained view = per-segment order counts + revenue from
    * orders⋈customer. The incremental path joins ONLY the delta slice
    * (orders after the cutoff) with the dimension, then re-aggregates
    * base partials ⊕ delta partials — equal, by the oracle's full
    * recompute, to scanning all of history. This is what lets a nightly
    * 100 TB pipeline pay join cost proportional to the delta: decimal
    * partials are additive/exact, the dimension join broadcasts, and the
    * base's partials would be a stored table, not a rescan. */
  val qIncrJoin = Q(
    "q_incr_join",
    """SELECT c_mktsegment, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |    AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val cust = t(s, d, "customer").select("c_custkey", "c_mktsegment")
    val cut = ts("1995-06-01 00:00:00")
    def partials(orders: DataFrame): DataFrame = orders
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("pn"), sum(dec2(col("o_totalprice"))).as("pr"))
    val ord = t(s, d, "orders")
      .select("o_custkey", "o_totalprice", "o_orderdate")
    val base = partials(ord.filter(col("o_orderdate") < cut))
    val delta = partials(ord.filter(col("o_orderdate") >= cut))
    base.unionByName(delta)
      .groupBy("c_mktsegment")
      .agg(sum(col("pn")).as("n_orders"), asDbl(sum(col("pr"))).as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** RFM customer segmentation (the CRM workhorse): per customer —
    * recency (days since last order, vs the corpus high-water date),
    * frequency (order count), monetary (exact decimal revenue) — each
    * scored into NTILE(4) quartiles (1 = best: most recent / most
    * frequent / highest spend), then profiled per (r,f,m) cell. The
    * ranking runs over the PER-CUSTOMER AGGREGATE (|customers| rows,
    * orders never sorted globally) and each quartile comes from
    * `GlobalRank.withGlobalRowNumber` + `ntileFromRank` — two-pass range
    * buckets, never an unpartitioned window, so the scoring pass survives
    * a customer dimension that no longer fits one task. Output domain is
    * ≤ 4³ cells; all cell stats are exact ints/decimals. */
  val qRfm = Q(
    "q_rfm",
    """WITH cust AS (
      |  SELECT o_custkey AS ck,
      |    date_diff('day', CAST(max(o_orderdate) AS DATE),
      |      (SELECT CAST(max(o_orderdate) AS DATE) FROM orders)) AS rec_days,
      |    count(*) AS freq,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      |  FROM orders GROUP BY 1),
      |scored AS (
      |  SELECT ck, monetary,
      |    NTILE(4) OVER (ORDER BY rec_days ASC,      ck) AS r_score,
      |    NTILE(4) OVER (ORDER BY freq DESC,         ck) AS f_score,
      |    NTILE(4) OVER (ORDER BY monetary DESC,     ck) AS m_score
      |  FROM cust)
      |SELECT r_score, f_score, m_score, count(*) AS n_cust,
      |  CAST(sum(monetary) AS DOUBLE) AS cell_revenue
      |FROM scored GROUP BY 1, 2, 3
      |ORDER BY r_score, f_score, m_score""".stripMargin) { (s, d) =>
    import graft.plans.GlobalRank
    val refDate = t(s, d, "orders").agg(max(col("o_orderdate").cast(DateType)).as("ref"))
    val cust = t(s, d, "orders")
      .groupBy(col("o_custkey").as("ck"))
      .agg(max(col("o_orderdate").cast(DateType)).as("last_d"),
        count(lit(1)).as("freq"), sum(dec2(col("o_totalprice"))).as("monetary"))
      .crossJoin(broadcast(refDate))
      .withColumn("rec_days", datediff(col("ref"), col("last_d")))
      .select("ck", "rec_days", "freq", "monetary")
      // three GlobalRank passes each re-derive their input; materialize
      // the |customers|-sized aggregate once so the fact table is scanned
      // once, not once per pass (the remaining ~2.7 s at sf0.1 is the
      // fixed job-count cost of 3 rank passes, not data volume)
      .localCheckpoint()
    // GlobalRank takes plain ascending sort columns (the head doubles as
    // the range-bucket key), so DESC orders ride in as negated metrics.
    val (r1, n1) = GlobalRank.withGlobalRowNumber(cust, "rn_r", 8,
      col("rec_days"), col("ck"))
    val (r2, n2) = GlobalRank.withGlobalRowNumber(r1, "rn_f", 8,
      -col("freq"), col("ck"))
    val (r3, n3) = GlobalRank.withGlobalRowNumber(r2, "rn_m", 8,
      -col("monetary"), col("ck"))
    r3.withColumn("r_score", GlobalRank.ntileFromRank(col("rn_r"), n1, 4))
      .withColumn("f_score", GlobalRank.ntileFromRank(col("rn_f"), n2, 4))
      .withColumn("m_score", GlobalRank.ntileFromRank(col("rn_m"), n3, 4))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_cust"),
        asDbl(sum(col("monetary"))).as("cell_revenue"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Market-basket association rules (directed a→b): support, confidence
    * = co/n_a, lift = N·co/(n_a·n_b) over order baskets. Candidate pairs
    * are BLOCKED BY ORDER KEY (Σ basket², never catalog²) exactly as in
    * q_item_cooccur; every score is one double division of exact int64
    * products, so the ranking is bit-stable across engines and partition
    * counts. The classic retail/recommendation rule miner. */
  val qAssocRules = Q(
    "q_assoc_rules",
    """WITH li AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
      |nb AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n FROM li),
      |sup AS (SELECT pk, count(*) AS n_ok FROM li GROUP BY pk),
      |co AS (
      |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_co
      |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |dir AS (
      |  SELECT pa AS ante, pb AS cons, n_co FROM co
      |  UNION ALL SELECT pb, pa, n_co FROM co),
      |rules AS (
      |  SELECT ante, cons, n_co,
      |    ROUND(CAST(n_co AS DOUBLE) / sa.n_ok, 6) AS confidence,
      |    ROUND(CAST(nb.n * n_co AS DOUBLE) / (sa.n_ok * sb.n_ok), 6)
      |      AS lift
      |  FROM dir JOIN sup sa ON dir.ante = sa.pk
      |           JOIN sup sb ON dir.cons = sb.pk
      |           CROSS JOIN nb)
      |SELECT ante, cons, n_co, confidence, lift FROM rules
      |ORDER BY lift DESC, confidence DESC, ante, cons LIMIT 50""".stripMargin) {
    (s, d) =>
      // basket count, per-part support and co-occurrence all off the
      // shared PairStore (n_dist = this CTE's distinct count)
      val li = PairStore.liCounts(s, d)
      val nBaskets = li.agg(countDistinct(col("ok")).as("n"))
      val sup = li.groupBy("pk").agg(count(lit(1)).as("n_ok"))
      val co = PairStore.pairStats(s, d)
        .select(col("src").as("pa"), col("dst").as("pb"),
          col("n_dist").as("n_co"))
        .filter(col("n_co") >= 2)
      val dir = co.select(col("pa").as("ante"), col("pb").as("cons"), col("n_co"))
        .unionByName(co.select(col("pb").as("ante"), col("pa").as("cons"),
          col("n_co")))
      dir.join(sup.select(col("pk").as("ante"), col("n_ok").as("na")), Seq("ante"))
        .join(sup.select(col("pk").as("cons"), col("n_ok").as("nb")), Seq("cons"))
        .crossJoin(broadcast(nBaskets))
        .select(col("ante"), col("cons"), col("n_co"),
          round(col("n_co").cast(DoubleType) / col("na"), 6).as("confidence"),
          round((col("n") * col("n_co")).cast(DoubleType) /
            (col("na") * col("nb")), 6).as("lift"))
        .orderBy(col("lift").desc, col("confidence").desc, col("ante"),
          col("cons"))
        .limit(50)
  }

  /** Per-nation Gini coefficient of customer revenue — the inequality /
    * concentration metric (suppliers-vs-long-tail, data-source skew). All
    * math is exact int64 cents: per-customer revenue ranks come from a
    * NATION-PARTITIONED window (bounded partitions — no global sort), the
    * Gini numerator 2·Σ rank·x − (n+1)·Σx and denominator n·Σx stay
    * integral, and the single double division + round 6 at the end is
    * bit-stable on both engines. Customers with no orders count as zero
    * revenue (LEFT join), which is what makes the metric honest. */
  val qGini = Q(
    "q_gini",
    """WITH rev AS (
      |  SELECT c_custkey AS ck, c_nationkey AS nk,
      |    CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) * 100
      |      AS BIGINT) AS cents
      |  FROM customer LEFT JOIN orders ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT nk, cents,
      |    row_number() OVER (PARTITION BY nk ORDER BY cents, ck) AS rn
      |  FROM rev),
      |agg AS (
      |  SELECT nk, count(*) AS n_cust, sum(cents) AS sx,
      |    sum(rn * cents) AS srx
      |  FROM ranked GROUP BY nk)
      |SELECT nk AS nation, n_cust,
      |  ROUND(CAST(2 * srx - (n_cust + 1) * sx AS DOUBLE)
      |    / CAST(n_cust * sx AS DOUBLE), 6) AS gini
      |FROM agg ORDER BY nation""".stripMargin) { (s, d) =>
    val rev = t(s, d, "customer").select("c_custkey", "c_nationkey")
      .join(t(s, d, "orders").select("o_custkey", "o_totalprice"),
        col("o_custkey") === col("c_custkey"), "left")
      .groupBy(col("c_custkey").as("ck"), col("c_nationkey").as("nk"))
      .agg((coalesce(sum(dec2(col("o_totalprice"))), lit(0)) * 100)
        .cast(LongType).as("cents"))
    val w = Window.partitionBy("nk").orderBy(col("cents"), col("ck"))
    rev.withColumn("rn", row_number().over(w).cast(LongType))
      .groupBy("nk")
      .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("sx"),
        sum(col("rn") * col("cents")).as("srx"))
      .select(col("nk").as("nation"), col("n_cust"),
        round((lit(2) * col("srx") - (col("n_cust") + 1) * col("sx"))
          .cast(DoubleType) /
          (col("n_cust") * col("sx")).cast(DoubleType), 6).as("gini"))
      .orderBy("nation")
  }

  /** Lag-k autocorrelation of the daily revenue series (1 / 7 / 28-day
    * lags — trend + weekly + monthly seasonality probes). The series is
    * the per-day exact-cents aggregate (|days| rows — the fact table is
    * reduced before anything quadratic-ish happens); lag pairs come from
    * a date-shifted self-equi-join (never a global window), and Pearson r
    * is assembled from EXACT wide-decimal sums (Σx, Σy, Σxy, Σx², Σy² —
    * products cast to DECIMAL(38,0)/HUGEINT before multiplying so nothing
    * overflows or rounds), with doubles entering only in the final
    * num/√·√ expression, identically ordered on both engines, round 6. */
  val qAutocorr = Q(
    "q_autocorr",
    """WITH series AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |lags(lag) AS (VALUES (1), (7), (28)),
      |pairs AS (
      |  SELECT l.lag, CAST(a.cents AS HUGEINT) AS x,
      |         CAST(b.cents AS HUGEINT) AS y
      |  FROM series a CROSS JOIN lags l
      |  JOIN series b ON b.day = a.day - l.lag),
      |m AS (
      |  SELECT lag, CAST(count(*) AS HUGEINT) AS n,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
      |    sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM pairs GROUP BY lag)
      |SELECT lag, CAST(n AS BIGINT) AS n_pairs,
      |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS r
      |FROM m ORDER BY lag""".stripMargin) { (s, d) =>
    val big = DecimalType(38, 0)
    val series = t(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("day"))
      .agg((sum(dec2(col("o_totalprice"))) * 100).cast(LongType).as("cents"))
    import s.implicits._
    val lags = Seq(1, 7, 28).toDF("lag")
    val a = series.select(col("day"), col("cents").cast(big).as("x"))
      .crossJoin(broadcast(lags))
    val b = series.select(col("day").as("bday"), col("cents").cast(big).as("y"))
    val pairs = a.join(b, date_sub(col("day"), col("lag")) === col("bday"))
    pairs.groupBy("lag")
      .agg(count(lit(1)).cast(big).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag"), col("n").cast(LongType).as("n_pairs"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType)
          / (sqrt((col("n") * col("sxx") - col("sx") * col("sx"))
              .cast(DoubleType))
            * sqrt((col("n") * col("syy") - col("sy") * col("sy"))
              .cast(DoubleType))), 6).as("r"))
      .orderBy("lag")
  }

  /** Degree distribution of the co-purchase graph (same support ≥ 2 edge
    * derivation as q_triangle_count): per-vertex degree, then the degree
    * histogram with a cumulative node count — the first thing to look at
    * before running any graph algorithm (skew / hub detection; it is what
    * tells you whether q_cc_labelprop needs sparsification). The
    * cumulative window runs over the HISTOGRAM (|distinct degrees| rows —
    * a bounded post-aggregation domain), never over vertices. */
  val qDegreeHist = Q(
    "q_degree_hist",
    s"""WITH ${PairStore.edgeCte()},
      |deg AS (
      |  SELECT v, count(*) AS degree FROM (
      |    SELECT src AS v FROM e UNION ALL SELECT dst FROM e) u
      |  GROUP BY v),
      |hist AS (SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree)
      |SELECT degree, n_nodes,
      |  CAST(sum(n_nodes) OVER (ORDER BY degree) AS BIGINT) AS cum_nodes
      |FROM hist ORDER BY degree""".stripMargin) { (s, d) =>
    // support ≥ 2 edges off the shared PairStore (n_dist = this CTE's
    // distinct co-occurrence count)
    val e = PairStore.edges(s, d)
    val deg = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy("degree").agg(count(lit(1)).as("n_nodes"))
    // bounded-domain cumulative: |distinct degrees| rows, not vertices
    val w = Window.orderBy("degree")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum_nodes", sum(col("n_nodes")).over(w).cast(LongType))
      .orderBy("degree")
  }

  /** Rolling 7-day OLS trend slope of per-nation daily revenue — the
    * per-entity trend detector (is this source/segment growing?), ranked
    * to the 20 steepest windows. The fact table reduces to the
    * (nation, day) series first; the rolling frame is a NATION-keyed row
    * window (bounded partitions); the slope (nΣxy−ΣxΣy)/(nΣx²−(Σx)²)
    * is assembled from exact int64 sums inside the frame (x = epoch day,
    * y = cents), with one double division + round 6 at the end. */
  val qRollingSlope = Q(
    "q_rolling_slope",
    """WITH series AS (
      |  SELECT c_nationkey AS nk, CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |xy AS (
      |  SELECT nk, day, CAST(day - DATE '1970-01-01' AS BIGINT) AS x,
      |    cents AS y FROM series),
      |roll AS (
      |  SELECT nk, day,
      |    count(*)   OVER w AS n,
      |    sum(x)     OVER w AS sx,  sum(y)     OVER w AS sy,
      |    sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx
      |  FROM xy
      |  WINDOW w AS (PARTITION BY nk ORDER BY day
      |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |SELECT nk AS nation, day,
      |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
      |FROM roll WHERE n = 7
      |ORDER BY slope DESC, nation, day LIMIT 20""".stripMargin) { (s, d) =>
    val series = t(s, d, "orders")
      .join(t(s, d, "customer").select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey").as("nk"),
        col("o_orderdate").cast(DateType).as("day"))
      .agg((sum(dec2(col("o_totalprice"))) * 100).cast(LongType).as("cents"))
    val xy = series.select(col("nk"), col("day"),
      datediff(col("day"), lit("1970-01-01").cast(DateType))
        .cast(LongType).as("x"),
      col("cents").as("y"))
    val w = Window.partitionBy("nk").orderBy("day").rowsBetween(-6, 0)
    xy.select(col("nk"), col("day"),
        count(lit(1)).over(w).as("n"),
        sum(col("x")).over(w).as("sx"), sum(col("y")).over(w).as("sy"),
        sum(col("x") * col("y")).over(w).as("sxy"),
        sum(col("x") * col("x")).over(w).as("sxx"))
      .filter(col("n") === 7)
      .select(col("nk").as("nation"), col("day"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
          .cast(DoubleType) /
          (col("n") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType), 6).as("slope"))
      .orderBy(col("slope").desc, col("nation"), col("day"))
      .limit(20)
  }

  /** Spearman rank correlation between line-item price and quantity —
    * the monotone-association complement of q_corr_matrix's Pearson (and
    * robust to outliers, which is why feature-screening pipelines prefer
    * it). Ranks are TOTAL-ORDER row numbers (value, orderkey, linenumber
    * tiebreak — the deterministic-variant convention both engines share
    * bit-for-bit), so ρ = 1 − 6Σd²/(n(n²−1)) holds exactly; Σd² is an
    * exact DECIMAL(38)/HUGEINT sum and doubles appear only in the final
    * division. Both rankings run through `GlobalRank.withGlobalRowNumber`
    * — a 600k-row (or 600-billion-row) fact table is never funnelled
    * through a single-task window. */
  val qSpearman = Q(
    "q_spearman",
    """WITH r AS (
      |  SELECT
      |    row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
      |                       l_linenumber) AS rx,
      |    row_number() OVER (ORDER BY l_quantity, l_orderkey,
      |                       l_linenumber) AS ry
      |  FROM lineitem),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CAST((rx - ry) AS HUGEINT) * (rx - ry)) AS sd2
      |  FROM r)
      |SELECT CAST(n AS BIGINT) AS n_rows,
      |  ROUND(1.0 - CAST(6 * sd2 AS DOUBLE)
      |    / CAST(n * (n * n - 1) AS DOUBLE), 6) AS rho
      |FROM m""".stripMargin) { (s, d) =>
    import graft.plans.GlobalRank
    val big38 = DecimalType(38, 0)
    val li = t(s, d, "lineitem")
      .select("l_extendedprice", "l_quantity", "l_orderkey", "l_linenumber")
    val (rx, _) = GlobalRank.withGlobalRowNumber(li, "rx", 16,
      col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    val (rxy, _) = GlobalRank.withGlobalRowNumber(rx, "ry", 16,
      col("l_quantity"), col("l_orderkey"), col("l_linenumber"))
    rxy.agg(count(lit(1)).cast(big38).as("n"),
        sum((col("rx") - col("ry")).cast(big38)
          * (col("rx") - col("ry"))).as("sd2"))
      .select(col("n").cast(LongType).as("n_rows"),
        round(lit(1.0) - (lit(6) * col("sd2")).cast(DoubleType) /
          (col("n") * (col("n") * col("n") - 1)).cast(DoubleType), 6)
          .as("rho"))
  }

  /** Benford first-digit audit of order totals — the classic
    * fraud/synthetic-data screen: observed first-significant-digit shares
    * vs the Benford expectation log10(1+1/d), with the per-digit χ²
    * deviation term. Counts are exact ints from ONE bounded-domain (9
    * keys) aggregate; the expectation and deviation are per-row double
    * expressions (never double sums), round 6. */
  val qBenford = Q(
    "q_benford",
    """WITH digits AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
      |    AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM orders WHERE o_totalprice >= 1),
      |obs AS (SELECT digit, count(*) AS n_obs FROM digits GROUP BY digit),
      |tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM obs)
      |SELECT digit, n_obs,
      |  ROUND(CAST(n_obs AS DOUBLE) / n, 6) AS obs_share,
      |  ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_p,
      |  ROUND(
      |    (n_obs - n * log10(1.0 + 1.0 / digit))
      |    * (n_obs - n * log10(1.0 + 1.0 / digit))
      |    / (n * log10(1.0 + 1.0 / digit)), 6) AS chi2_term
      |FROM obs, tot ORDER BY digit""".stripMargin) { (s, d) =>
    val obs = t(s, d, "orders")
      .filter(col("o_totalprice") >= 1)
      .select(substring(floor(col("o_totalprice")).cast(LongType)
        .cast(StringType), 1, 1).cast(IntegerType).as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val tot = obs.agg(sum(col("n_obs")).cast(LongType).as("n"))
    val p = log10(lit(1.0) + lit(1.0) / col("digit"))
    obs.crossJoin(broadcast(tot))
      .select(col("digit"), col("n_obs"),
        round(col("n_obs").cast(DoubleType) / col("n"), 6).as("obs_share"),
        round(p, 6).as("benford_p"),
        round((col("n_obs") - col("n") * p) * (col("n_obs") - col("n") * p)
          / (col("n") * p), 6).as("chi2_term"))
      .orderBy("digit")
  }

  /** CUSUM change-point detection on the daily revenue series: the five
    * days maximizing |S_t| where S_t = n·(Σ_{i≤t} x_i) − t·Σx (the
    * mean-free cumulative deviation, SCALED BY n so it stays integral —
    * no running double drift). The fact table reduces to the |days|
    * series first; the running sums of (cents, 1) ride ONE
    * `GlobalRank.withGlobalRunningSums` pass; candidates are ranked by
    * the EXACT integer |S_t| (ties broken by day) and only the
    * normalized score is a rounded double. The regime-shift detector for
    * revenue, traffic, or ingest-volume monitoring. */
  val qChangepoint = Q(
    "q_changepoint",
    """WITH series AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders GROUP BY 1),
      |cum AS (
      |  SELECT day,
      |    CAST(sum(cents) OVER (ORDER BY day) AS HUGEINT) AS cum_cents,
      |    CAST(row_number() OVER (ORDER BY day) AS HUGEINT) AS t
      |  FROM series),
      |tot AS (SELECT CAST(sum(cents) AS HUGEINT) AS sx,
      |               CAST(count(*) AS HUGEINT) AS n FROM series),
      |s AS (
      |  SELECT day, CAST(t AS BIGINT) AS t,
      |    abs(n * cum_cents - t * sx) AS s_abs, n, sx
      |  FROM cum, tot)
      |SELECT day, t,
      |  ROUND(CAST(s_abs AS DOUBLE) / CAST(n * sx AS DOUBLE), 6) AS score
      |FROM s ORDER BY s_abs DESC, day LIMIT 5""".stripMargin) { (s, d) =>
    import graft.plans.GlobalRank
    val big38 = DecimalType(38, 0)
    val series = t(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("day"))
      .agg((sum(dec2(col("o_totalprice"))) * 100).cast(LongType).as("cents"))
      // GlobalRank's range-bucket key must be numeric — ride the epoch
      // day alongside the DATE output column
      .withColumn("eday",
        datediff(col("day"), lit("1970-01-01").cast(DateType)).cast(LongType))
    val (cum, totals) = GlobalRank.withGlobalRunningSums(series,
      Seq((col("cents"), "cum_cents"), (lit(1L), "t")), 8, col("eday"))
    val sx = lit(totals.head).cast(big38)
    val n = lit(totals(1)).cast(big38)
    cum.select(col("day"), col("t"),
        abs(n * col("cum_cents").cast(big38) - col("t").cast(big38) * sx)
          .as("s_abs"))
      .select(col("day"), col("t"),
        col("s_abs"),
        round(col("s_abs").cast(DoubleType) / (n * sx).cast(DoubleType), 6)
          .as("score"))
      .orderBy(col("s_abs").desc, col("day"))
      .limit(5)
      .drop("s_abs")
  }

  /** Mann–Whitney U rank-sum test: do AUTOMOBILE-segment orders have a
    * different price distribution than the rest? The nonparametric
    * two-sample test completing the stats battery (z-test = proportions,
    * KS = numeric shape, chi² = categorical, this = ordinal shift).
    * Ranks are total-order row numbers (price, orderkey tiebreak — the
    * same deterministic-variant convention as q_spearman) assigned by
    * `GlobalRank.withGlobalRowNumber`; the rank sum is an exact
    * DECIMAL(38)/HUGEINT aggregate and doubles enter only in the final
    * z expression, round 6. */
  val qMannwhitney = Q(
    "q_mannwhitney",
    """WITH lab AS (
      |  SELECT o_orderkey, o_totalprice,
      |    CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS grp
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |r AS (
      |  SELECT grp,
      |    CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey)
      |      AS HUGEINT) AS rk
      |  FROM lab),
      |m AS (
      |  SELECT
      |    sum(CASE WHEN grp = 1 THEN rk ELSE CAST(0 AS HUGEINT) END) AS r1,
      |    CAST(sum(grp) AS HUGEINT) AS n1,
      |    CAST(sum(1 - grp) AS HUGEINT) AS n2
      |  FROM r)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CAST(r1 - (n1 * (n1 + 1)) // 2 AS BIGINT) AS u1,
      |  ROUND((CAST(r1 - (n1 * (n1 + 1)) // 2 AS DOUBLE)
      |         - CAST(n1 * n2 AS DOUBLE) / 2)
      |    / sqrt(CAST(n1 * n2 * (n1 + n2 + 1) AS DOUBLE) / 12), 6) AS z
      |FROM m""".stripMargin) { (s, d) =>
    import graft.plans.GlobalRank
    val big38 = DecimalType(38, 0)
    val lab = t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_totalprice"),
        when(col("c_mktsegment") === "AUTOMOBILE", 1).otherwise(0).as("grp"))
    val (ranked, _) = GlobalRank.withGlobalRowNumber(lab, "rk", 16,
      col("o_totalprice"), col("o_orderkey"))
    val m = ranked.agg(
      sum(when(col("grp") === 1, col("rk")).otherwise(0L).cast(big38)).as("r1"),
      sum(col("grp")).cast(big38).as("n1"),
      sum(lit(1) - col("grp")).cast(big38).as("n2"))
    val u1 = col("r1") - col("n1") * (col("n1") + 1) / 2
    m.select(col("n1").cast(LongType).as("n1"),
      col("n2").cast(LongType).as("n2"),
      u1.cast(LongType).as("u1"),
      round((u1.cast(DoubleType)
          - (col("n1") * col("n2")).cast(DoubleType) / 2)
        / sqrt((col("n1") * col("n2") * (col("n1") + col("n2") + 1))
          .cast(DoubleType) / 12), 6).as("z"))
  }

  /** Day-of-week seasonality profile of order revenue (ISO numbering,
    * 1 = Monday): order counts, exact-decimal revenue, revenue share —
    * the weekly-rhythm readout feeding capacity planning and the lag-7
    * peak q_autocorr detects. One bounded-domain (7-key) aggregate +
    * broadcast one-row total. */
  val qSeasonality = Q(
    "q_seasonality",
    """WITH per AS (
      |  SELECT CAST(isodow(CAST(o_orderdate AS DATE)) AS INT) AS dow,
      |    count(*) AS n_orders,
      |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |tot AS (SELECT sum(rev) AS tot_rev FROM per)
      |SELECT dow, n_orders, CAST(rev AS DOUBLE) AS revenue,
      |  ROUND(CAST(rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6) AS share
      |FROM per, tot ORDER BY dow""".stripMargin) { (s, d) =>
    val per = t(s, d, "orders")
      .groupBy((weekday(col("o_orderdate").cast(DateType)) + 1).as("dow"))
      .agg(count(lit(1)).as("n_orders"), sum(dec2(col("o_totalprice"))).as("rev"))
    val tot = per.agg(sum(col("rev")).as("tot_rev"))
    per.crossJoin(broadcast(tot))
      .select(col("dow"), col("n_orders"), asDbl(col("rev")).as("revenue"),
        round(asDbl(col("rev")) / asDbl(col("tot_rev")), 6).as("share"))
      .orderBy("dow")
  }

  /** Herfindahl–Hirschman concentration index per market segment: how
    * concentrated is a segment's revenue across nations? HHI = Σ sᵢ² is
    * computed as (Σ revᵢ²)/(Σ revᵢ)² over EXACT integer cents widened to
    * DECIMAL(38)/HUGEINT — never a sum of per-share doubles (whose
    * addition order differs across engines/partitionings) — with one
    * double division at the end, round 6. The concentration screen for
    * revenue, supplier, or data-source dependence (1/HHI = effective
    * source count, the same diagnostic q_source_diversity's Simpson
    * index gives for documents). */
  val qHhi = Q(
    "q_hhi",
    """WITH per AS (
      |  SELECT c_mktsegment AS seg, c_nationkey AS nk,
      |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |agg AS (
      |  SELECT seg, count(*) AS n_nations,
      |    sum(CAST(cents AS HUGEINT) * cents) AS s2,
      |    CAST(sum(cents) AS HUGEINT) AS s1
      |  FROM per GROUP BY seg)
      |SELECT seg, n_nations,
      |  ROUND(CAST(s2 AS DOUBLE) / CAST(s1 * s1 AS DOUBLE), 6) AS hhi,
      |  ROUND(CAST(s1 * s1 AS DOUBLE) / CAST(s2 AS DOUBLE), 6)
      |    AS effective_sources
      |FROM agg ORDER BY seg""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val per = t(s, d, "orders").select("o_custkey", "o_totalprice")
      .join(broadcast(t(s, d, "customer")
        .select("c_custkey", "c_mktsegment", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("c_nationkey").as("nk"))
      .agg((sum(dec2(col("o_totalprice"))) * 100).cast(LongType).as("cents"))
    per.groupBy("seg")
      .agg(count(lit(1)).as("n_nations"),
        sum(col("cents").cast(big38) * col("cents")).as("s2"),
        sum(col("cents")).cast(big38).as("s1"))
      .select(col("seg"), col("n_nations"),
        round(col("s2").cast(DoubleType) /
          (col("s1") * col("s1")).cast(DoubleType), 6).as("hhi"),
        round((col("s1") * col("s1")).cast(DoubleType) /
          col("s2").cast(DoubleType), 6).as("effective_sources"))
      .orderBy("seg")
  }

  /** AUTOMOBILE-segment (grp 1) vs other orders in exact cents: the
    * two-group frame of q_ttest_welch and q_tost. */
  private[operators] def autoVsRest(s: SparkSession, d: String): DataFrame =
    t(s, d, "orders").select("o_custkey", "o_totalprice")
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(when(col("c_mktsegment") === "AUTOMOBILE", 1).otherwise(0)
        .as("grp"),
        priceCents(col("o_totalprice")).as("cents"))

  /** DuckDB twin of [[autoVsRest]]. */
  private[operators] def autoVsRestSql: String =
    s"""SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END
       |      AS grp,
       |    ${priceCentsSql("o_totalprice")}
       |      AS cents
       |  FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Exact per-group cent sums s1, s2 and square sums q1, q2 of a
    * (grp, cents) frame, as DECIMAL(38) aggregates: cents are widened
    * before squaring, so the squares never overflow. */
  private[operators] def centMoments: Seq[Column] = {
    val big38 = DecimalType(38, 0)
    Seq(sum(when(col("grp") === 1, col("cents")).otherwise(0L).cast(big38))
        .as("s1"),
      sum(when(col("grp") === 0, col("cents")).otherwise(0L).cast(big38))
        .as("s2"),
      sum(when(col("grp") === 1, col("cents").cast(big38) * col("cents"))
        .otherwise(lit(0).cast(big38))).as("q1"),
      sum(when(col("grp") === 0, col("cents").cast(big38) * col("cents"))
        .otherwise(lit(0).cast(big38))).as("q2"))
  }

  /** DuckDB twin of [[centMoments]], HUGEINT sums. */
  private[operators] def centMomentsSql: String =
    """sum(CASE WHEN grp = 1 THEN CAST(cents AS HUGEINT)
      |        ELSE CAST(0 AS HUGEINT) END) AS s1,
      |    sum(CASE WHEN grp = 0 THEN CAST(cents AS HUGEINT)
      |        ELSE CAST(0 AS HUGEINT) END) AS s2,
      |    sum(CASE WHEN grp = 1 THEN CAST(cents AS HUGEINT) * cents
      |        ELSE CAST(0 AS HUGEINT) END) AS q1,
      |    sum(CASE WHEN grp = 0 THEN CAST(cents AS HUGEINT) * cents
      |        ELSE CAST(0 AS HUGEINT) END) AS q2""".stripMargin

  /** Welch's unequal-variance t-test (segment vs rest on order totals):
    * the parametric counterpart of q_mannwhitney's rank test. All moment
    * sums (n, Σcents, Σcents²) are exact DECIMAL(38)/HUGEINT — cents² is
    * widened BEFORE multiplying so the squares never overflow — and
    * doubles enter only in the closing mean/variance/t/df expressions,
    * computed in the identical operation order on both engines, round 6.
    * One fact scan, one broadcast dim join, one global aggregate. */
  val qTtestWelch = Q(
    "q_ttest_welch",
    s"""WITH x AS (
      |  $autoVsRestSql),
      |m AS (
      |  SELECT CAST(sum(grp) AS HUGEINT) AS n1,
      |    CAST(sum(1 - grp) AS HUGEINT) AS n2,
      |    $centMomentsSql
      |  FROM x),
      |se AS (
      |  SELECT n1, n2,
      |    CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1c,
      |    CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2c,
      |    CAST(n1 * q1 - s1 * s1 AS DOUBLE)
      |      / CAST(n1 * n1 * (n1 - 1) AS DOUBLE) AS se1,
      |    CAST(n2 * q2 - s2 * s2 AS DOUBLE)
      |      / CAST(n2 * n2 * (n2 - 1) AS DOUBLE) AS se2
      |  FROM m)
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  ROUND((m1c - m2c) / 100, 6) AS mean_diff,
      |  ROUND((m1c - m2c) / sqrt(se1 + se2), 6) AS t,
      |  ROUND((se1 + se2) * (se1 + se2)
      |    / (se1 * se1 / CAST(n1 - 1 AS DOUBLE)
      |     + se2 * se2 / CAST(n2 - 1 AS DOUBLE)), 6) AS df
      |FROM se""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val m = autoVsRest(s, d).agg(
      sum(col("grp")).cast(big38).as("n1"),
      sum(lit(1) - col("grp")).cast(big38).as("n2") +:
        centMoments: _*)
    val se = m.select(col("n1"), col("n2"),
      (col("s1").cast(DoubleType) / col("n1").cast(DoubleType)).as("m1c"),
      (col("s2").cast(DoubleType) / col("n2").cast(DoubleType)).as("m2c"),
      ((col("n1") * col("q1") - col("s1") * col("s1")).cast(DoubleType)
        / (col("n1") * col("n1") * (col("n1") - 1)).cast(DoubleType)).as("se1"),
      ((col("n2") * col("q2") - col("s2") * col("s2")).cast(DoubleType)
        / (col("n2") * col("n2") * (col("n2") - 1)).cast(DoubleType)).as("se2"))
    se.select(col("n1").cast(LongType).as("n1"),
      col("n2").cast(LongType).as("n2"),
      round((col("m1c") - col("m2c")) / 100, 6).as("mean_diff"),
      round((col("m1c") - col("m2c")) / sqrt(col("se1") + col("se2")), 6).as("t"),
      round((col("se1") + col("se2")) * (col("se1") + col("se2"))
        / (col("se1") * col("se1") / (col("n1") - 1).cast(DoubleType)
         + col("se2") * col("se2") / (col("n2") - 1).cast(DoubleType)), 6).as("df"))
  }

  /** Shared contingency table for the categorical-association tests
    * (q_cramers_v, q_mutual_info): segment × priority cell counts with
    * broadcast row/column marginals and the grand total. Cells are a
    * bounded domain (|segments|×|priorities|), so everything after the
    * one fact aggregate is driver-scale regardless of input size. */
  private def contingency(s: SparkSession, d: String): DataFrame = {
    // The cells table is bounded (|segments|×|priorities| ≤ 25 rows), but
    // marginals + callers reference it several times — localCheckpoint so
    // the ONE fact-scale aggregate runs once, not once per consumer
    // (pre-fix the plan re-scanned orders 3-4× per test statistic).
    val cells = t(s, d, "orders").select("o_custkey", "o_orderpriority")
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("o_orderpriority").as("prio"))
      .agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val r = cells.groupBy("seg").agg(sum("o").as("r"))
    val c0 = cells.groupBy("prio").agg(sum("o").as("c"))
    val n = cells.agg(sum("o").as("n"))
    cells.join(broadcast(r), "seg").join(broadcast(c0), "prio")
      .crossJoin(broadcast(n))
  }

  private val contingencySql =
    """cell AS (
      |  SELECT c_mktsegment AS seg, o_orderpriority AS prio, count(*) AS o
      |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
      |marg AS (
      |  SELECT seg, prio, CAST(o AS HUGEINT) AS o,
      |    CAST(sum(o) OVER (PARTITION BY seg) AS HUGEINT) AS r,
      |    CAST(sum(o) OVER (PARTITION BY prio) AS HUGEINT) AS c,
      |    CAST(sum(o) OVER () AS HUGEINT) AS n
      |  FROM cell)""".stripMargin

  /** Cramér's V association between market segment and order priority —
    * the categorical-vs-categorical member of the stats battery. The χ²
    * total is a sum of per-cell doubles, which is reduction-order-
    * sensitive; to keep it engine- and partitioning-independent each
    * cell's term is QUANTIZED to an exact integer micro-unit
    * (round(term·10⁶)) and the integers are summed exactly — the ½µ/cell
    * quantization error is invisible at the round-6 output. The cell
    * statistic (N·O−r·c) is computed exactly in DECIMAL(38)/HUGEINT and
    * only then cast to double, and the denominator divides by N, r, c
    * sequentially (never forming N·r·c, which could overflow at extreme
    * scale). */
  val qCramersV = Q(
    "q_cramers_v",
    s"""WITH $contingencySql,
      |term AS (
      |  SELECT n,
      |    CAST(ROUND(CAST(n * o - r * c AS DOUBLE) * CAST(n * o - r * c AS DOUBLE)
      |      / CAST(n AS DOUBLE) / CAST(r AS DOUBLE) / CAST(c AS DOUBLE)
      |      * 1000000) AS HUGEINT) AS t6
      |  FROM marg),
      |agg AS (SELECT max(n) AS n, sum(t6) AS chi6 FROM term),
      |dims AS (SELECT count(DISTINCT seg) AS nr, count(DISTINCT prio) AS nc
      |  FROM cell)
      |SELECT CAST(a.n AS BIGINT) AS n, nr, nc,
      |  ROUND(CAST(chi6 AS DOUBLE) / 1000000, 6) AS chi2,
      |  ROUND(sqrt(CAST(chi6 AS DOUBLE) / 1000000
      |    / (CAST(a.n AS DOUBLE) * (least(nr, nc) - 1))), 6) AS v
      |FROM agg a, dims""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val full = contingency(s, d)
    val dd = (col("n").cast(big38) * col("o")
      - col("r").cast(big38) * col("c")).cast(DoubleType)
    val term = full.select(col("n"),
      round(dd * dd / col("n").cast(DoubleType) / col("r").cast(DoubleType)
        / col("c").cast(DoubleType) * 1000000).cast(big38).as("t6"))
    val agg = term.agg(max("n").as("n"), sum("t6").as("chi6"))
    val dims = full
      .agg(countDistinct("seg").as("nr"), countDistinct("prio").as("nc"))
    agg.crossJoin(broadcast(dims))
      .select(col("n").cast(LongType).as("n"), col("nr"), col("nc"),
        round(col("chi6").cast(DoubleType) / 1000000, 6).as("chi2"),
        round(sqrt(col("chi6").cast(DoubleType) / 1000000
          / (col("n").cast(DoubleType) * (least(col("nr"), col("nc")) - 1))), 6)
          .as("v"))
  }

  /** Mutual information of a contingency panel `marg` (o, r, c, n per
    * cell, with row total r, column total c and grand total n): one row
    * (n, mi9), each cell's (o/n)·ln(n·o/(r·c)) rounded to 10⁻⁹ units
    * before the exact sum, so no double is ever summed. */
  private[operators] def mutualInfo9(marg: DataFrame): DataFrame =
    marg.agg(max("n").as("n"),
      sum(round(col("o").cast(DoubleType) / col("n").cast(DoubleType)
        * log(col("n").cast(DoubleType) * col("o").cast(DoubleType)
          / (col("r").cast(DoubleType) * col("c").cast(DoubleType)))
        * 1000000000).cast(DecimalType(38, 0))).as("mi9"))

  /** DuckDB twin of [[mutualInfo9]]: the CTE `mi` over a CTE `marg`. */
  private[operators] def mutualInfo9Sql: String =
    """mi AS (
      |  SELECT max(n) AS n, sum(CAST(ROUND(
      |    CAST(o AS DOUBLE) / CAST(n AS DOUBLE)
      |      * ln(CAST(n AS DOUBLE) * CAST(o AS DOUBLE)
      |           / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)))
      |    * 1000000000) AS HUGEINT)) AS mi9
      |  FROM marg)""".stripMargin

  /** The entropy h9 (10⁻⁹ units, quantized per term) of one margin of
    * `marg`: its key column and that margin's count column. */
  private[operators] def marginalEntropy9(marg: DataFrame, keyCol: String,
      cntCol: String): DataFrame =
    marg.select(col(keyCol), col(cntCol), col("n")).distinct()
      .agg(sum(round(-(col(cntCol).cast(DoubleType)
          / col("n").cast(DoubleType))
        * log(col(cntCol).cast(DoubleType) / col("n").cast(DoubleType))
        * 1000000000).cast(DecimalType(38, 0))).as("h9"))

  /** DuckDB twin of [[marginalEntropy9]] as the CTE `name`. */
  private[operators] def marginalEntropy9Sql(name: String, keyCol: String,
      cntCol: String): String =
    s"""$name AS (
       |  SELECT sum(CAST(ROUND(
       |    -(CAST($cntCol AS DOUBLE) / CAST(n AS DOUBLE))
       |      * ln(CAST($cntCol AS DOUBLE) / CAST(n AS DOUBLE))
       |    * 1000000000) AS HUGEINT)) AS h9
       |  FROM (SELECT DISTINCT $keyCol, $cntCol, n FROM marg))""".stripMargin

  /** Mutual information (nats) between market segment and order priority,
    * with the marginal entropies and normalized MI — the feature-
    * selection / redundancy screen for categorical columns. Same
    * quantize-then-sum determinism pattern as q_cramers_v, at 10⁻⁹
    * resolution (MI terms are O(1)); ln appears only in per-cell
    * expressions, never inside a floating-point reduction. */
  val qMutualInfo = Q(
    "q_mutual_info",
    s"""WITH $contingencySql,
      |$mutualInfo9Sql,
      |${marginalEntropy9Sql("hs", "seg", "r")},
      |${marginalEntropy9Sql("hp", "prio", "c")}
      |SELECT CAST(mi.n AS BIGINT) AS n,
      |  ROUND(CAST(mi.mi9 AS DOUBLE) / 1000000000, 6) AS mi,
      |  ROUND(CAST(hs.h9 AS DOUBLE) / 1000000000, 6) AS h_seg,
      |  ROUND(CAST(hp.h9 AS DOUBLE) / 1000000000, 6) AS h_prio,
      |  ROUND(CAST(mi.mi9 AS DOUBLE) / 1000000000
      |    / sqrt(CAST(hs.h9 AS DOUBLE) / 1000000000
      |         * (CAST(hp.h9 AS DOUBLE) / 1000000000)), 6) AS nmi
      |FROM mi, hs, hp""".stripMargin) { (s, d) =>
    val full = contingency(s, d)
    val hs = marginalEntropy9(full, "seg", "r")
    val hp = marginalEntropy9(full, "prio", "c")
    mutualInfo9(full).crossJoin(broadcast(hs.select(col("h9").as("hs9"))))
      .crossJoin(broadcast(hp.select(col("h9").as("hp9"))))
      .select(col("n").cast(LongType).as("n"),
        round(col("mi9").cast(DoubleType) / 1000000000, 6).as("mi"),
        round(col("hs9").cast(DoubleType) / 1000000000, 6).as("h_seg"),
        round(col("hp9").cast(DoubleType) / 1000000000, 6).as("h_prio"),
        round(col("mi9").cast(DoubleType) / 1000000000
          / sqrt(col("hs9").cast(DoubleType) / 1000000000
               * (col("hp9").cast(DoubleType) / 1000000000)), 6).as("nmi"))
  }

  /** Pareto (80/20) concentration curve: for revenue thresholds 50/80/
    * 90/95%, the number and share of top customers needed to cover that
    * share — the "how concentrated is the business" readout behind
    * q_gini/q_hhi's scalar indices. Facts reduce to one row per
    * customer; the ranked running revenue comes from ONE
    * `GlobalRank.withGlobalRunningSums` pass (cumulative cents + rank
    * together, never an unpartitioned window), and each threshold's
    * answer is the unique CROSSING row (cum ≥ thr·total, cum−own <
    * thr·total) — an exact integer predicate in DECIMAL(38)/HUGEINT, so
    * no quantile approximation and no second pass. */
  val qPareto = Q(
    "q_pareto",
    s"""WITH pc AS (
      |  SELECT o_custkey,
      |    CAST(sum(${priceCentsSql("o_totalprice")})
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT cents,
      |    CAST(sum(cents) OVER (ORDER BY cents DESC, o_custkey
      |      ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cum,
      |    row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk
      |  FROM pc),
      |tot AS (SELECT CAST(sum(cents) AS HUGEINT) AS trev, count(*) AS ncust
      |  FROM pc)
      |SELECT t.thr, CAST(r.rk AS BIGINT) AS n_customers,
      |  ROUND(CAST(r.rk AS DOUBLE) / CAST(ncust AS DOUBLE), 6)
      |    AS pct_customers,
      |  ROUND(CAST(cum AS DOUBLE) / CAST(trev AS DOUBLE), 6) AS share
      |FROM r, tot, (VALUES (50), (80), (90), (95)) AS t(thr)
      |WHERE cum * 100 >= t.thr * trev
      |  AND (cum - cents) * 100 < t.thr * trev
      |ORDER BY t.thr""".stripMargin) { (s, d) =>
    import graft.plans.GlobalRank
    import s.implicits._
    val big38 = DecimalType(38, 0)
    val pc = t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(sum(priceCents(col("o_totalprice")))
        .cast(LongType).as("cents"))
    // GlobalRank buckets on the leading sort key's VALUE (it casts it to
    // double), so descending revenue is expressed as ascending -cents.
    val (ranked, totals) = GlobalRank.withGlobalRunningSums(pc,
      Seq((col("cents"), "cum"), (lit(1), "rk")), 16,
      -col("cents"), col("o_custkey"))
    val Seq(trev, ncust) = totals
    val thresholds = Seq(50, 80, 90, 95).toDF("thr")
    ranked.crossJoin(broadcast(thresholds))
      .filter(col("cum").cast(big38) * 100
          >= col("thr").cast(big38) * lit(trev)
        && (col("cum") - col("cents")).cast(big38) * 100
          < col("thr").cast(big38) * lit(trev))
      .select(col("thr"), col("rk").cast(LongType).as("n_customers"),
        round(col("rk").cast(DoubleType) / lit(ncust).cast(DoubleType), 6)
          .as("pct_customers"),
        round(col("cum").cast(DoubleType) / lit(trev).cast(DoubleType), 6)
          .as("share"))
      .orderBy("thr")
  }

  /** First-touch / last-touch marketing attribution: for every user who
    * converted (has a purchase), credit the user's FIRST event overall
    * and the last non-purchase event strictly before the first purchase
    * ('(direct)' if the purchase had no preceding touch); count users
    * per (first, last) pair. Every window and join is keyed on user_id —
    * one shuffle key end-to-end, the canonical sessionized-events
    * layout at 100 TB. */
  val qAttribution = Q(
    "q_attribution",
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |  FROM events),
      |fp AS (
      |  SELECT user_id, us AS pus, event_id AS pid FROM (
      |    SELECT user_id, us, event_id,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY us, event_id) AS rk
      |    FROM e WHERE event_type = 'purchase') x WHERE rk = 1),
      |ft AS (
      |  SELECT user_id, event_type AS first_touch FROM (
      |    SELECT user_id, event_type,
      |      row_number() OVER (PARTITION BY user_id
      |        ORDER BY us, event_id) AS rk
      |    FROM e) x WHERE rk = 1),
      |lt AS (
      |  SELECT user_id, event_type AS last_touch FROM (
      |    SELECT e.user_id, e.event_type,
      |      row_number() OVER (PARTITION BY e.user_id
      |        ORDER BY e.us DESC, e.event_id DESC) AS rk
      |    FROM e JOIN fp ON e.user_id = fp.user_id
      |    WHERE e.event_type <> 'purchase'
      |      AND (e.us < fp.pus OR (e.us = fp.pus AND e.event_id < fp.pid))
      |    ) x WHERE rk = 1)
      |SELECT ft.first_touch,
      |  coalesce(lt.last_touch, '(direct)') AS last_touch,
      |  count(*) AS users
      |FROM fp JOIN ft USING (user_id) LEFT JOIN lt USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
    val e = eventsUs(s, d).select("user_id", "event_type", "us", "event_id")
    val byUserAsc = Window.partitionBy("user_id")
      .orderBy(col("us"), col("event_id"))
    val fp = e.filter(col("event_type") === "purchase")
      .withColumn("rk", row_number().over(byUserAsc))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("us").as("pus"), col("event_id").as("pid"))
    val ft = e.withColumn("rk", row_number().over(byUserAsc))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("first_touch"))
    val byUserDesc = Window.partitionBy("user_id")
      .orderBy(col("us").desc, col("event_id").desc)
    val lt = e.filter(col("event_type") =!= "purchase")
      .join(fp, "user_id")
      .filter(col("us") < col("pus")
        || (col("us") === col("pus") && col("event_id") < col("pid")))
      .withColumn("rk", row_number().over(byUserDesc))
      .filter(col("rk") === 1)
      .select(col("user_id"), col("event_type").as("last_touch"))
    fp.join(ft, "user_id").join(lt, Seq("user_id"), "left")
      .groupBy(col("first_touch"),
        coalesce(col("last_touch"), lit("(direct)")).as("last_touch"))
      .agg(count(lit(1)).as("users"))
      .orderBy("first_touch", "last_touch")
  }

  /** One-way ANOVA sums (k, n, ssb, ssw) from per-group exact moments
    * `g` (ng = count, sg = Σx, qg = Σx², DECIMAL(38)): each group's
    * between and within term keeps an exact integer numerator, is divided
    * once and quantized to an integer before the cross-group sum, so the
    * sums are reduction-order-proof. Oracle twin: [[anovaSumsSql]]. */
  private[operators] def anovaSums(g: DataFrame): DataFrame = {
    val big38 = DecimalType(38, 0)
    g.agg(count(lit(1)).as("k"),
      sum(col("ng")).as("n"), sum(col("sg")).as("s"),
      sum(round((col("sg") * col("sg")).cast(DoubleType)
        / col("ng").cast(DoubleType)).cast(big38)).as("ssb_part"),
      sum(round((col("ng") * col("qg") - col("sg") * col("sg"))
        .cast(DoubleType) / col("ng").cast(DoubleType)).cast(big38)).as("ssw"))
      .select(col("k"), col("n"),
        (col("ssb_part").cast(DoubleType)
          - col("s").cast(DoubleType) * col("s").cast(DoubleType)
            / col("n").cast(DoubleType)).as("ssb"),
        col("ssw").cast(DoubleType).as("ssw"))
  }

  /** DuckDB twin of [[anovaSums]]: the tot and f CTEs over `g`. */
  private[operators] val anovaSumsSql =
    """tot AS (
      |  SELECT count(*) AS k, sum(ng) AS n, sum(sg) AS s,
      |    sum(CAST(ROUND(CAST(sg * sg AS DOUBLE) / CAST(ng AS DOUBLE))
      |        AS HUGEINT)) AS ssb_part,
      |    sum(CAST(ROUND(CAST(ng * qg - sg * sg AS DOUBLE)
      |        / CAST(ng AS DOUBLE)) AS HUGEINT)) AS ssw
      |  FROM g),
      |f AS (
      |  SELECT k, n,
      |    CAST(ssb_part AS DOUBLE)
      |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
      |      AS ssb,
      |    CAST(ssw AS DOUBLE) AS ssw
      |  FROM tot)""".stripMargin

  /** One-way ANOVA F-test across ALL market segments on order totals —
    * the k-group generalization of q_ttest_welch (does ANY segment's mean
    * differ?). Per-group moment sums (n, Σcents, Σcents²) are exact
    * DECIMAL(38)/HUGEINT; SSB/SSW are sums of k per-group double terms,
    * which is reduction-order-sensitive, so each term keeps an EXACT
    * integer numerator (n·q−s² and s² never leave decimal) with one
    * division, then quantize-then-sum (round to the integer cent² unit —
    * the terms are O(10¹⁴), so unit quantization sits far below double
    * epsilon, let alone the round-6 output). One fact scan, one broadcast
    * dim join, one bounded-domain (k=|segments|) aggregate. */
  val qAnova = Q(
    "q_anova",
    s"""WITH x AS (
      |  SELECT c_mktsegment AS seg,
      |    ${priceCentsSql("o_totalprice")} AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |g AS (
      |  SELECT seg, CAST(count(*) AS HUGEINT) AS ng,
      |    CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS sg,
      |    sum(CAST(cents AS HUGEINT) * cents) AS qg
      |  FROM x GROUP BY seg),
      |$anovaSumsSql
      |SELECT CAST(k AS INT) AS k, CAST(n AS BIGINT) AS n,
      |  ROUND(ssb / (k - 1) / (ssw / (n - k)), 6) AS f_stat,
      |  ROUND(ssb / (ssb + ssw), 6) AS eta_sq
      |FROM f""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val x = t(s, d, "orders").select("o_custkey", "o_totalprice")
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        priceCents(col("o_totalprice")).as("cents"))
    val g = x.groupBy("seg").agg(
      count(lit(1)).cast(big38).as("ng"),
      sum(col("cents").cast(big38)).as("sg"),
      sum(col("cents").cast(big38) * col("cents")).as("qg"))
    val f = anovaSums(g)
    f.select(col("k").cast(IntegerType).as("k"),
      col("n").cast(LongType).as("n"),
      round(col("ssb") / (col("k") - 1) / (col("ssw") / (col("n") - col("k"))), 6)
        .as("f_stat"),
      round(col("ssb") / (col("ssb") + col("ssw")), 6).as("eta_sq"))
  }

  /** CUPED variance reduction (controlled experiments at scale): units are
    * ALL customers, Y = 1996 spend, X = 1995 pre-period spend (0 when
    * absent), arms assigned by content hash (md5 — engine- and
    * partitioning-independent). θ = cov(X,Y)/var(X) and the adjusted
    * treatment effect diff_adj = diff_raw − θ·(x̄_t − x̄_c) are assembled
    * ALGEBRAICALLY from one pass of exact DECIMAL(38)/HUGEINT moment sums
    * — the per-unit adjusted metric is never materialized, so there is no
    * double reduction anywhere; ρ² (the variance-reduction fraction) comes
    * from the same sums. One fact scan + one custkey-keyed join. */
  val qCuped = Q(
    "q_cuped",
    s"""WITH per AS (
      |  SELECT o_custkey AS ck,
      |    sum(CASE WHEN o_orderdate >= DATE '1995-01-01'
      |        AND o_orderdate < DATE '1996-01-01'
      |      THEN ${priceCentsSql("o_totalprice")}
      |      ELSE 0 END) AS x,
      |    sum(CASE WHEN o_orderdate >= DATE '1996-01-01'
      |        AND o_orderdate < DATE '1997-01-01'
      |      THEN ${priceCentsSql("o_totalprice")}
      |      ELSE 0 END) AS y
      |  FROM orders GROUP BY o_custkey),
      |u AS (
      |  SELECT CAST(concat('0x', substr(md5(CAST(c_custkey AS VARCHAR)),
      |      1, 15)) AS BIGINT) % 2 AS grp,
      |    CAST(coalesce(x, 0) AS HUGEINT) AS x,
      |    CAST(coalesce(y, 0) AS HUGEINT) AS y
      |  FROM customer LEFT JOIN per ON c_custkey = ck),
      |m AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(grp) AS HUGEINT) AS n1,
      |    CAST(count(*) - sum(grp) AS HUGEINT) AS n0,
      |    sum(CASE WHEN grp = 1 THEN x ELSE CAST(0 AS HUGEINT) END) AS sx1,
      |    sum(CASE WHEN grp = 0 THEN x ELSE CAST(0 AS HUGEINT) END) AS sx0,
      |    sum(CASE WHEN grp = 1 THEN y ELSE CAST(0 AS HUGEINT) END) AS sy1,
      |    sum(CASE WHEN grp = 0 THEN y ELSE CAST(0 AS HUGEINT) END) AS sy0,
      |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
      |    sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM u),
      |c AS (
      |  SELECT n, n1, n0, sx1, sx0, sy1, sy0,
      |    CAST(n * sxy - sx * sy AS DOUBLE) AS covn,
      |    CAST(n * sxx - sx * sx AS DOUBLE) AS varxn,
      |    CAST(n * syy - sy * sy AS DOUBLE) AS varyn
      |  FROM m)
      |SELECT CAST(n1 AS BIGINT) AS n_t, CAST(n0 AS BIGINT) AS n_c,
      |  ROUND((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |    - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100, 6) AS diff_raw,
      |  ROUND(covn / varxn, 6) AS theta,
      |  ROUND((CAST(sy1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |      - CAST(sy0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100
      |    - covn / varxn
      |      * ((CAST(sx1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |        - CAST(sx0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100), 6)
      |    AS diff_adj,
      |  ROUND((covn / varxn) * (covn / varyn), 6) AS rho_sq
      |FROM c""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    def yearCents(lo: String, hi: String): Column =
      sum(when(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi),
        priceCents(col("o_totalprice"))).otherwise(0L))
    val per = t(s, d, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
      .groupBy(col("o_custkey").as("ck"))
      .agg(yearCents("1995-01-01", "1996-01-01").as("x"),
        yearCents("1996-01-01", "1997-01-01").as("y"))
    val u = t(s, d, "customer").select("c_custkey")
      .join(per, col("c_custkey") === col("ck"), "left")
      .select(
        (graft.llm.TextOps.hash60(col("c_custkey").cast(StringType)) % 2)
          .as("grp"),
        coalesce(col("x"), lit(0L)).cast(big38).as("x"),
        coalesce(col("y"), lit(0L)).cast(big38).as("y"))
    val m = u.agg(count(lit(1)).cast(big38).as("n"),
      sum(col("grp")).cast(big38).as("n1"),
      (count(lit(1)) - sum(col("grp"))).cast(big38).as("n0"),
      sum(when(col("grp") === 1, col("x")).otherwise(lit(0).cast(big38))).as("sx1"),
      sum(when(col("grp") === 0, col("x")).otherwise(lit(0).cast(big38))).as("sx0"),
      sum(when(col("grp") === 1, col("y")).otherwise(lit(0).cast(big38))).as("sy1"),
      sum(when(col("grp") === 0, col("y")).otherwise(lit(0).cast(big38))).as("sy0"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val c = m.select(col("n"), col("n1"), col("n0"),
      col("sx1"), col("sx0"), col("sy1"), col("sy0"),
      (col("n") * col("sxy") - col("sx") * col("sy")).cast(DoubleType).as("covn"),
      (col("n") * col("sxx") - col("sx") * col("sx")).cast(DoubleType).as("varxn"),
      (col("n") * col("syy") - col("sy") * col("sy")).cast(DoubleType).as("varyn"))
    def mean(sc: String, nc: String): Column =
      col(sc).cast(DoubleType) / col(nc).cast(DoubleType)
    c.select(col("n1").cast(LongType).as("n_t"),
      col("n0").cast(LongType).as("n_c"),
      round((mean("sy1", "n1") - mean("sy0", "n0")) / 100, 6).as("diff_raw"),
      round(col("covn") / col("varxn"), 6).as("theta"),
      round((mean("sy1", "n1") - mean("sy0", "n0")) / 100
        - col("covn") / col("varxn")
          * ((mean("sx1", "n1") - mean("sx0", "n0")) / 100), 6).as("diff_adj"),
      round((col("covn") / col("varxn")) * (col("covn") / col("varyn")), 6)
        .as("rho_sq"))
  }

  /** Dwell-time profiling: per event type, the distribution of time until
    * the SAME user's next event (n, mean, p50, p90, max seconds) — the
    * latency/engagement readout behind sessionization and funnel timing.
    * One user-keyed window pass (lead on the same (us, event_id) order
    * every event query uses); percentiles run per event type over integer
    * µs deltas (Spark exact `percentile` ≡ DuckDB `quantile_cont`, the
    * q_agg_median_pct-proven pairing), scale-gated via
    * [[graft.ApproxGate]] (event-type groups are data-sized); the mean
    * is an exact integer sum with one double division. */
  val qDwellTime = Q(
    "q_dwell_time",
    """-- ORACLE-SCALE SEMANTICS ONLY: past ApproxGate.pctRowThreshold base
      |-- rows the Spark side switches to a mergeable approx_percentile
      |-- sketch; this exact form is what's compared at oracle scales.
      |WITH dx AS (
      |  SELECT event_type,
      |    lead(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) - epoch_us(ts) AS d_us
      |  FROM events)
      |SELECT event_type, count(*) AS n,
      |  ROUND(CAST(sum(d_us) AS DOUBLE) / count(*) / 1000000, 6)
      |    AS mean_sec,
      |  ROUND(quantile_cont(d_us, 0.5) / 1000000, 6) AS p50_sec,
      |  ROUND(quantile_cont(d_us, 0.9) / 1000000, 6) AS p90_sec,
      |  ROUND(CAST(max(d_us) AS DOUBLE) / 1000000, 6) AS max_sec
      |FROM dx WHERE d_us IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    // Gate from the raw base table (metadata-cheap count), not the
    // window-derived frame.
    val apDwell = graft.ApproxGate.useApprox(s, d, "events")
    eventsUs(s, d)
      .select(col("event_type"), (lead(col("us"), 1).over(w) - col("us")).as("d_us"))
      .filter(col("d_us").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(col("d_us")).cast(DoubleType) / count(lit(1)) / 1000000, 6)
          .as("mean_sec"),
        round(graft.ApproxGate.pct(col("d_us"), 0.5, apDwell) / 1000000, 6)
          .as("p50_sec"),
        round(graft.ApproxGate.pct(col("d_us"), 0.9, apDwell) / 1000000, 6)
          .as("p90_sec"),
        round(max(col("d_us")).cast(DoubleType) / 1000000, 6).as("max_sec"))
      .orderBy("event_type")
  }

  /** 2-hop recommendation on the co-purchase graph ("customers who bought
    * items you bought also bought"): pairs reachable through a shared
    * neighbor, ranked by the number of distinct connecting items, with
    * DIRECT edges removed (those are q_item_cooccur's output, not a
    * recommendation). Same support ≥ 2 edge derivation as
    * q_triangle_count; the wedge join on the shared vertex is Σ deg²
    * work (never vertex³), the direct-edge removal is a canonical-key
    * LEFT ANTI join, and at 100 TB the hub dial is the same edge
    * sparsification q_cc_labelprop documents. */
  val qGraph2hop = Q(
    "q_graph_2hop",
    s"""WITH ${PairStore.edgeCte()},
      |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
      |hop2 AS (
      |  SELECT s1.src AS a, s2.dst AS b, count(DISTINCT s1.dst) AS n_via
      |  FROM sym s1 JOIN sym s2 ON s1.dst = s2.src AND s1.src < s2.dst
      |  GROUP BY 1, 2)
      |SELECT a, b, n_via FROM hop2
      |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = hop2.a AND e.dst = hop2.b)
      |ORDER BY n_via DESC, a, b LIMIT 20""".stripMargin) { (s, d) =>
    // support ≥ 2 edges off the shared PairStore; the store frame is
    // checkpoint-backed, so the three references below (two wedge sides
    // + anti) re-read blocks, not the fact join
    val e = PairStore.edges(s, d)
    val sym = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val hop2 = sym.as("s1").join(sym.as("s2"),
        col("s1.dst") === col("s2.src") && col("s1.src") < col("s2.dst"))
      .groupBy(col("s1.src").as("a"), col("s2.dst").as("b"))
      .agg(countDistinct(col("s1.dst")).as("n_via"))
    hop2.join(e, hop2("a") === e("src") && hop2("b") === e("dst"), "left_anti")
      .orderBy(col("n_via").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Classical seasonal decomposition of daily revenue (trend +
    * day-of-week seasonal + residual), shown for the last 10 full-window
    * days. EVERYTHING stays exact-integer until the final per-row
    * expressions: the trend is a centered 7-day window SUM of cents
    * (exact — never an avg of doubles), the detrended series is scaled by
    * 7 so it stays integral (7·cents − trendSum), and the seasonal index
    * is an exact integer sum per dow with one double division. The rolling
    * frame is a date-ordered window over the POST-AGGREGATION daily series
    * (365·years rows) — q_rolling_slope's posture, not a fact-table
    * window; at 100 TB the series is still tiny. */
  val qDecompose = Q(
    "q_decompose",
    s"""WITH ${DiagQueries.dowTrendSql},
      |full7 AS (
      |  SELECT day, dow, cents, tsum, 7 * cents - tsum AS det7
      |  FROM tr WHERE tn = 7),
      |seas AS (
      |  SELECT dow, CAST(sum(det7) AS DOUBLE) / count(*) / 700 AS seasonal
      |  FROM full7 GROUP BY dow)
      |SELECT day, ROUND(CAST(cents AS DOUBLE) / 100, 6) AS revenue,
      |  ROUND(CAST(tsum AS DOUBLE) / 700, 6) AS trend,
      |  ROUND(seasonal, 6) AS seasonal,
      |  ROUND(CAST(det7 AS DOUBLE) / 700 - seasonal, 6) AS residual
      |FROM full7 JOIN seas USING (dow)
      |ORDER BY day DESC LIMIT 10""".stripMargin) { (s, d) =>
    val series = t(s, d, "orders")
      .groupBy(col("o_orderdate").cast(DateType).as("day"),
        (weekday(col("o_orderdate").cast(DateType)) + 1).as("dow"))
      .agg(sum(priceCents(col("o_totalprice"))).as("cents"))
    val w = Window.orderBy("day").rowsBetween(-3, 3)
    val tr = series
      .withColumn("tsum", sum(col("cents")).over(w))
      .withColumn("tn", count(lit(1)).over(w))
    val full7 = tr.filter(col("tn") === 7)
      .withColumn("det7", lit(7) * col("cents") - col("tsum"))
      .localCheckpoint() // small daily series, referenced twice
    val seas = full7.groupBy("dow")
      .agg((sum(col("det7")).cast(DoubleType) / count(lit(1)) / 700)
        .as("seasonal"))
    full7.join(broadcast(seas), "dow")
      .select(col("day"),
        round(col("cents").cast(DoubleType) / 100, 6).as("revenue"),
        round(col("tsum").cast(DoubleType) / 700, 6).as("trend"),
        round(col("seasonal"), 6).as("seasonal"),
        round(col("det7").cast(DoubleType) / 700 - col("seasonal"), 6)
          .as("residual"))
      .orderBy(col("day").desc)
      .limit(10)
  }

  /** Longest consecutive-day activity streak per user (gaps-and-islands):
    * distinct active epoch-days, island id = day − row_number (constant
    * within a run of consecutive days), longest island per user — the
    * engagement/retention primitive. Pure integer arithmetic on epoch
    * days; every window and groupBy is user-keyed (one shuffle key end to
    * end); top 20 by (streak, active days, user) is a TakeOrdered. */
  val qStreak = Q(
    "q_streak",
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |isl AS (
      |  SELECT user_id, day,
      |    day - row_number() OVER (PARTITION BY user_id ORDER BY day)
      |      AS island
      |  FROM days),
      |runs AS (
      |  SELECT user_id, island, count(*) AS run_len
      |  FROM isl GROUP BY user_id, island),
      |per AS (
      |  SELECT user_id, max(run_len) AS longest_streak,
      |    CAST(sum(run_len) AS BIGINT) AS n_active_days
      |  FROM runs GROUP BY user_id)
      |SELECT user_id, longest_streak, n_active_days FROM per
      |ORDER BY longest_streak DESC, n_active_days DESC, user_id
      |LIMIT 20""".stripMargin) { (s, d) =>
    val days = eventsUs(s, d)
      .select(col("user_id"), (col("us") / 86400000000L).cast(LongType).as("day"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val runs = days
      .withColumn("island", col("day") - row_number().over(w))
      .groupBy("user_id", "island")
      .agg(count(lit(1)).as("run_len"))
    runs.groupBy("user_id")
      .agg(max(col("run_len")).as("longest_streak"),
        sum(col("run_len")).cast(LongType).as("n_active_days"))
      .orderBy(col("longest_streak").desc, col("n_active_days").desc,
        col("user_id"))
      .limit(20)
  }

  /** Year-over-year rank shift of part revenue (1995 vs 1996): each
    * year's parts ranked by exact-cent revenue through GlobalRank (two
    * range-bucketed total orders — no unpartitioned window over the
    * catalog), full-outer joined on part, biggest movers among either
    * year's top 100. The "what's trending" merchandising readout; rank
    * deltas are exact integers end to end. */
  val qTopnShift = Q(
    "q_topn_shift",
    """WITH rev AS (
      |  SELECT l_partkey AS pk, year(CAST(o_orderdate AS DATE)) AS yr,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS cents
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
      |  GROUP BY 1, 2),
      |r95 AS (
      |  SELECT pk, row_number() OVER (ORDER BY -cents, pk) AS r
      |  FROM rev WHERE yr = 1995),
      |r96 AS (
      |  SELECT pk, row_number() OVER (ORDER BY -cents, pk) AS r
      |  FROM rev WHERE yr = 1996),
      |j AS (
      |  SELECT coalesce(r95.pk, r96.pk) AS pk, r95.r AS rank_1995,
      |    r96.r AS rank_1996
      |  FROM r95 FULL OUTER JOIN r96 ON r95.pk = r96.pk
      |  WHERE coalesce(r95.r, 999999999) <= 100
      |     OR coalesce(r96.r, 999999999) <= 100)
      |SELECT pk, CAST(rank_1995 AS BIGINT) AS rank_1995,
      |  CAST(rank_1996 AS BIGINT) AS rank_1996,
      |  CAST(coalesce(rank_1995, 999999999)
      |    - coalesce(rank_1996, 999999999) AS BIGINT) AS rank_gain
      |FROM j
      |ORDER BY abs(coalesce(rank_1995, 999999999)
      |  - coalesce(rank_1996, 999999999)) DESC, pk
      |LIMIT 20""".stripMargin) { (s, d) =>
    import graft.plans.GlobalRank
    val rev = t(s, d, "lineitem")
      .select("l_orderkey", "l_partkey", "l_extendedprice")
      .join(t(s, d, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("yr", year(col("o_orderdate").cast(DateType)))
      .filter(col("yr").isin(1995, 1996))
      .groupBy(col("l_partkey").as("pk"), col("yr"))
      .agg(sum((dec2(col("l_extendedprice")) * 100).cast(LongType)).as("cents"))
      .withColumn("negc", -col("cents"))
      .localCheckpoint() // two rank passes read the same small per-year table
    def rankYear(y: Int, out: String): DataFrame = {
      val (r, _) = GlobalRank.withGlobalRowNumber(
        rev.filter(col("yr") === y).select("pk", "negc"), out, 16,
        col("negc"), col("pk"))
      r.select(col("pk").as(s"pk_$y"), col(out))
    }
    val far = lit(999999999L)
    val j = rankYear(1995, "rank_1995")
      .join(rankYear(1996, "rank_1996"),
        col("pk_1995") === col("pk_1996"), "full_outer")
      .select(coalesce(col("pk_1995"), col("pk_1996")).as("pk"),
        col("rank_1995"), col("rank_1996"))
      .filter(coalesce(col("rank_1995"), far) <= 100
        || coalesce(col("rank_1996"), far) <= 100)
    j.select(col("pk"), col("rank_1995"), col("rank_1996"),
        (coalesce(col("rank_1995"), far) - coalesce(col("rank_1996"), far))
          .cast(LongType).as("rank_gain"))
      .orderBy(abs(coalesce(col("rank_1995"), far)
        - coalesce(col("rank_1996"), far)).desc, col("pk"))
      .limit(20)
  }

  /** Rolling z-score anomaly detection on per-nation daily revenue: each
    * day scored against its own trailing 28-day window (self excluded —
    * the standard "today vs its baseline" monitor), top 20 |z|. The
    * rolling moments are EXACT integer frame sums (Σcents, Σcents² with
    * cents² widened to DECIMAL(38) before multiplying); mean/std/z are
    * assembled per row from those exact sums in identical op order on
    * both engines. Windows are nation-keyed; ties broken by (day,
    * nation) into a total order. */
  val qRollingZscore = Q(
    "q_rolling_zscore",
    s"""WITH series AS (
      |  SELECT n_name, CAST(o_orderdate AS DATE) AS day,
      |    sum(${priceCentsSql("o_totalprice")})
      |      AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1, 2),
      |w AS (
      |  SELECT n_name, day, cents,
      |    count(*) OVER fr AS n,
      |    sum(CAST(cents AS HUGEINT)) OVER fr AS s1,
      |    sum(CAST(cents AS HUGEINT) * cents) OVER fr AS s2
      |  FROM series
      |  WINDOW fr AS (PARTITION BY n_name ORDER BY day
      |    ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)),
      |z AS (
      |  SELECT n_name, day, cents, n,
      |    (CAST(cents AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |      / sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
      |             / CAST(n * n AS DOUBLE)) AS zs
      |  FROM w WHERE n >= 14)
      |SELECT n_name, day, ROUND(CAST(cents AS DOUBLE) / 100, 6) AS revenue,
      |  CAST(n AS BIGINT) AS baseline_days, ROUND(zs, 6) AS z
      |FROM z ORDER BY abs(zs) DESC, day, n_name LIMIT 20""".stripMargin) {
    (s, d) =>
      val big38 = DecimalType(38, 0)
      val series = t(s, d, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
        .join(broadcast(t(s, d, "customer").select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation").select("n_nationkey", "n_name")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"), col("o_orderdate").cast(DateType).as("day"))
        .agg(sum(priceCents(col("o_totalprice"))).as("cents"))
      val fr = Window.partitionBy("n_name").orderBy("day")
        .rowsBetween(-28, -1)
      val w = series
        .withColumn("n", count(lit(1)).over(fr))
        .withColumn("s1", sum(col("cents").cast(big38)).over(fr))
        .withColumn("s2", sum(col("cents").cast(big38) * col("cents")).over(fr))
        .filter(col("n") >= 14)
      val z = w.select(col("n_name"), col("day"), col("cents"), col("n"),
        ((col("cents").cast(DoubleType)
          - col("s1").cast(DoubleType) / col("n").cast(DoubleType))
          / sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast(DoubleType)
            / (col("n") * col("n")).cast(DoubleType))).as("zs"))
      z.select(col("n_name"), col("day"),
          round(col("cents").cast(DoubleType) / 100, 6).as("revenue"),
          col("n").cast(LongType).as("baseline_days"),
          round(col("zs"), 6).as("z"))
        .orderBy(abs(col("zs")).desc, col("day"), col("n_name"))
        .limit(20)
  }

  /** Weekly/monthly active users + stickiness (WAU/MAU) — the product-
    * analytics engagement headline. Distinct users per ISO week and per
    * month are EXACT distinct aggregates over (period, user) pairs (the
    * events table reduces to distinct pairs first, so each count is a
    * bounded second-stage aggregate); the week→month mapping takes the
    * week's FIRST day so every week lands in exactly one month. */
  val qWeeklyActive = Q(
    "q_weekly_active",
    """WITH wk AS (
      |  SELECT date_trunc('week', CAST(ts AS DATE)) AS week_start,
      |    count(DISTINCT user_id) AS wau
      |  FROM events GROUP BY 1),
      |mo AS (
      |  SELECT date_trunc('month', CAST(ts AS DATE)) AS month_start,
      |    count(DISTINCT user_id) AS mau
      |  FROM events GROUP BY 1)
      |SELECT CAST(week_start AS DATE) AS week_start, wau, mau,
      |  ROUND(CAST(wau AS DOUBLE) / mau, 6) AS stickiness
      |FROM wk JOIN mo
      |  ON date_trunc('month', week_start) = month_start
      |ORDER BY week_start""".stripMargin) { (s, d) =>
    val ev = eventsUs(s, d)
      .select(col("user_id"),
        timestamp_micros(col("us")).cast(DateType).as("day"))
    val wk = ev.select(date_trunc("week", col("day")).as("week_start"),
        col("user_id"))
      .groupBy("week_start")
      .agg(countDistinct(col("user_id")).as("wau"))
    val mo = ev.select(date_trunc("month", col("day")).as("month_start"),
        col("user_id"))
      .groupBy("month_start")
      .agg(countDistinct(col("user_id")).as("mau"))
    wk.join(broadcast(mo),
        date_trunc("month", col("week_start")) === col("month_start"))
      .select(col("week_start").cast(DateType).as("week_start"),
        col("wau"), col("mau"),
        round(col("wau").cast(DoubleType) / col("mau"), 6).as("stickiness"))
      .orderBy("week_start")
  }

  /** Per-user next-event transitions of an events frame (user_id,
    * event_id, event_type, us): `pairs` (src, dst, n) and each src's
    * total `tot` (src, tn) — the user-journey Markov chain's counts. */
  private[operators] def markovPairs(ev: DataFrame)
      : (DataFrame, DataFrame) = {
    val seqW = Window.partitionBy("user_id").orderBy("us", "event_id")
    val pairs = ev
      .select(col("event_type").as("src"),
        lead(col("event_type"), 1).over(seqW).as("dst"))
      .filter(col("dst").isNotNull)
      .groupBy("src", "dst").agg(count(lit(1)).as("n"))
    (pairs, pairs.groupBy("src").agg(sum(col("n")).as("tn")))
  }

  /** DuckDB twin of [[markovPairs]] over `events`: the CTEs `seq`,
    * `pairs` and `tot`. */
  private[operators] def markovPairsSql: String =
    """seq AS (
      |  SELECT event_type AS src,
      |    lead(event_type) OVER (PARTITION BY user_id
      |      ORDER BY epoch_us(ts), event_id) AS dst
      |  FROM events),
      |pairs AS (
      |  SELECT src, dst, count(*) AS n FROM seq
      |  WHERE dst IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT src, sum(n) AS tn FROM pairs GROUP BY 1)""".stripMargin

  /** First-order Markov transition matrix over the per-user event stream:
    * (src → dst) counts from each user's time-ordered event sequence
    * (lead within the user partition — one shuffle key, no global sort),
    * normalized into transition probabilities by the src row total. The
    * counts are exact int64; the only double is the final per-row
    * division, round 6. The src totals are a bounded second-stage
    * aggregate (≤ |event_type|² rows) broadcast back onto the pairs. */
  val qMarkovTransitions = Q(
    "q_markov_transitions",
    s"""WITH $markovPairsSql
      |SELECT p.src, p.dst, p.n,
      |  ROUND(CAST(p.n AS DOUBLE) / tn, 6) AS prob
      |FROM pairs p JOIN tot USING (src)
      |ORDER BY src, dst""".stripMargin) { (s, d) =>
    val (pairs, tot) = markovPairs(eventsUs(s, d))
    pairs.join(broadcast(tot), Seq("src"))
      .select(col("src"), col("dst"), col("n"),
        round(col("n").cast(DoubleType) / col("tn"), 6).as("prob"))
      .orderBy("src", "dst")
  }

  /** Cohort lifetime-value curves: customers grouped by first-order month,
    * cumulative revenue tracked by cohort age in months. The per-(cohort,
    * age) revenue is an exact cents aggregate; the cumulative curve is a
    * cohort-partitioned running sum over those exact ints (bounded rows —
    * months², never the fact table); dollars appear only in the final
    * cast. The first-order month comes from a grouped MIN, broadcast back
    * onto orders. */
  val qCohortLtv = Q(
    "q_cohort_ltv",
    s"""WITH first_o AS (
      |  SELECT o_custkey,
      |    date_trunc('month', MIN(CAST(o_orderdate AS DATE))) AS cohort
      |  FROM orders GROUP BY 1),
      |rev AS (
      |  SELECT f.cohort,
      |    datediff('month', f.cohort,
      |      date_trunc('month', CAST(o.o_orderdate AS DATE))) AS age,
      |    sum(${priceCentsSql("o_totalprice")})
      |      AS cents,
      |    count(*) AS orders
      |  FROM orders o JOIN first_o f ON o.o_custkey = f.o_custkey
      |  GROUP BY 1, 2)
      |SELECT CAST(cohort AS DATE) AS cohort_month,
      |  CAST(age AS BIGINT) AS age_months, orders,
      |  ROUND(CAST(sum(CAST(cents AS HUGEINT))
      |    OVER (PARTITION BY cohort ORDER BY age) AS DOUBLE) / 100, 6)
      |    AS cum_revenue
      |FROM rev ORDER BY cohort_month, age_months""".stripMargin) { (s, d) =>
    val orders = t(s, d, "orders")
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
    val firstO = orders.groupBy("o_custkey")
      .agg(date_trunc("month", min(col("o_orderdate").cast(DateType)))
        .as("cohort"))
    val rev = orders
      .join(firstO, Seq("o_custkey"))
      .groupBy(col("cohort"),
        months_between(date_trunc("month", col("o_orderdate").cast(DateType)),
          col("cohort")).cast(LongType).as("age"))
      .agg(sum(priceCents(col("o_totalprice"))).as("cents"),
        count(lit(1)).as("orders"))
    val cum = Window.partitionBy("cohort").orderBy("age")
    rev.select(col("cohort").cast(DateType).as("cohort_month"),
        col("age").as("age_months"), col("orders"),
        round(sum(col("cents").cast(DecimalType(38, 0))).over(cum)
          .cast(DoubleType) / 100, 6).as("cum_revenue"))
      .orderBy("cohort_month", "age_months")
  }

  /** Two-feature OLS by normal equations, closed form: extendedprice ~
    * quantity + discount. Every moment (Σx, Σx², Σxy …) is an exact
    * scaled-integer sum widened to DECIMAL(38)/HUGEINT BEFORE multiplying,
    * so the single aggregation scan is exact and merge-order-independent;
    * the centered S-terms and the 2×2 solve happen in doubles AFTER the
    * exact sums, in identical op order on both engines. One pass over the
    * fact table computes all nine moments (the k-feature generalization
    * of q_agg_regression's simple OLS). */
  val qRegressionMulti = Q(
    "q_regression_multi",
    """WITH m AS (
      |  SELECT count(*) AS n,
      |    sum(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)) AS sx1,
      |    sum(CAST(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)) AS sx2,
      |    sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT) AS HUGEINT)) AS sy,
      |    sum(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)
      |      * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS sx1x1,
      |    sum(CAST(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)
      |      * CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS sx2x2,
      |    sum(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)
      |      * CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS sx1x2,
      |    sum(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)
      |      * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS sx1y,
      |    sum(CAST(CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)
      |      * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS sx2y,
      |    sum(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT) AS HUGEINT)
      |      * CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS syy
      |  FROM lineitem),
      |s AS (
      |  SELECT n,
      |    CAST(n * sx1x1 - sx1 * sx1 AS DOUBLE) AS s11,
      |    CAST(n * sx2x2 - sx2 * sx2 AS DOUBLE) AS s22,
      |    CAST(n * sx1x2 - sx1 * sx2 AS DOUBLE) AS s12,
      |    CAST(n * sx1y - sx1 * sy AS DOUBLE) AS s1y,
      |    CAST(n * sx2y - sx2 * sy AS DOUBLE) AS s2y,
      |    CAST(n * syy - sy * sy AS DOUBLE) AS syy_c,
      |    CAST(sx1 AS DOUBLE) AS dx1, CAST(sx2 AS DOUBLE) AS dx2,
      |    CAST(sy AS DOUBLE) AS dy
      |  FROM m)
      |SELECT CAST(n AS BIGINT) AS n,
      |  ROUND((s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12), 6) AS b_qty,
      |  ROUND((s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12), 6)
      |    AS b_disc,
      |  ROUND((dy - (s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) * dx1
      |    - (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) * dx2)
      |    / CAST(n AS DOUBLE) / 100, 6) AS b0,
      |  ROUND(((s22 * s1y - s12 * s2y) / (s11 * s22 - s12 * s12) * s1y
      |    + (s11 * s2y - s12 * s1y) / (s11 * s22 - s12 * s12) * s2y)
      |    / syy_c, 6) AS r2
      |FROM s""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    def c100(name: String): Column =
      (dec2(col(name)) * 100).cast(LongType)
    val m = t(s, d, "lineitem")
      .select(c100("l_quantity").as("x1"), c100("l_discount").as("x2"),
        c100("l_extendedprice").as("y"))
      .agg(count(lit(1)).as("n"),
        sum(col("x1").cast(big38)).as("sx1"),
        sum(col("x2").cast(big38)).as("sx2"),
        sum(col("y").cast(big38)).as("sy"),
        sum(col("x1").cast(big38) * col("x1")).as("sx1x1"),
        sum(col("x2").cast(big38) * col("x2")).as("sx2x2"),
        sum(col("x1").cast(big38) * col("x2")).as("sx1x2"),
        sum(col("x1").cast(big38) * col("y")).as("sx1y"),
        sum(col("x2").cast(big38) * col("y")).as("sx2y"),
        sum(col("y").cast(big38) * col("y")).as("syy"))
    val st = m.select(col("n"),
      (col("n") * col("sx1x1") - col("sx1") * col("sx1"))
        .cast(DoubleType).as("s11"),
      (col("n") * col("sx2x2") - col("sx2") * col("sx2"))
        .cast(DoubleType).as("s22"),
      (col("n") * col("sx1x2") - col("sx1") * col("sx2"))
        .cast(DoubleType).as("s12"),
      (col("n") * col("sx1y") - col("sx1") * col("sy"))
        .cast(DoubleType).as("s1y"),
      (col("n") * col("sx2y") - col("sx2") * col("sy"))
        .cast(DoubleType).as("s2y"),
      (col("n") * col("syy") - col("sy") * col("sy"))
        .cast(DoubleType).as("syy_c"),
      col("sx1").cast(DoubleType).as("dx1"),
      col("sx2").cast(DoubleType).as("dx2"),
      col("sy").cast(DoubleType).as("dy"))
    val den = col("s11") * col("s22") - col("s12") * col("s12")
    val b1 = (col("s22") * col("s1y") - col("s12") * col("s2y")) / den
    val b2 = (col("s11") * col("s2y") - col("s12") * col("s1y")) / den
    st.select(col("n").cast(LongType).as("n"),
      round(b1, 6).as("b_qty"),
      round(b2, 6).as("b_disc"),
      round((col("dy") - b1 * col("dx1") - b2 * col("dx2"))
        / col("n").cast(DoubleType) / 100, 6).as("b0"),
      round((b1 * col("s1y") + b2 * col("s2y")) / col("syy_c"), 6).as("r2"))
  }

  /** 2-D histogram (quantity × discount) with a revenue measure per cell —
    * the density grid behind pricing heatmaps. Bucket ids are exact
    * integer arithmetic on the scaled values (floor division for the
    * quantity axis, the cent value itself for discount); one hash
    * aggregate, cells bounded by the grid size regardless of fact rows. */
  val qHist2d = Q(
    "q_hist2d",
    """SELECT CAST(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    // 500 AS BIGINT) AS qty_bucket,
      |  CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT)
      |    AS disc_pct,
      |  count(*) AS n,
      |  ROUND(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |    AS BIGINT)) AS DOUBLE) / 100, 6) AS revenue
      |FROM lineitem GROUP BY 1, 2
      |ORDER BY qty_bucket, disc_pct""".stripMargin) { (s, d) =>
    t(s, d, "lineitem")
      .groupBy(
        floor((dec2(col("l_quantity")) * 100).cast(LongType) / 500)
          .cast(LongType).as("qty_bucket"),
        (dec2(col("l_discount")) * 100).cast(LongType).as("disc_pct"))
      .agg(count(lit(1)).as("n"),
        round(sum((dec2(col("l_extendedprice")) * 100).cast(LongType))
          .cast(DoubleType) / 100, 6).as("revenue"))
      .orderBy("qty_bucket", "disc_pct")
  }

  /** Each customer's first and last order date (o_custkey, first_d,
    * last_d), and the latest last_d over all customers as a one-row frame
    * (m): the activity span the survival queries measure. */
  private[operators] def custSpans(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val cust = t(s, d, "orders")
      .groupBy("o_custkey")
      .agg(min(col("o_orderdate").cast(DateType)).as("first_d"),
        max(col("o_orderdate").cast(DateType)).as("last_d"))
    (cust, cust.agg(max(col("last_d")).as("m")))
  }

  /** DuckDB twin of [[custSpans]]: the cust and mx CTEs. */
  private[operators] val custSpansCte =
    """cust AS (
      |  SELECT o_custkey, MIN(CAST(o_orderdate AS DATE)) AS first_d,
      |    MAX(CAST(o_orderdate AS DATE)) AS last_d
      |  FROM orders GROUP BY 1),
      |mx AS (SELECT MAX(last_d) AS m FROM cust)""".stripMargin

  /** Per customer (t, ev): the days from first to last order, and 1 when
    * the last order is more than 60 days before the latest one (churned),
    * 0 when it is within them (right-censored). */
  private def durations(s: SparkSession, d: String): DataFrame = {
    val (cust, mx) = custSpans(s, d)
    cust.crossJoin(broadcast(mx))
      .select(datediff(col("last_d"), col("first_d")).as("t"),
        when(datediff(col("m"), col("last_d")) > 60, 1L).otherwise(0L)
          .as("ev"))
  }

  /** DuckDB twin of [[durations]]: [[custSpansCte]] and the durs CTE. */
  private val durationsCte =
    s"""$custSpansCte,
       |durs AS (
       |  SELECT datediff('day', first_d, last_d) AS t,
       |    CASE WHEN datediff('day', last_d, m) > 60 THEN 1 ELSE 0 END AS ev
       |  FROM cust, mx)""".stripMargin

  /** Per distinct [[durations]] value t: the churned count d and the
    * row count nrow. A bounded post-aggregation table (≤ distinct
    * day-durations), so windows over it run over ≤ ~10³ rows, never
    * facts. */
  private def durationCounts(s: SparkSession, d: String): DataFrame =
    durations(s, d).groupBy("t")
      .agg(sum(col("ev")).as("d"), count(lit(1)).as("nrow"))

  /** `g` (t, d, nrow) with the reverse-cumulative at_risk count. */
  private def atRisk(g: DataFrame): DataFrame =
    g.withColumn("at_risk", sum(col("nrow")).over(Window.orderBy("t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)))

  /** DuckDB twin of [[atRisk]]: the CTE `ar` over a CTE `g`. */
  private val atRiskSql =
    """ar AS (
      |  SELECT t, d,
      |    sum(nrow) OVER (ORDER BY t
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS at_risk
      |  FROM g)""".stripMargin

  /** Running Σ ln((at_risk − d)/at_risk) over t of an [[atRisk]] table:
    * the log of the Kaplan–Meier survival. */
  private def kmLogSum: Column =
    sum(when(col("d") < col("at_risk"),
      log((col("at_risk") - col("d")).cast(DoubleType)
        / col("at_risk").cast(DoubleType))).otherwise(lit(0.0)))
      .over(Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))

  /** DuckDB twin of [[kmLogSum]]. */
  private val kmLogSumSql =
    """sum(CASE WHEN d < at_risk
      |      THEN ln(CAST(at_risk - d AS DOUBLE) / CAST(at_risk AS DOUBLE))
      |      ELSE 0 END) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin

  /** Kaplan–Meier survival over customer activity lifetimes: duration =
    * days between a customer's first and last order; customers whose last
    * order is within 60 days of the global max date are right-censored
    * (still active). The fact table reduces to one row per customer, then
    * to one row per distinct duration (d churned, c censored) — a BOUNDED
    * table (≤ calendar days), so the at-risk reverse-cumulative and the
    * survival log-sum run as single-partition windows over that aggregate
    * like q_degree_hist/q_decompose, never over fact rows. at-risk counts
    * are exact ints; ln((ar−d)/ar) is per-row on exact ints and its
    * running sum is sequential in the same total order on both engines;
    * the ar=d terminal row (ln 0 diverges, and Spark ln(0) is NULL where
    * DuckDB's is -inf) is emitted as survival 0 directly. */
  val qKaplanMeier = Q(
    "q_kaplan_meier",
    s"""WITH $durationsCte,
      |g AS (
      |  SELECT t, sum(ev) AS d, sum(1 - ev) AS c, count(*) AS nrow
      |  FROM durs GROUP BY t),
      |$atRiskSql,
      |sv AS (
      |  SELECT t, d, at_risk,
      |    $kmLogSumSql AS lsum
      |  FROM ar)
      |SELECT CAST(t AS BIGINT) AS t_days, CAST(at_risk AS BIGINT) AS at_risk,
      |  CAST(d AS BIGINT) AS churned,
      |  CASE WHEN d >= at_risk THEN 0.0 ELSE ROUND(exp(lsum), 6) END
      |    AS survival
      |FROM sv WHERE d > 0 ORDER BY t_days""".stripMargin) { (s, d) =>
    val sv = atRisk(durationCounts(s, d)).withColumn("lsum", kmLogSum)
    sv.filter(col("d") > 0)
      .select(col("t").cast(LongType).as("t_days"),
        col("at_risk").cast(LongType).as("at_risk"),
        col("d").cast(LongType).as("churned"),
        when(col("d") >= col("at_risk"), 0.0)
          .otherwise(round(exp(col("lsum")), 6)).as("survival"))
      .orderBy("t_days")
  }

  /** Per-user inter-arrival burstiness rolled up by event type — the
    * bot/burst-traffic detector. Gaps are exact µs int64 (lag within the
    * (user, type) partition — user_id is the shuffle key, so per-type
    * volume never concentrates on one task); Σgap and Σgap² widen to
    * DECIMAL(38)/HUGEINT before multiplying so the moment sums are exact
    * and merge-order-independent. Burstiness B = (σ−µ)/(σ+µ) ∈ [−1, 1]
    * (σ, µ in seconds) is assembled from the exact sums in identical op
    * order on both engines. */
  val qBurstiness = Q(
    "q_burstiness",
    """WITH g AS (
      |  SELECT event_type,
      |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
      |      PARTITION BY user_id, event_type
      |      ORDER BY epoch_us(ts), event_id) AS gap
      |  FROM events),
      |m AS (
      |  SELECT event_type, count(*) AS n,
      |    sum(CAST(gap AS HUGEINT)) AS s1,
      |    sum(CAST(gap AS HUGEINT) * gap) AS s2
      |  FROM g WHERE gap IS NOT NULL GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  ROUND(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6, 6)
      |    AS mean_gap_s,
      |  ROUND(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
      |    / CAST(n * n AS DOUBLE)) / 1e6, 6) AS sd_gap_s,
      |  ROUND((sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
      |      / CAST(n * n AS DOUBLE))
      |    - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
      |    / (sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
      |      / CAST(n * n AS DOUBLE))
      |    + CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS burstiness
      |FROM m ORDER BY event_type""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val seqW = Window.partitionBy("user_id", "event_type")
      .orderBy("us", "event_id")
    val g = eventsUs(s, d)
      .select(col("event_type"),
        (col("us") - lag(col("us"), 1).over(seqW)).as("gap"))
      .filter(col("gap").isNotNull)
    val m = g.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("gap").cast(big38)).as("s1"),
        sum(col("gap").cast(big38) * col("gap")).as("s2"))
    val mean = col("s1").cast(DoubleType) / col("n").cast(DoubleType) / 1e6
    val sd = sqrt((col("n") * col("s2") - col("s1") * col("s1"))
      .cast(DoubleType) / (col("n") * col("n")).cast(DoubleType)) / 1e6
    val meanUs = col("s1").cast(DoubleType) / col("n").cast(DoubleType)
    val sdUs = sqrt((col("n") * col("s2") - col("s1") * col("s1"))
      .cast(DoubleType) / (col("n") * col("n")).cast(DoubleType))
    m.select(col("event_type"), col("n").cast(LongType).as("n"),
        round(mean, 6).as("mean_gap_s"),
        round(sd, 6).as("sd_gap_s"),
        round((sdUs - meanUs) / (sdUs + meanUs), 6).as("burstiness"))
      .orderBy("event_type")
  }

  /** Tukey-fence outlier audit per order priority: exact quartiles of the
    * order total (rounded 6 so both engines fence against identical cuts,
    * the q_quantile_buckets idiom), fences at q1/q3 ∓ 1.5·IQR computed
    * with the same literal op order on both sides, then per-group counts
    * below/above. The per-group robust-outlier profile every ingestion
    * pipeline reports. Two fact passes (quartile agg + conditional
    * count) joined on the 5-row broadcast cut table; the quartile pass
    * is scale-gated via [[graft.ApproxGate]] (exact at oracle scales,
    * approx_percentile sketch past the threshold) like
    * q_quantile_buckets. */
  val qOutlierIqr = Q(
    "q_outlier_iqr",
    """-- ORACLE-SCALE SEMANTICS ONLY: past ApproxGate.pctRowThreshold base
      |-- rows the Spark side switches to a mergeable approx_percentile
      |-- sketch; this exact form is what's compared at oracle scales.
      |WITH cuts AS (
      |  SELECT o_orderpriority,
      |    ROUND(quantile_cont(o_totalprice, 0.25), 6) AS q1,
      |    ROUND(quantile_cont(o_totalprice, 0.75), 6) AS q3
      |  FROM orders GROUP BY 1)
      |SELECT o.o_orderpriority, count(*) AS n,
      |  CAST(sum(CASE WHEN o_totalprice < q1 - 1.5 * (q3 - q1)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(sum(CASE WHEN o_totalprice > q3 + 1.5 * (q3 - q1)
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |  ROUND(q1 - 1.5 * (q3 - q1), 6) AS lo_fence,
      |  ROUND(q3 + 1.5 * (q3 - q1), 6) AS hi_fence
      |FROM orders o JOIN cuts c ON o.o_orderpriority = c.o_orderpriority
      |GROUP BY o.o_orderpriority, q1, q3
      |ORDER BY o.o_orderpriority""".stripMargin) { (s, d) =>
    val orders = t(s, d, "orders")
    val ap = graft.ApproxGate.useApprox(s, d, "orders")
    val cuts = orders.groupBy(col("o_orderpriority").as("prio"))
      .agg(round(graft.ApproxGate.pct(col("o_totalprice"), 0.25, ap), 6)
          .as("q1"),
        round(graft.ApproxGate.pct(col("o_totalprice"), 0.75, ap), 6)
          .as("q3"))
    val lo = col("q1") - lit(1.5) * (col("q3") - col("q1"))
    val hi = col("q3") + lit(1.5) * (col("q3") - col("q1"))
    orders.join(broadcast(cuts), col("o_orderpriority") === col("prio"))
      .groupBy("o_orderpriority", "q1", "q3")
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_totalprice") < lo, 1).otherwise(0))
          .cast(LongType).as("n_low"),
        sum(when(col("o_totalprice") > hi, 1).otherwise(0))
          .cast(LongType).as("n_high"))
      .select(col("o_orderpriority"), col("n"), col("n_low"), col("n_high"),
        round(lo, 6).as("lo_fence"), round(hi, 6).as("hi_fence"))
      .orderBy("o_orderpriority")
  }

  /** Leakage-aware churn-label generation: for every (user, active-day)
    * observation, churn_14 = 1 iff the user has NO activity in the next
    * 14 days — and observations whose 14-day horizon extends past the end
    * of the data are EXCLUDED (right-censoring guard: labeling them 1
    * would teach the model that the dataset ends, the classic
    * label-leakage bug). Pure epoch-day integer arithmetic (the q_streak
    * idiom); one user-keyed lead() window + a broadcast one-row max. */
  val qChurnLabel = Q(
    "q_churn_label",
    """WITH days AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |mx AS (SELECT max(day) AS max_day FROM days),
      |lab AS (
      |  SELECT user_id, day,
      |    lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day
      |  FROM days)
      |SELECT user_id, CAST(day AS BIGINT) AS day,
      |  CASE WHEN next_day IS NOT NULL AND next_day - day <= 14
      |    THEN 0 ELSE 1 END AS churn_14
      |FROM lab CROSS JOIN mx
      |WHERE day <= max_day - 14
      |ORDER BY user_id, day""".stripMargin) { (s, d) =>
    val days = eventsUs(s, d)
      .select(col("user_id"), expr("us DIV 86400000000").as("day"))
      .distinct()
    val mx = days.agg(max(col("day")).as("max_day"))
    val w = Window.partitionBy("user_id").orderBy("day")
    days.withColumn("next_day", lead(col("day"), 1).over(w))
      .crossJoin(broadcast(mx))
      .filter(col("day") <= col("max_day") - 14)
      .select(col("user_id"), col("day").cast(LongType).as("day"),
        when(col("next_day").isNotNull && col("next_day") - col("day") <= 14,
          0).otherwise(1).as("churn_14"))
      .orderBy("user_id", "day")
  }

  /** Sample-ratio-mismatch (SRM) check: the experiment-health gate run
    * before reading any A/B result. Users are assigned to arms by content
    * hash (the q_split_train_test idiom — deterministic, engine- and
    * partition-independent), observed arm sizes are compared to the 50/50
    * design with a one-df chi-square, and the flag trips at p<0.05
    * (χ² > 3.841). Exact integer counts into one final double
    * expression. */
  val qAbSrm = Q(
    "q_ab_srm",
    """WITH arms AS (
      |  SELECT CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1,
      |      15)) AS BIGINT) % 2 AS arm
      |  FROM (SELECT DISTINCT user_id FROM events) u),
      |m AS (
      |  SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a,
      |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      |  FROM arms)
      |SELECT n_a, n_b,
      |  ROUND(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
      |    / CAST(n_a + n_b AS DOUBLE), 6) AS chi2,
      |  CASE WHEN CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE)
      |    / CAST(n_a + n_b AS DOUBLE) > 3.841 THEN 1 ELSE 0 END AS srm_flag
      |FROM m""".stripMargin) { (s, d) =>
    // χ² for 50/50: Σ(obs−exp)²/exp over 2 cells = (n_a−n_b)²/(n_a+n_b)
    val arms = t(s, d, "events").select(col("user_id")).distinct()
      .select((conv(substring(md5(col("user_id").cast(StringType)), 1, 15),
        16, 10).cast(LongType) % 2).as("arm"))
    val m = arms.agg(
      sum(when(col("arm") === 0, 1).otherwise(0)).cast(LongType).as("n_a"),
      sum(when(col("arm") === 1, 1).otherwise(0)).cast(LongType).as("n_b"))
    val chi2 = ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b")))
      .cast(DoubleType) / (col("n_a") + col("n_b")).cast(DoubleType)
    m.select(col("n_a"), col("n_b"), round(chi2, 6).as("chi2"),
      when(chi2 > 3.841, 1).otherwise(0).as("srm_flag"))
  }

  /** Theil-Sen robust trend estimator over monthly revenue: the median of
    * all pairwise slopes (and the Conover median intercept) — the
    * outlier-proof alternative to OLS trend (q_rolling_slope /
    * q_regression_multi) that a single bad month cannot drag. The
    * pairwise stage runs on the BOUNDED post-aggregation monthly series
    * (|months|² pairs, never the fact table), each slope is one double
    * division of exact integers, and the median is selection —
    * deterministic on both engines. */
  val qTheilSen = Q(
    "q_theil_sen",
    s"""WITH m AS (
      |  SELECT (CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) * 12
      |      + CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT)) AS mo,
      |    sum(${priceCentsSql("o_totalprice")})
      |      AS cents
      |  FROM orders GROUP BY 1),
      |pairs AS (
      |  SELECT CAST(b.cents - a.cents AS DOUBLE)
      |      / CAST(b.mo - a.mo AS DOUBLE) AS slope
      |  FROM m a JOIN m b ON b.mo > a.mo),
      |sl AS (
      |  SELECT count(*) AS n_pairs,
      |    ROUND(quantile_cont(slope, 0.5), 6) AS slope_med
      |  FROM pairs)
      |SELECT (SELECT count(*) FROM m) AS n_months, n_pairs, slope_med,
      |  ROUND((SELECT quantile_cont(CAST(cents AS DOUBLE)
      |    - slope_med * CAST(mo AS DOUBLE), 0.5) FROM m), 6) AS intercept_med
      |FROM sl""".stripMargin) { (s, d) =>
    val m = t(s, d, "orders")
      .groupBy((year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
        .cast(LongType).as("mo"))
      .agg(sum(priceCents(col("o_totalprice"))).as("cents"))
    val a = m.select(col("mo").as("mo_a"), col("cents").as("c_a"))
    val b = m.select(col("mo").as("mo_b"), col("cents").as("c_b"))
    val pairs = a.join(b, col("mo_b") > col("mo_a"))
      .select(((col("c_b") - col("c_a")).cast(DoubleType)
        / (col("mo_b") - col("mo_a")).cast(DoubleType)).as("slope"))
    val sl = pairs.agg(count(lit(1)).as("n_pairs"),
      round(expr("percentile(slope, 0.5)"), 6).as("slope_med"))
    val nm = m.agg(count(lit(1)).as("n_months"))
    val ic = m.crossJoin(broadcast(sl))
      .agg(round(expr(
        "percentile(CAST(cents AS DOUBLE) - slope_med * CAST(mo AS DOUBLE), 0.5)"),
        6).as("intercept_med"))
    nm.crossJoin(broadcast(sl)).crossJoin(broadcast(ic))
      .select(col("n_months"), col("n_pairs"), col("slope_med"),
        col("intercept_med"))
  }

  /** Link-prediction features on the item co-purchase graph: Jaccard
    * neighbor similarity |N(a)∩N(b)| / |N(a)∪N(b)| for item pairs sharing
    * at least one neighbor. The adjacency is the support-thresholded
    * co-occurrence edge list (bounded, q_item_cooccur's shape); common
    * neighbors come from a wedge self-join on the shared-neighbor key
    * (the q_triangle_count pattern — never all item pairs), degrees from
    * a broadcast degree table; top-50 by similarity with a total
    * tie-break. */
  val qJaccardNeighbors = Q(
    "q_jaccard_neighbors",
    s"""WITH ${PairStore.rawAdjCte},
      |deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
      |wedge AS (
      |  SELECT x.node AS a, y.node AS b, count(*) AS common
      |  FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
      |  GROUP BY x.node, y.node)
      |SELECT a, b, common,
      |  ROUND(CAST(common AS DOUBLE)
      |    / CAST(da.d + db.d - common AS DOUBLE), 6) AS jaccard
      |FROM wedge JOIN deg da ON a = da.node JOIN deg db ON b = db.node
      |ORDER BY jaccard DESC, a, b LIMIT 50""".stripMargin) { (s, d) =>
    val adj = PairStore.rawAdjacency(s, d)
    val deg = adj.groupBy("node").agg(count(lit(1)).as("d"))
    val wedge = adj.select(col("node").as("a"), col("nbr"))
      .join(adj.select(col("node").as("b"), col("nbr").as("nbr2")),
        col("nbr") === col("nbr2") && col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("common"))
    wedge
      .join(broadcast(deg.select(col("node").as("na"), col("d").as("da"))),
        col("a") === col("na"))
      .join(broadcast(deg.select(col("node").as("nb"), col("d").as("db"))),
        col("b") === col("nb"))
      .select(col("a"), col("b"), col("common"),
        round(col("common").cast(DoubleType)
          / (col("da") + col("db") - col("common")).cast(DoubleType), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("a"), col("b"))
      .limit(50)
  }

  /** A/B experiment power analysis: the minimum detectable effect (MDE)
    * on conversion per market segment at 80% power / 5% two-sided alpha,
    * from the segment's observed arm sizes and baseline rate — the
    * "can this experiment even see the lift we care about" readout next
    * to q_abtest_ztest (the result) and q_ab_srm (the health gate).
    * Inputs are exact integer counts; MDE = (z_α/2+z_β)·√(2p̂(1−p̂)/n̄)
    * is one fixed-op-order double expression with hardcoded z literals
    * (no cross-engine distribution functions). */
  val qAbPower = Q(
    "q_ab_power",
    """WITH conv AS (
      |  SELECT c.c_custkey, c.c_mktsegment,
      |    CASE WHEN p.o_custkey IS NOT NULL THEN 1 ELSE 0 END AS converted
      |  FROM customer c LEFT JOIN (
      |    SELECT DISTINCT o_custkey FROM orders) p
      |    ON c.c_custkey = p.o_custkey),
      |m AS (
      |  SELECT c_mktsegment, count(*) AS n,
      |    CAST(sum(converted) AS BIGINT) AS n_conv
      |  FROM conv GROUP BY 1)
      |SELECT c_mktsegment, n, n_conv,
      |  ROUND(CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE), 6) AS base_rate,
      |  ROUND((1.959964 + 0.841621)
      |    * sqrt(2 * (CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (1 - CAST(n_conv AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (CAST(n AS DOUBLE) / 2)), 6) AS mde
      |FROM m ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val purchasers = t(s, d, "orders").select(col("o_custkey")).distinct()
    val conv = t(s, d, "customer")
      .join(broadcast(purchasers), col("c_custkey") === col("o_custkey"),
        "left")
      .select(col("c_mktsegment"),
        when(col("o_custkey").isNotNull, 1).otherwise(0).as("converted"))
    val m = conv.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("converted")).cast(LongType).as("n_conv"))
    val p = col("n_conv").cast(DoubleType) / col("n").cast(DoubleType)
    m.select(col("c_mktsegment"), col("n"), col("n_conv"),
      round(p, 6).as("base_rate"),
      round(lit(1.959964 + 0.841621)
        * sqrt(lit(2) * p * (lit(1) - p)
          / (col("n").cast(DoubleType) / 2)), 6).as("mde"))
      .orderBy("c_mktsegment")
  }

  /** Kendall's tau-b rank correlation between monthly order volume and
    * monthly revenue — the outlier-proof, tie-aware alternative to
    * q_spearman for monotone-association checks on aggregate series.
    * The pairwise stage runs on the BOUNDED post-agg monthly table only
    * (the q_theil_sen shape — never on raw facts); concordant /
    * discordant / tie counts are exact integers and the one double
    * expression is the final tau-b. */
  val qKendallTau = Q(
    "q_kendall_tau",
    s"""WITH m AS (
      |  SELECT date_trunc('month', o_orderdate) AS mth, count(*) AS x,
      |    ${sumCentsSql}
      |      AS y
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2
      |  FROM m a JOIN m b ON a.mth < b.mth),
      |c AS (
      |  SELECT count(*) AS n0,
      |    CAST(sum(CASE WHEN (x1 - x2) * (y1 - y2) > 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS conc,
      |    CAST(sum(CASE WHEN (x1 - x2) * (y1 - y2) < 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS disc,
      |    CAST(sum(CASE WHEN x1 = x2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS tie_x,
      |    CAST(sum(CASE WHEN y1 = y2 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS tie_y
      |  FROM p)
      |SELECT n0, conc, disc, tie_x, tie_y,
      |  ROUND(CAST(conc - disc AS DOUBLE)
      |    / sqrt(CAST(n0 - tie_x AS DOUBLE) * CAST(n0 - tie_y AS DOUBLE)),
      |    6) AS tau_b
      |FROM c""".stripMargin) { (s, d) =>
    val m = t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
      .agg(count(lit(1)).as("x"),
        sumCents.as("y"))
    val p = m.select(col("mth"), col("x").as("x1"), col("y").as("y1"))
      .join(broadcast(m.select(col("mth").as("mth2"), col("x").as("x2"),
        col("y").as("y2"))), col("mth") < col("mth2"))
    val prod = (col("x1") - col("x2")) * (col("y1") - col("y2"))
    val c = p.agg(
      count(lit(1)).as("n0"),
      sum(when(prod > 0, 1).otherwise(0)).as("conc"),
      sum(when(prod < 0, 1).otherwise(0)).as("disc"),
      sum(when(col("x1") === col("x2"), 1).otherwise(0)).as("tie_x"),
      sum(when(col("y1") === col("y2"), 1).otherwise(0)).as("tie_y"))
    c.select(col("n0"), col("conc"), col("disc"), col("tie_x"), col("tie_y"),
      round((col("conc") - col("disc")).cast(DoubleType)
        / sqrt((col("n0") - col("tie_x")).cast(DoubleType)
          * (col("n0") - col("tie_y")).cast(DoubleType)), 6).as("tau_b"))
  }

  /** Grubbs' outlier statistic per market segment: the max studentized
    * deviate G = max|x−x̄|/s over account balances — the single-outlier
    * screen run before q_anomaly_mad-style per-row flags. All moment
    * inputs are exact integers (cents, DECIMAL(38) sums); the max
    * deviation is computed as the exact integer max|x·n − Σx| (scaling by
    * n avoids materializing the fractional mean), and doubles appear only
    * in the final fixed-op-order expression. Two passes over the fact
    * (moments, then deviations against the broadcast moment table). */
  val qGrubbs = Q(
    "q_grubbs",
    """WITH x AS (
      |  SELECT c_mktsegment,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM customer),
      |m AS (
      |  SELECT c_mktsegment, count(*) AS n,
      |    CAST(sum(cents) AS HUGEINT) AS s,
      |    sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS ss
      |  FROM x GROUP BY 1),
      |d AS (
      |  SELECT x.c_mktsegment, max(m.n) AS n, max(m.s) AS s, max(m.ss) AS ss,
      |    max(abs(CAST(x.cents AS HUGEINT) * m.n - m.s)) AS maxdev
      |  FROM x JOIN m ON x.c_mktsegment = m.c_mktsegment
      |  GROUP BY x.c_mktsegment)
      |SELECT c_mktsegment, n,
      |  ROUND(CAST(s AS DOUBLE) / n / 100, 6) AS mean_bal,
      |  ROUND(sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |    / n) / (n - 1)) / 100, 6) AS sd_bal,
      |  ROUND((CAST(maxdev AS DOUBLE) / n / 100)
      |    / (sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
      |      / n) / (n - 1)) / 100), 6) AS g
      |FROM d ORDER BY c_mktsegment""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val x = t(s, d, "customer").select(col("c_mktsegment"),
      (dec2(col("c_acctbal")) * 100).cast(LongType).as("cents"))
    val m = x.groupBy("c_mktsegment").agg(
      count(lit(1)).as("n"),
      sum(col("cents").cast(big38)).as("s"),
      sum(col("cents").cast(big38) * col("cents").cast(big38)).as("ss"))
    val dd = x.join(broadcast(m.withColumnRenamed("c_mktsegment", "seg")),
        col("c_mktsegment") === col("seg"))
      .groupBy("c_mktsegment")
      .agg(max(col("n")).as("n"), max(col("s")).as("s"),
        max(col("ss")).as("ss"),
        max(abs(col("cents").cast(big38) * col("n") - col("s")))
          .as("maxdev"))
    val sd = sqrt((col("ss").cast(DoubleType)
      - col("s").cast(DoubleType) * col("s").cast(DoubleType) / col("n"))
      / (col("n") - 1)) / 100
    dd.select(col("c_mktsegment"), col("n"),
      round(col("s").cast(DoubleType) / col("n") / 100, 6).as("mean_bal"),
      round(sd, 6).as("sd_bal"),
      round((col("maxdev").cast(DoubleType) / col("n") / 100) / sd, 6)
        .as("g"))
      .orderBy("c_mktsegment")
  }

  /** Difference-in-differences: the BUILDING segment's order-value change
    * across the 1998-01-01 policy cutoff net of the control segments'
    * change — the observational-causal companion to q_cuped /
    * q_abtest_ztest when there was no randomized assignment. One
    * conditional-aggregation pass over orders with the broadcast customer
    * dim; cell sums are exact cents (DECIMAL 38), the four means and the
    * DiD estimate are one fixed-op-order double expression each. */
  val qDiffInDiff = Q(
    "q_diff_in_diff",
    s"""WITH o AS (
      |  SELECT CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END
      |      AS treat,
      |    CASE WHEN o.o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0
      |      END AS post,
      |    ${priceCentsSql("o.o_totalprice")}
      |      AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
      |SELECT
      |  CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_pre_t,
      |  CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_post_t,
      |  CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_pre_c,
      |  CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_post_c,
      |  ROUND(CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN cents ELSE 0
      |      END) AS DOUBLE)
      |    / sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END) / 100,
      |    6) AS pre_treat_mean,
      |  ROUND(CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN cents ELSE 0
      |      END) AS DOUBLE)
      |    / sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END) / 100,
      |    6) AS post_treat_mean,
      |  ROUND(CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN cents ELSE 0
      |      END) AS DOUBLE)
      |    / sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END) / 100,
      |    6) AS pre_ctrl_mean,
      |  ROUND(CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN cents ELSE 0
      |      END) AS DOUBLE)
      |    / sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END) / 100,
      |    6) AS post_ctrl_mean,
      |  ROUND((CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN cents ELSE 0
      |      END) AS DOUBLE)
      |    / sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END) / 100
      |    - CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN cents ELSE 0
      |      END) AS DOUBLE)
      |    / sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END) / 100)
      |    - (CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN cents ELSE 0
      |      END) AS DOUBLE)
      |    / sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END) / 100
      |    - CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN cents ELSE 0
      |      END) AS DOUBLE)
      |    / sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END) / 100),
      |    6) AS did
      |FROM o""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val cust = t(s, d, "customer").select(col("c_custkey"),
      when(col("c_mktsegment") === "BUILDING", 1).otherwise(0).as("treat"))
    val o = t(s, d, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("treat"),
        when(col("o_orderdate") >= ts("1998-01-01"), 1).otherwise(0)
          .as("post"),
        priceCents(col("o_totalprice")).as("cents"))
    def nCell(tr: Int, po: Int) =
      sum(when(col("treat") === tr && col("post") === po, 1).otherwise(0))
    def sCell(tr: Int, po: Int) =
      sum(when(col("treat") === tr && col("post") === po, col("cents"))
        .otherwise(0L).cast(big38))
    def meanCell(tr: Int, po: Int) =
      sCell(tr, po).cast(DoubleType) / nCell(tr, po) / 100
    o.agg(
      nCell(1, 0).as("n_pre_t"), nCell(1, 1).as("n_post_t"),
      nCell(0, 0).as("n_pre_c"), nCell(0, 1).as("n_post_c"),
      round(meanCell(1, 0), 6).as("pre_treat_mean"),
      round(meanCell(1, 1), 6).as("post_treat_mean"),
      round(meanCell(0, 0), 6).as("pre_ctrl_mean"),
      round(meanCell(0, 1), 6).as("post_ctrl_mean"),
      round((meanCell(1, 1) - meanCell(1, 0))
        - (meanCell(0, 1) - meanCell(0, 0)), 6).as("did"))
  }

  /** Adamic-Adar link prediction on the thresholded co-purchase graph:
    * common neighbors weighted by 1/ln(degree) so hub-mediated
    * connections count less — the standard refinement of
    * q_jaccard_neighbors. Same wedge equi-join shape (shared-neighbor
    * key, never all-pairs); each wedge's 1/ln(deg) term is quantized to
    * an exact 10⁻⁹ integer before summing (reduction-order-proof; shared
    * neighbors always have degree ≥ 2 so ln is never 0), and the degree
    * table broadcasts. */
  val qAdamicAdar = Q(
    "q_adamic_adar",
    s"""WITH ${PairStore.rawAdjCte},
      |deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
      |aa AS (
      |  SELECT x.node AS a, y.node AS b, count(*) AS common,
      |    sum(CAST(ROUND(1000000000 / ln(CAST(dn.d AS DOUBLE))) AS BIGINT))
      |      AS aa9
      |  FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
      |  JOIN deg dn ON x.nbr = dn.node
      |  GROUP BY x.node, y.node)
      |SELECT a, b, common,
      |  ROUND(CAST(aa9 AS DOUBLE) / 1000000000, 6) AS adamic_adar
      |FROM aa ORDER BY adamic_adar DESC, a, b LIMIT 50""".stripMargin) {
    (s, d) =>
    val adj = PairStore.rawAdjacency(s, d)
    val deg = adj.groupBy("node").agg(count(lit(1)).as("d"))
    val term9 = round(lit(1000000000L)
      / log(col("d").cast(DoubleType))).cast(LongType)
    adj.select(col("node").as("a"), col("nbr"))
      .join(adj.select(col("node").as("b"), col("nbr").as("nbr2")),
        col("nbr") === col("nbr2") && col("a") < col("b"))
      .join(broadcast(deg.withColumnRenamed("node", "dn")),
        col("nbr") === col("dn"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common"), sum(term9).as("aa9"))
      .select(col("a"), col("b"), col("common"),
        round(col("aa9").cast(DoubleType) / 1000000000L, 6)
          .as("adamic_adar"))
      .orderBy(col("adamic_adar").desc, col("a"), col("b"))
      .limit(50)
  }

  /** Regularize an irregular daily series onto a complete day grid with
    * linear interpolation — the resampling step before any fixed-step
    * time-series model. The grid is the BOUNDED day domain (sequence
    * from min to max day, broadcast); daily sums are exact 10⁻⁶-unit
    * integers; gap days take prev + (next−prev)·(d−pd)/(nd−pd) as one
    * fixed-op-order double expression. Forward/backward fills cover the
    * (impossible on this grid) open ends. */
  val qResampleInterp = Q(
    "q_resample_interp",
    """WITH e AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(ROUND(value * 1000000) AS BIGINT) AS v6
      |  FROM events),
      |agg AS (SELECT day, CAST(sum(v6) AS BIGINT) AS s6 FROM e GROUP BY 1),
      |b AS (SELECT min(day) AS lo, max(day) AS hi FROM agg),
      |grid AS (
      |  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
      |    CAST(hi AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM b),
      |j AS (SELECT g.day, a.s6 FROM grid g
      |  LEFT JOIN agg a ON g.day = a.day),
      |f AS (
      |  SELECT day, s6,
      |    last_value(s6 IGNORE NULLS) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev6,
      |    max(CASE WHEN s6 IS NOT NULL THEN day END) OVER (ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pday,
      |    first_value(s6 IGNORE NULLS) OVER (ORDER BY day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next6,
      |    min(CASE WHEN s6 IS NOT NULL THEN day END) OVER (ORDER BY day
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nday
      |  FROM j)
      |SELECT day,
      |  CASE WHEN s6 IS NOT NULL THEN ROUND(CAST(s6 AS DOUBLE) / 1000000, 6)
      |    WHEN prev6 IS NULL THEN ROUND(CAST(next6 AS DOUBLE) / 1000000, 6)
      |    WHEN next6 IS NULL THEN ROUND(CAST(prev6 AS DOUBLE) / 1000000, 6)
      |    ELSE ROUND((CAST(prev6 AS DOUBLE) + CAST(next6 - prev6 AS DOUBLE)
      |      * (day - pday) / (nday - pday)) / 1000000, 6) END AS value_filled,
      |  CASE WHEN s6 IS NULL THEN 1 ELSE 0 END AS interpolated
      |FROM f ORDER BY day""".stripMargin) { (s, d) =>
    val e = t(s, d, "events").select(
      to_date(date_trunc("day", col("ts"))).as("day"),
      round(col("value") * 1000000L).cast(LongType).as("v6"))
    val agg = e.groupBy("day").agg(sum(col("v6")).cast(LongType).as("s6"))
    val b = agg.agg(min("day").as("lo"), max("day").as("hi"))
    val grid = b.select(explode(sequence(col("lo"), col("hi"),
      expr("interval 1 day"))).as("day"))
    val j = grid.join(agg.withColumnRenamed("day", "aday"),
        col("day") === col("aday"), "left")
      .select(col("day"), col("s6"))
    val wp = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.orderBy("day")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val f = j.select(col("day"), col("s6"),
      last(col("s6"), ignoreNulls = true).over(wp).as("prev6"),
      max(when(col("s6").isNotNull, col("day"))).over(wp).as("pday"),
      first(col("s6"), ignoreNulls = true).over(wn).as("next6"),
      min(when(col("s6").isNotNull, col("day"))).over(wn).as("nday"))
    f.select(col("day"),
      when(col("s6").isNotNull,
        round(col("s6").cast(DoubleType) / 1000000L, 6))
        .when(col("prev6").isNull,
          round(col("next6").cast(DoubleType) / 1000000L, 6))
        .when(col("next6").isNull,
          round(col("prev6").cast(DoubleType) / 1000000L, 6))
        .otherwise(round((col("prev6").cast(DoubleType)
          + (col("next6") - col("prev6")).cast(DoubleType)
          * datediff(col("day"), col("pday"))
          / datediff(col("nday"), col("pday"))) / 1000000L, 6))
        .as("value_filled"),
      when(col("s6").isNull, 1).otherwise(0).as("interpolated"))
      .orderBy("day")
  }

  /** Wald-Wolfowitz runs test on the signs of month-over-month revenue
    * changes — "is this series trending/mean-reverting or random?", the
    * model-free serial-dependence check next to q_autocorr. The sign
    * sequence lives on the BOUNDED post-agg monthly series; run/up/down
    * counts are exact integers and the normal-approximation z is one
    * fixed-op-order double expression. */
  val qRunsTest = Q(
    "q_runs_test",
    s"""WITH m AS (
      |  SELECT date_trunc('month', o_orderdate) AS mth,
      |    ${sumCentsSql}
      |      AS rev
      |  FROM orders GROUP BY 1),
      |d AS (SELECT mth, rev - lag(rev) OVER (ORDER BY mth) AS chg FROM m),
      |sgn AS (
      |  SELECT mth, CASE WHEN chg > 0 THEN 1 ELSE -1 END AS sg
      |  FROM d WHERE chg IS NOT NULL AND chg <> 0),
      |r AS (
      |  SELECT mth, sg,
      |    CASE WHEN lag(sg) OVER (ORDER BY mth) IS NULL
      |      OR lag(sg) OVER (ORDER BY mth) <> sg THEN 1 ELSE 0 END AS newrun
      |  FROM sgn),
      |c AS (
      |  SELECT CAST(sum(CASE WHEN sg = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_up,
      |    CAST(sum(CASE WHEN sg = -1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_down,
      |    CAST(sum(newrun) AS BIGINT) AS runs
      |  FROM r)
      |SELECT n_up, n_down, runs,
      |  ROUND((CAST(runs AS DOUBLE)
      |    - (2.0 * n_up * n_down / (n_up + n_down) + 1))
      |    / sqrt(2.0 * n_up * n_down * (2.0 * n_up * n_down - n_up - n_down)
      |      / (CAST(n_up + n_down AS DOUBLE) * (n_up + n_down)
      |        * (n_up + n_down - 1))), 6) AS z
      |FROM c""".stripMargin) { (s, d) =>
    val m = t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
      .agg(sumCents.as("rev"))
    val wm = Window.orderBy("mth")
    val sgn = m.select(col("mth"),
        (col("rev") - lag(col("rev"), 1).over(wm)).as("chg"))
      .filter(col("chg").isNotNull && col("chg") =!= 0)
      .select(col("mth"), when(col("chg") > 0, 1).otherwise(-1).as("sg"))
    val r = sgn.select(col("mth"), col("sg"),
      when(lag(col("sg"), 1).over(wm).isNull
        || lag(col("sg"), 1).over(wm) =!= col("sg"), 1).otherwise(0)
        .as("newrun"))
    val c = r.agg(
      sum(when(col("sg") === 1, 1).otherwise(0)).cast(LongType).as("n_up"),
      sum(when(col("sg") === -1, 1).otherwise(0)).cast(LongType)
        .as("n_down"),
      sum(col("newrun")).cast(LongType).as("runs"))
    val nU = col("n_up"); val nD = col("n_down")
    c.select(nU, nD, col("runs"),
      round((col("runs").cast(DoubleType)
        - (lit(2.0) * nU * nD / (nU + nD) + 1))
        / sqrt(lit(2.0) * nU * nD * (lit(2.0) * nU * nD - nU - nD)
          / ((nU + nD).cast(DoubleType) * (nU + nD) * (nU + nD - 1))), 6)
        .as("z"))
  }

  /** Local clustering coefficient per node on the thresholded co-purchase
    * graph: 2·triangles/(d·(d−1)) — how clique-like each item's
    * neighborhood is, the per-node refinement of q_triangle_count (whose
    * wedge-closure equi-join pipeline this reuses; never all-pairs).
    * Exact integer triangle and degree counts; one final double per node;
    * top-25 by coefficient with total tiebreak. */
  val qClusteringCoeff = Q(
    "q_clustering_coeff",
    s"""WITH ${PairStore.edgeCte()},
      |adj AS (
      |  SELECT src AS node, dst AS nbr FROM e
      |  UNION ALL SELECT dst, src FROM e),
      |deg AS (SELECT node, count(*) AS d FROM adj GROUP BY node),
      |${PairStore.triangleCte}
      |SELECT p.v, p.n_tri, g.d,
      |  ROUND(2.0 * p.n_tri / (g.d * (g.d - 1)), 6) AS coeff
      |FROM pern p JOIN deg g ON p.v = g.node
      |WHERE g.d >= 2
      |ORDER BY coeff DESC, p.v LIMIT 25""".stripMargin) { (s, d) =>
    // support ≥ 2 edges off the shared, checkpoint-backed PairStore
    val e = PairStore.edges(s, d)
    val adj = e.select(col("src").as("node"), col("dst").as("nbr"))
      .unionByName(e.select(col("dst").as("node"), col("src").as("nbr")))
    val deg = adj.groupBy("node").agg(count(lit(1)).as("d"))
    val pern = PairStore.triangleCounts(PairStore.triangles(e))
    pern.join(broadcast(deg), col("v") === col("node"))
      .filter(col("d") >= 2)
      .select(col("v"), col("n_tri"), col("d"),
        round(lit(2.0) * col("n_tri") / (col("d") * (col("d") - 1)), 6)
          .as("coeff"))
      .orderBy(col("coeff").desc, col("v"))
      .limit(25)
  }

  /** Nelson-Aalen cumulative hazard over the same churn durations as
    * q_kaplan_meier: H(t) = Σ d_i/n_i — the additive companion to KM's
    * multiplicative survival (its slope reads off WHEN churn risk
    * concentrates). Same bounded duration domain; each d/n increment is
    * an exact (d·10⁹) DIV n integer so the cumulative sum is
    * reduction-order-proof; windows run over the bounded post-agg
    * table only. */
  val qHazardRate = Q(
    "q_hazard_rate",
    s"""WITH $durationsCte,
      |g AS (
      |  SELECT t, CAST(sum(ev) AS BIGINT) AS d, count(*) AS nrow
      |  FROM durs GROUP BY t),
      |$atRiskSql,
      |ha AS (
      |  SELECT t, d, at_risk,
      |    sum((d * 1000000000) // at_risk) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ch9
      |  FROM ar)
      |SELECT CAST(t AS BIGINT) AS t_days, CAST(at_risk AS BIGINT) AS at_risk,
      |  CAST(d AS BIGINT) AS churned,
      |  ROUND(CAST((d * 1000000000) // at_risk AS DOUBLE) / 1000000000, 6)
      |    AS hazard,
      |  ROUND(CAST(ch9 AS DOUBLE) / 1000000000, 6) AS cum_hazard
      |FROM ha WHERE d > 0 ORDER BY t_days""".stripMargin) { (s, d) =>
    val durs = durations(s, d)
    val g = durs.groupBy("t")
      .agg(sum(col("ev")).cast(LongType).as("d"), count(lit(1)).as("nrow"))
    // Bounded post-agg duration domain: single-partition windows are fine.
    val wCh = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ar = atRisk(g)
    val ha = ar.withColumn("ch9",
      sum(expr("(d * 1000000000) DIV at_risk")).over(wCh))
    ha.filter(col("d") > 0)
      .select(col("t").cast(LongType).as("t_days"),
        col("at_risk").cast(LongType).as("at_risk"),
        col("d").cast(LongType).as("churned"),
        round(expr("(d * 1000000000) DIV at_risk").cast(DoubleType)
          / 1000000000L, 6).as("hazard"),
        round(col("ch9").cast(DoubleType) / 1000000000L, 6).as("cum_hazard"))
      .orderBy("t_days")
  }

  /** Inter-purchase gap statistics per market segment: consecutive-order
    * day gaps per customer rolled up to count / mean / min / max — the
    * repurchase-cadence profile feeding churn-horizon choices (the 60-day
    * cutoff q_kaplan_meier/q_churn_label assume). Gaps come from one
    * customer-keyed lag window with the (date, orderkey) total tiebreak;
    * day counts are exact integers. */
  val qOrderGapStats = Q(
    "q_order_gap_stats",
    """WITH o AS (
      |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_orderkey
      |  FROM orders),
      |gaps AS (
      |  SELECT o_custkey,
      |    datediff('day', lag(d) OVER (PARTITION BY o_custkey
      |      ORDER BY d, o_orderkey), d) AS gap
      |  FROM o),
      |gc AS (
      |  SELECT g.o_custkey, c.c_mktsegment, g.gap
      |  FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
      |  WHERE g.gap IS NOT NULL)
      |SELECT c_mktsegment, count(*) AS n_gaps,
      |  ROUND(CAST(sum(gap) AS DOUBLE) / count(*), 6) AS mean_gap_days,
      |  CAST(min(gap) AS BIGINT) AS min_gap_days,
      |  CAST(max(gap) AS BIGINT) AS max_gap_days
      |FROM gc GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin) {
    (s, d) =>
    val o = t(s, d, "orders").select(col("o_custkey"),
      col("o_orderdate").cast(DateType).as("d"), col("o_orderkey"))
    val w = Window.partitionBy("o_custkey").orderBy(col("d"), col("o_orderkey"))
    val gaps = o.select(col("o_custkey"),
        datediff(col("d"), lag(col("d"), 1).over(w)).as("gap"))
      .filter(col("gap").isNotNull)
    val cust = t(s, d, "customer").select(col("c_custkey"),
      col("c_mktsegment"))
    gaps.join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_gaps"),
        round(sum(col("gap")).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_gap_days"),
        min(col("gap")).cast(LongType).as("min_gap_days"),
        max(col("gap")).cast(LongType).as("max_gap_days"))
      .orderBy("c_mktsegment")
  }

  /** Basket-composition profile per order priority: lines, distinct
    * parts, and total quantity per order rolled up to per-priority means —
    * the order-shape distribution behind capacity planning and the
    * co-occurrence graph density. One lineitem aggregation keyed by
    * order, then a bounded 5-row rollup; quantities are exact cents
    * before the final divisions. */
  val qBasketStats = Q(
    "q_basket_stats",
    """WITH b AS (
      |  SELECT l_orderkey, count(*) AS n_lines,
      |    count(DISTINCT l_partkey) AS n_parts,
      |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * 100) AS BIGINT)
      |      AS qty_c
      |  FROM lineitem GROUP BY 1),
      |j AS (
      |  SELECT o.o_orderpriority, b.n_lines, b.n_parts, b.qty_c
      |  FROM b JOIN orders o ON b.l_orderkey = o.o_orderkey)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |  ROUND(CAST(sum(n_lines) AS DOUBLE) / count(*), 6) AS mean_lines,
      |  ROUND(CAST(sum(n_parts) AS DOUBLE) / count(*), 6) AS mean_parts,
      |  ROUND(CAST(sum(qty_c) AS DOUBLE) / count(*) / 100, 6) AS mean_qty,
      |  CAST(max(n_lines) AS BIGINT) AS max_lines
      |FROM j GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val b = t(s, d, "lineitem").groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        countDistinct(col("l_partkey")).as("n_parts"),
        sum(dec2(col("l_quantity")) * 100).cast(LongType).as("qty_c"))
    val o = t(s, d, "orders").select("o_orderkey", "o_orderpriority")
    b.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("n_lines")).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_lines"),
        round(sum(col("n_parts")).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_parts"),
        round(sum(col("qty_c")).cast(DoubleType) / count(lit(1)) / 100, 6)
          .as("mean_qty"),
        max(col("n_lines")).cast(LongType).as("max_lines"))
      .orderBy("o_orderpriority")
  }

  /** Event-time disorder audit: per event type, how many events arrive
    * with an event time EARLIER than some already-arrived event of the
    * same user (arrival order ≈ event_id), and by how much — the
    * out-of-orderness measurement that justifies a watermark delay before
    * anyone turns on q_stream_late. One user-keyed running-max window
    * (µs-exact); lateness sums are exact integers with one final
    * division; NULL mean when a type has no disorder. */
  val qDisorderAudit = Q(
    "q_disorder_audit",
    """WITH e AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |r AS (
      |  SELECT event_type, us,
      |    max(us) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
      |  FROM e)
      |SELECT event_type, count(*) AS n,
      |  CAST(sum(CASE WHEN prevmax IS NOT NULL AND us < prevmax THEN 1
      |    ELSE 0 END) AS BIGINT) AS n_disordered,
      |  ROUND(CAST(sum(CASE WHEN prevmax IS NOT NULL AND us < prevmax
      |    THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS frac_disordered,
      |  CASE WHEN sum(CASE WHEN prevmax IS NOT NULL AND us < prevmax
      |      THEN 1 ELSE 0 END) = 0 THEN NULL
      |    ELSE ROUND(CAST(sum(CASE WHEN prevmax IS NOT NULL AND us < prevmax
      |      THEN prevmax - us ELSE 0 END) AS DOUBLE) / 1000000
      |      / sum(CASE WHEN prevmax IS NOT NULL AND us < prevmax THEN 1
      |        ELSE 0 END), 6) END AS mean_lateness_s
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin) {
    (s, d) =>
    val e = t(s, d, "events").select(col("event_id"), col("user_id"),
      col("event_type"),
      unix_micros(col("ts").cast(TimestampType)).as("us"))
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = e.select(col("event_type"), col("us"),
      max(col("us")).over(w).as("prevmax"))
    val isDis = col("prevmax").isNotNull && col("us") < col("prevmax")
    val disCnt = sum(when(isDis, 1).otherwise(0))
    r.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        disCnt.cast(LongType).as("n_disordered"),
        round(disCnt.cast(DoubleType) / count(lit(1)), 6)
          .as("frac_disordered"),
        when(disCnt === 0, lit(null))
          .otherwise(round(sum(when(isDis, col("prevmax") - col("us"))
            .otherwise(0L)).cast(DoubleType) / 1000000L / disCnt, 6))
          .as("mean_lateness_s"))
      .orderBy("event_type")
  }

  /** Full percentile profile (p1/p5/p25/p50/p75/p95/p99, nearest-rank)
    * of order values per market segment — the distribution summary a
    * dashboard reads where q_quantile_buckets only cuts quartiles.
    * Nearest-rank on exact cent integers with a (cents, orderkey) total
    * tiebreak makes every percentile a pure SELECTION — no interpolation,
    * bit-identical on any engine; ranks come from one segment-keyed
    * window pass. */
  val qPercentileProfile = Q(
    "q_percentile_profile",
    s"""WITH oc AS (
      |  SELECT c.c_mktsegment AS seg,
      |    ${priceCentsSql("o.o_totalprice")}
      |      AS cents,
      |    o.o_orderkey
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |r AS (
      |  SELECT seg, cents,
      |    row_number() OVER (PARTITION BY seg ORDER BY cents, o_orderkey)
      |      AS rk,
      |    count(*) OVER (PARTITION BY seg) AS n
      |  FROM oc)
      |SELECT seg, max(n) AS n,
      |  ROUND(CAST(max(CASE WHEN rk = ((n - 1) * 1) // 100 + 1
      |    THEN cents END) AS DOUBLE) / 100, 6) AS p01,
      |  ROUND(CAST(max(CASE WHEN rk = ((n - 1) * 5) // 100 + 1
      |    THEN cents END) AS DOUBLE) / 100, 6) AS p05,
      |  ROUND(CAST(max(CASE WHEN rk = ((n - 1) * 25) // 100 + 1
      |    THEN cents END) AS DOUBLE) / 100, 6) AS p25,
      |  ROUND(CAST(max(CASE WHEN rk = ((n - 1) * 50) // 100 + 1
      |    THEN cents END) AS DOUBLE) / 100, 6) AS p50,
      |  ROUND(CAST(max(CASE WHEN rk = ((n - 1) * 75) // 100 + 1
      |    THEN cents END) AS DOUBLE) / 100, 6) AS p75,
      |  ROUND(CAST(max(CASE WHEN rk = ((n - 1) * 95) // 100 + 1
      |    THEN cents END) AS DOUBLE) / 100, 6) AS p95,
      |  ROUND(CAST(max(CASE WHEN rk = ((n - 1) * 99) // 100 + 1
      |    THEN cents END) AS DOUBLE) / 100, 6) AS p99
      |FROM r GROUP BY seg ORDER BY seg""".stripMargin) { (s, d) =>
    val oc = t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("seg"),
        priceCents(col("o_totalprice")).as("cents"),
        col("o_orderkey"))
    val wr = Window.partitionBy("seg").orderBy(col("cents"), col("o_orderkey"))
    val wn = Window.partitionBy("seg")
    val r = oc.select(col("seg"), col("cents"),
      row_number().over(wr).cast(LongType).as("rk"),
      count(lit(1)).over(wn).as("n"))
    def pct(p: Int) = round(
      max(when(col("rk") === expr(s"((n - 1) * $p) DIV 100 + 1"),
        col("cents"))).cast(DoubleType) / 100, 6)
    r.groupBy("seg")
      .agg(max(col("n")).as("n"),
        pct(1).as("p01"), pct(5).as("p05"), pct(25).as("p25"),
        pct(50).as("p50"), pct(75).as("p75"), pct(95).as("p95"),
        pct(99).as("p99"))
      .orderBy("seg")
  }

  /** New-vs-returning decomposition per month: how much of each month's
    * order volume and revenue comes from first-ever customers vs repeat
    * buyers — the warehouse growth-accounting readout next to
    * q_cohort_retention. First-order month per customer is one
    * aggregation; the split is a conditional pass with exact distinct
    * customer counts and exact cent sums. */
  val qNewVsReturning = Q(
    "q_new_vs_returning",
    s"""WITH fo AS (
      |  SELECT o_custkey, min(date_trunc('month', o_orderdate)) AS first_m
      |  FROM orders GROUP BY 1),
      |o AS (
      |  SELECT date_trunc('month', o.o_orderdate) AS mth,
      |    CASE WHEN date_trunc('month', o.o_orderdate) = f.first_m THEN 1
      |      ELSE 0 END AS is_new,
      |    o.o_custkey,
      |    ${priceCentsSql("o.o_totalprice")}
      |      AS cents
      |  FROM orders o JOIN fo f ON o.o_custkey = f.o_custkey)
      |SELECT CAST(mth AS DATE) AS month,
      |  CAST(count(DISTINCT CASE WHEN is_new = 1 THEN o_custkey END)
      |    AS BIGINT) AS new_customers,
      |  CAST(count(DISTINCT CASE WHEN is_new = 0 THEN o_custkey END)
      |    AS BIGINT) AS returning_customers,
      |  ROUND(CAST(sum(CASE WHEN is_new = 1 THEN cents ELSE 0 END)
      |    AS DOUBLE) / 100, 6) AS new_revenue,
      |  ROUND(CAST(sum(CASE WHEN is_new = 0 THEN cents ELSE 0 END)
      |    AS DOUBLE) / 100, 6) AS returning_revenue
      |FROM o GROUP BY mth ORDER BY month""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val orders = t(s, d, "orders")
    val fo = orders.groupBy("o_custkey")
      .agg(min(date_trunc("month", col("o_orderdate"))).as("first_m"))
    val o = orders.join(fo.withColumnRenamed("o_custkey", "ck"),
        col("o_custkey") === col("ck"))
      .select(date_trunc("month", col("o_orderdate")).as("mth"),
        when(date_trunc("month", col("o_orderdate")) === col("first_m"), 1)
          .otherwise(0).as("is_new"),
        col("o_custkey"),
        priceCents(col("o_totalprice")).as("cents"))
    o.groupBy("mth")
      .agg(
        countDistinct(when(col("is_new") === 1, col("o_custkey")))
          .as("new_customers"),
        countDistinct(when(col("is_new") === 0, col("o_custkey")))
          .as("returning_customers"),
        round(sum(when(col("is_new") === 1, col("cents")).otherwise(0L)
          .cast(big38)).cast(DoubleType) / 100, 6).as("new_revenue"),
        round(sum(when(col("is_new") === 0, col("cents")).otherwise(0L)
          .cast(big38)).cast(DoubleType) / 100, 6).as("returning_revenue"))
      .select(to_date(col("mth")).as("month"), col("new_customers"),
        col("returning_customers"), col("new_revenue"),
        col("returning_revenue"))
      .orderBy("month")
  }

  /** 6-month rolling correlation between order volume and revenue — the
    * stability-over-time view of the q_corr_matrix relationship (a
    * changing sign flags a mix shift). Window co-moments are sums of
    * exact integers (counts; revenue quantized to 10⁴-cent units so y²
    * sums stay in range at any SF); r is one fixed-op-order double
    * expression with integer-exact degenerate-variance guards; windows
    * run over the bounded monthly series only. */
  val qRollingCorr = Q(
    "q_rolling_corr",
    s"""WITH m AS (
      |  SELECT date_trunc('month', o_orderdate) AS mth, count(*) AS x,
      |    ${sumCentsSql}
      |      // 10000 AS y
      |  FROM orders GROUP BY 1),
      |w AS (
      |  SELECT mth,
      |    count(*) OVER win AS cnt,
      |    sum(x) OVER win AS sx, sum(y) OVER win AS sy,
      |    sum(x * x) OVER win AS sxx, sum(y * y) OVER win AS syy,
      |    sum(x * y) OVER win AS sxy
      |  FROM m
      |  WINDOW win AS (ORDER BY mth ROWS BETWEEN 5 PRECEDING
      |    AND CURRENT ROW))
      |SELECT CAST(mth AS DATE) AS month, CAST(cnt AS BIGINT) AS n_months,
      |  CASE WHEN cnt < 3 OR cnt * sxx - sx * sx = 0
      |      OR cnt * syy - sy * sy = 0 THEN NULL
      |    ELSE ROUND((CAST(cnt AS DOUBLE) * sxy
      |        - CAST(sx AS DOUBLE) * sy)
      |      / sqrt((CAST(cnt AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
      |        * (CAST(cnt AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6)
      |    END AS rolling_r
      |FROM w ORDER BY month""".stripMargin) { (s, d) =>
    val m = t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
      .agg(count(lit(1)).as("x"),
        sumCents.as("yc"))
      .select(col("mth"), col("x"), expr("yc DIV 10000").as("y"))
    // Bounded post-agg monthly series: single-partition window is fine.
    val win = Window.orderBy("mth").rowsBetween(-5, Window.currentRow)
    val w = m.select(col("mth"),
      count(lit(1)).over(win).as("cnt"),
      sum(col("x")).over(win).as("sx"),
      sum(col("y")).over(win).as("sy"),
      sum(col("x") * col("x")).over(win).as("sxx"),
      sum(col("y") * col("y")).over(win).as("syy"),
      sum(col("x") * col("y")).over(win).as("sxy"))
    w.select(to_date(col("mth")).as("month"),
      col("cnt").cast(LongType).as("n_months"),
      when(col("cnt") < 3
          || col("cnt") * col("sxx") - col("sx") * col("sx") === 0
          || col("cnt") * col("syy") - col("sy") * col("sy") === 0,
          lit(null))
        .otherwise(round((col("cnt").cast(DoubleType) * col("sxy")
          - col("sx").cast(DoubleType) * col("sy"))
          / sqrt((col("cnt").cast(DoubleType) * col("sxx")
            - col("sx").cast(DoubleType) * col("sx"))
            * (col("cnt").cast(DoubleType) * col("syy")
              - col("sy").cast(DoubleType) * col("sy"))), 6))
        .as("rolling_r"))
      .orderBy("month")
  }

  /** HITS hub/authority ranking on the bipartite customer→part purchase
    * graph, two unnormalized iterations: authority(i) = Σ h(u) over
    * buyers, hub(u) = Σ a(i) over basket — the mutual-reinforcement
    * alternative to raw popularity (an item bought by broad-basket
    * customers outranks one bought as often by narrow ones). Every score
    * is an exact integer path count (no fp until the final normalize);
    * each iteration is one edge-keyed equi-join of the bounded degree /
    * score tables. The distinct edge list is consumed by FOUR passes
    * (degree + three score joins) — it is localCheckpoint'ed (the
    * LabelProp iterative idiom) so the orders⋈lineitem join + distinct
    * runs once, not once per pass (sf1: 62 s → the edge build once). */
  val qHitsRank = Q(
    "q_hits_rank",
    """WITH ui AS (
      |  SELECT DISTINCT o_custkey AS u, l_partkey AS i
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |h1 AS (SELECT u, count(*) AS h FROM ui GROUP BY u),
      |a1 AS (
      |  SELECT i, CAST(sum(h) AS BIGINT) AS a
      |  FROM ui JOIN h1 USING (u) GROUP BY i),
      |h2 AS (
      |  SELECT u, CAST(sum(a) AS BIGINT) AS h
      |  FROM ui JOIN a1 USING (i) GROUP BY u),
      |a2 AS (
      |  SELECT i, CAST(sum(h) AS BIGINT) AS a
      |  FROM ui JOIN h2 USING (u) GROUP BY i),
      |mx AS (SELECT max(a) AS m FROM a2)
      |SELECT i AS partkey, a AS authority,
      |  ROUND(CAST(a AS DOUBLE) / m, 6) AS authority_norm
      |FROM a2, mx ORDER BY a DESC, i LIMIT 20""".stripMargin) { (s, d) =>
    val ui = t(s, d, "orders").select("o_orderkey", "o_custkey")
      .join(t(s, d, "lineitem").select("l_orderkey", "l_partkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("i"))
      .distinct()
      .localCheckpoint()
    val h1 = ui.groupBy("u").agg(count(lit(1)).as("h"))
    val a1 = ui.join(h1, Seq("u"))
      .groupBy("i").agg(sum(col("h")).cast(LongType).as("a"))
    val h2 = ui.join(a1, Seq("i"))
      .groupBy("u").agg(sum(col("a")).cast(LongType).as("h"))
    val a2 = ui.join(h2, Seq("u"))
      .groupBy("i").agg(sum(col("h")).cast(LongType).as("a"))
    val mx = a2.agg(max(col("a")).as("m"))
    a2.crossJoin(broadcast(mx))
      .select(col("i").as("partkey"), col("a").as("authority"),
        round(col("a").cast(DoubleType) / col("m"), 6).as("authority_norm"))
      .orderBy(col("authority").desc, col("partkey"))
      .limit(20)
  }

  /** Cold-start (new-item) velocity per month: how many items recorded
    * their first-ever sale, and what revenue share they captured — the
    * catalog-side twin of q_new_vs_returning that tells a recommender
    * how much cold-start inventory it must serve. First-sale month is
    * one item-keyed aggregation; the monthly split is a conditional
    * pass with exact distinct counts and cent sums. */
  val qColdStartItems = Q(
    "q_cold_start_items",
    """WITH li AS (
      |  SELECT l_partkey, date_trunc('month', o_orderdate) AS mth,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |fi AS (SELECT l_partkey, min(mth) AS first_m FROM li GROUP BY 1)
      |SELECT CAST(li.mth AS DATE) AS month,
      |  CAST(count(DISTINCT CASE WHEN li.mth = fi.first_m
      |    THEN li.l_partkey END) AS BIGINT) AS new_items,
      |  ROUND(CAST(sum(CASE WHEN li.mth = fi.first_m THEN cents ELSE 0
      |    END) AS DOUBLE) / 100, 6) AS new_item_revenue,
      |  ROUND(CAST(sum(CASE WHEN li.mth = fi.first_m THEN cents ELSE 0
      |    END) AS DOUBLE) / CAST(sum(cents) AS DOUBLE), 6) AS new_share
      |FROM li JOIN fi ON li.l_partkey = fi.l_partkey
      |GROUP BY li.mth ORDER BY month""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey",
        "l_extendedprice")
      .join(t(s, d, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"),
        date_trunc("month", col("o_orderdate")).as("mth"),
        (dec2(col("l_extendedprice")) * 100).cast(LongType).as("cents"))
    val fi = li.groupBy("l_partkey").agg(min(col("mth")).as("first_m"))
    val isNew = col("mth") === col("first_m")
    li.join(fi.withColumnRenamed("l_partkey", "pk"),
        col("l_partkey") === col("pk"))
      .groupBy("mth")
      .agg(
        countDistinct(when(isNew, col("l_partkey"))).as("new_items"),
        round(sum(when(isNew, col("cents")).otherwise(0L).cast(big38))
          .cast(DoubleType) / 100, 6).as("new_item_revenue"),
        round(sum(when(isNew, col("cents")).otherwise(0L).cast(big38))
          .cast(DoubleType)
          / sum(col("cents").cast(big38)).cast(DoubleType), 6)
          .as("new_share"))
      .select(to_date(col("mth")).as("month"), col("new_items"),
        col("new_item_revenue"), col("new_share"))
      .orderBy("month")
  }

  /** Month-over-month revenue growth per market segment — the dashboard
    * growth panel (NULL on each segment's first month and on zero-base
    * months). Exact cent sums; growth is one fixed-op-order double
    * expression off a segment-keyed lag window over the bounded monthly
    * series. */
  val qMomGrowth = Q(
    "q_mom_growth",
    """WITH m AS (
      |  SELECT c.c_mktsegment AS seg,
      |    date_trunc('month', o.o_orderdate) AS mth,
      |    CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
      |      AS rev
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2)
      |SELECT seg, CAST(mth AS DATE) AS month,
      |  ROUND(CAST(rev AS DOUBLE) / 100, 6) AS revenue,
      |  CASE WHEN lag(rev) OVER w IS NULL OR lag(rev) OVER w = 0 THEN NULL
      |    ELSE ROUND((CAST(rev AS DOUBLE) - CAST(lag(rev) OVER w AS DOUBLE))
      |      / CAST(lag(rev) OVER w AS DOUBLE), 6) END AS mom_growth
      |FROM m
      |WINDOW w AS (PARTITION BY seg ORDER BY mth)
      |ORDER BY seg, month""".stripMargin) { (s, d) =>
    val m = t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), date_trunc("month", col("o_orderdate")).as("mth"))
      .agg(sumCents.as("rev"))
    val w = Window.partitionBy("seg").orderBy("mth")
    val lagRev = lag(col("rev"), 1).over(w)
    m.select(col("seg"), to_date(col("mth")).as("month"),
        round(col("rev").cast(DoubleType) / 100, 6).as("revenue"),
        when(lagRev.isNull || lagRev === 0, lit(null))
          .otherwise(round((col("rev").cast(DoubleType)
            - lagRev.cast(DoubleType)) / lagRev.cast(DoubleType), 6))
          .as("mom_growth"))
      .orderBy("seg", "month")
  }

  /** View→purchase conversion lag: for every purchase, the time since
    * the same user's most recent preceding view — the latency profile
    * that sizes attribution windows (and the batch ground truth for the
    * streaming interval join's 10-minute bound). One user-keyed
    * running-max-over-views window with the (µs, event_id) total
    * tiebreak; exact µs lags with NULL-guarded aggregates. */
  val qConversionLag = Q(
    "q_conversion_lag",
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |  FROM events),
      |w AS (
      |  SELECT user_id, event_type, us,
      |    max(CASE WHEN event_type = 'view' THEN us END)
      |      OVER (PARTITION BY user_id ORDER BY us, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS last_view_us
      |  FROM e)
      |SELECT count(*) AS n_purchases,
      |  CAST(sum(CASE WHEN last_view_us IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_attributed,
      |  CASE WHEN sum(CASE WHEN last_view_us IS NOT NULL THEN 1 ELSE 0
      |      END) = 0 THEN NULL
      |    ELSE ROUND(CAST(sum(CASE WHEN last_view_us IS NOT NULL
      |      THEN us - last_view_us ELSE 0 END) AS DOUBLE) / 1000000
      |      / sum(CASE WHEN last_view_us IS NOT NULL THEN 1 ELSE 0 END),
      |      6) END AS mean_lag_s,
      |  ROUND(CAST(min(CASE WHEN last_view_us IS NOT NULL
      |    THEN us - last_view_us END) AS DOUBLE) / 1000000, 6) AS min_lag_s,
      |  ROUND(CAST(max(CASE WHEN last_view_us IS NOT NULL
      |    THEN us - last_view_us END) AS DOUBLE) / 1000000, 6) AS max_lag_s
      |FROM w WHERE event_type = 'purchase'""".stripMargin) { (s, d) =>
    val e = t(s, d, "events").select(col("user_id"), col("event_type"),
      unix_micros(col("ts").cast(TimestampType)).as("us"), col("event_id"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = e.select(col("event_type"), col("us"),
      max(when(col("event_type") === "view", col("us"))).over(w)
        .as("last_view_us"))
      .filter(col("event_type") === "purchase")
    val attr = col("last_view_us").isNotNull
    val nAttr = sum(when(attr, 1).otherwise(0))
    r.agg(
      count(lit(1)).as("n_purchases"),
      nAttr.cast(LongType).as("n_attributed"),
      when(nAttr === 0, lit(null))
        .otherwise(round(sum(when(attr, col("us") - col("last_view_us"))
          .otherwise(0L)).cast(DoubleType) / 1000000L / nAttr, 6))
        .as("mean_lag_s"),
      round(min(when(attr, col("us") - col("last_view_us")))
        .cast(DoubleType) / 1000000L, 6).as("min_lag_s"),
      round(max(when(attr, col("us") - col("last_view_us")))
        .cast(DoubleType) / 1000000L, 6).as("max_lag_s"))
  }

  /** Seasonal-naive forecast backtest on monthly revenue: forecast(m) =
    * actual(m−12), scored by MAPE and mean absolute error over every
    * month with a year-ago base — the no-model baseline any real
    * forecaster must beat (the forecasting twin of q_rating_baseline).
    * Exact cent series; each percentage term quantizes to a 10⁻⁶
    * integer before the mean (the q_ips_estimate idiom). */
  val qForecastSnaive = Q(
    "q_forecast_snaive",
    s"""WITH m AS (
      |  SELECT date_trunc('month', o_orderdate) AS mth,
      |    ${sumCentsSql}
      |      AS rev
      |  FROM orders GROUP BY 1),
      |f AS (SELECT mth, rev, lag(rev, 12) OVER (ORDER BY mth) AS fc FROM m),
      |b AS (
      |  SELECT mth, rev, fc, abs(rev - fc) AS abs_err,
      |    CAST(ROUND(CAST(abs(rev - fc) AS DOUBLE) / fc * 1000000)
      |      AS BIGINT) AS ape6
      |  FROM f WHERE fc IS NOT NULL AND fc <> 0)
      |SELECT count(*) AS n_backtest,
      |  ROUND(CAST(sum(abs_err) AS DOUBLE) / count(*) / 100, 6)
      |    AS mean_abs_err,
      |  ROUND(CAST(sum(ape6) AS DOUBLE) / count(*) / 1000000, 6) AS mape
      |FROM b""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val m = t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
      .agg(sumCents.as("rev"))
    val w = Window.orderBy("mth")
    val b = m.select(col("rev"), lag(col("rev"), 12).over(w).as("fc"))
      .filter(col("fc").isNotNull && col("fc") =!= 0)
      .select(abs(col("rev") - col("fc")).as("abs_err"),
        round(abs(col("rev") - col("fc")).cast(DoubleType) / col("fc")
          * 1000000L).cast(LongType).as("ape6"))
    b.agg(count(lit(1)).as("n_backtest"),
      round(sum(col("abs_err").cast(big38)).cast(DoubleType)
        / count(lit(1)) / 100, 6).as("mean_abs_err"),
      round(sum(col("ape6")).cast(DoubleType) / count(lit(1)) / 1000000L, 6)
        .as("mape"))
  }

  /** Cohen's d effect size between the BUILDING and AUTOMOBILE segments
    * on order value — "the A/B test is significant (q_ttest_welch), but
    * is the difference LARGE?" readout. All moments are exact integer
    * cents (DECIMAL 38 squares); the pooled sd and d are one
    * fixed-op-order double expression. */
  val qEffectSize = Q(
    "q_effect_size",
    s"""WITH o AS (
      |  SELECT c.c_mktsegment AS seg,
      |    ${priceCentsSql("o.o_totalprice")}
      |      AS x
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')),
      |m AS (
      |  SELECT
      |    CAST(sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n1,
      |    CAST(sum(CASE WHEN seg = 'BUILDING' THEN x ELSE 0 END)
      |      AS HUGEINT) AS s1,
      |    sum(CASE WHEN seg = 'BUILDING'
      |      THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS ss1,
      |    CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n2,
      |    CAST(sum(CASE WHEN seg = 'AUTOMOBILE' THEN x ELSE 0 END)
      |      AS HUGEINT) AS s2,
      |    sum(CASE WHEN seg = 'AUTOMOBILE'
      |      THEN CAST(x AS HUGEINT) * CAST(x AS HUGEINT)
      |      ELSE CAST(0 AS HUGEINT) END) AS ss2
      |  FROM o)
      |SELECT n1, n2,
      |  ROUND(CAST(s1 AS DOUBLE) / n1 / 100, 6) AS mean_building,
      |  ROUND(CAST(s2 AS DOUBLE) / n2 / 100, 6) AS mean_automobile,
      |  ROUND((CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2)
      |    / sqrt(((CAST(ss1 AS DOUBLE)
      |        - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1)
      |      + (CAST(ss2 AS DOUBLE)
      |        - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2))
      |      / (n1 + n2 - 2)), 6) AS cohens_d
      |FROM m""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val o = t(s, d, "orders")
      .join(broadcast(t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .filter(col("seg").isin("BUILDING", "AUTOMOBILE"))
      .select(col("seg"),
        priceCents(col("o_totalprice")).as("x"))
    val m = o.agg(
      sum(when(col("seg") === "BUILDING", 1).otherwise(0)).cast(LongType)
        .as("n1"),
      sum(when(col("seg") === "BUILDING", col("x")).otherwise(0L)
        .cast(big38)).as("s1"),
      sum(when(col("seg") === "BUILDING",
        col("x").cast(big38) * col("x").cast(big38))
        .otherwise(lit(0).cast(big38))).as("ss1"),
      sum(when(col("seg") === "AUTOMOBILE", 1).otherwise(0)).cast(LongType)
        .as("n2"),
      sum(when(col("seg") === "AUTOMOBILE", col("x")).otherwise(0L)
        .cast(big38)).as("s2"),
      sum(when(col("seg") === "AUTOMOBILE",
        col("x").cast(big38) * col("x").cast(big38))
        .otherwise(lit(0).cast(big38))).as("ss2"))
    m.select(col("n1"), col("n2"),
      round(col("s1").cast(DoubleType) / col("n1") / 100, 6)
        .as("mean_building"),
      round(col("s2").cast(DoubleType) / col("n2") / 100, 6)
        .as("mean_automobile"),
      round((col("s1").cast(DoubleType) / col("n1")
        - col("s2").cast(DoubleType) / col("n2"))
        / sqrt(((col("ss1").cast(DoubleType)
          - col("s1").cast(DoubleType) * col("s1").cast(DoubleType)
            / col("n1"))
          + (col("ss2").cast(DoubleType)
            - col("s2").cast(DoubleType) * col("s2").cast(DoubleType)
              / col("n2")))
          / (col("n1") + col("n2") - 2)), 6).as("cohens_d"))
  }

  /** Lorenz curve of revenue concentration: customers ranked into
    * deciles by total spend (GlobalRank — no data-sized unpartitioned
    * window), each decile's revenue and the cumulative share — the curve
    * behind q_gini's single number and the whale-dependence readout.
    * Decile assignment and all sums are exact integers; shares are final
    * double expressions over the bounded 10-row decile table. */
  val qLorenzCurve = Q(
    "q_lorenz_curve",
    s"""WITH c AS (
      |  SELECT o_custkey,
      |    ${sumCentsSql}
      |      AS rev
      |  FROM orders GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM c),
      |r AS (
      |  SELECT rev,
      |    row_number() OVER (ORDER BY rev, o_custkey) AS rk
      |  FROM c),
      |dec AS (
      |  SELECT ((rk - 1) * 10) // (SELECT n FROM n) + 1 AS decile, rev
      |  FROM r),
      |g AS (
      |  SELECT decile, count(*) AS n_cust,
      |    CAST(sum(rev) AS HUGEINT) AS s
      |  FROM dec GROUP BY decile),
      |t AS (SELECT CAST(sum(s) AS HUGEINT) AS tot FROM g)
      |SELECT decile, n_cust,
      |  ROUND(CAST(s AS DOUBLE) / 100, 6) AS revenue,
      |  ROUND(CAST(s AS DOUBLE) / CAST(t.tot AS DOUBLE), 6) AS share,
      |  ROUND(CAST(sum(s) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / CAST(t.tot AS DOUBLE), 6) AS cum_share
      |FROM g CROSS JOIN t ORDER BY decile""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val c = t(s, d, "orders").groupBy("o_custkey")
      .agg(sumCents.as("rev"))
    val (r, n) = graft.plans.GlobalRank.withGlobalRowNumber(
      c, "rk", 32, col("rev"), col("o_custkey"))
    val g = r.select(col("rev"),
        (((col("rk") - 1) * 10) / n).cast(LongType).as("d0"))
      .select(col("rev"), (col("d0") + 1).as("decile"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_cust"), sum(col("rev").cast(big38)).as("s"))
    val tot = g.agg(sum(col("s")).as("tot"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(tot))
      .select(col("decile"), col("n_cust"),
        round(col("s").cast(DoubleType) / 100, 6).as("revenue"),
        round(col("s").cast(DoubleType) / col("tot").cast(DoubleType), 6)
          .as("share"),
        round(sum(col("s")).over(wCum).cast(DoubleType)
          / col("tot").cast(DoubleType), 6).as("cum_share"))
      .orderBy("decile")
  }

  /** Log-rank test comparing the q_kaplan_meier churn survival of
    * BUILDING-segment customers against everyone else — "does this
    * segment churn on a different clock?", the hypothesis test the KM
    * curves only eyeball. Per event time the expected-event and variance
    * terms are exact integer-rational quantities quantized at 10⁻⁹ via
    * DECIMAL(38)/HUGEINT products and integer DIV (numerators reach
    * ~n⁴·10⁹, far past int64), so both engines sum IDENTICAL integers
    * over the bounded duration grid; χ² assembles from the exact sums in
    * one final expression. At-risk counts are suffix sums over the
    * post-aggregation duration table (≤ ~10³ rows), never over facts. */
  val qLogrankTest = Q(
    "q_logrank_test",
    """WITH cust AS (
      |  SELECT o.o_custkey,
      |    CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS grp,
      |    MIN(CAST(o.o_orderdate AS DATE)) AS first_d,
      |    MAX(CAST(o.o_orderdate AS DATE)) AS last_d
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  GROUP BY 1, 2),
      |mx AS (SELECT MAX(last_d) AS m FROM cust),
      |durs AS (
      |  SELECT datediff('day', first_d, last_d) AS t, grp,
      |    CASE WHEN datediff('day', last_d, m) > 60 THEN 1 ELSE 0 END AS ev
      |  FROM cust, mx),
      |g AS (
      |  SELECT t,
      |    sum(CASE WHEN grp = 1 THEN ev ELSE 0 END) AS da,
      |    sum(CASE WHEN grp = 0 THEN ev ELSE 0 END) AS db,
      |    sum(grp) AS ra, sum(1 - grp) AS rb
      |  FROM durs GROUP BY t),
      |ar AS (
      |  SELECT t, da, db,
      |    sum(ra) OVER (ORDER BY t
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS na,
      |    sum(rb) OVER (ORDER BY t
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb
      |  FROM g),
      |terms AS (
      |  SELECT da, db, na, nb,
      |    (CAST(da + db AS HUGEINT) * na * 1000000000)
      |      // (na + nb) AS ea9,
      |    CASE WHEN na + nb > 1 THEN
      |      (CAST(da + db AS HUGEINT) * na * nb
      |        * (na + nb - da - db) * 1000000000)
      |      // (CAST(na + nb AS HUGEINT) * (na + nb) * (na + nb - 1))
      |    ELSE 0 END AS v9
      |  FROM ar WHERE da + db > 0),
      |s AS (
      |  SELECT sum(da) AS oa, sum(db) AS ob,
      |    sum(ea9) AS ea9, sum(v9) AS v9,
      |    max(na) AS n_a, max(nb) AS n_b
      |  FROM terms)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  CAST(oa AS BIGINT) AS obs_a, CAST(ob AS BIGINT) AS obs_b,
      |  ROUND(CAST(ea9 AS DOUBLE) / 1000000000, 6) AS exp_a,
      |  ROUND(CAST(oa + ob AS DOUBLE)
      |    - CAST(ea9 AS DOUBLE) / 1000000000, 6) AS exp_b,
      |  ROUND(POWER(CAST(oa AS DOUBLE) - CAST(ea9 AS DOUBLE) / 1000000000,
      |      2) / (CAST(v9 AS DOUBLE) / 1000000000), 6) AS chi2
      |FROM s""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val cust = t(s, d, "orders")
      .join(t(s, d, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_custkey"),
        when(col("c_mktsegment") === "BUILDING", 1L).otherwise(0L)
          .as("grp"))
      .agg(min(col("o_orderdate").cast(DateType)).as("first_d"),
        max(col("o_orderdate").cast(DateType)).as("last_d"))
    val mx = cust.agg(max(col("last_d")).as("m"))
    val durs = cust.crossJoin(broadcast(mx))
      .select(datediff(col("last_d"), col("first_d")).as("t"), col("grp"),
        when(datediff(col("m"), col("last_d")) > 60, 1L).otherwise(0L)
          .as("ev"))
    val g = durs.groupBy("t")
      .agg(sum(when(col("grp") === 1, col("ev")).otherwise(0L)).as("da"),
        sum(when(col("grp") === 0, col("ev")).otherwise(0L)).as("db"),
        sum(col("grp")).as("ra"),
        sum(lit(1L) - col("grp")).as("rb"))
    val wAr = Window.orderBy("t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val ar = g
      .withColumn("na", sum(col("ra")).over(wAr))
      .withColumn("nb", sum(col("rb")).over(wAr))
    val terms = ar.filter(col("da") + col("db") > 0)
      .select(col("da"), col("db"), col("na"), col("nb"),
        expr("CAST((CAST(da + db AS DECIMAL(38,0)) * na * 1000000000)" +
          " DIV (na + nb) AS DECIMAL(38,0))").as("ea9"),
        when(col("na") + col("nb") > 1,
          expr("CAST((CAST(da + db AS DECIMAL(38,0)) * na * nb" +
            " * (na + nb - da - db) * 1000000000)" +
            " DIV (CAST(na + nb AS DECIMAL(38,0)) * (na + nb)" +
            " * (na + nb - 1)) AS DECIMAL(38,0))"))
          .otherwise(lit(0).cast(big38)).as("v9"))
    terms.agg(
        sum(col("da")).as("oa"), sum(col("db")).as("ob"),
        sum(col("ea9")).as("ea9"), sum(col("v9")).as("v9"),
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
      .select(col("n_a").cast(LongType).as("n_a"),
        col("n_b").cast(LongType).as("n_b"),
        col("oa").cast(LongType).as("obs_a"),
        col("ob").cast(LongType).as("obs_b"),
        round(col("ea9").cast(DoubleType) / 1e9, 6).as("exp_a"),
        round((col("oa") + col("ob")).cast(DoubleType)
          - col("ea9").cast(DoubleType) / 1e9, 6).as("exp_b"),
        round(pow(col("oa").cast(DoubleType)
            - col("ea9").cast(DoubleType) / 1e9, 2)
          / (col("v9").cast(DoubleType) / 1e9), 6).as("chi2"))
  }

  /** The per-nation urgent-share z-test panel that q_fdr_bh,
    * q_holm_bonferroni and q_benjamini_yekutieli correct: per nation
    * (n_name) its order count n1 and urgent count u1, the totals nt and
    * ut, the two-proportion z of the nation against all other orders,
    * and its [[graft.Dsl.pValue9]] p9. Counts are exact; z is one double
    * per bounded nation row. */
  private[operators] def urgentZ(s: SparkSession, d: String): DataFrame = {
    val o = t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L)
          .as("u"))
    val pern = o.groupBy("n_name")
      .agg(count(lit(1)).as("n1"), sum(col("u")).as("u1"))
    val tot = o.agg(count(lit(1)).as("nt"), sum(col("u")).as("ut"))
    pern.crossJoin(broadcast(tot))
      .withColumn("z",
        (col("u1").cast(DoubleType) / col("n1")
          - (col("ut") - col("u1")).cast(DoubleType)
            / (col("nt") - col("n1")))
        / sqrt(col("ut").cast(DoubleType) / col("nt")
          * (lit(1) - col("ut").cast(DoubleType) / col("nt"))
          * (lit(1.0) / col("n1") + lit(1.0) / (col("nt") - col("n1")))))
      .withColumn("p9", pValue9(col("z")))
  }

  /** DuckDB twin of [[urgentZ]]: the o, pern, tot, zt and pv CTEs, pv
    * being (n_name, n1, u1, z, p9); `ztCols` are zt's leading columns. */
  private[operators] def urgentZCte(ztCols: String = "n_name, n1, u1")
      : String =
    s"""o AS (
       |  SELECT n.n_name,
       |    CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS u
       |  FROM orders o
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
       |pern AS (
       |  SELECT n_name, count(*) AS n1, sum(u) AS u1 FROM o GROUP BY 1),
       |tot AS (SELECT count(*) AS nt, sum(u) AS ut FROM o),
       |zt AS (
       |  SELECT $ztCols,
       |    (CAST(u1 AS DOUBLE) / n1 - CAST(ut - u1 AS DOUBLE) / (nt - n1))
       |      / sqrt(CAST(ut AS DOUBLE) / nt * (1 - CAST(ut AS DOUBLE) / nt)
       |        * (1.0 / n1 + 1.0 / (nt - n1))) AS z
       |  FROM pern, tot),
       |pv AS (
       |  SELECT n_name, n1, u1, z,
       |    ${pValue9Sql("z")} AS p9
       |  FROM zt)""".stripMargin

  /** Benjamini-Hochberg FDR correction over the per-nation urgent-share
    * z-tests — the multiple-comparisons discipline q_abtest_ztest lacks
    * when run 25× at once. Counts are exact; z and the normal tail
    * (Zelen-Severo 26.2.17 polynomial, identical op order both engines)
    * are quantized to integer p9 BEFORE ranking and thresholding, so the
    * step-up comparison p(i) ≤ i·α/m happens on integers (α = 0.05,
    * thresholds i·2·10⁶ exactly). All windows run over the bounded
    * |nation| table. */
  val qFdrBh = Q(
    "q_fdr_bh",
    s"""WITH ${urgentZCte("n_name, n1, u1, nt - n1 AS n2, ut - u1 AS u2")},
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY p9, n_name) AS rank,
      |    count(*) OVER () AS m
      |  FROM pv),
      |cut AS (
      |  SELECT *, max(CASE WHEN p9 * m <= rank * 50000000 THEN rank
      |    ELSE 0 END) OVER () AS max_rank
      |  FROM rk)
      |SELECT n_name, CAST(n1 AS BIGINT) AS n_orders,
      |  CAST(u1 AS BIGINT) AS n_urgent, ROUND(z, 4) AS z,
      |  ROUND(CAST(p9 AS DOUBLE) / 1000000000, 6) AS p_value,
      |  CAST(rank AS BIGINT) AS p_rank,
      |  CASE WHEN rank <= max_rank THEN 1 ELSE 0 END AS rejected
      |FROM cut ORDER BY p_rank, n_name""".stripMargin) { (s, d) =>
    val pv = urgentZ(s, d)
    val wRank = Window.orderBy("p9", "n_name")
    val wAll = Window.partitionBy()
    val rk = pv
      .withColumn("rank", row_number().over(wRank).cast(LongType))
      .withColumn("m", count(lit(1)).over(wAll))
    val cut = rk.withColumn("max_rank",
      max(when(col("p9") * col("m") <= col("rank") * 50000000L,
        col("rank")).otherwise(0L)).over(wAll))
    cut.select(col("n_name"), col("n1").cast(LongType).as("n_orders"),
        col("u1").cast(LongType).as("n_urgent"),
        round(col("z"), 4).as("z"),
        round(col("p9").cast(DoubleType) / 1e9, 6).as("p_value"),
        col("rank").as("p_rank"),
        when(col("rank") <= col("max_rank"), 1).otherwise(0)
          .as("rejected"))
      .orderBy("p_rank", "n_name")
  }

  /** Mean and σ of a monthly revenue series m (rev, cents), each ·10³
    * and quantized once (mu3 an exact DIV, s3 the rounded double σ): the
    * one-row `st` panel of q_cusum and q_sax_symbols. */
  private def revMuSigma(m: DataFrame): DataFrame = {
    val big38 = DecimalType(38, 0)
    m.agg(
      expr("CAST(sum(CAST(rev AS DECIMAL(38,0))) * 1000 DIV count(*)" +
        " AS DECIMAL(38,0))").as("mu3"),
      round(sqrt((sum(col("rev").cast(big38) * col("rev")).cast(DoubleType)
        - sum(col("rev").cast(big38)).cast(DoubleType)
          * sum(col("rev").cast(big38)).cast(DoubleType)
          / count(lit(1)))
        / count(lit(1))) * 1000).cast(LongType).as("s3"))
  }

  /** DuckDB twin of [[revMuSigma]]: the CTE `st` over a CTE `m`. */
  private val revMuSigmaSql =
    """st AS (
      |  SELECT (sum(CAST(rev AS HUGEINT)) * 1000) // count(*) AS mu3,
      |    CAST(ROUND(sqrt((CAST(sum(CAST(rev AS HUGEINT) * rev)
      |        AS DOUBLE) - CAST(sum(CAST(rev AS HUGEINT)) AS DOUBLE)
      |          * sum(CAST(rev AS HUGEINT)) / count(*)) / count(*))
      |      * 1000) AS BIGINT) AS s3
      |  FROM m)""".stripMargin

  /** One-sided CUSUM mean-shift monitor on the monthly revenue series
    * (k = 0.5σ reference, h = 4σ alarm) — the sequential drift detector
    * next to q_changepoint's single retrospective split. The recurrence
    * S_t = max(0, S_{t-1} + y_t) is computed CLOSED-FORM as
    * S_t = P_t − min(0, min_{j≤t} P_j) over the prefix sums P of the
    * 10⁻³-quantized standardized deviations — two windows over the
    * bounded monthly table, no driver loop, exact integer arithmetic
    * end-to-end (μ, σ quantized once; sqrt is IEEE-identical). */
  val qCusum = Q(
    "q_cusum",
    s"""WITH m AS (
      |  SELECT date_trunc('month', o_orderdate) AS mth,
      |    ${sumCentsSql}
      |      AS rev
      |  FROM orders GROUP BY 1),
      |$revMuSigmaSql,
      |y AS (
      |  SELECT mth, rev,
      |    CAST(rev AS HUGEINT) * 1000 - mu3 - s3 // 2 AS y3, s3
      |  FROM m, st),
      |pre AS (
      |  SELECT mth, rev, s3,
      |    sum(y3) OVER (ORDER BY mth) AS pre
      |  FROM y),
      |p AS (
      |  SELECT mth, rev, s3, pre,
      |    min(pre) OVER (ORDER BY mth) AS runmin
      |  FROM pre)
      |SELECT CAST(mth AS DATE) AS mth, rev,
      |  ROUND(CAST(pre - LEAST(CAST(0 AS HUGEINT), runmin) AS DOUBLE)
      |    / s3, 4) AS cusum_sigma,
      |  CASE WHEN pre - LEAST(CAST(0 AS HUGEINT), runmin) > 4 * s3
      |    THEN 1 ELSE 0 END AS alarm
      |FROM p ORDER BY mth""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val m = t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).as("mth"))
      .agg(sumCents.as("rev"))
    val st = revMuSigma(m)
    val y = m.crossJoin(broadcast(st))
      .select(col("mth"), col("rev"), col("s3"),
        (col("rev").cast(big38) * 1000 - col("mu3")
          - expr("s3 DIV 2")).as("y3"))
    val wCum = Window.orderBy("mth")
    val p = y
      .withColumn("pre", sum(col("y3")).over(wCum))
      .withColumn("runmin", min(col("pre")).over(wCum))
    p.select(col("mth").cast(DateType).as("mth"), col("rev"),
        round((col("pre") - least(lit(0).cast(big38), col("runmin")))
          .cast(DoubleType) / col("s3"), 4).as("cusum_sigma"),
        when(col("pre") - least(lit(0).cast(big38), col("runmin"))
          > col("s3") * 4, 1).otherwise(0).as("alarm"))
      .orderBy("mth")
  }

  /** Poisson-bootstrap confidence interval for the mean order value —
    * THE distributed bootstrap (each row draws an independent
    * Poisson(1) replication count per resample, so no resample ever
    * needs a global pass): B = 200 resamples, weights from the exact
    * inverse-CDF over a deterministic per-(row, b) md5 hash, per-resample
    * means as exact integer DIV, CI from nearest-rank quantiles of the
    * bounded 200-row mean table. At 100 TB the explode is a 200× map-side
    * fan-out feeding one (b)-keyed aggregation — no data-sized state. */
  val qBootstrapCi = Q(
    "q_bootstrap_ci",
    s"""WITH w AS (
      |  SELECT b,
      |    ${priceCentsSql("o_totalprice")}
      |      AS cents,
      |    CASE
      |      WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
      |      WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
      |      WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
      |      ELSE 6 END AS w
      |  FROM (
      |    SELECT o_totalprice, b,
      |      (h60 + b * 2654435761) % 1000000 AS u
      |    FROM (
      |      SELECT o_totalprice, o_orderkey,
      |        CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)),
      |          1, 15)) AS BIGINT) AS h60
      |      FROM orders) o, generate_series(1, 200) t(b)) h),
      |mb AS (
      |  SELECT b, (sum(CAST(w AS HUGEINT) * cents) * 1000) // sum(w)
      |    AS mean3
      |  FROM w GROUP BY b HAVING sum(w) > 0),
      |r AS (
      |  SELECT mean3, row_number() OVER (ORDER BY mean3, b) AS rk,
      |    count(*) OVER () AS nb
      |  FROM mb),
      |q AS (
      |  SELECT
      |    max(CASE WHEN rk = 5 THEN mean3 END) AS lo3,
      |    max(CASE WHEN rk = 195 THEN mean3 END) AS hi3,
      |    count(*) AS nb, sum(CAST(mean3 AS HUGEINT)) AS s1,
      |    sum(CAST(mean3 AS HUGEINT) * mean3) AS s2
      |  FROM r),
      |pt AS (
      |  SELECT count(*) AS n_orders,
      |    (sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |      * 1000) // count(*) AS pmean3
      |  FROM orders)
      |SELECT CAST(pt.n_orders AS BIGINT) AS n_orders,
      |  CAST(q.nb AS BIGINT) AS n_resamples,
      |  ROUND(CAST(pt.pmean3 AS DOUBLE) / 100000, 6) AS mean_value,
      |  ROUND(CAST(q.lo3 AS DOUBLE) / 100000, 6) AS ci_lo,
      |  ROUND(CAST(q.hi3 AS DOUBLE) / 100000, 6) AS ci_hi,
      |  ROUND(sqrt((CAST(q.s2 AS DOUBLE) - CAST(q.s1 AS DOUBLE) * q.s1
      |      / q.nb) / (q.nb - 1)) / 100000, 6) AS boot_se
      |FROM q, pt""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val orders = t(s, d, "orders")
    // ONE md5 per row, then 200 per-resample streams by integer mixing
    // (Knuth multiplicative constant). The localCheckpoint is the fence
    // that KEEPS it one-per-row: CollapseProject would otherwise inline
    // the hash into the post-explode projection and evaluate it per
    // (row, b) — 200× the md5 cost on the hot path.
    val base = orders.select(
        priceCents(col("o_totalprice")).as("cents"),
        graft.llm.TextOps.hash60(col("o_orderkey").cast(StringType))
          .as("h60"))
      .localCheckpoint()
    val h = base.select(col("cents"), col("h60"),
        explode(sequence(lit(1), lit(200))).as("b"))
      .withColumn("u", (col("h60") + col("b") * 2654435761L) % 1000000L)
      .withColumn("w",
        when(col("u") < 367879, 0L).when(col("u") < 735759, 1L)
          .when(col("u") < 919699, 2L).when(col("u") < 981012, 3L)
          .when(col("u") < 996340, 4L).when(col("u") < 999406, 5L)
          .otherwise(6L))
    val mb = h.groupBy("b")
      .agg(sum(col("w").cast(big38) * col("cents")).as("swc"),
        sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
      .select(col("b"),
        expr("CAST(swc * 1000 DIV sw AS DECIMAL(38,0))").as("mean3"))
    val r = mb
      .withColumn("rk",
        row_number().over(Window.orderBy("mean3", "b")).cast(LongType))
    val q = r.agg(
      max(when(col("rk") === 5, col("mean3"))).as("lo3"),
      max(when(col("rk") === 195, col("mean3"))).as("hi3"),
      count(lit(1)).as("nb"),
      sum(col("mean3")).as("s1"),
      sum(col("mean3") * col("mean3")).as("s2"))
    val pt = orders.agg(count(lit(1)).as("n_orders"),
      expr("CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100" +
        " AS DECIMAL(38,0))) * 1000 DIV count(*) AS DECIMAL(38,0))")
        .as("pmean3"))
    q.crossJoin(pt)
      .select(col("n_orders").cast(LongType).as("n_orders"),
        col("nb").cast(LongType).as("n_resamples"),
        round(col("pmean3").cast(DoubleType) / 100000, 6).as("mean_value"),
        round(col("lo3").cast(DoubleType) / 100000, 6).as("ci_lo"),
        round(col("hi3").cast(DoubleType) / 100000, 6).as("ci_hi"),
        round(sqrt((col("s2").cast(DoubleType)
            - col("s1").cast(DoubleType) * col("s1").cast(DoubleType)
              / col("nb"))
          / (col("nb") - 1)) / 100000, 6).as("boot_se"))
  }

  /** Price elasticity of demand per brand: OLS slope of ln(quantity) on
    * ln(retail price) across the brand's parts — the log-log demand
    * curve a pricing pipeline fits. Both logs are quantized to integer
    * ·10⁹ immediately (the q_spearman co-moment idiom), so slope
    * numerator/denominator are exact DECIMAL(38) sums and merge order
    * cannot move the result; per-part demand reduces facts to the part
    * dimension first, and the brand fit only ever sees bounded
    * per-brand part groups. */
  val qPriceElasticity = Q(
    "q_price_elasticity",
    """WITH dem AS (
      |  SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
      |    AS BIGINT) AS qty
      |  FROM lineitem GROUP BY 1),
      |pts AS (
      |  SELECT p.p_brand,
      |    CAST(ROUND(ln(p.p_retailprice) * 1000000000) AS BIGINT) AS lx9,
      |    CAST(ROUND(ln(CAST(d.qty AS DOUBLE)) * 1000000000) AS BIGINT)
      |      AS ly9
      |  FROM part p JOIN dem d ON p.p_partkey = d.l_partkey
      |  WHERE d.qty > 0 AND p.p_retailprice > 0),
      |m AS (
      |  SELECT p_brand, count(*) AS n,
      |    sum(CAST(lx9 AS HUGEINT)) AS sx, sum(CAST(ly9 AS HUGEINT)) AS sy,
      |    sum(CAST(lx9 AS HUGEINT) * lx9) AS sxx,
      |    sum(CAST(lx9 AS HUGEINT) * ly9) AS sxy
      |  FROM pts GROUP BY 1)
      |SELECT p_brand, CAST(n AS BIGINT) AS n_parts,
      |  ROUND(CAST(sx AS DOUBLE) / n / 1000000000, 6) AS mean_ln_price,
      |  ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS elasticity
      |FROM m WHERE n * sxx - sx * sx <> 0
      |ORDER BY p_brand""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val dem = t(s, d, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(dec2(col("l_quantity"))).cast(LongType).as("qty"))
    val pts = t(s, d, "part")
      .join(dem, col("p_partkey") === col("l_partkey"))
      .filter(col("qty") > 0 && col("p_retailprice") > 0)
      .select(col("p_brand"),
        round(log(col("p_retailprice")) * 1000000000L).cast(LongType)
          .as("lx9"),
        round(log(col("qty").cast(DoubleType)) * 1000000000L)
          .cast(LongType).as("ly9"))
    val m = pts.groupBy("p_brand")
      .agg(count(lit(1)).as("n"),
        sum(col("lx9").cast(big38)).as("sx"),
        sum(col("ly9").cast(big38)).as("sy"),
        sum(col("lx9").cast(big38) * col("lx9")).as("sxx"),
        sum(col("lx9").cast(big38) * col("ly9")).as("sxy"))
    m.filter(col("n") * col("sxx") - col("sx") * col("sx") =!= 0)
      .select(col("p_brand"), col("n").cast(LongType).as("n_parts"),
        round(col("sx").cast(DoubleType) / col("n") / 1e9, 6)
          .as("mean_ln_price"),
        round((col("n") * col("sxy") - col("sx") * col("sy"))
            .cast(DoubleType)
          / (col("n") * col("sxx") - col("sx") * col("sx"))
            .cast(DoubleType), 6).as("elasticity"))
      .orderBy("p_brand")
  }

  /** Bounded k-core refinement (k = 2, three peel sweeps) of the
    * co-purchase part graph (the q_triangle_count edge set) — the
    * degeneracy filter that strips tendrils before community/embedding
    * work. Each sweep is one degree aggregation + two semi-joins on the
    * vertex key (O(|E|) per sweep, no all-pairs anywhere); a fixed sweep
    * count is the same bounded-iteration contract as q_cc_labelprop —
    * every kept node is provably in the true 2-core's superset, and
    * sweeps only remove. The oracle unrolls the three sweeps as CTEs. */
  val qKcore = Q(
    "q_kcore",
    s"""WITH ${PairStore.edgeCte("e0")},
      |d1 AS (SELECT v, count(*) AS deg FROM (
      |    SELECT src AS v FROM e0 UNION ALL SELECT dst FROM e0) u
      |  GROUP BY v),
      |k1 AS (SELECT v FROM d1 WHERE deg >= 2),
      |e1 AS (SELECT src, dst FROM e0
      |  WHERE src IN (SELECT v FROM k1) AND dst IN (SELECT v FROM k1)),
      |d2 AS (SELECT v, count(*) AS deg FROM (
      |    SELECT src AS v FROM e1 UNION ALL SELECT dst FROM e1) u
      |  GROUP BY v),
      |k2 AS (SELECT v FROM d2 WHERE deg >= 2),
      |e2 AS (SELECT src, dst FROM e1
      |  WHERE src IN (SELECT v FROM k2) AND dst IN (SELECT v FROM k2)),
      |d3 AS (SELECT v, count(*) AS deg FROM (
      |    SELECT src AS v FROM e2 UNION ALL SELECT dst FROM e2) u
      |  GROUP BY v),
      |k3 AS (SELECT v FROM d3 WHERE deg >= 2),
      |e3 AS (SELECT src, dst FROM e2
      |  WHERE src IN (SELECT v FROM k3) AND dst IN (SELECT v FROM k3)),
      |df AS (SELECT v, count(*) AS deg FROM (
      |    SELECT src AS v FROM e3 UNION ALL SELECT dst FROM e3) u
      |  GROUP BY v),
      |tot AS (
      |  SELECT (SELECT count(*) FROM df) AS n_nodes,
      |    (SELECT count(*) FROM e3) AS n_edges)
      |SELECT v AS node, CAST(deg AS BIGINT) AS core_deg,
      |  CAST(tot.n_nodes AS BIGINT) AS n_nodes,
      |  CAST(tot.n_edges AS BIGINT) AS n_edges
      |FROM df, tot
      |ORDER BY core_deg DESC, node LIMIT 50""".stripMargin) { (s, d) =>
    // support ≥ 2 edges off the shared, checkpoint-backed PairStore
    var e = PairStore.edges(s, d)
    var i = 0
    while (i < 3) {
      val deg = e.select(col("src").as("v"))
        .unionByName(e.select(col("dst").as("v")))
        .groupBy("v").agg(count(lit(1)).as("deg"))
      val keep = deg.filter(col("deg") >= 2).select("v")
      e = e
        .join(keep.withColumnRenamed("v", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("v", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst")
        .localCheckpoint()
      i += 1
    }
    val df = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    val tot = df.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
    df.crossJoin(broadcast(tot))
      .select(col("v").as("node"), col("deg").cast(LongType).as("core_deg"),
        col("n_nodes").cast(LongType), col("n_edges").cast(LongType))
      .orderBy(col("core_deg").desc, col("node"))
      .limit(50)
  }

  /** Monthly growth accounting of the customer base: every active
    * customer-month classified new / retained / resurrected (by integer
    * month index, engine-proof), churn attributed to the following
    * month as prev-active − retained — the canonical 4-state growth
    * ledger behind every "MAU up, but from where?" question. Facts
    * reduce to distinct (customer, month) first; the lag runs inside
    * the customer partition (shuffle key = customer, never global);
    * monthly assembly windows touch only the bounded month table. */
  val qGrowthAccounting = Q(
    "q_growth_accounting",
    """WITH am AS (
      |  SELECT DISTINCT o_custkey AS c,
      |    CAST(date_trunc('month', o_orderdate) AS DATE) AS m
      |  FROM orders),
      |ami AS (SELECT c, m, year(m) * 12 + month(m) AS mi FROM am),
      |fm AS (SELECT c, min(mi) AS fmi FROM ami GROUP BY c),
      |cl AS (
      |  SELECT a.c, a.m, a.mi, f.fmi,
      |    lag(a.mi) OVER (PARTITION BY a.c ORDER BY a.mi) AS pmi
      |  FROM ami a JOIN fm f ON a.c = f.c),
      |st AS (
      |  SELECT m, mi,
      |    CASE WHEN mi = fmi THEN 'new'
      |         WHEN pmi = mi - 1 THEN 'retained'
      |         ELSE 'resurrected' END AS s
      |  FROM cl),
      |agg AS (
      |  SELECT m, mi, count(*) AS n_active,
      |    sum(CASE WHEN s = 'new' THEN 1 ELSE 0 END) AS n_new,
      |    sum(CASE WHEN s = 'retained' THEN 1 ELSE 0 END) AS n_retained,
      |    sum(CASE WHEN s = 'resurrected' THEN 1 ELSE 0 END)
      |      AS n_resurrected
      |  FROM st GROUP BY 1, 2)
      |SELECT m AS mth, CAST(n_active AS BIGINT) AS n_active,
      |  CAST(n_new AS BIGINT) AS n_new,
      |  CAST(n_retained AS BIGINT) AS n_retained,
      |  CAST(n_resurrected AS BIGINT) AS n_resurrected,
      |  CAST(COALESCE(
      |    CASE WHEN lag(mi) OVER (ORDER BY mi) = mi - 1
      |      THEN lag(n_active) OVER (ORDER BY mi) - n_retained
      |      ELSE lag(n_active) OVER (ORDER BY mi) END, 0) AS BIGINT)
      |    AS n_churned
      |FROM agg ORDER BY mth""".stripMargin) { (s, d) =>
    val am = t(s, d, "orders")
      .select(col("o_custkey").as("c"),
        date_trunc("month", col("o_orderdate")).cast(DateType).as("m"))
      .distinct()
    val ami = am.withColumn("mi", year(col("m")) * 12 + month(col("m")))
    val fm = ami.groupBy("c").agg(min(col("mi")).as("fmi"))
    val wLag = Window.partitionBy("c").orderBy("mi")
    val cl = ami.join(fm, "c")
      .withColumn("pmi", lag(col("mi"), 1).over(wLag))
    val st = cl.select(col("m"), col("mi"),
      when(col("mi") === col("fmi"), "new")
        .when(col("pmi") === col("mi") - 1, "retained")
        .otherwise("resurrected").as("s"))
    val agg = st.groupBy("m", "mi")
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("s") === "new", 1).otherwise(0)).as("n_new"),
        sum(when(col("s") === "retained", 1).otherwise(0))
          .as("n_retained"),
        sum(when(col("s") === "resurrected", 1).otherwise(0))
          .as("n_resurrected"))
    val wM = Window.orderBy("mi")
    agg
      .withColumn("n_churned", coalesce(
        when(lag(col("mi"), 1).over(wM) === col("mi") - 1,
          lag(col("n_active"), 1).over(wM) - col("n_retained"))
          .otherwise(lag(col("n_active"), 1).over(wM)), lit(0))
        .cast(LongType))
      .select(col("m").as("mth"),
        col("n_active").cast(LongType).as("n_active"),
        col("n_new").cast(LongType).as("n_new"),
        col("n_retained").cast(LongType).as("n_retained"),
        col("n_resurrected").cast(LongType).as("n_resurrected"),
        col("n_churned"))
      .orderBy("mth")
  }

  /** SAX symbolization of the monthly revenue series (4-symbol alphabet,
    * N(0,1) quartile breakpoints ±0.6745): each month's standardized
    * deviation maps to a..d and each year folds to its SAX word — the
    * discretization that turns similarity search over time series into
    * string matching (q_dedup_* territory). μ and σ quantize once (the
    * q_cusum idiom); every breakpoint comparison is an exact integer
    * product compare, so the words are engine-identical; the year fold
    * sorts (month, symbol) structs — order-proof under any merge. */
  val qSaxSymbols = Q(
    "q_sax_symbols",
    s"""WITH m AS (
      |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
      |    ${sumCentsSql}
      |      AS rev
      |  FROM orders GROUP BY 1),
      |$revMuSigmaSql,
      |sym AS (
      |  SELECT mth, rev,
      |    CASE
      |      WHEN (CAST(rev AS HUGEINT) * 1000 - mu3) * 10000
      |        < -6745 * CAST(s3 AS HUGEINT) THEN 'a'
      |      WHEN CAST(rev AS HUGEINT) * 1000 - mu3 < 0 THEN 'b'
      |      WHEN (CAST(rev AS HUGEINT) * 1000 - mu3) * 10000
      |        < 6745 * CAST(s3 AS HUGEINT) THEN 'c'
      |      ELSE 'd' END AS sym
      |  FROM m, st)
      |SELECT year(mth) AS yr, count(*) AS n_months,
      |  string_agg(sym, '' ORDER BY mth) AS sax,
      |  CAST(sum(rev) AS BIGINT) AS rev_cents
      |FROM sym GROUP BY 1 ORDER BY yr""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val m = t(s, d, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast(DateType)
        .as("mth"))
      .agg(sumCents.as("rev"))
    val st = revMuSigma(m)
    val sym = m.crossJoin(broadcast(st))
      .select(col("mth"), col("rev"),
        when((col("rev").cast(big38) * 1000 - col("mu3")) * 10000
          < lit(-6745) * col("s3").cast(big38), "a")
        .when(col("rev").cast(big38) * 1000 - col("mu3") < 0, "b")
        .when((col("rev").cast(big38) * 1000 - col("mu3")) * 10000
          < lit(6745) * col("s3").cast(big38), "c")
        .otherwise("d").as("sym"))
    sym.groupBy(year(col("mth")).cast(LongType).as("yr"))
      .agg(count(lit(1)).as("n_months"),
        array_join(transform(
          array_sort(collect_list(struct(col("mth"), col("sym")))),
          e => e.getField("sym")), "").as("sax"),
        sum(col("rev")).cast(LongType).as("rev_cents"))
      .orderBy("yr")
  }

  /** Time-bounded strict-order funnel: signup → view → click → purchase,
    * every later stage strictly after the previous one and inside the
    * 7-day window opened at signup — the conversion question
    * q_funnel_stages (unordered) and q_conversion_lag (one hop) don't
    * answer. Each stage is one user-keyed equi-join + min-aggregation on
    * exact µs (facts shuffle once per stage on user_id); the 4-row
    * assembly and its lag window are constant-size. */
  val qFunnelWindowed = Q(
    "q_funnel_windowed",
    """WITH ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
      |s0 AS (
      |  SELECT user_id, min(us) AS t0 FROM ev
      |  WHERE event_type = 'signup' GROUP BY 1),
      |s1 AS (
      |  SELECT e.user_id, min(s0.t0) AS t0, min(e.us) AS t1
      |  FROM ev e JOIN s0 ON e.user_id = s0.user_id
      |  WHERE e.event_type = 'view' AND e.us > s0.t0
      |    AND e.us <= s0.t0 + 604800000000 GROUP BY 1),
      |s2 AS (
      |  SELECT e.user_id, min(s1.t0) AS t0, min(e.us) AS t2
      |  FROM ev e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND e.us > s1.t1
      |    AND e.us <= s1.t0 + 604800000000 GROUP BY 1),
      |s3 AS (
      |  SELECT e.user_id, min(e.us) AS t3
      |  FROM ev e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND e.us > s2.t2
      |    AND e.us <= s2.t0 + 604800000000 GROUP BY 1),
      |f AS (
      |  SELECT 1 AS step, 'signup' AS stage,
      |    (SELECT count(*) FROM s0) AS n_users
      |  UNION ALL SELECT 2, 'view', (SELECT count(*) FROM s1)
      |  UNION ALL SELECT 3, 'click', (SELECT count(*) FROM s2)
      |  UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM s3))
      |SELECT step, stage, CAST(n_users AS BIGINT) AS n_users,
      |  ROUND(CAST(n_users AS DOUBLE)
      |    / NULLIF(lag(n_users) OVER (ORDER BY step), 0), 6)
      |    AS conv_from_prev
      |FROM f ORDER BY step""".stripMargin) { (s, d) =>
    val week = 604800000000L
    val ev = eventsUs(s, d).select("user_id", "event_type", "us")
    val s0 = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("t0"))
    val s1 = ev.filter(col("event_type") === "view").join(s0, "user_id")
      .filter(col("us") > col("t0") && col("us") <= col("t0") + week)
      .groupBy("user_id")
      .agg(min(col("t0")).as("t0"), min(col("us")).as("t1"))
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("us") > col("t1") && col("us") <= col("t0") + week)
      .groupBy("user_id")
      .agg(min(col("t0")).as("t0"), min(col("us")).as("t2"))
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("us") > col("t2") && col("us") <= col("t0") + week)
      .groupBy("user_id").agg(min(col("us")).as("t3"))
    def cnt(df: DataFrame, step: Int, stage: String): DataFrame =
      df.agg(count(lit(1)).as("n_users"))
        .select(lit(step).as("step"), lit(stage).as("stage"),
          col("n_users"))
    val f = cnt(s0, 1, "signup")
      .unionByName(cnt(s1, 2, "view"))
      .unionByName(cnt(s2, 3, "click"))
      .unionByName(cnt(s3, 4, "purchase"))
    val wStep = Window.orderBy("step")
    f.withColumn("prev", lag(col("n_users"), 1).over(wStep))
      .select(col("step"), col("stage"),
        col("n_users").cast(LongType).as("n_users"),
        round(col("n_users").cast(DoubleType)
          / when(col("prev") === 0, lit(null)).otherwise(col("prev")), 6)
          .as("conv_from_prev"))
      .orderBy("step")
  }

  /** Sequential probability ratio test (Wald SPRT) on the urgent-order
    * rate — H0 p=0.18 vs H1 p=0.22, boundaries ±ln(19) (α=β=0.05) —
    * monitoring the order stream in arrival order: the always-valid
    * sequential companion to q_abtest_ztest's fixed-horizon test. Each
    * order contributes one of two PRE-QUANTIZED integer log-likelihood
    * increments (hardcoded ·10⁹ — no runtime transcendentals anywhere),
    * the trajectory is a GlobalRank distributed running sum (no
    * data-sized window), and the crossing scan is two conditional mins.
    */
  val qSprt = Q(
    "q_sprt",
    """WITH x AS (
      |  SELECT CASE WHEN o_orderpriority = '1-URGENT'
      |      THEN 200670695 ELSE -50010421 END AS llr9,
      |    row_number() OVER (ORDER BY epoch_us(o_orderdate), o_orderkey)
      |      AS rn
      |  FROM orders),
      |c AS (
      |  SELECT rn, sum(CAST(llr9 AS HUGEINT)) OVER (ORDER BY rn) AS cum
      |  FROM x),
      |s AS (
      |  SELECT count(*) AS n_orders,
      |    min(CASE WHEN cum >= 2944438979 THEN rn END) AS up_rn,
      |    min(CASE WHEN cum <= -2944438979 THEN rn END) AS dn_rn,
      |    max(CASE WHEN rn = (SELECT max(rn) FROM c) THEN cum END)
      |      AS cum_end
      |  FROM c)
      |SELECT CAST(n_orders AS BIGINT) AS n_orders,
      |  CAST(CASE WHEN up_rn IS NOT NULL
      |      AND (dn_rn IS NULL OR up_rn < dn_rn) THEN up_rn
      |    WHEN dn_rn IS NOT NULL THEN dn_rn END AS BIGINT)
      |    AS first_cross_rn,
      |  CASE WHEN up_rn IS NOT NULL AND (dn_rn IS NULL OR up_rn < dn_rn)
      |      THEN 'reject_h0'
      |    WHEN dn_rn IS NOT NULL THEN 'accept_h0'
      |    ELSE 'continue' END AS decision,
      |  ROUND(CAST(cum_end AS DOUBLE) / 1000000000, 6) AS llr_end
      |FROM s""".stripMargin) { (s, d) =>
    val x = t(s, d, "orders").select(
      when(col("o_orderpriority") === "1-URGENT", 200670695L)
        .otherwise(-50010421L).as("llr9"),
      unix_micros(col("o_orderdate").cast(TimestampType)).as("dus"),
      col("o_orderkey"))
    // withGlobalRunningSum's second return IS the grand total (the
    // trajectory's endpoint); withGlobalRowNumber's is the row count
    val (cumDf, llrTotal) = graft.plans.GlobalRank.withGlobalRunningSum(
      x, col("llr9"), "cum", 32, col("dus"), col("o_orderkey"))
    val (ranked, nRows) = graft.plans.GlobalRank.withGlobalRowNumber(
      cumDf.select("dus", "o_orderkey", "cum"), "rn", 32,
      col("dus"), col("o_orderkey"))
    val st = ranked.agg(
      min(when(col("cum") >= 2944438979L, col("rn"))).as("up_rn"),
      min(when(col("cum") <= -2944438979L, col("rn"))).as("dn_rn"))
      .withColumn("cum_end", lit(llrTotal))
    st.select(lit(nRows).as("n_orders"),
        when(col("up_rn").isNotNull &&
            (col("dn_rn").isNull || col("up_rn") < col("dn_rn")),
          col("up_rn"))
          .when(col("dn_rn").isNotNull, col("dn_rn"))
          .cast(LongType).as("first_cross_rn"),
        when(col("up_rn").isNotNull &&
            (col("dn_rn").isNull || col("up_rn") < col("dn_rn")),
          "reject_h0")
          .when(col("dn_rn").isNotNull, "accept_h0")
          .otherwise("continue").as("decision"),
        round(col("cum_end").cast(DoubleType) / 1000000000L, 6)
          .as("llr_end"))
  }

  /** Personalized PageRank (2 damped iterations) on the q_pagerank
    * customer→supplier nation graph, with the restart distribution
    * concentrated on BUILDING customers' nations — "which supplier
    * nations matter to THIS segment", the seeded variant of the global
    * rank. Same per-iteration shape (one aggregated-edge shuffle +
    * node-sized broadcasts) via plans.PageRank.iteratePersonalized; the
    * oracle unrolls both iterations. */
  val qPpr = Q(
    "q_ppr",
    s"""WITH ${TradeGraph.edgesSql("CAST(count(*) AS DOUBLE)")},
      |ow AS (SELECT src, sum(w) AS outw FROM e GROUP BY 1),
      |bt AS (SELECT count(*) AS nb FROM customer
      |       WHERE c_mktsegment = 'BUILDING'),
      |tpv AS (
      |  SELECT c_nationkey AS id, CAST(count(*) AS DOUBLE) / bt.nb AS tp
      |  FROM customer, bt WHERE c_mktsegment = 'BUILDING'
      |  GROUP BY c_nationkey, bt.nb),
      |tp0 AS (
      |  SELECT n_nationkey AS id, coalesce(tpv.tp, 0) AS tp
      |  FROM nation LEFT JOIN tpv ON n_nationkey = tpv.id),
      |c1 AS (
      |  SELECT e.dst, sum(tp0.tp * e.w / ow.outw) AS inflow
      |  FROM e JOIN tp0 ON e.src = tp0.id JOIN ow ON e.src = ow.src
      |  GROUP BY e.dst),
      |r1 AS (
      |  SELECT tp0.id, tp0.tp,
      |    0.15000000000000002 * tp0.tp
      |      + 0.85 * coalesce(c1.inflow, 0) AS pr
      |  FROM tp0 LEFT JOIN c1 ON c1.dst = tp0.id),
      |c2 AS (
      |  SELECT e.dst, sum(r1.pr * e.w / ow.outw) AS inflow
      |  FROM e JOIN r1 ON e.src = r1.id JOIN ow ON e.src = ow.src
      |  GROUP BY e.dst),
      |r2 AS (
      |  SELECT r1.id,
      |    0.15000000000000002 * r1.tp
      |      + 0.85 * coalesce(c2.inflow, 0) AS pr
      |  FROM r1 LEFT JOIN c2 ON c2.dst = r1.id)
      |SELECT id AS nation_id, ROUND(pr, 6) AS ppr
      |FROM r2 ORDER BY nation_id""".stripMargin) { (s, d) =>
    // bounded nations² edge table, re-read per iteration — the shared
    // TradeGraph local relation (q_pagerank's materialization, hoisted)
    val edges = TradeGraph.edges(s, d)
      .select(col("src"), col("dst"), col("w").cast(DoubleType).as("w"))
    val nodes = t(s, d, "nation").select(col("n_nationkey").as("id"))
    val b = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
    val nb = b.count().toDouble
    val teleport = b.groupBy(col("c_nationkey").as("id"))
      .agg((count(lit(1)).cast(DoubleType) / nb).as("tp"))
    graft.plans.PageRank
      .iteratePersonalized(nodes, edges, teleport, iters = 2,
        damping = 0.85)
      .select(col("id").as("nation_id"), round(col("rank"), 6).as("ppr"))
      .orderBy("nation_id")
  }

  /** Standardized (adjusted) Pearson residuals per contingency cell —
    * WHICH (segment, priority) cells drive the q_cramers_v association.
    * Same shared contingency aggregate (one fact scan, bounded ≤25-row
    * cell table); each residual is a per-row closed form over exact
    * HUGEINT marginals, so nothing double is ever summed. */
  val qCrosstabResiduals = Q(
    "q_crosstab_residuals",
    s"""WITH $contingencySql
      |SELECT seg, prio, CAST(o AS BIGINT) AS observed,
      |  ROUND(CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE), 4) AS expected,
      |  ROUND((CAST(o AS DOUBLE) - CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE))
      |    / sqrt(CAST(r * c AS DOUBLE) / CAST(n AS DOUBLE)
      |      * (1 - CAST(r AS DOUBLE) / CAST(n AS DOUBLE))
      |      * (1 - CAST(c AS DOUBLE) / CAST(n AS DOUBLE))), 6)
      |    AS std_resid
      |FROM marg ORDER BY seg, prio""".stripMargin) { (s, d) =>
    contingency(s, d).select(col("seg"), col("prio"),
      col("o").cast(LongType).as("observed"),
      round((col("r") * col("c")).cast(DoubleType)
        / col("n").cast(DoubleType), 4).as("expected"),
      round((col("o").cast(DoubleType)
        - (col("r") * col("c")).cast(DoubleType) / col("n").cast(DoubleType))
        / sqrt((col("r") * col("c")).cast(DoubleType)
            / col("n").cast(DoubleType)
          * (lit(1) - col("r").cast(DoubleType) / col("n").cast(DoubleType))
          * (lit(1) - col("c").cast(DoubleType) / col("n").cast(DoubleType))),
          6).as("std_resid"))
      .orderBy("seg", "prio")
  }

  /** Theil's uncertainty coefficient U(priority|segment): the fraction
    * of priority entropy explained by knowing the segment — the
    * DIRECTIONAL categorical-association readout next to the symmetric
    * q_cramers_v / q_mutual_info. Each entropy term quantizes to a ·10⁹
    * integer before the bounded-domain sum (the cramers_v idiom), so the
    * folds are merge-order-proof. */
  val qTheilsU = Q(
    "q_theils_u",
    s"""WITH $contingencySql,
      |hy AS (
      |  SELECT sum(CAST(ROUND(
      |      -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
      |        * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000000)
      |    AS BIGINT)) AS h9
      |  FROM (SELECT DISTINCT prio, c, n FROM marg) x),
      |hc AS (
      |  SELECT sum(CAST(ROUND(
      |      -(CAST(o AS DOUBLE) / CAST(n AS DOUBLE))
      |        * ln(CAST(o AS DOUBLE) / CAST(r AS DOUBLE)) * 1000000000)
      |    AS BIGINT)) AS h9
      |  FROM marg WHERE o > 0)
      |SELECT ROUND(CAST(hy.h9 AS DOUBLE) / 1000000000, 6) AS h_prio,
      |  ROUND(CAST(hc.h9 AS DOUBLE) / 1000000000, 6) AS h_prio_given_seg,
      |  ROUND(CAST(hy.h9 - hc.h9 AS DOUBLE) / CAST(hy.h9 AS DOUBLE), 6)
      |    AS theils_u
      |FROM hy, hc""".stripMargin) { (s, d) =>
    val marg = contingency(s, d)
    val hy = marg.select("prio", "c", "n").distinct()
      .agg(sum(round(-(col("c").cast(DoubleType) / col("n").cast(DoubleType))
          * log(col("c").cast(DoubleType) / col("n").cast(DoubleType))
          * 1000000000L).cast(LongType)).as("h9y"))
    val hc = marg.filter(col("o") > 0)
      .agg(sum(round(-(col("o").cast(DoubleType) / col("n").cast(DoubleType))
          * log(col("o").cast(DoubleType) / col("r").cast(DoubleType))
          * 1000000000L).cast(LongType)).as("h9c"))
    hy.crossJoin(broadcast(hc)).select(
      round(col("h9y").cast(DoubleType) / 1000000000L, 6).as("h_prio"),
      round(col("h9c").cast(DoubleType) / 1000000000L, 6)
        .as("h_prio_given_seg"),
      round((col("h9y") - col("h9c")).cast(DoubleType)
        / col("h9y").cast(DoubleType), 6).as("theils_u"))
  }

  /** Kaplan-Meier quartile survival times: the first duration where the
    * q_kaplan_meier curve crosses 0.75 / 0.50 / 0.25 (NULL while never
    * crossed) — the "median customer lifetime" scalar planning actually
    * consumes, next to the full curve. Same bounded post-aggregation
    * chain as q_kaplan_meier (windows over ≤ distinct-duration rows,
    * never facts); crossings are conditional mins over that table. */
  val qSurvivalMedian = Q(
    "q_survival_median",
    s"""WITH $durationsCte,
      |g AS (
      |  SELECT t, sum(ev) AS d, count(*) AS nrow FROM durs GROUP BY t),
      |$atRiskSql,
      |sv AS (
      |  SELECT t, d, at_risk,
      |    CASE WHEN d >= at_risk THEN 0.0 ELSE exp(
      |      $kmLogSumSql) END AS s
      |  FROM ar),
      |ev AS (SELECT t, s FROM sv WHERE d > 0)
      |SELECT
      |  (SELECT CAST(max(at_risk) AS BIGINT) FROM ar) AS n_at_start,
      |  CAST(min(CASE WHEN s <= 0.75 THEN t END) AS BIGINT) AS t_q75,
      |  CAST(min(CASE WHEN s <= 0.5 THEN t END) AS BIGINT) AS t_median,
      |  CAST(min(CASE WHEN s <= 0.25 THEN t END) AS BIGINT) AS t_q25,
      |  CAST(max(t) AS BIGINT) AS t_max
      |FROM ev""".stripMargin) { (s, d) =>
    val ar = atRisk(durationCounts(s, d))
    val sv = ar.withColumn("s",
      when(col("d") >= col("at_risk"), 0.0).otherwise(exp(kmLogSum)))
    val ev = sv.filter(col("d") > 0).select("t", "s")
    val nStart = ar.agg(max(col("at_risk")).cast(LongType).as("n_at_start"))
    ev.agg(
        min(when(col("s") <= 0.75, col("t"))).cast(LongType).as("t_q75"),
        min(when(col("s") <= 0.5, col("t"))).cast(LongType).as("t_median"),
        min(when(col("s") <= 0.25, col("t"))).cast(LongType).as("t_q25"),
        max(col("t")).cast(LongType).as("t_max"))
      .crossJoin(broadcast(nStart))
      .select(col("n_at_start"), col("t_q75"), col("t_median"),
        col("t_q25"), col("t_max"))
  }

  /** Laspeyres / Paasche / Fisher price indexes 1995→1996 over parts
    * traded in BOTH years — the warehouse inflation readout separating
    * price change from volume/mix change. Per-(part, year) unit values
    * come from exact cent/quantity sums; each part's four index terms
    * quantize to ·10³ integers before the cross-part sum, so the folds
    * are merge-order-proof; the three ratios are one-row finals. */
  val qPriceIndex = Q(
    "q_price_index",
    """WITH py AS (
      |  SELECT l_partkey AS pk, year(l_shipdate) AS y,
      |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS HUGEINT)) AS cents,
      |    sum(CAST(l_quantity AS HUGEINT)) AS qty
      |  FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
      |  GROUP BY 1, 2),
      |b AS (
      |  SELECT p0.pk,
      |    CAST(p0.cents AS DOUBLE) / CAST(p0.qty AS DOUBLE) AS pr0,
      |    CAST(p1.cents AS DOUBLE) / CAST(p1.qty AS DOUBLE) AS pr1,
      |    CAST(p0.qty AS DOUBLE) AS q0, CAST(p1.qty AS DOUBLE) AS q1
      |  FROM py p0 JOIN py p1 ON p0.pk = p1.pk
      |  WHERE p0.y = 1995 AND p1.y = 1996),
      |terms AS (
      |  SELECT
      |    CAST(ROUND(pr1 * q0 * 1000) AS HUGEINT) AS l_num,
      |    CAST(ROUND(pr0 * q0 * 1000) AS HUGEINT) AS l_den,
      |    CAST(ROUND(pr1 * q1 * 1000) AS HUGEINT) AS p_num,
      |    CAST(ROUND(pr0 * q1 * 1000) AS HUGEINT) AS p_den
      |  FROM b),
      |agg AS (
      |  SELECT count(*) AS n_parts, sum(l_num) AS ln_, sum(l_den) AS ld,
      |    sum(p_num) AS pn, sum(p_den) AS pd
      |  FROM terms)
      |SELECT CAST(n_parts AS BIGINT) AS n_parts,
      |  ROUND(CAST(ln_ AS DOUBLE) / CAST(ld AS DOUBLE), 6) AS laspeyres,
      |  ROUND(CAST(pn AS DOUBLE) / CAST(pd AS DOUBLE), 6) AS paasche,
      |  ROUND(sqrt((CAST(ln_ AS DOUBLE) / CAST(ld AS DOUBLE))
      |    * (CAST(pn AS DOUBLE) / CAST(pd AS DOUBLE))), 6) AS fisher
      |FROM agg""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val py = t(s, d, "lineitem")
      .filter(year(col("l_shipdate")).isin(1995, 1996))
      .groupBy(col("l_partkey").as("pk"), year(col("l_shipdate")).as("y"))
      .agg(sum((dec2(col("l_extendedprice")) * 100).cast(LongType)
        .cast(big38)).as("cents"),
        sum(col("l_quantity").cast(LongType).cast(big38)).as("qty"))
    val b = py.filter(col("y") === 1995)
      .select(col("pk"), col("cents").as("c0"), col("qty").as("qty0"))
      .join(py.filter(col("y") === 1996)
        .select(col("pk"), col("cents").as("c1"), col("qty").as("qty1")),
        "pk")
      .select(col("pk"),
        (col("c0").cast(DoubleType) / col("qty0").cast(DoubleType))
          .as("pr0"),
        (col("c1").cast(DoubleType) / col("qty1").cast(DoubleType))
          .as("pr1"),
        col("qty0").cast(DoubleType).as("q0"),
        col("qty1").cast(DoubleType).as("q1"))
    val terms = b.select(
      round(col("pr1") * col("q0") * 1000).cast(big38).as("l_num"),
      round(col("pr0") * col("q0") * 1000).cast(big38).as("l_den"),
      round(col("pr1") * col("q1") * 1000).cast(big38).as("p_num"),
      round(col("pr0") * col("q1") * 1000).cast(big38).as("p_den"))
    val agg = terms.agg(count(lit(1)).as("n_parts"),
      sum("l_num").as("ln_"), sum("l_den").as("ld"),
      sum("p_num").as("pn"), sum("p_den").as("pd"))
    agg.select(col("n_parts").cast(LongType).as("n_parts"),
      round(col("ln_").cast(DoubleType) / col("ld").cast(DoubleType), 6)
        .as("laspeyres"),
      round(col("pn").cast(DoubleType) / col("pd").cast(DoubleType), 6)
        .as("paasche"),
      round(sqrt((col("ln_").cast(DoubleType) / col("ld").cast(DoubleType))
        * (col("pn").cast(DoubleType) / col("pd").cast(DoubleType))), 6)
        .as("fisher"))
  }

  /** Preferential-attachment link-prediction scores deg(a)·deg(b) for
    * the top candidate pairs of the co-purchase graph — the degree-only
    * baseline every fancier link predictor (q_adamic_adar, common
    * neighbors) must beat before its complexity is justified. Candidates
    * are 2-hop wedge pairs (shared-neighbor equi-join — never all-pairs);
    * the score is an exact integer product, so the top-k order is total
    * with (score DESC, a, b). */
  val qPrefAttach = Q(
    "q_pref_attach",
    s"""WITH ${PairStore.rawAdjCte},
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
      |        FROM adj GROUP BY node),
      |cand AS (
      |  SELECT DISTINCT x.node AS a, y.node AS b
      |  FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node)
      |SELECT a, b, da.d AS deg_a, db.d AS deg_b,
      |  da.d * db.d AS pa_score
      |FROM cand JOIN deg da ON cand.a = da.node
      |          JOIN deg db ON cand.b = db.node
      |ORDER BY pa_score DESC, a, b LIMIT 30""".stripMargin) { (s, d) =>
    val adj = PairStore.rawAdjacency(s, d)
    val deg = adj.groupBy("node").agg(count(lit(1)).cast(LongType).as("d"))
    val cand = adj.select(col("node").as("a"), col("nbr"))
      .join(adj.select(col("node").as("b"), col("nbr").as("nbr2")),
        col("nbr") === col("nbr2") && col("a") < col("b"))
      .select("a", "b").distinct()
    // degree table is |V|-sized — joins stay vertex-keyed SMJs (no
    // broadcast: at 100 TB |V| is data-sized)
    cand.join(deg.select(col("node").as("a"), col("d").as("deg_a")),
        Seq("a"))
      .join(deg.select(col("node").as("b"), col("d").as("deg_b")),
        Seq("b"))
      .select(col("a"), col("b"), col("deg_a"), col("deg_b"),
        (col("deg_a") * col("deg_b")).as("pa_score"))
      .orderBy(col("pa_score").desc, col("a"), col("b"))
      .limit(30)
  }

  /** Average-neighbor-degree curve knn(k) of the co-purchase graph: for
    * each degree class k, the mean degree of the neighbors of degree-k
    * vertices — the full assortativity PROFILE behind q_assortativity's
    * single correlation (a falling curve = hubs attach to leaves). All
    * sums are exact integers aggregated per bounded degree class; one
    * division per output row. */
  val qAvgNbrDegree = Q(
    "q_avg_nbr_degree",
    s"""WITH ${PairStore.rawAdjCte},
      |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
      |        FROM adj GROUP BY node),
      |nbrdeg AS (
      |  SELECT dn.d AS k, dd.d AS nbr_d
      |  FROM adj JOIN deg dn ON adj.node = dn.node
      |           JOIN deg dd ON adj.nbr = dd.node)
      |SELECT k, CAST(count(*) AS BIGINT) AS n_endpoints,
      |  CAST(sum(CAST(nbr_d AS HUGEINT)) AS BIGINT) AS sum_nbr_deg,
      |  ROUND(CAST(sum(CAST(nbr_d AS HUGEINT)) AS DOUBLE) / count(*), 6)
      |    AS knn
      |FROM nbrdeg GROUP BY k ORDER BY k""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val adj = PairStore.rawAdjacency(s, d)
    val deg = adj.groupBy("node").agg(count(lit(1)).cast(LongType).as("d"))
    // |V|-sized degree table: vertex-keyed SMJs, not broadcasts
    val nbrdeg = adj
      .join(deg.select(col("node").as("node"), col("d").as("k")),
        Seq("node"))
      .join(deg.select(col("node").as("nbr"), col("d").as("nbr_d")),
        Seq("nbr"))
    nbrdeg.groupBy("k")
      .agg(count(lit(1)).cast(LongType).as("n_endpoints"),
        sum(col("nbr_d").cast(big38)).as("snd"))
      .select(col("k"), col("n_endpoints"),
        col("snd").cast(LongType).as("sum_nbr_deg"),
        round(col("snd").cast(DoubleType) / col("n_endpoints"), 6).as("knn"))
      .orderBy("k")
  }

  /** Rate-burst episodes per event type: days whose count exceeds the
    * 7-day TRAILING mean by >20% (exact integer predicate 35·c > 6·s₇,
    * warmup 7 days), rolled into gaps-and-islands episodes with the peak
    * day — the traffic-surge detector beside q_cusum's level-shift alarm
    * and q_burstiness's gap-CV scalar: episodic spikes, not sustained
    * drift. (Production threshold is 2×; the uniform synthetic feed
    * never trips it, so the registered query uses 1.2× to keep the
    * mechanism observable.) Facts reduce to the calendar-bounded
    * (type × day) panel in ONE scan; every window after that runs on
    * ≤30 rows per type. */
  val qRateBursts = Q(
    "q_rate_bursts",
    """WITH e AS (
      |  SELECT event_type,
      |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
      |  FROM events),
      |d AS (SELECT event_type, day, count(*) AS c FROM e GROUP BY 1, 2),
      |w AS (
      |  SELECT event_type, day, c,
      |    sum(c) OVER (PARTITION BY event_type ORDER BY day
      |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS s7,
      |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
      |  FROM d),
      |b AS (
      |  SELECT event_type, day, c,
      |    day - row_number() OVER (PARTITION BY event_type ORDER BY day)
      |      AS isl
      |  FROM w WHERE rn > 7 AND 35 * c > 6 * s7),
      |ep AS (
      |  SELECT event_type, isl, count(*) AS len FROM b GROUP BY 1, 2),
      |pk AS (
      |  SELECT event_type, day AS peak_day,
      |    row_number() OVER (PARTITION BY event_type
      |      ORDER BY c DESC, day) AS rk
      |  FROM b),
      |base AS (SELECT DISTINCT event_type FROM d)
      |SELECT base.event_type,
      |  CAST(coalesce(sum(ep.len), 0) AS BIGINT) AS n_burst_days,
      |  CAST(coalesce(count(ep.len), 0) AS BIGINT) AS n_episodes,
      |  CAST(coalesce(max(ep.len), 0) AS BIGINT) AS max_episode_days,
      |  max(pk.peak_day) AS peak_day
      |FROM base
      |LEFT JOIN ep ON base.event_type = ep.event_type
      |LEFT JOIN pk ON base.event_type = pk.event_type AND pk.rk = 1
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val e = eventsUs(s, d)
      .select(col("event_type"),
        (col("us") / 86400000000L).cast(LongType).as("day"))
    val days = e.groupBy("event_type", "day").agg(count(lit(1)).as("c"))
    val wTrail = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    val wRn = Window.partitionBy("event_type").orderBy("day")
    val b = days
      .withColumn("s7", sum(col("c")).over(wTrail))
      .withColumn("rn", row_number().over(wRn))
      .filter(col("rn") > 7 && lit(35) * col("c") > lit(6) * col("s7"))
      .withColumn("isl", col("day") - row_number().over(wRn))
    val ep = b.groupBy("event_type", "isl").agg(count(lit(1)).as("len"))
    val wPk = Window.partitionBy("event_type")
      .orderBy(col("c").desc, col("day"))
    val pk = b.withColumn("rk", row_number().over(wPk))
      .filter(col("rk") === 1)
      .select(col("event_type").as("pk_type"), col("day").as("peak_day"))
    days.select("event_type").distinct()
      .join(broadcast(ep.withColumnRenamed("event_type", "ep_type")),
        col("event_type") === col("ep_type"), "left")
      .join(broadcast(pk), col("event_type") === col("pk_type"), "left")
      .groupBy("event_type")
      .agg(coalesce(sum(col("len")), lit(0L)).cast(LongType)
          .as("n_burst_days"),
        coalesce(count(col("len")), lit(0L)).cast(LongType)
          .as("n_episodes"),
        coalesce(max(col("len")), lit(0L)).cast(LongType)
          .as("max_episode_days"),
        max(col("peak_day")).as("peak_day"))
      .orderBy("event_type")
  }

  val all: Seq[Q] = Seq(
    qRateBursts,
    qPrefAttach, qAvgNbrDegree,
    qCrosstabResiduals, qTheilsU, qSurvivalMedian, qPriceIndex,
    qSprt, qPpr,
    qKcore, qGrowthAccounting, qSaxSymbols, qFunnelWindowed,
    qLogrankTest, qFdrBh, qCusum, qBootstrapCi, qPriceElasticity,
    qOutlierIqr, qChurnLabel, qAbSrm, qTheilSen, qJaccardNeighbors,
    qAbPower, qKendallTau, qGrubbs, qDiffInDiff, qAdamicAdar,
    qResampleInterp, qRunsTest, qClusteringCoeff,
    qHazardRate, qOrderGapStats, qBasketStats, qDisorderAudit,
    qPercentileProfile, qNewVsReturning, qRollingCorr, qHitsRank,
    qColdStartItems, qMomGrowth, qConversionLag,
    qForecastSnaive, qEffectSize, qLorenzCurve,
    qMergeUpsert, qCorrMatrix, qQuantileBuckets, qRollingMedian,
    qSourceDiversity, qPagerank, qAbtestZtest, qFuzzyJoin,
    qKsTest, qTimeWeightedAvg, qWeightedSample, qWindowCumdistinct,
    qSnapshotDiff, qChi2Drift, qIntervalOverlap, qCcLabelprop,
    qItemCooccur, qEventPaths, qTriangleCount, qIncrJoin,
    qRfm, qAssocRules, qGini, qAutocorr, qDegreeHist, qRollingSlope,
    qSpearman, qBenford, qChangepoint,
    qMannwhitney, qSeasonality, qHhi,
    qTtestWelch, qCramersV, qMutualInfo, qPareto, qAttribution,
    qAnova, qCuped, qDwellTime, qGraph2hop, qDecompose,
    qStreak, qTopnShift, qRollingZscore, qWeeklyActive,
    qMarkovTransitions, qCohortLtv, qRegressionMulti, qHist2d,
    qKaplanMeier, qBurstiness)
}
