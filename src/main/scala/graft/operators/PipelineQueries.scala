package graft.operators

import graft.Q
import graft.Dsl._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-4 pipeline/curation additions: per-source capping, bigram-LM
  * fluency scoring, robust (median/MAD) anomaly flags, dataset profiling,
  * mergeable histograms, incremental aggregate maintenance, SCD2 dimension
  * build, and a Bloom-pruned join under the oracle gate. All follow the
  * determinism contract (exact int/decimal math where possible, round-6
  * on unavoidable double reductions, total ORDER BY, no DECIMAL in final
  * schemas).
  */
object PipelineQueries {

  /** Per-source document capping (keep at most K docs per source, chosen
    * by content-hash rank) — the standard anti-domination knob of web-
    * scale corpus curation: no single domain may contribute more than its
    * cap. Hash-rank selection is deterministic across engines and
    * partitionings (no rand()), and the window partitions by source, so
    * at 100 TB this is one shuffle keyed on a bounded domain set; a
    * skewed mega-source is exactly the AQE-skew / salted-topK case and
    * the cap K bounds what survives. */
  val qSourceCap = Q(
    "q_source_cap",
    """SELECT source, doc_id, CAST(rk AS INT) AS rk FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(text), doc_id) AS rk
      |  FROM documents) x
      |WHERE rk <= 10 ORDER BY source, rk""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("source").orderBy(md5(col("text")), col("doc_id"))
    t(s, d, "documents")
      .select(col("source"), col("doc_id"), col("text"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 10)
      .select("source", "doc_id", "rk")
      .orderBy("source", "rk")
  }

  /** Per-document bigram-LM fluency score: train conditional bigram
    * frequencies on the WHOLE corpus (one bigram-keyed count + one
    * context-keyed rollup), then score a target slice by the mean
    * conditional probability of its bigrams. The corpus-side model is two
    * bounded-key aggregations and the scoring side is a broadcast-able
    * join per bigram — the cheap "does this read like the corpus" filter
    * used before expensive perplexity models. Probability is one exact
    * int division per bigram; the per-doc mean is the only double
    * reduction, rounded 6. */
  val qLmScore = Q(
    "q_lm_score",
    """WITH big AS (
      |  SELECT doc_id, sp[k] AS term, sp[k+1] AS next
      |  FROM (SELECT doc_id, string_split(text, ' ') AS sp FROM documents) d,
      |       generate_series(1, 200) AS g(k)
      |  WHERE k <= len(sp) - 1),
      |cnt AS (SELECT term, next, count(*) AS c FROM big GROUP BY 1, 2),
      |tot AS (SELECT term, CAST(sum(c) AS BIGINT) AS tot FROM cnt GROUP BY 1)
      |SELECT b.doc_id, count(*) AS n_bigrams,
      |  ROUND(avg(CAST(c.c AS DOUBLE) / t.tot), 6) AS fluency
      |FROM big b
      |JOIN cnt c ON b.term = c.term AND b.next = c.next
      |JOIN tot t ON b.term = t.term
      |WHERE b.doc_id % 100 = 0
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin) { (s, d) =>
    val sp = split(col("text"), " ")
    val big = t(s, d, "documents")
      .select(col("doc_id"), sp.as("sp")).filter(size(col("sp")) >= 2)
      .select(col("doc_id"), col("sp"),
        explode(sequence(lit(1), size(col("sp")) - 1)).as("k"))
      .select(col("doc_id"),
        element_at(col("sp"), col("k")).as("term"),
        element_at(col("sp"), col("k") + 1).as("next"))
    val cnt = big.groupBy("term", "next").agg(count(lit(1)).as("c"))
    val tot = cnt.groupBy("term").agg(sum(col("c")).as("tot"))
    big.filter(col("doc_id") % 100 === 0)
      .join(cnt, Seq("term", "next"))
      .join(tot, Seq("term"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("c").cast(DoubleType) / col("tot")), 6).as("fluency"))
      .orderBy("doc_id")
  }

  /** Robust per-group anomaly detection: median + MAD (median absolute
    * deviation) per event_type, flagging |x − med| > 3·MAD. Unlike
    * mean/stddev, the median/MAD pair doesn't let outliers move their own
    * threshold. Two grouped medians + two broadcast joins on a 5-value
    * key — nothing data-sized moves twice. Event-type groups are
    * data-sized, so BOTH medians are scale-gated via
    * [[graft.ApproxGate]]: exact (what the oracle compares) at oracle
    * scales, mergeable approx_percentile sketch past the threshold. */
  val qAnomalyMad = Q(
    "q_anomaly_mad",
    """-- ORACLE-SCALE SEMANTICS ONLY: past ApproxGate.pctRowThreshold base
      |-- rows the Spark side switches to a mergeable approx_percentile
      |-- sketch; this exact form is what's compared at oracle scales.
      |WITH med AS (
      |  SELECT event_type, median(value) AS med FROM events GROUP BY 1),
      |dev AS (
      |  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, median(ad) AS mad FROM dev GROUP BY 1)
      |SELECT d.event_type, count(*) AS n,
      |  ROUND(max(d.med), 6) AS med, ROUND(max(m.mad), 6) AS mad,
      |  CAST(sum(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin) { (s, d) =>
    val ev = t(s, d, "events").select("event_type", "value")
    val ap = graft.ApproxGate.useApprox(s, d, "events")
    val med = ev.groupBy("event_type")
      .agg(graft.ApproxGate.pct(col("value"), 0.5, ap).as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("ad", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(graft.ApproxGate.pct(col("ad"), 0.5, ap).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(max(col("med")), 6).as("med"),
        round(max(col("mad")), 6).as("mad"),
        sum(when(col("ad") > lit(3) * col("mad"), 1).otherwise(0))
          .cast(LongType).as("n_outliers"))
      .orderBy("event_type")
  }

  private val profileCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderpriority", "o_orderdate")

  /** Dataset profiling (deequ-style): per column — row count, null count,
    * exact distinct count — in ONE pass over the table (Spark expands the
    * multi-distinct agg internally; the scan happens once). The first
    * thing run against any new 100 TB drop; at that scale the exact
    * count_distinct becomes approx_count_distinct (same single-pass
    * shape, mergeable sketches) — exact here for the oracle. */
  val qProfileStats = Q(
    "q_profile_stats",
    profileCols.map(c =>
      s"""SELECT '$c' AS col_name, n.n AS n,
         |  n.n - count($c) AS n_null, count(DISTINCT $c) AS n_distinct
         |FROM orders, (SELECT count(*) AS n FROM orders) n
         |GROUP BY n.n""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")) { (s, d) =>
    val orders = t(s, d, "orders")
    val aggs = count(lit(1)).as("n") +: profileCols.flatMap(c => Seq(
      count(col(c)).as(s"nn_$c"), countDistinct(col(c)).as(s"nd_$c")))
    val stackExpr = s"stack(${profileCols.length}, " + profileCols
      .map(c => s"'$c', nn_$c, nd_$c").mkString(", ") +
      ") AS (col_name, n_nonnull, n_distinct)"
    orders.agg(aggs.head, aggs.tail: _*)
      .select(col("n"), expr(stackExpr))
      .select(col("col_name"), col("n"),
        (col("n") - col("n_nonnull")).as("n_null"), col("n_distinct"))
      .orderBy("col_name")
  }

  /** Mergeable equi-width histogram: per-(event_type, bin) partial counts
    * re-aggregated to the global per-bin distribution — the histogram
    * analog of partial/final aggregation. Because equi-width bin counts
    * merge by addition, per-partition/per-day partials roll up to any
    * dimension later without touching raw data (same warehouse pattern as
    * the HLL rollup, exact instead of approximate). Bin id is one IEEE
    * divide + floor — identical both engines. */
  val qHistReagg = Q(
    "q_hist_reagg",
    """WITH part AS (
      |  SELECT event_type, CAST(floor(value / 25) AS INT) AS bin,
      |    count(*) AS c
      |  FROM events GROUP BY 1, 2)
      |SELECT bin, CAST(sum(c) AS BIGINT) AS n_events, count(*) AS n_types
      |FROM part GROUP BY bin ORDER BY bin""".stripMargin) { (s, d) =>
    val part = t(s, d, "events")
      .groupBy(col("event_type"),
        floor(col("value") / 25).cast(IntegerType).as("bin"))
      .agg(count(lit(1)).as("c"))
    part.groupBy("bin")
      .agg(sum(col("c")).cast(LongType).as("n_events"),
        count(lit(1)).as("n_types"))
      .orderBy("bin")
  }

  /** Incremental aggregate maintenance: a materialized monthly revenue
    * rollup (history before 1999) merged with a fresh delta (1999+) by
    * re-aggregating the UNION of partials — proving merge(base, delta) ==
    * recompute(all), which is exactly why the internal sums stay decimal
    * (exact, order-independent addition). This is how a 100 TB nightly
    * pipeline avoids rescanning history: partials are additive, so only
    * the delta is scanned. The oracle recomputes from scratch. */
  val qIncrAgg = Q(
    "q_incr_agg",
    """SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS n_orders,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders GROUP BY 1 ORDER BY ym""".stripMargin) { (s, d) =>
    val orders = t(s, d, "orders")
    def partial(dfFilter: org.apache.spark.sql.Column) = orders
      .filter(dfFilter)
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("c"), sum(dec2(col("o_totalprice"))).as("rev"))
    val base = partial(col("o_orderdate") < ts("1999-01-01"))
    val delta = partial(col("o_orderdate") >= ts("1999-01-01"))
    base.unionByName(delta)
      .groupBy("ym")
      .agg(sum(col("c")).cast(LongType).as("n_orders"),
        asDbl(sum(col("rev"))).as("revenue"))
      .orderBy("ym")
  }

  /** Shared SCD2 interval build (q_scd2_dim output before its final
    * ordering): state-change collapse + lead() validity intervals, both
    * windows partitioned by user_id. */
  private def scd2Intervals(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    t(s, d, "events")
      .filter(col("user_id") % 100 === 0)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts").cast(TimestampType)).as("us"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("us"), 1).over(w))
      .select(col("user_id"), col("event_type").as("state"),
        col("event_id"), col("us").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0)
          .cast(IntegerType).as("is_current"))
  }

  private val scd2Sql =
    """ev AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id
      |  FROM events WHERE user_id % 100 = 0),
      |ch AS (
      |  SELECT user_id, event_type, us, event_id,
      |    lag(event_type) OVER (PARTITION BY user_id
      |      ORDER BY us, event_id) AS prev
      |  FROM ev),
      |scd AS (
      |  SELECT user_id, event_type AS state, us AS valid_from, event_id,
      |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
      |      AS valid_to
      |  FROM ch WHERE prev IS NULL OR prev <> event_type)""".stripMargin

  /** SCD2 dimension build from a changelog: collapse each user's event
    * stream to state-change rows, then derive [valid_from, valid_to)
    * intervals with lead() and flag the open interval as current — the
    * standard slowly-changing-dimension type-2 construction. Both window
    * passes partition by user_id (one shuffle key, no global window);
    * times compare in integer microseconds. */
  val qScd2Dim = Q(
    "q_scd2_dim",
    s"""WITH $scd2Sql
      |SELECT user_id, state, event_id, valid_from, valid_to,
      |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT)
      |    AS is_current
      |FROM scd ORDER BY user_id, valid_from, event_id""".stripMargin) {
    (s, d) =>
      scd2Intervals(s, d).orderBy("user_id", "valid_from", "event_id")
  }

  /** SCD2 point-in-time lookup — the consumer side of q_scd2_dim: join
    * each purchase to the dimension interval active at its timestamp
    * (`valid_from <= t < valid_to`, open interval = current). The join
    * keeps its user_id equi component, so the range predicate is a
    * post-join filter on co-partitioned data — never an unbounded range
    * explosion; every purchase matches exactly one interval by
    * construction (the intervals partition the user's timeline). */
  val qScd2Lookup = Q(
    "q_scd2_lookup",
    s"""WITH $scd2Sql,
      |pur AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us
      |  FROM events WHERE user_id % 100 = 0 AND event_type = 'purchase')
      |SELECT p.user_id, p.event_id, p.us, s.state
      |FROM pur p JOIN scd s ON p.user_id = s.user_id
      |  AND p.us >= s.valid_from
      |  AND (s.valid_to IS NULL OR p.us < s.valid_to)
      |ORDER BY p.user_id, p.us, p.event_id""".stripMargin) { (s, d) =>
    val scd = scd2Intervals(s, d)
      .select(col("user_id").as("s_user"), col("state"),
        col("valid_from"), col("valid_to"))
    val pur = t(s, d, "events")
      .filter(col("user_id") % 100 === 0 && col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast(TimestampType)).as("us"))
    pur.join(scd,
        col("user_id") === col("s_user") &&
          col("us") >= col("valid_from") &&
          (col("valid_to").isNull || col("us") < col("valid_to")))
      .select("user_id", "event_id", "us", "state")
      .orderBy("user_id", "us", "event_id")
  }

  /** Bloom-pruned join under the oracle gate: lineitem (probe) is
    * pre-filtered by a broadcast Bloom filter over the keys of the
    * selective orders subset (build) BEFORE the shuffle, then joined
    * exactly — false positives die in the join, so the result is
    * identical to the plain join the oracle runs. At 100 TB this is the
    * move when the build side's rows don't fit a broadcast but its key
    * SET fits a few MB of bits: the probe shuffle shrinks to the hit
    * fraction. */
  val qJoinBloom = Q(
    "q_join_bloom",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      |WHERE o.o_totalprice > 400000
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val big = t(s, d, "orders")
      .filter(col("o_totalprice") > 400000)
      .select("o_orderkey")
    graft.plans.BloomPrune
      .prunedJoin(t(s, d, "lineitem"), "l_orderkey", big, "o_orderkey",
        expectedItems = 1L << 16)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), asDbl(sum(dec2(col("l_quantity")))).as("qty"))
      .orderBy("l_returnflag")
  }

  /** Exact top-k by squared L2 distance (oracle-checked variant of
    * SimSearch.l2TopK): the distance is the three-dot expansion
    * ‖a‖² − 2a·b + ‖b‖², which is what `list_inner_product` can express
    * bit-identically on the DuckDB side (the fused one-walk graft_l2sq
    * rounds differently and stays on the no-oracle paths). Broadcast
    * probe + TakeOrderedAndProject — no global sort. */
  val qSimL2 = Q(
    "q_sim_l2",
    s"""SELECT vec_id, d2 FROM (
      |  SELECT e.vec_id,
      |    ${graft.llm.Clustering.sqDistSql("e.v", "p.pv")} AS d2
      |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      |        FROM embeddings) e,
      |       (SELECT CAST(embedding AS DOUBLE[]) AS pv FROM embeddings
      |        WHERE vec_id = 7) p
      |  WHERE e.vec_id <> 7) q
      |ORDER BY d2, vec_id LIMIT 10""".stripMargin) { (s, d) =>
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probe = e.filter(col("vec_id") === 7)
      .select(col("v").as("pv"))
    e.filter(col("vec_id") =!= 7)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"),
        graft.llm.Clustering.sqDist(col("v"), col("pv")).as("d2"))
      .orderBy("d2", "vec_id")
      .limit(10)
  }

  /** One distributed Lloyd update step, oracle-checked: assign every
    * vector to its nearest seed centroid (struct-min argmin, same
    * construction as q_kmeans_assign), then the new centroid is the
    * per-(cluster, dimension) mean. The shuffle after the posexplode is
    * bounded by k × dim groups whatever the corpus size — the property
    * that makes Lloyd iterations feasible at 100 TB. Output is the first
    * 8 dimensions of each updated centroid, mean rounded 6. */
  val qKmeansUpdate = Q(
    "q_kmeans_update",
    s"""WITH e AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |${graft.llm.Clustering.lowIdCentroidsCte("e", 8)},
      |${graft.llm.Clustering.sqDistCte("d")},
      |${graft.llm.Clustering.nearestCte("a", "d", "cid")},
      |upd AS (
      |  SELECT a.cid, k AS pos, ROUND(avg(e.v[k]), 6) AS m
      |  FROM a JOIN e USING (vec_id), generate_series(1, 8) g(k)
      |  WHERE a.rk = 1
      |  GROUP BY 1, 2)
      |SELECT cid AS cluster, CAST(pos AS INT) AS pos, m
      |FROM upd ORDER BY cluster, pos""".stripMargin) { (s, d) =>
    val e = t(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = graft.llm.Clustering.lowIdCentroids(e, 8)
    graft.llm.Clustering.updateCentroids(e, "vec_id", "v", cents)
      .select(col("cid").as("cluster"),
        posexplode(col("cvec")).as(Seq("pos0", "m")))
      .filter(col("pos0") < 8)
      .select(col("cluster"), (col("pos0") + 1).cast(IntegerType).as("pos"),
        round(col("m"), 6).as("m"))
      .orderBy("cluster", "pos")
  }

  /** k-anonymity audit over quasi-identifiers (market segment ×
    * nation): group sizes plus the suppression flag for groups smaller
    * than k=5 — the governance gate run before releasing user-derived
    * training data. One exact hash aggregation on a bounded key space
    * (the quasi-identifier domain), so it scales like any groupBy. */
  val qKAnonymity = Q(
    "q_k_anonymity",
    """SELECT c_mktsegment, c_nationkey, count(*) AS k,
      |  CAST(CASE WHEN count(*) < 5 THEN 1 ELSE 0 END AS INT) AS suppressed
      |FROM customer GROUP BY 1, 2
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, d) =>
    t(s, d, "customer")
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(count(lit(1)).as("k"))
      .withColumn("suppressed",
        when(col("k") < 5, 1).otherwise(0).cast(IntegerType))
      .orderBy("c_mktsegment", "c_nationkey")
  }

  /** Referential-integrity audit: orphan-foreign-key counts for the two
    * fact→dim edges, via LEFT joins (a NULL dim key after the join IS the
    * orphan). Exactness matters — at 100 TB run the same shape with the
    * dim side bloom-pruned (BloomPrune) or as a shuffled LEFT ANTI count;
    * the plan here keeps the dim side broadcast. */
  val qReferentialCheck = Q(
    "q_referential_check",
    """SELECT * FROM (
      |  SELECT 'lineitem->orders' AS fk, count(*) AS n_rows,
      |    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_orphans
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  UNION ALL
      |  SELECT 'orders->customer' AS fk, count(*) AS n_rows,
      |    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_orphans
      |  FROM orders o2 LEFT JOIN customer c ON o2.o_custkey = c.c_custkey
      |) ORDER BY fk""".stripMargin) { (s, d) =>
    def audit(fk: String, fact: org.apache.spark.sql.DataFrame,
        fkCol: String, dim: org.apache.spark.sql.DataFrame, pkCol: String) =
      fact.join(broadcast(dim.select(pkCol)),
          col(fkCol) === col(pkCol), "left")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col(pkCol).isNull, 1).otherwise(0))
            .cast(LongType).as("n_orphans"))
        .select(lit(fk).as("fk"), col("n_rows"), col("n_orphans"))
    audit("lineitem->orders", t(s, d, "lineitem"), "l_orderkey",
        t(s, d, "orders"), "o_orderkey")
      .unionByName(audit("orders->customer", t(s, d, "orders"), "o_custkey",
        t(s, d, "customer"), "c_custkey"))
      .orderBy("fk")
  }

  /** Duplicate n-gram span mining (the memorization-risk report of
    * "Deduplicating Training Data Makes Language Models Better"-style
    * pipelines): every 8-token span by position, counted across the
    * corpus; spans occurring ≥3 times are the dup-span inventory. Linear
    * explode + one span-keyed count; top spans fuse to
    * TakeOrderedAndProject. The 200-position bound covers fixture docs
    * and makes the oracle's generate_series exact. */
  val qDupSpans = Q(
    "q_dup_spans",
    """WITH sp AS (
      |  SELECT doc_id, string_split(text, ' ') AS sp FROM documents),
      |sh AS (
      |  SELECT doc_id, array_to_string(sp[k:k+7], ' ') AS span
      |  FROM sp, generate_series(1, 200) g(k)
      |  WHERE k + 7 <= len(sp))
      |SELECT span, count(*) AS n_occurrences,
      |  count(DISTINCT doc_id) AS n_docs
      |FROM sh GROUP BY span HAVING count(*) >= 3
      |ORDER BY n_occurrences DESC, span LIMIT 50""".stripMargin) { (s, d) =>
    val sp = split(col("text"), " ")
    t(s, d, "documents")
      .select(col("doc_id"), sp.as("sp"))
      .filter(size(col("sp")) >= 8)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("sp")) - 7)).as("k"), col("sp"))
      .select(col("doc_id"),
        array_join(slice(col("sp"), col("k"), lit(8)), " ").as("span"))
      .groupBy("span")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occurrences") >= 3)
      .orderBy(col("n_occurrences").desc, col("span"))
      .limit(50)
  }

  /** Vocabulary coverage / OOV rate: build the corpus vocabulary (top-20
    * terms by frequency — TakeOrderedAndProject, NOT a global window),
    * broadcast it, and score a target slice by the fraction of tokens
    * outside it. The tokenizer-fit signal checked before committing a
    * vocab to a training run. One exact int division per doc, rounded 6. */
  val qVocabCoverage = Q(
    "q_vocab_coverage",
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |vocab AS (
      |  SELECT term FROM (
      |    SELECT term, count(*) AS c,
      |      row_number() OVER (ORDER BY count(*) DESC, term) AS rk
      |    FROM toks GROUP BY term) v
      |  WHERE rk <= 20)
      |SELECT t.doc_id, count(*) AS n_tokens,
      |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_oov,
      |  ROUND(CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
      |    AS DOUBLE) / count(*), 6) AS oov_rate
      |FROM toks t LEFT JOIN vocab v USING (term)
      |WHERE t.doc_id % 100 = 0
      |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    val toks = t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term"))
      .limit(20)
      .select(col("term"), lit(1).as("in_vocab"))
    toks.filter(col("doc_id") % 100 === 0)
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1).otherwise(0))
          .cast(LongType).as("n_oov"))
      .withColumn("oov_rate",
        round(col("n_oov").cast(DoubleType) / col("n_tokens"), 6))
      .orderBy("doc_id")
  }

  /** Nearest-event join (both directions): for each purchase, the gap to
    * the user's closest error event — the generalization of as-of (which
    * only looks backward) used for attribution features. One per-user
    * window pass with conditional max/min over row frames: no self-join,
    * no time-range explosion; times compare in integer microseconds. */
  val qJoinNearest = Q(
    "q_join_nearest",
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS us
      |  FROM events WHERE user_id % 50 = 0),
      |m AS (
      |  SELECT user_id, event_id, event_type, us,
      |    max(CASE WHEN event_type = 'error' THEN us END) OVER
      |      (PARTITION BY user_id ORDER BY us, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_err,
      |    min(CASE WHEN event_type = 'error' THEN us END) OVER
      |      (PARTITION BY user_id ORDER BY us, event_id
      |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_err
      |  FROM ev)
      |SELECT user_id, event_id, us, prev_err, next_err,
      |  CASE WHEN prev_err IS NULL AND next_err IS NULL THEN NULL
      |       WHEN prev_err IS NULL THEN next_err - us
      |       WHEN next_err IS NULL THEN us - prev_err
      |       WHEN us - prev_err <= next_err - us THEN us - prev_err
      |       ELSE next_err - us END AS nearest_gap_us
      |FROM m WHERE event_type = 'purchase'
      |ORDER BY user_id, us, event_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val errUs = when(col("event_type") === "error", col("us"))
    val ev = t(s, d, "events")
      .filter(col("user_id") % 50 === 0)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts").cast(TimestampType)).as("us"))
    ev.withColumn("prev_err", max(errUs)
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("next_err", min(errUs)
        .over(w.rowsBetween(1, Window.unboundedFollowing)))
      .filter(col("event_type") === "purchase")
      .withColumn("nearest_gap_us",
        when(col("prev_err").isNull && col("next_err").isNull,
          lit(null).cast(LongType))
          .when(col("prev_err").isNull, col("next_err") - col("us"))
          .when(col("next_err").isNull, col("us") - col("prev_err"))
          .when(col("us") - col("prev_err") <= col("next_err") - col("us"),
            col("us") - col("prev_err"))
          .otherwise(col("next_err") - col("us")))
      .select("user_id", "event_id", "us", "prev_err", "next_err",
        "nearest_gap_us")
      .orderBy("user_id", "us", "event_id")
  }

  /** URL parsing / domain extraction — the web-corpus curation primitive
    * behind domain blocklists, per-domain caps and provenance stats. The
    * fixtures carry no URL column, so deterministic URLs are synthesized
    * identically in both engines (the q_pii_scrub pattern), then parsed
    * with Spark's native `parse_url` (HOST / PATH / QUERY-key) — the
    * oracle reproduces the extraction with equivalent anchored regexes.
    * Registered-domain rollup is one hash agg on a bounded domain set;
    * at 100 TB the domain key is the canonical skewed-key case (a
    * mega-domain ≫ the rest), handled by AQE skew split since the agg is
    * partial+final. */
  val qUrlExtract = Q(
    "q_url_extract",
    """WITH urls AS (
      |  SELECT doc_id, lang,
      |    concat('https://www.', source, '.example.com/', lang,
      |           '/doc-', doc_id, '?ref=r', doc_id % 7) AS url
      |  FROM documents),
      |parsed AS (
      |  SELECT doc_id, lang,
      |    regexp_extract(url, 'https?://([^/]+)', 1) AS host,
      |    regexp_extract(url, 'https?://[^/]+(/[^?#]*)', 1) AS path,
      |    regexp_extract(url, '[?&]ref=([^&#]*)', 1) AS ref
      |  FROM urls)
      |SELECT regexp_replace(host, '^www\.', '') AS domain,
      |  count(*) AS n_docs,
      |  count(DISTINCT lang) AS n_langs,
      |  count(DISTINCT ref) AS n_refs,
      |  count(DISTINCT path) AS n_paths
      |FROM parsed GROUP BY 1 ORDER BY domain""".stripMargin) { (s, d) =>
    val urls = t(s, d, "documents").select(col("doc_id"), col("lang"),
      concat(lit("https://www."), col("source"), lit(".example.com/"),
        col("lang"), lit("/doc-"), col("doc_id").cast(StringType),
        lit("?ref=r"), (col("doc_id") % 7).cast(StringType)).as("url"))
    val parsed = urls.select(col("doc_id"), col("lang"),
      expr("parse_url(url, 'HOST')").as("host"),
      expr("parse_url(url, 'PATH')").as("path"),
      expr("parse_url(url, 'QUERY', 'ref')").as("ref"))
    parsed
      .select(regexp_replace(col("host"), "^www\\.", "").as("domain"),
        col("lang"), col("ref"), col("path"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("ref")).as("n_refs"),
        countDistinct(col("path")).as("n_paths"))
      .orderBy("domain")
  }

  /** Cross-engine / cross-copy table fingerprints: per-group row counts
    * plus ORDER-INDEPENDENT row-hash digests (a bounded sum mod 2^40 and
    * a bit_xor of 60-bit md5 row hashes) — the migration/backfill
    * validation audit. Because the digests are commutative and exact,
    * ANY engine, partitioning, or row order over the same logical content
    * produces identical values, and per-group rows localize which slice
    * of a 100 TB table diverged (compare digests, not data). Only
    * integer / string / epoch-µs columns enter the canonical row
    * encoding here; doubles would need a canonical decimal rendering
    * first (engine float-to-string formats differ). One hash aggregate —
    * a single scan, no joins. */
  val qTableChecksum = Q(
    "q_table_checksum",
    """SELECT l_returnflag, count(*) AS n_rows,
      |  CAST(sum(h % 1099511627776) AS BIGINT) AS sum_hash,
      |  CAST(bit_xor(h) AS BIGINT) AS xor_hash
      |FROM (
      |  SELECT l_returnflag,
      |    CAST(concat('0x', substr(md5(concat_ws('|',
      |      l_orderkey, l_partkey, l_suppkey, l_linenumber,
      |      l_returnflag, l_linestatus, epoch_us(l_shipdate))), 1, 15))
      |      AS BIGINT) AS h
      |  FROM lineitem) z
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem")
    val h = conv(substring(md5(concat_ws("|",
      col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
      col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
      unix_micros(col("l_shipdate").cast(TimestampType)))), 1, 15), 16, 10)
      .cast(LongType)
    li.select(col("l_returnflag"), h.as("h"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("h") % 1099511627776L).cast(LongType).as("sum_hash"),
        bit_xor(col("h")).as("xor_hash"))
      .orderBy("l_returnflag")
  }

  /** Data-freshness SLA audit: each key's last-seen event time, its lag
    * behind the dataset's high-water mark, and a staleness flag (> 7
    * days behind) — the monitoring gate that catches a silently stalled
    * upstream partition. One grouped max + a broadcast one-row global
    * max; exact integer µs throughout. */
  val qFreshnessAudit = Q(
    "q_freshness_audit",
    """SELECT user_id, CAST(last_us AS BIGINT) AS last_us,
      |  CAST(gmax - last_us AS BIGINT) AS lag_us,
      |  CASE WHEN gmax - last_us > 604800000000 THEN 1 ELSE 0 END AS stale
      |FROM (SELECT user_id, max(epoch_us(ts)) AS last_us
      |      FROM events GROUP BY 1) u,
      |     (SELECT max(epoch_us(ts)) AS gmax FROM events) g
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val ev = t(s, d, "events")
      .select(col("user_id"),
        unix_micros(col("ts").cast(TimestampType)).as("us"))
    val perUser = ev.groupBy("user_id").agg(max(col("us")).as("last_us"))
    val gmax = ev.agg(max(col("us")).as("gmax"))
    perUser.crossJoin(broadcast(gmax))
      .select(col("user_id"), col("last_us"),
        (col("gmax") - col("last_us")).as("lag_us"),
        when(col("gmax") - col("last_us") > 604800000000L, 1)
          .otherwise(0).as("stale"))
      .orderBy("user_id")
  }

  /** Deterministic approximate distinct counting via the KMV sketch
    * (functions/KmvSketch): 60-bit md5 hashes of the values, keep the 32
    * smallest per group, estimate distinct = 31·2^60/h_32. The sketch is
    * a bounded mergeable Aggregator — partial-aggregates map-side, one
    * narrow shuffle of 32-long buffers regardless of input size — and,
    * unlike HLL (q_hll_reagg, rows-only), fully DETERMINISTIC given the
    * hash, so the estimate itself sits under the oracle gate: DuckDB
    * reproduces the exact k minima by sorting. Exact distincts ride the
    * same output for error inspection; SketchSpec pins mergeability
    * (union of per-slice sketches == whole-table sketch). */
  val qKmvDistinct = Q(
    "q_kmv_distinct",
    """WITH h AS (
      |  SELECT DISTINCT l_returnflag AS grp,
      |    CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS hv
      |  FROM lineitem),
      |r AS (
      |  SELECT grp, hv,
      |    row_number() OVER (PARTITION BY grp ORDER BY hv) AS rk
      |  FROM h),
      |kth AS (SELECT grp, hv AS hk FROM r WHERE rk = 32),
      |ex AS (SELECT grp, count(*) AS exact_distinct FROM h GROUP BY grp)
      |SELECT ex.grp, exact_distinct,
      |  ROUND(31.0 * 1152921504606846976 / hk, 4) AS kmv_estimate
      |FROM ex JOIN kth ON ex.grp = kth.grp
      |ORDER BY ex.grp""".stripMargin) { (s, d) =>
    val kmv = udaf(new graft.functions.KmvSketch(32),
      org.apache.spark.sql.Encoders.scalaLong)
    val h = t(s, d, "lineitem")
      .select(col("l_returnflag").as("grp"),
        conv(substring(md5(col("l_orderkey").cast(StringType)), 1, 15),
          16, 10).cast(LongType).as("hv"))
    // The sketch dedups internally; countDistinct supplies the exact side.
    h.groupBy("grp")
      .agg(countDistinct(col("hv")).as("exact_distinct"),
        kmv(col("hv")).as("mins"))
      // parity with the oracle's INNER join on rank 32: a group with
      // fewer than k distinct values has no estimate
      .filter(size(col("mins")) === 32)
      .select(col("grp"), col("exact_distinct"),
        round(lit(31.0) * lit(1152921504606846976L) /
          element_at(col("mins"), 32), 4).as("kmv_estimate"))
      .orderBy("grp")
  }

  /** URL canonicalization dedup: two deterministic raw variants per doc
    * (the clean form; an uppercased form with :443, a utm_ tracking
    * param, a trailing slash, and a fragment) collapse to one canonical
    * URL — lowercase, strip default port / tracking params / fragments /
    * trailing slashes. The web-curation companion of q_url_extract:
    * crawl dedup happens on canonical URLs, not raw strings. Chained
    * regexp_replace stays in the RE2∩Java subset (the q_pii_scrub rule);
    * per-domain aggregation is a bounded-key hash agg. */
  val qUrlCanon = Q(
    "q_url_canon",
    """WITH raw AS (
      |  SELECT doc_id, concat('https://www.', source, '.example.com/',
      |    lang, '/doc-', doc_id, '?ref=r', doc_id % 7) AS url
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, concat('HTTPS://WWW.', upper(source),
      |    '.EXAMPLE.COM:443/', lang, '/Doc-', doc_id,
      |    '/?ref=r', doc_id % 7, '&utm_source=feed#top') AS url
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id,
      |    regexp_replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(lower(url), '#.*$', '', 'g'),
      |          '[?&]utm_[a-z_]+=[^&#]*', '', 'g'),
      |        ':443/', '/', 'g'),
      |      '/\?', '?', 'g') AS curl
      |  FROM raw),
      |agg AS (SELECT curl, count(*) AS n_raw FROM canon GROUP BY curl)
      |SELECT regexp_extract(curl, 'https://www\.([^/]+)\.example\.com', 1)
      |    AS domain,
      |  count(*) AS n_canonical,
      |  CAST(sum(n_raw) AS BIGINT) AS n_raw_total,
      |  CAST(sum(CASE WHEN n_raw >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_merged
      |FROM agg GROUP BY 1 ORDER BY domain""".stripMargin) { (s, d) =>
    val docs = t(s, d, "documents")
    val clean = docs.select(col("doc_id"),
      concat(lit("https://www."), col("source"), lit(".example.com/"),
        col("lang"), lit("/doc-"), col("doc_id").cast(StringType),
        lit("?ref=r"), (col("doc_id") % 7).cast(StringType)).as("url"))
    val messy = docs.select(col("doc_id"),
      concat(lit("HTTPS://WWW."), upper(col("source")),
        lit(".EXAMPLE.COM:443/"), col("lang"), lit("/Doc-"),
        col("doc_id").cast(StringType), lit("/?ref=r"),
        (col("doc_id") % 7).cast(StringType),
        lit("&utm_source=feed#top")).as("url"))
    val canon = clean.unionByName(messy).select(col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(lower(col("url")), "#.*$", ""),
            "[?&]utm_[a-z_]+=[^&#]*", ""),
          ":443/", "/"),
        "/\\?", "?").as("curl"))
    canon.groupBy("curl").agg(count(lit(1)).as("n_raw"))
      .groupBy(regexp_extract(col("curl"),
        "https://www\\.([^/]+)\\.example\\.com", 1).as("domain"))
      .agg(count(lit(1)).as("n_canonical"),
        sum(col("n_raw")).as("n_raw_total"),
        sum(when(col("n_raw") >= 2, 1).otherwise(0)).as("n_merged"))
      .orderBy("domain")
  }

  /** Bucketed-layout join UNDER THE ORACLE GATE: lineitem and orders are
    * rewritten as catalog tables bucketed (and bucket-sorted) on their
    * join keys, then joined — the scan's bucketing satisfies the join's
    * hash-partitioning requirement, so the join runs with ZERO shuffle
    * exchanges on either side (plan asserted in LayoutSpec; here the
    * oracle proves the bucketed path changes no values vs a plain join).
    * At 100 TB this is the recurring fact⋈fact pattern: pay one bucketed
    * write, then every nightly join on that key is a co-located merge.
    * Exact decimal sum → DOUBLE output (the q1 idiom). */
  val qJoinBucketed = Q(
    "q_join_bucketed",
    """SELECT o_orderpriority, count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem").select("l_orderkey", "l_quantity")
    val ord = t(s, d, "orders").select("o_orderkey", "o_orderpriority")
    graft.plans.Layout.writeBucketed(li, "graft_li_bucketed", 8,
      "l_orderkey")
    graft.plans.Layout.writeBucketed(ord, "graft_ord_bucketed", 8,
      "o_orderkey")
    s.table("graft_li_bucketed")
      .join(s.table("graft_ord_bucketed"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        asDbl(sum(dec2(col("l_quantity")))).as("sum_qty"))
      .orderBy("o_orderpriority")
  }

  /** l-diversity audit — k-anonymity's stronger sibling: a
    * quasi-identifier group can be large (k high) yet still leak if every
    * member shares the same sensitive value. Sensitive attribute here is
    * the account-balance band (fixed thresholds, deterministic); l =
    * distinct bands per (mktsegment, nation) group, flagged when l < 3.
    * One groupBy on the bounded QI domain — the same shuffle shape as
    * q_k_anonymity, so the audit pair runs at identical cost. */
  val qLDiversity = Q(
    "q_l_diversity",
    """WITH banded AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    CASE WHEN c_acctbal < 0 THEN 'debt'
      |         WHEN c_acctbal < 5000 THEN 'mid'
      |         ELSE 'high' END AS band
      |  FROM customer)
      |SELECT c_mktsegment, c_nationkey, count(*) AS k,
      |  count(DISTINCT band) AS l,
      |  CAST(CASE WHEN count(DISTINCT band) < 3 THEN 1 ELSE 0 END AS INT)
      |    AS leaky
      |FROM banded GROUP BY 1, 2
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, d) =>
    t(s, d, "customer")
      .withColumn("band",
        when(col("c_acctbal") < 0, "debt")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high"))
      .groupBy("c_mktsegment", "c_nationkey")
      .agg(count(lit(1)).as("k"), countDistinct(col("band")).as("l"))
      .withColumn("leaky",
        when(col("l") < 3, 1).otherwise(0).cast(IntegerType))
      .orderBy("c_mktsegment", "c_nationkey")
  }

  /** Small-file compaction PLANNING from metadata alone
    * (`Layout.compactionPlan`): the sfDir's parquet files laddered by
    * (size desc, name) and packed into ~256 KiB output bins by global
    * running sum — which merges happen, what each rewrite task costs,
    * before reading a single data byte. binaryFile listing with ONLY
    * (path, length) selected, so the content column never loads; the
    * cumulative sum is GlobalRank's two-pass form because a 100 TB
    * table's file listing is itself millions of rows. No oracle (DuckDB's
    * parquet metadata exposes no file sizes and oracle SQL cannot embed
    * the per-run sfDir); the packing invariants are pinned in
    * LayoutSpec. */
  val qCompactionPlan = Q.noOracle("q_compaction_plan") { (s, d) =>
    val files = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.parquet").load(d)
      .select(element_at(split(col("path"), "/"), -1).as("path"),
        col("length"))
    graft.plans.Layout.compactionPlan(files, 256L * 1024)
  }

  /** Leave-one-out mean target encoding of customer nation onto orders —
    * the standard high-cardinality categorical feature for gradient-
    * boosting / linear models, in its leakage-free LOO form:
    * encode(row) = (Σ_nation target − own target) / (n_nation − 1).
    * The per-nation sums are exact integer cents (DECIMAL(38)/HUGEINT —
    * a nation's revenue exceeds int64 cents at warehouse scale) reduced
    * to a bounded domain and BROADCAST back, so the fact table never
    * shuffles; division is the only double op, identical on both
    * engines. Output is the top-200 orders by (price, key) — a
    * TakeOrdered, not a global sort. */
  val qTargetEncode = Q(
    "q_target_encode",
    s"""WITH x AS (
      |  SELECT o_orderkey, c_nationkey AS nk,
      |    ${priceCentsSql("o_totalprice")} AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |agg AS (
      |  SELECT nk, CAST(sum(cents) AS HUGEINT) AS s, count(*) AS cnt
      |  FROM x GROUP BY nk)
      |SELECT o_orderkey, CAST(nk AS INT) AS nationkey,
      |  ROUND(CAST(s - cents AS DOUBLE) / CAST(cnt - 1 AS DOUBLE) / 100, 6)
      |    AS target_loo
      |FROM x JOIN agg USING (nk)
      |ORDER BY cents DESC, o_orderkey LIMIT 200""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val x = t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      .join(broadcast(t(s, d, "customer").select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey").as("nk"),
        priceCents(col("o_totalprice")).as("cents"))
    val agg = x.groupBy("nk")
      .agg(sum(col("cents")).cast(big38).as("s"), count(lit(1)).as("cnt"))
    x.join(broadcast(agg), "nk")
      .select(col("o_orderkey"), col("nk").cast(IntegerType).as("nationkey"),
        round((col("s") - col("cents")).cast(DoubleType)
          / (col("cnt") - 1).cast(DoubleType) / 100, 6).as("target_loo"),
        col("cents"))
      .orderBy(col("cents").desc, col("o_orderkey"))
      .limit(200)
      .drop("cents")
  }

  /** Weight-of-evidence / information-value screen: how well does order
    * priority separate high-value orders (≥ $150k) from the rest? The
    * credit-scoring-style univariate feature ranking. Per-category WoE
    * and IV terms are per-row doubles from exact HUGEINT counts; the IV
    * TOTAL is a float reduction, so it uses the quantize-then-sum
    * pattern (round(term·10⁹) summed exactly) to stay reduction-order-
    * independent — see q_cramers_v. */
  val qWoeIv = Q(
    "q_woe_iv",
    """WITH x AS (
      |  SELECT o_orderpriority AS prio,
      |    CASE WHEN CAST(o_totalprice AS DECIMAL(18,2)) >= 150000
      |      THEN 1 ELSE 0 END AS hi
      |  FROM orders),
      |cat AS (SELECT prio, CAST(sum(hi) AS HUGEINT) AS good,
      |    CAST(sum(1 - hi) AS HUGEINT) AS bad FROM x GROUP BY prio),
      |tot AS (SELECT CAST(sum(good) AS HUGEINT) AS gt,
      |    CAST(sum(bad) AS HUGEINT) AS bt FROM cat),
      |term AS (
      |  SELECT prio, good, bad,
      |    ln((CAST(good AS DOUBLE) / CAST(gt AS DOUBLE))
      |     / (CAST(bad AS DOUBLE) / CAST(bt AS DOUBLE))) AS woe,
      |    (CAST(good AS DOUBLE) / CAST(gt AS DOUBLE)
      |     - CAST(bad AS DOUBLE) / CAST(bt AS DOUBLE))
      |    * ln((CAST(good AS DOUBLE) / CAST(gt AS DOUBLE))
      |       / (CAST(bad AS DOUBLE) / CAST(bt AS DOUBLE))) AS term
      |  FROM cat, tot),
      |iv AS (SELECT sum(CAST(ROUND(term * 1000000000) AS HUGEINT)) AS iv9
      |  FROM term)
      |SELECT prio, CAST(good AS BIGINT) AS good, CAST(bad AS BIGINT) AS bad,
      |  ROUND(woe, 6) AS woe, ROUND(term, 6) AS iv_term,
      |  ROUND(CAST(iv9 AS DOUBLE) / 1000000000, 6) AS iv_total
      |FROM term, iv ORDER BY prio""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val x = t(s, d, "orders").select(col("o_orderpriority").as("prio"),
      when(dec2(col("o_totalprice")) >= 150000, 1).otherwise(0).as("hi"))
    // 5-row post-agg domain, two consumers (tot + term): checkpoint so
    // the fact scan runs once
    val cat = x.groupBy("prio").agg(
      sum(col("hi")).cast(big38).as("good"),
      sum(lit(1) - col("hi")).cast(big38).as("bad"))
      .localCheckpoint()
    val tot = cat.agg(sum("good").cast(big38).as("gt"),
      sum("bad").cast(big38).as("bt"))
    val gr = col("good").cast(DoubleType) / col("gt").cast(DoubleType)
    val br = col("bad").cast(DoubleType) / col("bt").cast(DoubleType)
    val term = cat.crossJoin(broadcast(tot))
      .select(col("prio"), col("good"), col("bad"),
        log(gr / br).as("woe"), ((gr - br) * log(gr / br)).as("term"))
    val iv = term.agg(
      sum(round(col("term") * 1000000000).cast(big38)).as("iv9"))
    term.crossJoin(broadcast(iv))
      .select(col("prio"), col("good").cast(LongType).as("good"),
        col("bad").cast(LongType).as("bad"),
        round(col("woe"), 6).as("woe"), round(col("term"), 6).as("iv_term"),
        round(col("iv9").cast(DoubleType) / 1000000000, 6).as("iv_total"))
      .orderBy("prio")
  }

  /** Population stability index between the 1995 and 1996 order cohorts
    * over 10 fixed $50k price buckets — the model-monitoring drift metric
    * (PSI < 0.1 stable, > 0.25 shifted) complementing q_chi2_drift's
    * hypothesis test. Laplace-smoothed shares ((c+1)/(n+10)) keep empty
    * buckets finite and deterministic; the PSI total uses the
    * quantize-then-sum pattern (q_cramers_v). Facts reduce to ≤10×2
    * counts in one aggregate — nothing downstream scales with input. */
  val qPsi = Q(
    "q_psi",
    s"""WITH x AS (
      |  SELECT CAST(least(${priceCentsSql("o_totalprice")} // 5000000, 9) AS INT) AS bucket,
      |    CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS yr
      |  FROM orders
      |  WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)),
      |b AS (
      |  SELECT bucket,
      |    CAST(sum(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS HUGEINT) AS ca,
      |    CAST(sum(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS HUGEINT) AS cb
      |  FROM x GROUP BY bucket),
      |tot AS (SELECT CAST(sum(ca) AS HUGEINT) AS na,
      |    CAST(sum(cb) AS HUGEINT) AS nb FROM b),
      |term AS (
      |  SELECT bucket, ca, cb,
      |    (CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE)
      |     - CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))
      |    * ln((CAST(ca + 1 AS DOUBLE) / CAST(na + 10 AS DOUBLE))
      |       / (CAST(cb + 1 AS DOUBLE) / CAST(nb + 10 AS DOUBLE))) AS term
      |  FROM b, tot),
      |psi AS (SELECT sum(CAST(ROUND(term * 1000000000) AS HUGEINT)) AS p9
      |  FROM term)
      |SELECT bucket, CAST(ca AS BIGINT) AS n_1995, CAST(cb AS BIGINT) AS n_1996,
      |  ROUND(term, 6) AS psi_term,
      |  ROUND(CAST(p9 AS DOUBLE) / 1000000000, 6) AS psi_total
      |FROM term, psi ORDER BY bucket""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val cents = priceCents(col("o_totalprice"))
    val x = t(s, d, "orders")
      .select(least(floor(cents / 5000000), lit(9)).cast(IntegerType)
          .as("bucket"),
        year(col("o_orderdate").cast(DateType)).as("yr"))
      .filter(col("yr").isin(1995, 1996))
    // <=10-row post-agg domain, two consumers (tot + term): checkpoint
    // so the fact scan runs once
    val b = x.groupBy("bucket").agg(
      sum(when(col("yr") === 1995, 1).otherwise(0)).cast(big38).as("ca"),
      sum(when(col("yr") === 1996, 1).otherwise(0)).cast(big38).as("cb"))
      .localCheckpoint()
    val tot = b.agg(sum("ca").cast(big38).as("na"),
      sum("cb").cast(big38).as("nb"))
    val pa = (col("ca") + 1).cast(DoubleType) / (col("na") + 10).cast(DoubleType)
    val pb = (col("cb") + 1).cast(DoubleType) / (col("nb") + 10).cast(DoubleType)
    val term = b.crossJoin(broadcast(tot))
      .select(col("bucket"), col("ca"), col("cb"),
        ((pa - pb) * log(pa / pb)).as("term"))
    val psi = term.agg(
      sum(round(col("term") * 1000000000).cast(big38)).as("p9"))
    term.crossJoin(broadcast(psi))
      .select(col("bucket"), col("ca").cast(LongType).as("n_1995"),
        col("cb").cast(LongType).as("n_1996"),
        round(col("term"), 6).as("psi_term"),
        round(col("p9").cast(DoubleType) / 1000000000, 6).as("psi_total"))
      .orderBy("bucket")
  }

  /** Functional-dependency violation profiling: for a panel of candidate
    * FDs (determinant → dependent), count groups, violating groups
    * (>1 distinct dependent value), and the worst fan-out — the
    * data-quality probe that distinguishes a true key (c_custkey →
    * c_mktsegment: 0 violations) from a spurious dependency a schema
    * designer might wrongly assume (l_orderkey → l_shipdate: lines of
    * one order ship on different days). Each FD is one distinct-
    * aggregate shuffled on its determinant; results union to a 4-row
    * frame. */
  val qFdCheck = Q(
    "q_fd_check",
    """WITH g1 AS (SELECT l_partkey AS k, count(DISTINCT l_returnflag) AS nd
      |  FROM lineitem GROUP BY 1),
      |g2 AS (SELECT l_orderkey AS k, count(DISTINCT l_shipdate) AS nd
      |  FROM lineitem GROUP BY 1),
      |g3 AS (SELECT o_custkey AS k, count(DISTINCT o_orderpriority) AS nd
      |  FROM orders GROUP BY 1),
      |g4 AS (SELECT c_custkey AS k, count(DISTINCT c_mktsegment) AS nd
      |  FROM customer GROUP BY 1),
      |u AS (
      |  SELECT 'customer.c_custkey->c_mktsegment' AS fd, * FROM g4
      |  UNION ALL SELECT 'lineitem.l_orderkey->l_shipdate' AS fd, * FROM g2
      |  UNION ALL SELECT 'lineitem.l_partkey->l_returnflag' AS fd, * FROM g1
      |  UNION ALL SELECT 'orders.o_custkey->o_orderpriority' AS fd, * FROM g3)
      |SELECT fd, count(*) AS n_groups,
      |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS violating,
      |  CAST(max(nd) AS BIGINT) AS max_distinct,
      |  ROUND(CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
      |    / CAST(count(*) AS DOUBLE), 6) AS violation_rate
      |FROM u GROUP BY fd ORDER BY fd""".stripMargin) { (s, d) =>
    def fd(table: String, det: String, dep: String): DataFrame =
      t(s, d, table).groupBy(col(det).as("k"))
        .agg(countDistinct(col(dep)).as("nd"))
        .select(lit(s"$table.$det->$dep").as("fd"), col("k"), col("nd"))
    fd("lineitem", "l_partkey", "l_returnflag")
      .unionAll(fd("lineitem", "l_orderkey", "l_shipdate"))
      .unionAll(fd("orders", "o_custkey", "o_orderpriority"))
      .unionAll(fd("customer", "c_custkey", "c_mktsegment"))
      .groupBy("fd")
      .agg(count(lit(1)).as("n_groups"),
        sum(when(col("nd") > 1, 1).otherwise(0)).cast(LongType).as("violating"),
        max(col("nd")).cast(LongType).as("max_distinct"),
        round(sum(when(col("nd") > 1, 1).otherwise(0)).cast(DoubleType)
          / count(lit(1)).cast(DoubleType), 6).as("violation_rate"))
      .orderBy("fd")
  }

  /** Data-contract expectations panel (the Great-Expectations-style
    * suite runner): six named assertions — key uniqueness, numeric range,
    * enum membership, a second numeric range, referential integrity,
    * non-null — each reduced to (n_checked, n_violations, pass) in its
    * own column-pruned single-aggregate pass, unioned into one report.
    * Complements q_fd_check (dependency discovery) and
    * q_referential_check (FK drill-down): this is the nightly gate a
    * 100 TB ingest runs BEFORE publishing a partition, so every check is
    * a full scan of exactly one or two columns and nothing else. */
  val qExpectations = Q(
    "q_expectations",
    """WITH checks AS (
      |  SELECT 'orders.o_orderkey unique' AS check_name,
      |    count(*) AS n_checked,
      |    count(*) - count(DISTINCT o_orderkey) AS n_violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders.o_totalprice in (0, 1e6)', count(*),
      |    sum(CASE WHEN o_totalprice <= 0 OR o_totalprice >= 1000000
      |        THEN 1 ELSE 0 END)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'orders.o_orderpriority enum', count(*),
      |    sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH',
      |        '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW') THEN 0 ELSE 1 END)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'lineitem.l_quantity in [1, 50]', count(*),
      |    sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'orders.o_custkey fk customer', count(*),
      |    sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
      |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |  UNION ALL
      |  SELECT 'customer.c_acctbal not null', count(*),
      |    sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)
      |  FROM customer)
      |SELECT check_name, n_checked, CAST(n_violations AS BIGINT)
      |    AS n_violations,
      |  CAST(n_violations = 0 AS BOOLEAN) AS pass
      |FROM checks ORDER BY check_name""".stripMargin) { (s, d) =>
    def one(name: String, df: DataFrame, bad: Column): DataFrame =
      df.agg(count(lit(1)).as("n_checked"),
          sum(when(bad, 1).otherwise(0)).cast(LongType).as("n_violations"))
        .select(lit(name).as("check_name"), col("n_checked"),
          col("n_violations"))
    val orders = t(s, d, "orders")
    val keyUnique = orders.agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("o_orderkey")))
          .cast(LongType).as("n_violations"))
      .select(lit("orders.o_orderkey unique").as("check_name"),
        col("n_checked"), col("n_violations"))
    val priceRange = one("orders.o_totalprice in (0, 1e6)",
      orders.select("o_totalprice"),
      col("o_totalprice") <= 0 || col("o_totalprice") >= 1000000)
    val prioEnum = one("orders.o_orderpriority enum",
      orders.select("o_orderpriority"),
      !col("o_orderpriority").isin("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"))
    val qtyRange = one("lineitem.l_quantity in [1, 50]",
      t(s, d, "lineitem").select("l_quantity"),
      col("l_quantity") < 1 || col("l_quantity") > 50)
    val fk = one("orders.o_custkey fk customer",
      orders.select("o_custkey")
        .join(broadcast(t(s, d, "customer").select("c_custkey")),
          col("o_custkey") === col("c_custkey"), "left"),
      col("c_custkey").isNull)
    val notNull = one("customer.c_acctbal not null",
      t(s, d, "customer").select("c_acctbal"), col("c_acctbal").isNull)
    keyUnique.unionByName(priceRange).unionByName(prioEnum)
      .unionByName(qtyRange).unionByName(fk).unionByName(notNull)
      .select(col("check_name"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0).as("pass"))
      .orderBy("check_name")
  }

  /** Feature-matrix assembly: one-hot market segment + exact behavioral
    * aggregates (order count, lifetime spend) per customer — the last
    * mile before any ML trainer, built leakage-free from exact integer
    * sums. The behavioral side aggregates the fact table BEFORE joining
    * (one custkey-keyed shuffle each, never a fact-×-dim shuffle); the
    * one-hot columns are plain projections Catalyst folds into the scan.
    * Top 100 by custkey keeps the dump bounded. */
  val qOnehotFeatures = Q(
    "q_onehot_features",
    s"""WITH beh AS (
      |  SELECT o_custkey, count(*) AS n_orders,
      |    sum(${priceCentsSql("o_totalprice")})
      |      AS cents
      |  FROM orders GROUP BY o_custkey)
      |SELECT c_custkey,
      |  CAST(c_mktsegment = 'AUTOMOBILE' AS INT) AS seg_automobile,
      |  CAST(c_mktsegment = 'BUILDING' AS INT) AS seg_building,
      |  CAST(c_mktsegment = 'FURNITURE' AS INT) AS seg_furniture,
      |  CAST(c_mktsegment = 'HOUSEHOLD' AS INT) AS seg_household,
      |  CAST(c_mktsegment = 'MACHINERY' AS INT) AS seg_machinery,
      |  coalesce(n_orders, 0) AS n_orders,
      |  ROUND(CAST(coalesce(cents, 0) AS DOUBLE) / 100, 6) AS spend
      |FROM customer LEFT JOIN beh ON c_custkey = o_custkey
      |ORDER BY c_custkey LIMIT 100""".stripMargin) { (s, d) =>
    val beh = t(s, d, "orders").select("o_custkey", "o_totalprice")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(priceCents(col("o_totalprice"))).as("cents"))
    def seg(v: String): Column =
      (col("c_mktsegment") === v).cast(IntegerType)
        .as("seg_" + v.toLowerCase)
    t(s, d, "customer").select("c_custkey", "c_mktsegment")
      .join(beh, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), seg("AUTOMOBILE"), seg("BUILDING"),
        seg("FURNITURE"), seg("HOUSEHOLD"), seg("MACHINERY"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        round(coalesce(col("cents"), lit(0L)).cast(DoubleType) / 100, 6)
          .as("spend"))
      .orderBy("c_custkey")
      .limit(100)
  }

  /** Join-key skew audit: per candidate key, the distinct-key count and
    * the max/median/mean rows-per-key with the skew factor (max/mean) —
    * the pre-join screen that decides whether a 100 TB join needs AQE
    * skew handling or plans.SkewJoin salting (the > 4–5× rule of thumb).
    * Each key's profile is the SAME shuffle the join itself would do,
    * reduced to one row; the median-rows-per-key percentile runs over the
    * rows-per-key profile — ONE group per audited key whose cardinality
    * is data-sized (distinct partkeys/custkeys) — so it is scale-gated
    * via [[graft.ApproxGate]] on the largest base (lineitem): the exact
    * percentile ≡ quantile_cont pairing at oracle scales, the mergeable
    * approx_percentile sketch past the threshold. */
  val qSkewAudit = Q(
    "q_skew_audit",
    """-- ORACLE-SCALE SEMANTICS ONLY: past ApproxGate.pctRowThreshold base
      |-- rows the Spark side switches to a mergeable approx_percentile
      |-- sketch; this exact form is what's compared at oracle scales.
      |WITH prof AS (
      |  SELECT 'lineitem.l_partkey' AS key_name, count(*) AS rows_per_key
      |  FROM lineitem GROUP BY l_partkey
      |  UNION ALL
      |  SELECT 'lineitem.l_suppkey', count(*) FROM lineitem GROUP BY l_suppkey
      |  UNION ALL
      |  SELECT 'orders.o_custkey', count(*) FROM orders GROUP BY o_custkey)
      |SELECT key_name, count(*) AS n_keys,
      |  CAST(max(rows_per_key) AS BIGINT) AS max_rows,
      |  ROUND(quantile_cont(rows_per_key, 0.5), 6) AS median_rows,
      |  ROUND(CAST(sum(rows_per_key) AS DOUBLE) / count(*), 6) AS mean_rows,
      |  ROUND(CAST(max(rows_per_key) AS DOUBLE)
      |    / (CAST(sum(rows_per_key) AS DOUBLE) / count(*)), 6) AS skew
      |FROM prof GROUP BY key_name ORDER BY key_name""".stripMargin) { (s, d) =>
    def prof(name: String, df: DataFrame, key: String): DataFrame =
      df.select(key).groupBy(col(key))
        .agg(count(lit(1)).as("rows_per_key"))
        .select(lit(name).as("key_name"), col("rows_per_key"))
    val ap = graft.ApproxGate.useApprox(s, d, "lineitem")
    prof("lineitem.l_partkey", t(s, d, "lineitem"), "l_partkey")
      .unionByName(prof("lineitem.l_suppkey", t(s, d, "lineitem"), "l_suppkey"))
      .unionByName(prof("orders.o_custkey", t(s, d, "orders"), "o_custkey"))
      .groupBy("key_name")
      .agg(count(lit(1)).as("n_keys"),
        max(col("rows_per_key")).cast(LongType).as("max_rows"),
        round(graft.ApproxGate.pct(col("rows_per_key").cast(DoubleType),
          0.5, ap), 6).as("median_rows"),
        round(sum(col("rows_per_key")).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_rows"),
        round(max(col("rows_per_key")).cast(DoubleType)
          / (sum(col("rows_per_key")).cast(DoubleType) / count(lit(1))), 6)
          .as("skew"))
      .orderBy("key_name")
  }

  /** t-closeness audit — the third member of the privacy triad
    * (q_k_anonymity: group size; q_l_diversity: sensitive-value variety;
    * here: sensitive-value DISTRIBUTION distance). For each quasi-group
    * (same (mktsegment, nationkey) grouping and acctbal banding as
    * q_l_diversity), the Earth-Mover's Distance between the group's band
    * distribution and the global one over the ORDERED {debt<mid<high}
    * domain: EMD = Σ|cum_g − cum_glob| / (m−1). Inputs are exact integer
    * counts (cross-multiplied so cumulative shares never divide until the
    * final expression); flag trips at the conventional t = 0.2. Bounded
    * group×band domain + broadcast one-row globals. */
  val qTCloseness = Q(
    "q_t_closeness",
    """WITH banded AS (
      |  SELECT c_mktsegment, c_nationkey,
      |    CASE WHEN c_acctbal < 0 THEN 0
      |         WHEN c_acctbal < 5000 THEN 1 ELSE 2 END AS band
      |  FROM customer),
      |g AS (
      |  SELECT c_mktsegment, c_nationkey, count(*) AS k,
      |    CAST(sum(CASE WHEN band <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS c0,
      |    CAST(sum(CASE WHEN band <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1
      |  FROM banded GROUP BY 1, 2),
      |overall AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN band <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS g0,
      |    CAST(sum(CASE WHEN band <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS g1
      |  FROM banded)
      |SELECT c_mktsegment, c_nationkey, k,
      |  ROUND((abs(CAST(c0 * n - g0 * k AS DOUBLE))
      |    + abs(CAST(c1 * n - g1 * k AS DOUBLE)))
      |    / CAST(k * n AS DOUBLE) / 2, 6) AS emd,
      |  CASE WHEN (abs(CAST(c0 * n - g0 * k AS DOUBLE))
      |    + abs(CAST(c1 * n - g1 * k AS DOUBLE)))
      |    / CAST(k * n AS DOUBLE) / 2 > 0.2 THEN 1 ELSE 0 END AS leaky
      |FROM g CROSS JOIN overall
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, d) =>
    val banded = t(s, d, "customer")
      .select(col("c_mktsegment"), col("c_nationkey"),
        when(col("c_acctbal") < 0, 0)
          .when(col("c_acctbal") < 5000, 1).otherwise(2).as("band"))
    val g = banded.groupBy("c_mktsegment", "c_nationkey")
      .agg(count(lit(1)).as("k"),
        sum(when(col("band") <= 0, 1).otherwise(0)).cast(LongType).as("c0"),
        sum(when(col("band") <= 1, 1).otherwise(0)).cast(LongType).as("c1"))
    val glob = banded.agg(count(lit(1)).cast(LongType).as("n"),
      sum(when(col("band") <= 0, 1).otherwise(0)).cast(LongType).as("g0"),
      sum(when(col("band") <= 1, 1).otherwise(0)).cast(LongType).as("g1"))
    val emd = (abs((col("c0") * col("n") - col("g0") * col("k"))
        .cast(DoubleType))
      + abs((col("c1") * col("n") - col("g1") * col("k")).cast(DoubleType))) /
      (col("k") * col("n")).cast(DoubleType) / 2
    g.crossJoin(broadcast(glob))
      .select(col("c_mktsegment"), col("c_nationkey"), col("k"),
        round(emd, 6).as("emd"),
        when(emd > 0.2, 1).otherwise(0).as("leaky"))
      .orderBy("c_mktsegment", "c_nationkey")
  }

  /** ML lag-feature generation per user over the event stream: lag-1/-2
    * values, the 3-event trailing mean, and a 7-day trailing event count —
    * the time-series feature matrix a training pipeline materializes
    * before model fitting, with the no-look-ahead guarantee (every
    * feature reads strictly current-or-earlier rows). All windows are
    * user-keyed with the (us, event_id) total tiebreak; the trailing
    * count uses a numeric RANGE frame on exact µs; the 3-event mean is
    * one fixed-op-order double expression (null until two lags exist). */
  val qLagFeatures = Q(
    "q_lag_features",
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events)
      |SELECT user_id, event_id, ROUND(value, 6) AS v,
      |  ROUND(lag(value, 1) OVER w, 6) AS lag1,
      |  ROUND(lag(value, 2) OVER w, 6) AS lag2,
      |  ROUND((value + lag(value, 1) OVER w + lag(value, 2) OVER w) / 3, 6)
      |    AS mean3,
      |  count(*) OVER (PARTITION BY user_id ORDER BY us
      |    RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW) AS cnt7d
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
      |ORDER BY user_id, us, event_id""".stripMargin) { (s, d) =>
    val e = t(s, d, "events").select(col("user_id"), col("event_id"),
      unix_micros(col("ts").cast(TimestampType)).as("us"), col("value"))
    val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
    val wr = Window.partitionBy("user_id").orderBy(col("us"))
      .rangeBetween(-604800000000L, Window.currentRow)
    e.select(col("user_id"), col("event_id"), col("us"),
        round(col("value"), 6).as("v"),
        round(lag(col("value"), 1).over(w), 6).as("lag1"),
        round(lag(col("value"), 2).over(w), 6).as("lag2"),
        round((col("value") + lag(col("value"), 1).over(w)
          + lag(col("value"), 2).over(w)) / 3, 6).as("mean3"),
        count(lit(1)).over(wr).as("cnt7d"))
      .orderBy(col("user_id"), col("us"), col("event_id"))
      .drop("us")
  }

  /** Right-to-erasure (GDPR art. 17) impact audit: for a deterministic
    * erasure-request cohort (custkey % 37 = 0), the rows each table
    * would lose — the blast-radius readout a data-governance pipeline
    * produces BEFORE running deletes, completing the privacy family
    * (q_k_anonymity / q_l_diversity / q_t_closeness / q_pii_scrub).
    * The request list is a broadcast semi-join key; lineitem counts ride
    * the orders FK chain; all counts exact. */
  val qErasureAudit = Q(
    "q_erasure_audit",
    """WITH del AS (SELECT c_custkey FROM customer WHERE c_custkey % 37 = 0),
      |oc AS (
      |  SELECT count(*) AS n FROM orders
      |  JOIN del ON o_custkey = c_custkey),
      |lc AS (
      |  SELECT count(*) AS n FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN del ON o_custkey = c_custkey),
      |u AS (
      |  SELECT 'customer' AS table_name,
      |    (SELECT count(*) FROM del) AS n_erase,
      |    (SELECT count(*) FROM customer) AS n_total
      |  UNION ALL SELECT 'orders', (SELECT n FROM oc),
      |    (SELECT count(*) FROM orders)
      |  UNION ALL SELECT 'lineitem', (SELECT n FROM lc),
      |    (SELECT count(*) FROM lineitem))
      |SELECT table_name, n_erase, n_total,
      |  ROUND(CAST(n_erase AS DOUBLE) / n_total, 6) AS erase_share
      |FROM u ORDER BY table_name""".stripMargin) { (s, d) =>
    val del = t(s, d, "customer").filter(col("c_custkey") % 37 === 0)
      .select("c_custkey")
    val orders = t(s, d, "orders")
    val li = t(s, d, "lineitem")
    val delOrders = orders.join(broadcast(del),
      col("o_custkey") === col("c_custkey"), "left_semi")
    def row(name: String, erase: DataFrame, total: DataFrame) =
      erase.agg(count(lit(1)).as("n_erase"))
        .crossJoin(total.agg(count(lit(1)).as("n_total")))
        .select(lit(name).as("table_name"), col("n_erase"), col("n_total"))
    row("customer", del, t(s, d, "customer"))
      .unionByName(row("orders", delOrders, orders))
      .unionByName(row("lineitem",
        li.join(delOrders.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"), "left_semi"), li))
      .select(col("table_name"), col("n_erase"), col("n_total"),
        round(col("n_erase").cast(DoubleType) / col("n_total"), 6)
          .as("erase_share"))
      .orderBy("table_name")
  }

  /** Neyman allocation of a fixed n = 1000 sample budget across market
    * segments (n_h ∝ N_h·σ_h) — the variance-optimal stratified design
    * that q_stratified_sample then executes. σ_h quantizes once to an
    * integer (·10³) off exact DECIMAL(38) moments, the weights
    * N_h·σ3_h are exact integers, and the largest-remainder rounding is
    * pure integer DIV/mod with a (remainder desc, segment) tie order —
    * fully reproducible; every window runs on the bounded
    * &#124;segment&#124; table. */
  val qNeymanAlloc = Q(
    "q_neyman_alloc",
    s"""WITH x AS (
      |  SELECT c.c_mktsegment AS segment,
      |    ${priceCentsSql("o.o_totalprice")}
      |      AS cents
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
      |seg AS (
      |  SELECT segment, count(*) AS n_pop,
      |    sum(CAST(cents AS HUGEINT)) AS s1,
      |    sum(CAST(cents AS HUGEINT) * cents) AS s2
      |  FROM x GROUP BY 1),
      |w AS (
      |  SELECT segment, n_pop,
      |    CAST(ROUND(sqrt((CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * s1 / n_pop) / n_pop) * 1000)
      |      AS BIGINT) AS sigma3
      |  FROM seg),
      |ww AS (
      |  SELECT segment, n_pop, sigma3,
      |    CAST(n_pop AS HUGEINT) * sigma3 AS wgt
      |  FROM w),
      |tw AS (SELECT sum(wgt) AS tot FROM ww),
      |base AS (
      |  SELECT segment, n_pop, sigma3, wgt,
      |    (wgt * 1000) // tot AS n_base, (wgt * 1000) % tot AS rem
      |  FROM ww, tw),
      |lo AS (SELECT 1000 - sum(n_base) AS leftover FROM base),
      |rk AS (
      |  SELECT *, row_number() OVER (ORDER BY rem DESC, segment) AS r
      |  FROM base)
      |SELECT segment, CAST(n_pop AS BIGINT) AS n_pop,
      |  ROUND(CAST(sigma3 AS DOUBLE) / 1000, 6) AS sigma,
      |  CAST(n_base + CASE WHEN r <= lo.leftover THEN 1 ELSE 0 END
      |    AS BIGINT) AS n_alloc
      |FROM rk, lo ORDER BY segment""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val x = t(s, d, "orders")
      .join(t(s, d, "customer"), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        priceCents(col("o_totalprice")).as("cents"))
    val seg = x.groupBy("segment")
      .agg(count(lit(1)).as("n_pop"),
        sum(col("cents").cast(big38)).as("s1"),
        sum(col("cents").cast(big38) * col("cents")).as("s2"))
    val w = seg.select(col("segment"), col("n_pop"),
      round(sqrt((col("s2").cast(DoubleType)
        - col("s1").cast(DoubleType) * col("s1").cast(DoubleType)
          / col("n_pop")) / col("n_pop")) * 1000).cast(LongType)
        .as("sigma3"))
    val ww = w.withColumn("wgt",
      col("n_pop").cast(big38) * col("sigma3"))
    val tw = ww.agg(sum(col("wgt")).as("tot"))
    val base = ww.crossJoin(broadcast(tw))
      .select(col("segment"), col("n_pop"), col("sigma3"), col("wgt"),
        expr("CAST(wgt * 1000 DIV tot AS DECIMAL(38,0))").as("n_base"),
        expr("CAST((wgt * 1000) % tot AS DECIMAL(38,0))").as("rem"))
    val lo = base.agg((lit(1000).cast(big38) - sum(col("n_base")))
      .as("leftover"))
    val rk = base.withColumn("r",
      row_number().over(Window.orderBy(col("rem").desc, col("segment"))))
    rk.crossJoin(broadcast(lo))
      .select(col("segment"), col("n_pop").cast(LongType).as("n_pop"),
        round(col("sigma3").cast(DoubleType) / 1000, 6).as("sigma"),
        (col("n_base") + when(col("r") <= col("leftover"), 1)
          .otherwise(0)).cast(LongType).as("n_alloc"))
      .orderBy("segment")
  }

  /** The DP releases' seeded uniform draw in (0, 1): the segment's md5
    * stream under `tag`, (h mod 10⁶ + ½) / 10⁶. */
  private def dpUniform(tag: String): Column =
    ((graft.llm.TextOps.hash60(concat(col("segment"), lit(s":$tag")))
      % 1000000L).cast(DoubleType) + lit(0.5)) / 1000000L

  /** DuckDB twin of [[dpUniform]]. */
  private def dpUniformSql(tag: String): String =
    s"""(CAST(concat('0x', substr(md5(concat(segment, ':$tag')), 1, 15))
       |      AS BIGINT) % 1000000 + 0.5) / 1000000""".stripMargin

  /** Differentially-private count release (geometric mechanism, ε = 1):
    * per-segment counts plus discrete-Laplace noise sampled by inverse
    * CDF as the difference of two geometrics G = ⌊−ln(u)⌋. The noise
    * stream is a SEEDED md5-hash PRNG so the oracle can reproduce the
    * release bit-for-bit (the q_multimodal_decode stub pattern — swap a
    * real entropy source in production; everything else, sensitivity-1
    * counts and the mechanism algebra, is the real DP plumbing).
    * Completes the governance family: k-anon, l-div, t-closeness,
    * erasure, DP release. */
  val qDpCount = Q(
    "q_dp_count",
    s"""WITH seg AS (
      |  SELECT c_mktsegment AS segment, count(*) AS n_true
      |  FROM customer GROUP BY 1),
      |u AS (
      |  SELECT segment, n_true,
      |    ${dpUniformSql("1")} AS u1,
      |    ${dpUniformSql("2")} AS u2
      |  FROM seg),
      |z AS (
      |  SELECT segment, n_true,
      |    CAST(floor(-ln(u1)) AS BIGINT)
      |      - CAST(floor(-ln(u2)) AS BIGINT) AS noise
      |  FROM u)
      |SELECT segment, CAST(n_true AS BIGINT) AS n_true, noise,
      |  CAST(n_true + noise AS BIGINT) AS n_released
      |FROM z ORDER BY segment""".stripMargin) { (s, d) =>
    val seg = t(s, d, "customer")
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).as("n_true"))
    seg
      .withColumn("noise",
        floor(-log(dpUniform("1"))).cast(LongType)
          - floor(-log(dpUniform("2"))).cast(LongType))
      .select(col("segment"), col("n_true").cast(LongType).as("n_true"),
        col("noise"), (col("n_true") + col("noise")).cast(LongType)
          .as("n_released"))
      .orderBy("segment")
  }

  /** Differentially-private SUM release of per-segment revenue with
    * explicit contribution bounding: each order's dollars are CLIPPED at
    * the $100k cap (the sensitivity), then two-sided geometric noise at
    * scale = cap (ε = 1) is drawn from the same seeded-md5 inverse-CDF
    * stream as q_dp_count — deterministic, auditable, and the clip is
    * reported so consumers can reason about the bias/privacy trade. The
    * governance family's sum-release complement to the count release. */
  val qDpSum = Q(
    "q_dp_sum",
    s"""WITH o AS (
      |  SELECT c_mktsegment AS segment,
      |    LEAST(${priceCentsSql("o_totalprice")}
      |      // 100, 100000) AS dollars,
      |    CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END AS clipped
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |seg AS (
      |  SELECT segment, CAST(sum(dollars) AS BIGINT) AS sum_true,
      |    CAST(sum(clipped) AS BIGINT) AS n_clipped
      |  FROM o GROUP BY 1),
      |u AS (
      |  SELECT segment, sum_true, n_clipped,
      |    ${dpUniformSql("s1")} AS u1,
      |    ${dpUniformSql("s2")} AS u2
      |  FROM seg),
      |z AS (
      |  SELECT segment, sum_true, n_clipped,
      |    CAST(floor(-100000 * ln(u1)) AS BIGINT)
      |      - CAST(floor(-100000 * ln(u2)) AS BIGINT) AS noise
      |  FROM u)
      |SELECT segment, sum_true, n_clipped, noise,
      |  CAST(sum_true + noise AS BIGINT) AS sum_released
      |FROM z ORDER BY segment""".stripMargin) { (s, d) =>
    val o = t(s, d, "orders").select("o_custkey", "o_totalprice")
      .join(broadcast(t(s, d, "customer")
        .select("c_custkey", "c_mktsegment")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("segment"),
        least(expr(priceCentsSql("o_totalprice") + " DIV 100"),
          lit(100000L)).as("dollars"),
        when(col("o_totalprice") > 100000, 1).otherwise(0).as("clipped"))
    val seg = o.groupBy("segment")
      .agg(sum(col("dollars")).cast(LongType).as("sum_true"),
        sum(col("clipped")).cast(LongType).as("n_clipped"))
    seg
      .withColumn("noise",
        floor(lit(-100000) * log(dpUniform("s1"))).cast(LongType)
          - floor(lit(-100000) * log(dpUniform("s2"))).cast(LongType))
      .select(col("segment"), col("sum_true"), col("n_clipped"),
        col("noise"),
        (col("sum_true") + col("noise")).cast(LongType).as("sum_released"))
      .orderBy("segment")
  }

  /** q_watermark_plan's oracle, shared with q_stream_watermark (whose
    * maintained state must finalize to this whole-history recompute). */
  private[operators] val watermarkPlanSql =
    """WITH e0 AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
      |  FROM events),
      |e AS (
      |  SELECT event_id, user_id, event_type,
      |    us - CASE WHEN CAST(concat('0x',
      |        substr(md5(concat(event_id, ':l')), 1, 15)) AS BIGINT)
      |        % 10 = 0
      |      THEN (CAST(concat('0x',
      |        substr(md5(concat(event_id, ':d')), 1, 15)) AS BIGINT)
      |        % 86400) * 1000000
      |      ELSE 0 END AS us
      |  FROM e0),
      |r AS (
      |  SELECT event_type, us,
      |    max(us) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax
      |  FROM e),
      |late AS (
      |  SELECT event_type, (prevmax - us) // 1000000 AS lat_s
      |  FROM r WHERE prevmax IS NOT NULL AND us < prevmax),
      |b AS (
      |  SELECT event_type,
      |    CASE WHEN lat_s < 1 THEN 1 WHEN lat_s < 2 THEN 2
      |      WHEN lat_s < 4 THEN 4 WHEN lat_s < 8 THEN 8
      |      WHEN lat_s < 16 THEN 16 WHEN lat_s < 32 THEN 32
      |      WHEN lat_s < 64 THEN 64 WHEN lat_s < 128 THEN 128
      |      WHEN lat_s < 256 THEN 256 WHEN lat_s < 512 THEN 512
      |      WHEN lat_s < 1024 THEN 1024 WHEN lat_s < 2048 THEN 2048
      |      WHEN lat_s < 4096 THEN 4096 WHEN lat_s < 8192 THEN 8192
      |      WHEN lat_s < 16384 THEN 16384 WHEN lat_s < 32768 THEN 32768
      |      WHEN lat_s < 65536 THEN 65536 ELSE 131072 END AS bucket_s
      |  FROM late),
      |g AS (
      |  SELECT event_type, bucket_s, count(*) AS c
      |  FROM b GROUP BY 1, 2),
      |tot AS (SELECT event_type, sum(c) AS n FROM g GROUP BY 1),
      |cum AS (
      |  SELECT g.event_type, bucket_s, tot.n,
      |    sum(c) OVER (PARTITION BY g.event_type ORDER BY bucket_s)
      |      AS cc
      |  FROM g JOIN tot ON g.event_type = tot.event_type)
      |SELECT event_type, CAST(max(n) AS BIGINT) AS n_late,
      |  CAST(min(CASE WHEN cc * 2 >= n THEN bucket_s END) AS BIGINT)
      |    AS p50_bound_s,
      |  CAST(min(CASE WHEN cc * 100 >= 99 * n THEN bucket_s END)
      |    AS BIGINT) AS p99_bound_s,
      |  CAST(min(CASE WHEN cc * 100 >= 99 * n THEN bucket_s END)
      |    AS BIGINT) AS watermark_s
      |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Watermark sizing plan per event type: the lateness distribution
    * (event time vs the per-user arrival-order running max — the
    * q_disorder_audit derivation) folded into power-of-two second
    * buckets, with the P50/P99 bucket bounds and the recommended
    * `withWatermark` delay = the P99 bound. The fixture replays in
    * perfect event-time order (q_disorder_audit measures 0), so the
    * canonical late-arrival pattern is PLANTED deterministically: every
    * 10th event (seeded md5 pick) carries an event time pushed up to
    * a day behind its arrival slot — the jitter a real ingest exhibits
    * and the sizing logic must absorb. Pure integer bucket compares on
    * a ≤14-row per-type panel; this is the query that turns §2.I's
    * watermark PARAMETER into a measured decision. */
  val qWatermarkPlan = Q("q_watermark_plan", watermarkPlanSql) {
    (s, d) =>
    import graft.streaming.StreamOps
    val r0 = StreamOps.plannedLatenessEvents(s, d)
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val r = r0.select(col("event_type"), col("us"),
      max(col("us")).over(w).as("prevmax"))
    val late = r
      .where(col("prevmax").isNotNull && col("us") < col("prevmax"))
      .select(col("event_type"),
        StreamOps.latenessBucket(expr("(prevmax - us) DIV 1000000"))
          .as("bucket_s"))
    StreamOps.watermarkPlanFromHistogram(
      late.groupBy("event_type", "bucket_s")
        .agg(count(lit(1)).as("c")))
  }

  /** Differentially-private histogram release of the per-nation customer
    * counts (geometric mechanism at ε = 0.5 ⇒ two-sided geometric noise
    * with scale 1/ε = 2, seeded md5 uniforms — the q_dp_count mechanism
    * at histogram granularity), plus the post-processed nonneg-clamped
    * released shares (·10⁶ integer DIV of clamped masses) — the release
    * a data-portal actually publishes. 6th governance-family member. */
  val qDpHistogram = Q(
    "q_dp_histogram",
    """WITH g AS (
      |  SELECT n_name AS nation, count(*) AS n_true
      |  FROM customer JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY 1),
      |u AS (
      |  SELECT nation, n_true,
      |    (CAST(concat('0x', substr(md5(concat(nation, ':h1')), 1, 15))
      |      AS BIGINT) % 1000000 + 0.5) / 1000000 AS u1,
      |    (CAST(concat('0x', substr(md5(concat(nation, ':h2')), 1, 15))
      |      AS BIGINT) % 1000000 + 0.5) / 1000000 AS u2
      |  FROM g),
      |z AS (
      |  SELECT nation, n_true,
      |    CAST(floor(-2 * ln(u1)) AS BIGINT)
      |      - CAST(floor(-2 * ln(u2)) AS BIGINT) AS noise
      |  FROM u),
      |r AS (
      |  SELECT nation, n_true, noise,
      |    GREATEST(CAST(0 AS BIGINT), n_true + noise) AS n_clamped
      |  FROM z),
      |tot AS (SELECT sum(n_clamped) AS tc FROM r)
      |SELECT nation, CAST(n_true AS BIGINT) AS n_true, noise,
      |  CAST(n_true + noise AS BIGINT) AS n_released,
      |  ROUND(CAST(n_clamped * 1000000 // tc AS DOUBLE) / 1e6, 6)
      |    AS released_share
      |FROM r, tot ORDER BY nation""".stripMargin) { (s, d) =>
    val g = t(s, d, "customer")
      .join(broadcast(t(s, d, "nation")
        .select("n_nationkey", "n_name")),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_true"))
    val h = graft.llm.TextOps.hash60 _
    def u(tag: String) =
      ((h(concat(col("nation"), lit(s":$tag"))) % 1000000L)
        .cast(DoubleType) + lit(0.5)) / 1000000L
    val r = g
      .withColumn("noise",
        floor(lit(-2) * log(u("h1"))).cast(LongType)
          - floor(lit(-2) * log(u("h2"))).cast(LongType))
      .withColumn("n_clamped",
        greatest(lit(0L), col("n_true") + col("noise")))
    val tot = r.agg(sum(col("n_clamped")).as("tc"))
    r.crossJoin(broadcast(tot))
      .select(col("nation"), col("n_true").cast(LongType).as("n_true"),
        col("noise"),
        (col("n_true") + col("noise")).cast(LongType).as("n_released"),
        round(expr("n_clamped * 1000000 DIV tc").cast(DoubleType) / 1e6, 6)
          .as("released_share"))
      .orderBy("nation")
  }

  /** Entity-resolution blocking-key audit over customers: for each
    * candidate key (nation, segment, nation×segment, acctbal-hundred),
    * block count, largest block, candidate-pair count Σb(b−1)/2 and the
    * reduction ratio vs all-pairs — THE planning query before any fuzzy
    * join at 100 TB (the key decides whether the match step is 10⁶ or
    * 10¹² comparisons). One fan-out scan, exact integer counts, ·10⁹
    * integer-DIV ratios. */
  val qBlockingStats = Q(
    "q_blocking_stats",
    """WITH b AS (
      |  SELECT key_name, key_val, CAST(count(*) AS HUGEINT) AS b FROM (
      |    SELECT 'nation' AS key_name,
      |      CAST(c_nationkey AS VARCHAR) AS key_val FROM customer
      |    UNION ALL SELECT 'segment', c_mktsegment FROM customer
      |    UNION ALL SELECT 'nation_x_segment',
      |      CAST(c_nationkey AS VARCHAR) || ':' || c_mktsegment
      |      FROM customer
      |    UNION ALL SELECT 'acctbal_hundred',
      |      CAST(CAST(floor(c_acctbal / 100) AS BIGINT) AS VARCHAR)
      |      FROM customer) u
      |  GROUP BY 1, 2),
      |st AS (
      |  SELECT key_name, count(*) AS n_blocks, max(b) AS max_block,
      |    sum(b * (b - 1) // 2) AS cand_pairs, sum(b) AS n
      |  FROM b GROUP BY 1)
      |SELECT key_name, CAST(n_blocks AS BIGINT) AS n_blocks,
      |  CAST(max_block AS BIGINT) AS max_block,
      |  CAST(cand_pairs AS BIGINT) AS cand_pairs,
      |  ROUND(CAST(1000000000 - cand_pairs * 1000000000
      |    // (n * (n - 1) // 2) AS DOUBLE) / 1e9, 6) AS reduction_ratio
      |FROM st ORDER BY key_name""".stripMargin) { (s, d) =>
    val c = t(s, d, "customer")
    val b = c.select(explode(array(
        struct(lit("nation").as("key_name"),
          col("c_nationkey").cast(StringType).as("key_val")),
        struct(lit("segment").as("key_name"),
          col("c_mktsegment").as("key_val")),
        struct(lit("nation_x_segment").as("key_name"),
          concat(col("c_nationkey").cast(StringType), lit(":"),
            col("c_mktsegment")).as("key_val")),
        struct(lit("acctbal_hundred").as("key_name"),
          floor(col("c_acctbal") / 100).cast(LongType).cast(StringType)
            .as("key_val")))).as("k"))
      .select(col("k.key_name").as("key_name"),
        col("k.key_val").as("key_val"))
      .groupBy("key_name", "key_val")
      .agg(count(lit(1)).cast(DecimalType(38, 0)).as("b"))
    val st = b.groupBy("key_name").agg(
      count(lit(1)).as("n_blocks"), max(col("b")).as("max_block"),
      sum(expr("b * (b - 1) DIV 2")).cast(DecimalType(38, 0))
        .as("cand_pairs"),
      sum(col("b")).as("n"))
    st.select(col("key_name"), col("n_blocks").cast(LongType).as("n_blocks"),
        col("max_block").cast(LongType).as("max_block"),
        col("cand_pairs").cast(LongType).as("cand_pairs"),
        round((lit(1000000000L) - expr(
          "cand_pairs * 1000000000 DIV (n * (n - 1) DIV 2)"))
          .cast(DoubleType) / 1e9, 6).as("reduction_ratio"))
      .orderBy("key_name")
  }

  /** Predicate-correlation audit — the cardinality-estimation killer:
    * for six pairs of common lineitem predicates, the ratio of observed
    * joint selectivity to the independence product sel(A)·sel(B). A
    * ratio far from 1 is exactly where an optimizer's row estimates (and
    * therefore join orders) go wrong at 100 TB; this is the planning
    * query that says WHICH column pairs need correlated stats. ONE scan
    * of conditional sums; ratios are exact (nAB·N·10⁶) DIV (nA·nB)
    * integers. */
  val qSelectivityCorr = Q(
    "q_selectivity_corr",
    """WITH f AS (
      |  SELECT CAST(count(*) AS HUGEINT) AS n,
      |    sum(CASE WHEN l_quantity >= 25 THEN 1 ELSE 0 END) AS a,
      |    sum(CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END) AS b,
      |    sum(CASE WHEN l_shipdate >= DATE '1995-01-01'
      |      THEN 1 ELSE 0 END) AS c,
      |    sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS dd,
      |    sum(CASE WHEN l_quantity >= 25 AND l_discount >= 0.05
      |      THEN 1 ELSE 0 END) AS ab,
      |    sum(CASE WHEN l_quantity >= 25
      |      AND l_shipdate >= DATE '1995-01-01' THEN 1 ELSE 0 END) AS ac,
      |    sum(CASE WHEN l_quantity >= 25 AND l_returnflag = 'R'
      |      THEN 1 ELSE 0 END) AS ad,
      |    sum(CASE WHEN l_discount >= 0.05
      |      AND l_shipdate >= DATE '1995-01-01' THEN 1 ELSE 0 END) AS bc,
      |    sum(CASE WHEN l_discount >= 0.05 AND l_returnflag = 'R'
      |      THEN 1 ELSE 0 END) AS bd,
      |    sum(CASE WHEN l_shipdate >= DATE '1995-01-01'
      |      AND l_returnflag = 'R' THEN 1 ELSE 0 END) AS cd
      |  FROM lineitem),
      |p AS (
      |  SELECT * FROM (
      |    SELECT 'qty25' AS pred_a, 'disc5' AS pred_b,
      |      CAST(ab AS HUGEINT) AS nab, a AS na, b AS nb, n FROM f
      |    UNION ALL SELECT 'qty25', 'ship95', ac, a, c, n FROM f
      |    UNION ALL SELECT 'qty25', 'returned', ad, a, dd, n FROM f
      |    UNION ALL SELECT 'disc5', 'ship95', bc, b, c, n FROM f
      |    UNION ALL SELECT 'disc5', 'returned', bd, b, dd, n FROM f
      |    UNION ALL SELECT 'ship95', 'returned', cd, c, dd, n FROM f) u)
      |SELECT pred_a, pred_b, CAST(nab AS BIGINT) AS n_joint,
      |  ROUND(CAST(nab * n * 1000000
      |    // (CAST(na AS HUGEINT) * nb) AS DOUBLE) / 1e6, 6)
      |    AS obs_over_indep,
      |  CASE WHEN abs(CAST(nab * n * 1000000
      |    // (CAST(na AS HUGEINT) * nb) AS BIGINT) - 1000000) > 50000
      |    THEN 1 ELSE 0 END AS correlated
      |FROM p ORDER BY pred_a, pred_b""".stripMargin) { (s, d) =>
    val f = t(s, d, "lineitem").agg(
      count(lit(1)).cast(DecimalType(38, 0)).as("n"),
      sum(when(col("l_quantity") >= 25, 1).otherwise(0)).as("a"),
      sum(when(col("l_discount") >= 0.05, 1).otherwise(0)).as("b"),
      sum(when(col("l_shipdate") >= lit("1995-01-01"), 1).otherwise(0))
        .as("c"),
      sum(when(col("l_returnflag") === "R", 1).otherwise(0)).as("dd"),
      sum(when(col("l_quantity") >= 25 && col("l_discount") >= 0.05, 1)
        .otherwise(0)).as("ab"),
      sum(when(col("l_quantity") >= 25
        && col("l_shipdate") >= lit("1995-01-01"), 1).otherwise(0))
        .as("ac"),
      sum(when(col("l_quantity") >= 25 && col("l_returnflag") === "R", 1)
        .otherwise(0)).as("ad"),
      sum(when(col("l_discount") >= 0.05
        && col("l_shipdate") >= lit("1995-01-01"), 1).otherwise(0))
        .as("bc"),
      sum(when(col("l_discount") >= 0.05 && col("l_returnflag") === "R",
        1).otherwise(0)).as("bd"),
      sum(when(col("l_shipdate") >= lit("1995-01-01")
        && col("l_returnflag") === "R", 1).otherwise(0)).as("cd"))
    def row(pa: String, pb: String, nab: String, na: String,
        nb: String): DataFrame =
      f.select(lit(pa).as("pred_a"), lit(pb).as("pred_b"),
        col(nab).cast(DecimalType(38, 0)).as("nab"),
        col(na).cast(DecimalType(38, 0)).as("na"),
        col(nb).cast(DecimalType(38, 0)).as("nb"), col("n"))
    val p = row("qty25", "disc5", "ab", "a", "b")
      .unionByName(row("qty25", "ship95", "ac", "a", "c"))
      .unionByName(row("qty25", "returned", "ad", "a", "dd"))
      .unionByName(row("disc5", "ship95", "bc", "b", "c"))
      .unionByName(row("disc5", "returned", "bd", "b", "dd"))
      .unionByName(row("ship95", "returned", "cd", "c", "dd"))
    p.select(col("pred_a"), col("pred_b"),
        col("nab").cast(LongType).as("n_joint"),
        round(expr("nab * n * 1000000 DIV (na * nb)")
          .cast(DoubleType) / 1e6, 6).as("obs_over_indep"),
        when(abs(expr("nab * n * 1000000 DIV (na * nb)") - 1000000)
          > 50000, 1).otherwise(0).as("correlated"))
      .orderBy("pred_a", "pred_b")
  }

  /** DP median release via the exponential mechanism (4th DP member
    * beside count/sum/histogram): candidates are a fixed 101-point price
    * grid, utility −|rank(c) − n/2| is computed from ONE bounded bucket
    * histogram (the fact table reduces to ≤101 rows before any
    * candidate logic), weights exp(ε·u/2) are max-shifted then
    * ·10⁹-quantized, and the release is the seeded inverse-CDF pick
    * (md5-fraction, the q_dp_count noise idiom) over the exact integer
    * cumulative weights. Everything after the one scan is a 101-row
    * panel; the ·2 rank trick keeps utilities integral for odd/even n. */
  val qDpQuantile = Q(
    "q_dp_quantile",
    s"""WITH o AS (
      |  SELECT ${priceCentsSql("o_totalprice")}
      |    AS cents
      |  FROM orders),
      |b AS (
      |  SELECT LEAST(CAST(cents // 500000 AS INT), 100) AS bkt,
      |    count(*) AS c
      |  FROM o GROUP BY 1),
      |grid AS (SELECT k FROM generate_series(0, 100) t(k)),
      |below AS (
      |  SELECT g.k,
      |    coalesce(sum(CASE WHEN b.bkt < g.k THEN b.c ELSE 0 END), 0)
      |      AS below
      |  FROM grid g CROSS JOIN b GROUP BY g.k),
      |nn AS (SELECT count(*) AS n FROM o),
      |mn AS (
      |  SELECT min(abs(2 * below - n)) AS mab
      |  FROM below CROSS JOIN nn),
      |w AS (
      |  SELECT k, below, n,
      |    CAST(ROUND(exp(-CAST(abs(2 * below - n) - mab AS DOUBLE) * 0.25)
      |      * 1000000000) AS BIGINT) AS w9
      |  FROM below CROSS JOIN nn CROSS JOIN mn),
      |cum AS (
      |  SELECT k, below, n, w9,
      |    sum(w9) OVER (ORDER BY k) AS cw, sum(w9) OVER () AS tw
      |  FROM w),
      |r AS (
      |  SELECT CAST(concat('0x', substr(md5('dp_quantile:42'), 1, 15))
      |    AS BIGINT) % 1000000 AS r6)
      |SELECT CAST(1.0 AS DOUBLE) AS epsilon, CAST(n AS BIGINT) AS n,
      |  CAST(k * 5000 AS BIGINT) AS released_dollars,
      |  CAST(below AS BIGINT) AS n_below,
      |  ROUND(CAST(abs(2 * below - n) AS DOUBLE) / 2, 6) AS rank_gap
      |FROM cum CROSS JOIN r
      |WHERE cw * 1000000 > r6 * tw
      |ORDER BY k LIMIT 1""".stripMargin) { (s, d) =>
    val o = t(s, d, "orders")
      .select(priceCents(col("o_totalprice")).as("cents"))
    val b = o.groupBy(least(expr("cents DIV 500000").cast(IntegerType),
        lit(100)).as("bkt"))
      .agg(count(lit(1)).as("c"))
    val grid = s.range(0, 101).select(col("id").cast(IntegerType).as("k"))
    val below = grid.crossJoin(broadcast(b))
      .groupBy("k")
      .agg(coalesce(sum(when(col("bkt") < col("k"), col("c"))
        .otherwise(0L)), lit(0L)).as("below"))
    val nn = o.agg(count(lit(1)).as("n"))
    val withN = below.crossJoin(broadcast(nn))
    val mn = withN.agg(min(abs(lit(2) * col("below") - col("n")))
      .as("mab"))
    val w = withN.crossJoin(broadcast(mn))
      .select(col("k"), col("below"), col("n"),
        round(exp(-(abs(lit(2) * col("below") - col("n")) - col("mab"))
          .cast(DoubleType) * 0.25) * 1000000000L).cast(LongType).as("w9"))
      // no-op bound (the grid IS 101 rows) that makes the panel's
      // boundedness visible to the PostureSpec window sweep
      .limit(101)
    // 101-row bounded panel: the unpartitioned running sum is free
    val wOrd = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("k")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val r6 = graft.llm.TextOps.hash60(lit("dp_quantile:42")) % 1000000L
    w.withColumn("cw", sum(col("w9")).over(wOrd))
      .withColumn("tw", sum(col("w9")).over(wAll))
      .withColumn("r6", r6)
      .filter(col("cw") * 1000000L > col("r6") * col("tw"))
      .orderBy("k").limit(1)
      .select(lit(1.0).as("epsilon"), col("n").cast(LongType).as("n"),
        (col("k") * 5000L).cast(LongType).as("released_dollars"),
        col("below").cast(LongType).as("n_below"),
        round(abs(lit(2) * col("below") - col("n")).cast(DoubleType) / 2, 6)
          .as("rank_gap"))
  }

  val all: Seq[Q] = Seq(
    qDpQuantile,
    qDpHistogram, qBlockingStats, qSelectivityCorr,
    qDpSum, qWatermarkPlan,
    qNeymanAlloc, qDpCount,
    qTCloseness, qLagFeatures, qErasureAudit,
    qSourceCap, qLmScore, qAnomalyMad, qProfileStats, qHistReagg,
    qIncrAgg, qScd2Dim, qScd2Lookup, qJoinBloom,
    qSimL2, qKmeansUpdate, qKAnonymity, qReferentialCheck, qDupSpans,
    qVocabCoverage, qJoinNearest, qUrlExtract, qTableChecksum,
    qFreshnessAudit, qKmvDistinct, qUrlCanon, qJoinBucketed,
    qLDiversity, qCompactionPlan,
    qTargetEncode, qWoeIv, qPsi, qFdCheck, qExpectations, qOnehotFeatures,
    qSkewAudit)
}
