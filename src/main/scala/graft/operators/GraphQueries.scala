package graft.operators

import graft.Q
import graft.Dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Graph-centrality battery over the nation trade graph (the q_pagerank
  * graph: customer-nation → supplier-nation edges weighted by lineitem
  * counts, ≤25 vertices / ≤625 edges at ANY scale factor). The heavy part
  * of every query is ONE fact-table aggregation producing the bounded
  * edge list; all centrality math happens on that bounded panel with
  * broadcast joins — the same "reduce the fact table to a graph summary,
  * then iterate on the summary" posture that makes q_pagerank scale-free.
  * Fixed-iteration contracts (4-hop BFS, 3 power-iteration rounds, walks
  * up to length 3) follow the q_kcore / q_cc_labelprop precedent:
  * documented horizons, not convergence loops.
  *
  * Determinism: edge weights are exact counts; eigenvector scores are
  * re-quantized to ·10⁹ integers by integer DIV after every round; Katz
  * scores are exact walk-count integers; closeness is an exact
  * (reached·10⁹) DIV dist-sum. No double is ever summed across rows.
  */
object GraphQueries {

  private val big38 = DecimalType(38, 0)

  /** Weighted nation→nation trade edges (src, dst, w = lineitem count) —
    * the shared [[TradeGraph]] local relation (one 4-table fact join per
    * run instead of one per centrality query). */
  private def tradeEdges(s: SparkSession, d: String): DataFrame =
    TradeGraph.edges(s, d)

  private val tradeEdgesSql = TradeGraph.edgesSql("count(*)")

  /** Closeness centrality on the unweighted trade graph within a 4-hop
    * horizon: shortest paths by two doubling rounds (1→2→4 hops — exact
    * for every pair at distance ≤ 4; the dense trade graph's diameter is
    * ~2), then closeness = reached/Σdist per source. The classic "which
    * hub reaches the network fastest" ranking; integer end-to-end. */
  val qClosenessCentrality = Q(
    "q_closeness_centrality",
    s"""WITH $tradeEdgesSql,
      |p1 AS (
      |  SELECT DISTINCT src, dst, 1 AS dist FROM e WHERE src <> dst),
      |p2 AS (
      |  SELECT src, dst, min(dist) AS dist FROM (
      |    SELECT src, dst, dist FROM p1
      |    UNION ALL
      |    SELECT a.src, b.dst, a.dist + b.dist AS dist
      |    FROM p1 a JOIN p1 b ON a.dst = b.src WHERE a.src <> b.dst
      |  ) u GROUP BY 1, 2),
      |p4 AS (
      |  SELECT src, dst, min(dist) AS dist FROM (
      |    SELECT src, dst, dist FROM p2
      |    UNION ALL
      |    SELECT a.src, b.dst, a.dist + b.dist AS dist
      |    FROM p2 a JOIN p2 b ON a.dst = b.src WHERE a.src <> b.dst
      |  ) u GROUP BY 1, 2),
      |cl AS (
      |  SELECT src, count(*) AS reached,
      |    sum(CAST(dist AS BIGINT)) AS sumdist
      |  FROM p4 GROUP BY src)
      |SELECT n_name AS nation,
      |  CAST(reached AS BIGINT) AS reached_4hop,
      |  ROUND(CAST((reached * 1000000000) // sumdist AS DOUBLE) / 1e9, 6)
      |    AS closeness
      |FROM cl JOIN nation ON src = n_nationkey
      |ORDER BY (reached * 1000000000) // sumdist DESC, nation"""
      .stripMargin) { (s, d) =>
    val e = tradeEdges(s, d)
    val p1 = e.filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
      .withColumn("dist", lit(1))
    // two doubling rounds on the bounded ≤625-row panel
    def round2(p: DataFrame): DataFrame = {
      val a = p.select(col("src"), col("dst").as("m"), col("dist").as("da"))
      val b = p.select(col("src").as("m2"), col("dst").as("d2"),
        col("dist").as("db"))
      val two = a.join(b, col("m") === col("m2"))
        .filter(col("src") =!= col("d2"))
        .select(col("src"), col("d2").as("dst"),
          (col("da") + col("db")).as("dist"))
      p.select("src", "dst", "dist").unionByName(two)
        .groupBy("src", "dst").agg(min(col("dist")).as("dist"))
    }
    val p4 = round2(round2(p1))
    val cl = p4.groupBy("src").agg(count(lit(1)).as("reached"),
      sum(col("dist").cast(LongType)).as("sumdist"))
    cl.join(broadcast(t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("src") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        col("reached").cast(LongType).as("reached_4hop"),
        round(expr("(reached * 1000000000) DIV sumdist")
          .cast(DoubleType) / 1e9, 6).as("closeness"),
        expr("(reached * 1000000000) DIV sumdist").as("ck"))
      .orderBy(col("ck").desc, col("nation"))
      .drop("ck")
  }

  /** Eigenvector centrality by three power-iteration rounds on the
    * weighted trade graph (in-edge convention), re-quantized to a
    * ·10⁹-integer distribution by integer DIV after every round so each
    * iteration's input is exact — the "importance flows from important
    * partners" refinement of plain in-degree, next to q_pagerank (which
    * adds teleport) and q_hits_rank (which splits hub/authority). */
  val qEigenvectorCentrality = Q(
    "q_eigenvector_centrality",
    s"""WITH $tradeEdgesSql,
      |v1r AS (
      |  SELECT dst AS id, sum(CAST(w AS HUGEINT)) AS raw
      |  FROM e GROUP BY dst),
      |v1 AS (
      |  SELECT id, raw * 1000000000 // (SELECT sum(raw) FROM v1r) AS q9
      |  FROM v1r),
      |v2r AS (
      |  SELECT e.dst AS id, sum(CAST(e.w AS HUGEINT) * v1.q9) AS raw
      |  FROM e JOIN v1 ON e.src = v1.id GROUP BY e.dst),
      |v2 AS (
      |  SELECT id, raw * 1000000000 // (SELECT sum(raw) FROM v2r) AS q9
      |  FROM v2r),
      |v3r AS (
      |  SELECT e.dst AS id, sum(CAST(e.w AS HUGEINT) * v2.q9) AS raw
      |  FROM e JOIN v2 ON e.src = v2.id GROUP BY e.dst),
      |v3 AS (
      |  SELECT id, raw * 1000000000 // (SELECT sum(raw) FROM v3r) AS q9
      |  FROM v3r)
      |SELECT n_name AS nation,
      |  ROUND(CAST(q9 AS DOUBLE) / 1e9, 6) AS eigen_score
      |FROM v3 JOIN nation ON id = n_nationkey
      |ORDER BY q9 DESC, nation""".stripMargin) { (s, d) =>
    val e = tradeEdges(s, d)
    def normalize(raw: DataFrame): DataFrame = {
      val tot = raw.agg(sum(col("raw")).as("tot"))
      raw.crossJoin(broadcast(tot))
        .select(col("id"), expr("raw * 1000000000 DIV tot").as("q9"))
    }
    def step(v: DataFrame): DataFrame =
      normalize(e.join(broadcast(v), col("src") === col("id"), "inner")
        .groupBy(col("dst"))
        .agg(sum(col("w").cast(big38) * col("q9")).as("raw"))
        .withColumnRenamed("dst", "vid")
        .withColumnRenamed("vid", "id"))
    val v1 = normalize(
      e.groupBy(col("dst").as("id"))
        .agg(sum(col("w").cast(big38)).as("raw")))
    val v3 = step(step(v1))
    v3.join(broadcast(t(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))),
        col("id") === col("n_nationkey"))
      .select(col("n_name").as("nation"),
        round(col("q9").cast(DoubleType) / 1e9, 6).as("eigen_score"),
        col("q9"))
      .orderBy(col("q9").desc, col("nation"))
      .drop("q9")
  }

  /** Truncated Katz centrality (α = 0.1, walks up to length 3) on the
    * unweighted trade graph: katz·10³ = 100·(#1-walks in) + 10·(#2-walks)
    * + 1·(#3-walks) — EXACT integer walk counts via two bounded
    * self-joins, no damping-factor doubles anywhere. The "many short
    * routes beat one long one" ranking that in-degree and eigenvector
    * both miss. */
  val qKatzCentrality = Q(
    "q_katz_centrality",
    s"""WITH $tradeEdgesSql,
      |a AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
      |w1 AS (SELECT dst AS id, CAST(count(*) AS HUGEINT) AS c
      |       FROM a GROUP BY dst),
      |w2 AS (
      |  SELECT b.dst AS id, CAST(count(*) AS HUGEINT) AS c
      |  FROM a JOIN a b ON a.dst = b.src GROUP BY b.dst),
      |w3 AS (
      |  SELECT c3.dst AS id, CAST(count(*) AS HUGEINT) AS c
      |  FROM a JOIN a b ON a.dst = b.src
      |  JOIN a c3 ON b.dst = c3.src
      |  GROUP BY c3.dst),
      |k AS (
      |  SELECT n_nationkey AS id, n_name,
      |    COALESCE(w1.c, 0) * 100 + COALESCE(w2.c, 0) * 10
      |      + COALESCE(w3.c, 0) AS katz3
      |  FROM nation
      |  LEFT JOIN w1 ON w1.id = n_nationkey
      |  LEFT JOIN w2 ON w2.id = n_nationkey
      |  LEFT JOIN w3 ON w3.id = n_nationkey)
      |SELECT n_name AS nation, CAST(katz3 AS BIGINT) AS katz_millis
      |FROM k ORDER BY katz3 DESC, nation""".stripMargin) { (s, d) =>
    val a = tradeEdges(s, d).filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    val w1 = a.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).cast(big38).as("c1"))
    val ab = a.select(col("src"), col("dst").as("m"))
      .join(a.select(col("src").as("m2"), col("dst")),
        col("m") === col("m2"))
    val w2 = ab.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).cast(big38).as("c2"))
    val abc = ab.select(col("src"), col("dst").as("m3"))
      .join(a.select(col("src").as("m4"), col("dst")),
        col("m3") === col("m4"))
    val w3 = abc.groupBy(col("dst").as("id"))
      .agg(count(lit(1)).cast(big38).as("c3"))
    val n = broadcast(t(s, d, "nation")
      .select(col("n_nationkey"), col("n_name")))
    n.join(w1, col("n_nationkey") === w1("id"), "left")
      .join(w2, col("n_nationkey") === w2("id"), "left")
      .join(w3, col("n_nationkey") === w3("id"), "left")
      .select(col("n_name").as("nation"),
        (coalesce(col("c1"), lit(0)) * 100
          + coalesce(col("c2"), lit(0)) * 10
          + coalesce(col("c3"), lit(0))).as("katz3"))
      .select(col("nation"), col("katz3").cast(LongType).as("katz_millis"))
      .orderBy(col("katz_millis").desc, col("nation"))
  }

  /** Weighted modularity of the REGION partition of the trade graph
    * (undirected view): Q = Σ_regions (e_c/m − (d_c/2m)²) — "are trade
    * flows regionalized, or does geography not matter". Positive Q ⇒
    * intra-region trade exceeds the degree-preserving random baseline.
    * All edge/degree masses are exact integer sums; the per-region terms
    * are ·10⁹-quantized from exact-integer ratios before the 5-row total
    * (the q_bartlett idiom). */
  val qModularityRegions = Q(
    "q_modularity_regions",
    s"""WITH $tradeEdgesSql,
      |nr AS (
      |  SELECT n_nationkey AS id, n_regionkey AS reg FROM nation),
      |ew AS (
      |  SELECT nr1.reg AS rsrc, nr2.reg AS rdst,
      |    sum(CAST(w AS HUGEINT)) AS w
      |  FROM e JOIN nr nr1 ON e.src = nr1.id
      |  JOIN nr nr2 ON e.dst = nr2.id
      |  GROUP BY 1, 2),
      |m AS (SELECT sum(w) AS m2 FROM ew),
      |dc AS (
      |  SELECT reg, sum(w) AS deg FROM (
      |    SELECT rsrc AS reg, w FROM ew
      |    UNION ALL SELECT rdst, w FROM ew) u GROUP BY reg),
      |ec AS (
      |  SELECT rsrc AS reg, sum(w) AS intra FROM ew
      |  WHERE rsrc = rdst GROUP BY rsrc),
      |terms AS (
      |  SELECT dc.reg,
      |    CAST(COALESCE(ec.intra, 0) * 1000000000 // m.m2 AS BIGINT)
      |      - CAST((dc.deg * dc.deg * 1000000000)
      |        // (4 * m.m2 * m.m2) AS BIGINT) AS t9,
      |    CAST(COALESCE(ec.intra, 0) AS BIGINT) AS intra_w,
      |    CAST(dc.deg AS BIGINT) AS deg_w
      |  FROM dc LEFT JOIN ec ON dc.reg = ec.reg, m)
      |SELECT r_name AS region,
      |  CAST(intra_w AS BIGINT) AS intra_weight,
      |  CAST(deg_w AS BIGINT) AS degree_weight,
      |  ROUND(CAST(t9 AS DOUBLE) / 1e9, 6) AS q_contrib
      |FROM terms JOIN region ON reg = r_regionkey
      |ORDER BY region""".stripMargin) { (s, d) =>
    val e = tradeEdges(s, d)
    val nr = broadcast(t(s, d, "nation")
      .select(col("n_nationkey").as("id"), col("n_regionkey").as("reg")))
    val ew = e.join(nr.withColumnRenamed("reg", "rsrc")
          .withColumnRenamed("id", "sid"),
        col("src") === col("sid"))
      .join(nr.withColumnRenamed("reg", "rdst")
          .withColumnRenamed("id", "did"),
        col("dst") === col("did"))
      .groupBy("rsrc", "rdst")
      .agg(sum(col("w").cast(big38)).as("w"))
    val m = ew.agg(sum(col("w")).as("m2"))
    val dc = ew.select(col("rsrc").as("reg"), col("w"))
      .unionByName(ew.select(col("rdst").as("reg"), col("w")))
      .groupBy("reg").agg(sum(col("w")).as("deg"))
    val ec = ew.filter(col("rsrc") === col("rdst"))
      .groupBy(col("rsrc").as("ereg")).agg(sum(col("w")).as("intra"))
    val terms = dc.join(ec, col("reg") === col("ereg"), "left")
      .crossJoin(broadcast(m))
      .select(col("reg"),
        (expr("coalesce(intra, 0) * 1000000000 DIV m2").cast(LongType)
          - expr("(deg * deg * 1000000000) DIV (4 * m2 * m2)")
            .cast(LongType)).as("t9"),
        coalesce(col("intra"), lit(0)).cast(LongType).as("intra_w"),
        col("deg").cast(LongType).as("deg_w"))
    terms.join(broadcast(t(s, d, "region")
        .select(col("r_regionkey"), col("r_name"))),
        col("reg") === col("r_regionkey"))
      .select(col("r_name").as("region"),
        col("intra_w").as("intra_weight"),
        col("deg_w").as("degree_weight"),
        round(col("t9").cast(DoubleType) / 1e9, 6).as("q_contrib"))
      .orderBy("region")
  }

  /** Reciprocity + density of the trade graph: what fraction of directed
    * trade relationships flow both ways, and how complete is the graph —
    * the two shape numbers that calibrate every other centrality (a
    * near-complete graph makes degree rankings meaningless). Pure integer
    * counts on the bounded edge panel; the reciprocated-pair count is one
    * self-join on the reversed key. */
  val qReciprocity = Q(
    "q_reciprocity",
    s"""WITH $tradeEdgesSql,
      |a AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
      |nv AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM (
      |    SELECT src AS v FROM a UNION SELECT dst FROM a) u),
      |rec AS (
      |  SELECT count(*) AS n_edges,
      |    sum(CASE WHEN b.src IS NOT NULL THEN 1 ELSE 0 END) AS n_recip
      |  FROM a LEFT JOIN a b ON a.src = b.dst AND a.dst = b.src)
      |SELECT CAST(n_edges AS BIGINT) AS n_edges,
      |  CAST(n_recip AS BIGINT) AS n_reciprocated,
      |  ROUND(CAST(n_recip * 1000000 // n_edges AS DOUBLE) / 1e6, 6)
      |    AS reciprocity,
      |  ROUND(CAST(n_edges * 1000000 // (n * (n - 1)) AS DOUBLE) / 1e6, 6)
      |    AS density
      |FROM rec, nv""".stripMargin) { (s, d) =>
    val a = tradeEdges(s, d).filter(col("src") =!= col("dst"))
      .select("src", "dst").distinct()
    val nv = a.select(col("src").as("v"))
      .union(a.select(col("dst")))
      .distinct()
      .agg(count(lit(1)).cast(LongType).as("n"))
    val b = a.select(col("src").as("bsrc"), col("dst").as("bdst"))
    val rec = a.join(b,
        col("src") === col("bdst") && col("dst") === col("bsrc"), "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(when(col("bsrc").isNotNull, 1).otherwise(0)).as("n_recip"))
    rec.crossJoin(broadcast(nv))
      .select(col("n_edges").cast(LongType).as("n_edges"),
        col("n_recip").cast(LongType).as("n_reciprocated"),
        round(expr("n_recip * 1000000 DIV n_edges").cast(DoubleType)
          / 1e6, 6).as("reciprocity"),
        round(expr("n_edges * 1000000 DIV (n * (n - 1))").cast(DoubleType)
          / 1e6, 6).as("density"))
  }

  val all: Seq[Q] = Seq(qClosenessCentrality, qEigenvectorCentrality,
    qKatzCentrality, qModularityRegions, qReciprocity)
}
