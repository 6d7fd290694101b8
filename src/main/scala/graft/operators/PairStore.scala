package graft.operators

import graft.Dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared co-purchase pair store (optimization r14): the repo's whole
  * part-graph family — centrality, degree, link-prediction, triangle,
  * k-core, label-prop and the CF recommender backbone — derives its
  * edges from the SAME lineitem self-join blocked by order key, and
  * before this store each of ~15 registered queries re-ran that join
  * (scan + distinct + self-join + pair groupBy, 2-3 exchanges over the
  * fact table) privately. One pass now builds per-order part
  * multiplicities and ONE blocked self-join aggregates both pair-count
  * semantics the family uses:
  *
  *   - `n_dist` = count of orders containing both parts (the
  *     DISTINCT-(ok,pk) idiom: item_cooccur, triangle, k-core, degree,
  *     2-hop, clustering-coeff, assortativity, rich-club, label-prop);
  *   - `n_raw`  = Σ_ok c_a·c_b, the raw line-pair multiplicity (the
  *     non-distinct idiom: jaccard/adamic-adar/pref-attach/
  *     avg-nbr-degree edges and the q_user_recs_cf co-occurrence
  *     weights, which are the symmetric closure of `n_raw`).
  *
  * Both are exact integer counts — each consumer's oracle-checked
  * values are unchanged; only the redundant fact-table joins are gone.
  * The frames are pair-sized (Σ basket², bounded basket size — linear
  * in orders, never catalog²) and localCheckpoint-backed per (session,
  * sfDir), the ShingleStore "build once, consume many" layout step.
  * Billed as the bench's `warm:basket_pairs` line. Keyed by (session,
  * sfDir): checkpointed blocks belong to the session that built them.
  */
object PairStore {

  private final case class Store(liCounts: DataFrame, pairStats: DataFrame)

  private val stores = graft.SharedBuild[(SparkSession, String), Store]()(
    st => graft.SharedBuild.frames(st.liCounts, st.pairStats))

  def warm(s: SparkSession, d: String): Unit = { build(s, d); () }

  /** (ok, pk, c): distinct (order, part) cells with the part's line
    * multiplicity within the order. One row per order-part — the
    * deduped basket table every consumer's `li` CTE starts from. */
  def liCounts(s: SparkSession, d: String): DataFrame = build(s, d).liCounts

  /** (src, dst, n_dist, n_raw) for src < dst — see object scaladoc. */
  def pairStats(s: SparkSession, d: String): DataFrame = build(s, d).pairStats

  /** Symmetric raw-multiplicity closure (pa, pb, w) over pa ≠ pb — the
    * exact frame `q_user_recs_cf`'s co-occurrence CTE computes from the
    * raw self-join (w is symmetric, so the closure of the src < dst
    * half IS the full pa ≠ pb matrix). */
  def coPairsSym(s: SparkSession, d: String): DataFrame = {
    val ps = pairStats(s, d)
    ps.select(col("src").as("pa"), col("dst").as("pb"),
        col("n_raw").as("w"))
      .unionByName(ps.select(col("dst").as("pa"), col("src").as("pb"),
        col("n_raw").as("w")))
  }

  /** DuckDB twin of [[coPairsSym]]: the CTE `name` (pa, pb, w) from the
    * raw lineitem self-join. */
  def coPairsSymCte(name: String): String =
    s"""$name AS (
       |  SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS w
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
       |  GROUP BY 1, 2)""".stripMargin

  /** (src, dst): the co-purchase graph's edges, part pairs src < dst
    * that share at least 2 orders (n_dist ≥ 2) — the edge list of the
    * whole part-graph family. Its oracle twin is [[edgeCte]]. */
  def edges(s: SparkSession, d: String): DataFrame =
    pairStats(s, d)
      .filter(col("n_dist") >= 2)
      .select("src", "dst")

  /** DuckDB twin of [[edges]]: the `li` basket CTE and the edge CTE
    * `name` (src, dst), for an oracle's WITH list. */
  def edgeCte(name: String = "e"): String =
    s"""li AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |$name AS (
       |  SELECT pa AS src, pb AS dst FROM (
       |    SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_co
       |    FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
       |    GROUP BY 1, 2) c
       |  WHERE n_co >= 2)""".stripMargin

  /** (node, nbr): the raw-multiplicity co-purchase graph, part pairs
    * whose line pairs co-occur at least twice (n_raw ≥ 2), each edge
    * listed both ways. The store is checkpoint-backed, so each use
    * re-reads its blocks, not the fact join. Oracle twin: [[rawAdjCte]]. */
  def rawAdjacency(s: SparkSession, d: String): DataFrame = {
    val edges = pairStats(s, d)
      .filter(col("n_raw") >= 2)
      .select(col("src").as("pa"), col("dst").as("pb"))
    edges.select(col("pa").as("node"), col("pb").as("nbr"))
      .unionByName(edges.select(col("pb").as("node"), col("pa").as("nbr")))
  }

  /** DuckDB twin of [[rawAdjacency]]: the pairs, edges and adj CTEs. */
  val rawAdjCte: String =
    """pairs AS (
      |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      |edges AS (
      |  SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING count(*) >= 2),
      |adj AS (
      |  SELECT pa AS node, pb AS nbr FROM edges
      |  UNION ALL SELECT pb, pa FROM edges)""".stripMargin

  /** (a, b, c), a < b < c: the triangles of the edge list `e` (src <
    * dst), each a wedge a–b–c closed by the edge a–c — equi-joins on
    * the edge list, never all node triples. */
  def triangles(e: DataFrame): DataFrame =
    e.select(col("src").as("a"), col("dst").as("b"))
      .join(e.select(col("src").as("b"), col("dst").as("c")), Seq("b"))
      .join(e.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))

  /** (v, n_tri): per node, the number of `tri` triangles it is in. */
  def triangleCounts(tri: DataFrame): DataFrame =
    tri.select(col("a").as("v"))
      .unionByName(tri.select(col("b").as("v")))
      .unionByName(tri.select(col("c").as("v")))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))

  /** DuckDB twin of [[triangles]] and [[triangleCounts]] over the edge
    * CTE `e`: the tri and pern CTEs. */
  val triangleCte: String =
    """tri AS (
      |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
      |  FROM e e1 JOIN e e2 ON e1.dst = e2.src
      |    JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      |pern AS (
      |  SELECT v, count(*) AS n_tri FROM (
      |    SELECT a AS v FROM tri
      |    UNION ALL SELECT b FROM tri
      |    UNION ALL SELECT c FROM tri) u
      |  GROUP BY v)""".stripMargin

  private def build(s: SparkSession, d: String): Store = stores((s, d)) {
    val li = t(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .groupBy("ok", "pk").agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val pairs = li.as("a")
      .join(li.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
      .agg(count(lit(1)).as("n_dist"),
        sum(col("a.c") * col("b.c")).cast("long").as("n_raw"))
      .localCheckpoint()
    Store(li, pairs)
  }
}
