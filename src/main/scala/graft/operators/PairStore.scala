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
