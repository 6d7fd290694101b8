package graft.operators

import graft.Dsl._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared nation-trade edge list (optimization r14): seven registered
  * queries — q_pagerank, q_ppr and the five GraphQueries centralities —
  * aggregate the SAME customer-nation → supplier-nation edge weights
  * from the same 4-table fact join, and before this memo each paid that
  * join privately. The aggregated list is bounded by nations² (≤ 625
  * rows at ANY scale factor), so one build is collected to a local
  * relation once per (session, sfDir) — the exact materialization
  * q_pagerank already deployed per-query, with the same rationale:
  * persist() would leak a CacheManager entry because the frame outlives
  * any safe unpersist point, and a ≤625-row collect is bounded by
  * construction. Every consumer's oracle recomputes the identical edge
  * CTE from the tables, so values are unchanged; only the redundant
  * fact joins are gone. Billed as the bench's `warm:trade_edges` line.
  */
object TradeGraph {

  private val edgeLists =
    graft.SharedBuild[(SparkSession, String), DataFrame]()()

  def warm(s: SparkSession, d: String): Unit = { edges(s, d); () }

  /** Weighted nation→nation trade edges (src, dst, w = lineitem count,
    * LONG) as a ≤625-row local relation. */
  def edges(s: SparkSession, d: String): DataFrame = edgeLists((s, d)) {
    val dist = t(s, d, "lineitem").select("l_orderkey", "l_suppkey")
      .join(t(s, d, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, d, "customer")
          .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, d, "supplier")
          .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
    s.createDataFrame(
      s.sparkContext.parallelize(dist.collect().toIndexedSeq, 1),
      dist.schema)
  }

  /** DuckDB twin of [[edges]]: the CTE `e` (src, dst, w), with w the
    * SQL `weight` over each edge's count(*). */
  def edgesSql(weight: String): String =
    s"""e AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst,
       |    $weight AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2)""".stripMargin
}
