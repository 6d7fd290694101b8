package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Damped PageRank over a weighted edge list, expressed as pure DataFrame
  * algebra so Catalyst plans every iteration (no driver-side graph).
  *
  * Shape per iteration: edges ⋈ broadcast(ranks) ⋈ broadcast(outWeight)
  * → groupBy(dst) partial-sum → left join back onto the node set (nodes
  * with no in-edges keep the teleport term). The rank vector and the
  * out-weight table are node-sized, the edge list is edge-sized — so with
  * node count ≪ edge count (the usual analytics case: domains, nations,
  * categories) every iteration is ONE shuffle of the already-aggregated
  * edge list and two broadcasts. At web scale (nodes too big to
  * broadcast) the same loop holds with the broadcasts replaced by
  * hash-partitioned equi-joins co-partitioned on src — swap `broadcast()`
  * for `repartition(src)` and the iteration count-per-shuffle stays
  * identical; GraphX/Pregel is the escape hatch beyond that.
  *
  * Dangling nodes (no out-edges) follow the common simplification of
  * redistributing nothing (their mass decays into the teleport term);
  * documented rather than hidden.
  */
object PageRank {

  /** @param nodes single-column DataFrame of node ids (column `id`)
    * @param edges DataFrame(src, dst, w) with positive weights
    * @return DataFrame(id, rank) after `iters` damped iterations from the
    *         uniform distribution.
    */
  def iterate(
      nodes: DataFrame,
      edges: DataFrame,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    val n = nodes.count().toDouble
    sweeps(nodes, edges, nodes.select(col("id"), (lit(1.0) / n).as("rank")),
      iters, damping, lit((1.0 - damping) / n))
  }

  /** Personalized PageRank: identical loop, but the teleport term is a
    * per-node restart distribution (column `tp`, summing to 1) instead of
    * uniform — ranks concentrate around the seed set. Same scale shape:
    * one shuffle of the aggregated edge list per iteration, node-sized
    * broadcasts. Nodes absent from `teleport` get tp = 0. */
  def iteratePersonalized(
      nodes: DataFrame,
      edges: DataFrame,
      teleport: DataFrame,
      iters: Int,
      damping: Double = 0.85): DataFrame = {
    val tp = nodes
      .join(broadcast(teleport), Seq("id"), "left")
      .select(col("id"), coalesce(col("tp"), lit(0.0)).as("tp"))
    sweeps(tp, edges, tp.select(col("id"), col("tp").as("rank")),
      iters, damping, lit(1.0 - damping) * col("tp"))
  }

  /** `iters` damped sweeps from `start` (id, rank): each node of `base`
    * (id, …) gets `teleport`, a column of `base`, plus damping × the
    * weighted rank flowing in over `edges`. */
  private def sweeps(
      base: DataFrame,
      edges: DataFrame,
      start: DataFrame,
      iters: Int,
      damping: Double,
      teleport: Column): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w").cast(DoubleType))
    val outW = e.groupBy("src").agg(sum(col("w")).as("outw"))
    var ranks = start
    for (_ <- 1 to iters) {
      val contrib = e
        .join(broadcast(ranks.withColumnRenamed("id", "src")), "src")
        .join(broadcast(outW), "src")
        .select(col("dst"), (col("rank") * col("w") / col("outw")).as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("inflow"))
      ranks = base
        .join(broadcast(contrib.withColumnRenamed("dst", "id")),
          Seq("id"), "left")
        .select(col("id"),
          (teleport + lit(damping) * coalesce(col("inflow"), lit(0.0)))
            .as("rank"))
    }
    ranks
  }
}
