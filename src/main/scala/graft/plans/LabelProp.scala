package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by synchronous min-label propagation as pure
  * DataFrame algebra — the non-GraphX path (reference capability: the
  * near-dup clustering step of a dedup pipeline; see SURVEY.md §2.K/§2.M).
  *
  * Each sweep is one edges⋈labels equi-join plus a min-aggregate, both
  * shuffling on vertex ids, so a sweep moves O(|E|) rows with no
  * all-pairs stage; the sweeps needed equal the graph diameter (a min
  * label travels one hop per sweep). GraphX CC (`Dedup.nearDupClusters`)
  * stays the preferred path for deep graphs — Pregel with its own
  * partitioning — while this form exists because (a) a FIXED sweep count
  * unrolls to ANSI CTEs, putting connected components under the DuckDB
  * oracle gate (`q_cc_labelprop`), and (b) DataFrame-only pipelines keep
  * Catalyst/AQE end to end (GraphX drops to RDDs). Near-dup graphs in
  * practice are shallow (clusters of mutual near-copies), where the
  * diameter bound is small and this path is competitive.
  */
object LabelProp {

  private def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))

  private def sweep(sym: DataFrame, labels: DataFrame): DataFrame = {
    val nbr = sym
      .join(labels.select(col("v").as("dst"), col("lbl").as("nlbl")), "dst")
      .groupBy(col("src"))
      .agg(min(col("nlbl")).as("nmin"))
      .withColumnRenamed("src", "v")
    labels.join(nbr, Seq("v"), "left")
      .select(col("v"),
        least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
  }

  /** Labels after exactly `n` synchronous sweeps from lbl(v)=v —
    * deterministic for any partitioning (and possibly pre-convergence on
    * graphs deeper than `n`; that partial state is itself well-defined,
    * which is what lets the oracle SQL unroll it). Vertex set = edge
    * endpoints; edges are treated as undirected.
    *
    * Each sweep references the previous labels twice (neighbor-min join
    * + the left-join merge), so without truncation the edge-generation
    * lineage doubles per sweep — 2^n recomputes of what is often an
    * expensive candidate-pair pipeline upstream. `sym` and each sweep's
    * labels are therefore localCheckpoint'ed (same guard `run` uses);
    * the values are unchanged, only the recompute disappears. */
  def iterate(edges: DataFrame, n: Int): DataFrame = {
    val sym = symmetrize(edges).localCheckpoint()
    var labels = sym.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v"))
    for (_ <- 0 until n) labels = sweep(sym, labels).localCheckpoint()
    labels
  }

  /** DuckDB twin of [[iterate]] for the oracle SQL: CTEs `l0` … `l`n over
    * a CTE `sym` (src, dst) that already holds both edge directions; `l`n
    * holds the labels after `n` sweeps. */
  def iterateSql(n: Int): String =
    ("l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM sym)" +:
      (1 to n).map { i =>
        s"""l$i AS (
           |  SELECT l.v, least(l.lbl, coalesce(m.nmin, l.lbl)) AS lbl
           |  FROM l${i - 1} l LEFT JOIN (
           |    SELECT s.src AS v, min(x.lbl) AS nmin
           |    FROM sym s JOIN l${i - 1} x ON s.dst = x.v
           |    GROUP BY s.src) m ON l.v = m.v)""".stripMargin
      }).mkString(",\n")

  /** Propagate to fixpoint (component id = min vertex id reachable).
    * Each frontier is localCheckpoint'ed so the iterative plan's lineage
    * stays one sweep deep instead of growing with the iteration count —
    * the standard guard for driver-looped DataFrame algorithms. */
  def run(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    val sym = symmetrize(edges).cache()
    var labels = sym.select(col("src").as("v")).distinct()
      .withColumn("lbl", col("v"))
      .localCheckpoint()
    var iter = 0
    var done = false
    while (iter < maxIter && !done) {
      val next = sweep(sym, labels).localCheckpoint()
      done = next.as("n")
        .join(labels.as("p"), col("n.v") === col("p.v"))
        .filter(col("n.lbl") =!= col("p.lbl"))
        .isEmpty
      labels = next
      iter += 1
    }
    sym.unpersist()
    labels
  }
}
