package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Physical-plan audit over the whole registry: counts the operators that
  * dominate cost at scale (shuffles, join strategies, codegen coverage)
  * with [[PlanFacts]] on each query's final (post-AQE) plan and writes a
  * markdown table to PLANS.md. Streaming/side-effecting queries execute
  * through their normal path; the audit inspects the final batch plan of
  * whatever DataFrame the query returns.
  *
  * Usage: runMain graft.PlanAudit <sfDir> [outFile]
  */
object PlanAudit {

  /** Hand-written sections from this marker on (the reviewed notes and
    * adjudications) survive every rewrite and merge (round 9 lost two
    * appended sections to a merge run). */
  private val adjMarker = "<!-- adjudications: hand-written, preserved -->"

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = Paths.get(if (args.length > 1) args(1) else "PLANS.md")
    val old =
      if (Files.exists(out)) new String(Files.readAllBytes(out), "UTF-8")
      else ""
    // SPARK_GRAFT_ONLY=q1,q2 audits a subset and MERGES its rows into the
    // existing out file in registry order (adds/updates, never drops), so
    // a changed query's row can be refreshed without the full-registry
    // re-run; the summary lines are recomputed from the merged table.
    // A row is its cells after the query name: five counts and the error.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val prior: Map[String, Seq[String]] =
      if (only.isEmpty) Map.empty
      else old.linesIterator.collect {
        case l if l.startsWith("| q_") =>
          val c = l.split("\\|").map(_.trim)
          c(1) -> c.slice(2, 8).toSeq.padTo(6, "")
      }.toMap
    val spark = Verify.session()
    val rows = SparkEntry.registry.collect {
      case q if only.forall(_.contains(q.name)) =>
        q.name -> auditOne(spark, sfDir, q)
      case q if prior.contains(q.name) => q.name -> prior(q.name)
    }
    def having(col: Int) =
      rows.collect { case (n, c) if c(col).toInt > 0 => n } match {
        case Seq() => "none"
        case names => names.mkString(", ")
      }
    val adj = old.indexOf(adjMarker)
    val text = "# PLANS — executed-plan audit (auto-generated by " +
      s"graft.PlanAudit at $sfDir)\n" + """
      |Per registered query, counted once on the FINAL (post-AQE) plan by
      |`graft.PlanFacts` (not AQE's initial plan, not cached or subquery
      |plans; a reused exchange counts zero): shuffle exchanges, broadcast
      |joins, sort-merge joins, cartesian products, whole-stage-codegen
      |stages. The scale posture is: few exchanges, broadcasts for
      |dimension joins, zero unexpected cartesians (the only legitimate
      |ones are broadcast-cross by construction: tiny probe/centroid/count
      |tables), wide codegen.
      |
      || query | exchanges | broadcast joins | sort-merge joins | cartesian | codegen spans | error |
      ||---|---|---|---|---|---|---|
      |""".stripMargin +
      rows.map { case (n, c) => s"| $n | ${c.mkString(" | ")} |\n" }.mkString +
      s"\nQueries with sort-merge joins: ${having(2)}\n" +
      s"Queries with cartesian products: ${having(3)}\n" +
      (if (adj < 0) "" else "\n" + old.substring(adj))
    Files.write(out, text.getBytes("UTF-8"))
    println(s"[audit] wrote $out (${rows.size} queries)")
    spark.stop()
  }

  /** Execute the query's OWN plan to finalize AQE, but count at the RDD
    * layer instead of collect(): data-sized outputs (e.g. the 306M-row
    * q_antidote_init at sf1) blow spark.driver.maxResultSize under
    * collect, and a separate count() would finalize a different
    * QueryExecution than the one read afterwards. */
  private[graft] def executeOwnPlan(
      qe: org.apache.spark.sql.execution.QueryExecution): Long =
    qe.executedPlan.execute().count()

  private def auditOne(spark: SparkSession, sfDir: String,
      q: Q): Seq[String] =
    try {
      val qe = q.run(spark, sfDir).queryExecution
      executeOwnPlan(qe)
      val f = PlanFacts.executed(qe)
      Seq(f.exchanges, f.broadcastJoins, f.sortMergeJoins, f.cartesians,
        f.codegenSpans).map(_.toString) :+ ""
    } catch {
      case e: Throwable =>
        Seq.fill(5)("-1") :+ Verify.cause(e).replace("|", "/")
    }
}
