package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Physical-plan audit over the whole registry: counts the operators that
  * dominate cost at scale (shuffles, join strategies, codegen coverage)
  * and writes a markdown table to PLANS.md. Streaming/side-effecting
  * queries execute through their normal path; the audit inspects the
  * final batch plan of whatever DataFrame the query returns.
  *
  * Usage: runMain graft.PlanAudit <sfDir> [outFile]
  */
object PlanAudit {

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val out = if (args.length > 1) args(1) else "PLANS.md"
    // SPARK_GRAFT_ONLY=q1,q2 audits a subset and MERGES its rows into the
    // existing out file in registry order (adds/updates, never drops), so
    // a changed query's row can be refreshed without the full-registry
    // re-run; the summary lines are recomputed from the merged table.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val prior: Map[String, (Int, Int, Int, Int, Int, String)] =
      if (only.isEmpty || !Files.exists(Paths.get(out))) Map.empty
      else Files.readAllLines(Paths.get(out)).toArray.toSeq.collect {
        case l: String if l.startsWith("| q_") =>
          val c = l.split("\\|").map(_.trim)
          c(1) -> (c(2).toInt, c(3).toInt, c(4).toInt, c(5).toInt,
            c(6).toInt, if (c.length > 7) c(7) else "")
      }.toMap
    // Hand-written adjudication sections below the marker survive every
    // rewrite/merge (round 9 lost two appended sections to a merge run).
    val adjMarker = "<!-- adjudications: hand-written, preserved -->"
    val adjudications: String =
      if (!Files.exists(Paths.get(out))) ""
      else {
        val txt = new String(Files.readAllBytes(Paths.get(out)), "UTF-8")
        val i = txt.indexOf(adjMarker)
        if (i < 0) "" else txt.substring(i)
      }
    val spark = Verify.session()
    val rows = SparkEntry.registry
      .filter(q => only.forall(o => o.contains(q.name) ||
        prior.contains(q.name)))
      .map { q =>
        if (only.exists(o => !o.contains(q.name)))
          prior(q.name) match {
            case (ex, bc, smj, cp, wsc, err) =>
              (q.name, ex, bc, smj, cp, wsc, err)
          }
        else auditOne(spark, sfDir, q)
      }
    val sb = new StringBuilder
    sb.append("# PLANS — executed-plan audit (auto-generated by ")
    sb.append(s"graft.PlanAudit at $sfDir)\n\n")
    sb.append("Per registered query, counted on the FINAL (post-AQE) plan: ")
    sb.append("shuffle exchanges, broadcast joins, sort-merge joins, ")
    sb.append("cartesian products, whole-stage-codegen spans. The scale ")
    sb.append("posture is: few exchanges, broadcasts for dimension joins, ")
    sb.append("zero unexpected cartesians (the only legitimate ones are ")
    sb.append("broadcast-cross by construction: tiny probe/centroid/count ")
    sb.append("tables), wide codegen.\n\n")
    sb.append("| query | exchanges | broadcast joins | sort-merge joins | ")
    sb.append("cartesian | codegen spans | error |\n")
    sb.append("|---|---|---|---|---|---|---|\n")
    rows.foreach { case (name, ex, bc, smj, cp, wsc, err) =>
      sb.append(s"| $name | $ex | $bc | $smj | $cp | $wsc | $err |\n")
    }
    val smjTotal = rows.filter(_._4 > 0).map(_._1)
    val cpTotal = rows.filter(_._5 > 0).map(_._1)
    sb.append(s"\nQueries with sort-merge joins: ${
      if (smjTotal.isEmpty) "none" else smjTotal.mkString(", ")}\n")
    sb.append(s"Queries with cartesian products: ${
      if (cpTotal.isEmpty) "none" else cpTotal.mkString(", ")}\n")
    sb.append("""
Known-legitimate entries (reviewed):
- `q_join_full`: FULL OUTER cannot broadcast — SMJ is the only strategy.
- `q_funnel_stages`, `q_metric_*`: joins where BOTH sides are fact-sized
  at scale (per-user stage tables, predictions⋈ratings on (user,item)) —
  SMJ co-partitioned on the join key is the plan you want at 100 TB; AQE
  demotes to broadcast when a side is actually small.
- `q_mf_predict`, `q_mf_compact_train`: one side of each ALS join is a
  factor frame (users × rank or items × rank), not a fact table. Their
  sort-merge joins at fixture scale came from MLlib's unknown (8 EiB)
  size estimate for the factor frames; the fenced factor checkpoints now
  carry measured sizes, so the planner broadcasts them below
  `spark.sql.autoBroadcastJoinThreshold` and keeps shuffle joins above it.
- `q_mf_topk_recs`: MLlib's `recommendForAllUsers` blocked factor
  cross-join — the standard all-pairs scoring, blocked for BLAS; bounded by
  (users/block)×(items/block) tasks. With measured factor sizes it plans
  as a broadcast nested-loop join while a factor side fits the broadcast
  threshold, and as a CartesianProduct beyond it.
- `q_merge_upsert`, `q_snapshot_diff`: FULL OUTER of two PRE-AGGREGATED
  key-level sides (one row per key after the windows/group-bys) — SMJ on
  the merge key is the CDC/diff plan at scale.
- `q_rec_coverage`: ratings⋈item-means — both fact-sized at scale,
  co-partitioned on item_id; AQE broadcasts when items are few.
- `q_cc_labelprop`: 3 unrolled label-propagation sweeps — each sweep's
  edges⋈labels is vertex-keyed SMJ by design (O(|E|) rows per sweep);
  the high exchange count IS the iteration, not a planning miss.
- `q_negative_sample`: candidates⋈observed anti-join on (user, item) —
  both sides are fact-sized at scale, so the co-partitioned SMJ is the
  right plan; AQE demotes to broadcast when observed pairs are few.
""")
    if (adjudications.nonEmpty) sb.append("\n" + adjudications)
    Files.write(Paths.get(out), sb.toString.getBytes("UTF-8"))
    println(s"[audit] wrote $out (${rows.size} queries)")
    spark.stop()
  }

  private def auditOne(spark: SparkSession, sfDir: String,
      q: Q): (String, Int, Int, Int, Int, Int, String) =
    try {
      val df = q.run(spark, sfDir)
      // execute the query's OWN plan to finalize AQE, but count at the
      // RDD layer instead of collect(): data-sized outputs (e.g. the
      // 306M-row q_antidote_init at sf1) blow spark.driver.maxResultSize
      // under collect, and a separate count() would finalize a different
      // QueryExecution than the one audited below
      df.queryExecution.executedPlan.execute().count()
      val p = df.queryExecution.executedPlan.toString
      def n(pat: String) = pat.r.findAllIn(p).size
      (q.name,
        n("Exchange hashpartitioning|Exchange rangepartitioning|" +
          "Exchange SinglePartition"),
        n("BroadcastHashJoin|BroadcastNestedLoop"),
        n("SortMergeJoin"), n("CartesianProduct"),
        n("\\*\\(\\d+\\)"), "")
    } catch {
      case e: Throwable => (q.name, -1, -1, -1, -1, -1,
        e.getClass.getSimpleName)
    }
}
