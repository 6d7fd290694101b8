package graft

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` output of the executed final plan for a
  * set of registered queries — the optimization-round evidence files
  * under plans/r<n>/.
  *
  * Usage: SPARK_GRAFT_ONLY=q_a,q_b runMain graft.PlanDump <sfDir> <outDir> <suffix>
  * writes <outDir>/<query>_<suffix>.txt per selected query.
  */
object PlanDump {

  /** The formatted plan of `df` after running it the way [[PlanAudit]]
    * does, so AQE prints its final plan (`isFinalPlan=true`), the plan
    * PLANS.md counts, not the initial one. */
  def finalPlanText(df: org.apache.spark.sql.DataFrame): String = {
    val qe = df.queryExecution
    PlanAudit.executeOwnPlan(qe)
    qe.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "plans/r14"
    val suffix = if (args.length > 2) args(2) else "before"
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
      .getOrElse(Set.empty[String])
    val spark = Verify.session()
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.registry.filter(q => only.contains(q.name)).foreach { q =>
      try {
        val txt = finalPlanText(q.run(spark, sfDir))
        Files.write(Paths.get(s"$outDir/${q.name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[plandump] wrote ${q.name}_$suffix.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] ${q.name} FAILED: ${Verify.cause(e)}")
      }
    }
    spark.stop()
  }
}
