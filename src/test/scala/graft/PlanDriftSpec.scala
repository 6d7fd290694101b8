package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Plan-drift regression guard (VERDICT r8 task 7): the registry's
  * per-query physical-plan posture — shuffle exchanges, sort-merge joins,
  * cartesian products — was hand-adjudicated in PLANS.md; this spec pins
  * it. Committed snapshots are the budget; a code change that makes any
  * query's plan worse (an extra exchange, a broadcast demoted to SMJ, a
  * new cartesian) now fails `sbt test` instead of waiting for the next
  * judge pass.
  *
  * THREE snapshots are asserted, because broadcast decisions are
  * size-driven and drift differently per scale: the round-9 sf0.1 audit
  * caught five broadcast demotions (two to CartesianProduct) that were
  * invisible at sf0.001, and the round-10 sf1 ladder caught two more
  * visible only at sf1. `plan_budget.tsv` pins sf0.001 and always runs;
  * `plan_budget_sf01.tsv` pins sf0.1, opt-in via SPARK_GRAFT_PLAN_SF01=1;
  * `plan_budget_sf1.tsv` pins the GenData sf1 fixture, opt-in via
  * SPARK_GRAFT_PLAN_SF1=1 (each executes the registry against 10x/100x
  * data — judge/CI runs enable them, fast local loops skip by default).
  *
  * Counts are [[PlanFacts]] of the PRE-EXECUTION initial plan —
  * `executedPlan` unwrapped to AQE's `initialPlan`, i.e. AFTER
  * EnsureRequirements inserted the shuffle exchanges but BEFORE any
  * runtime re-plan — so the exchange budget is real (the bare `sparkPlan`
  * predates EnsureRequirements and counts zero exchanges for everything)
  * and the numbers are deterministic for fixed code + data + confs. AQE's
  * runtime demotions are not budgeted here; graft.PlanAudit counts them
  * on the executed final plans in PLANS.md, regenerated by hand. The
  * counts come from [[PlanSweep]], the one registry sweep per data dir
  * that PostureSpec also reads; its scaladoc says why that sweep is not
  * plan-only. Getting BETTER (fewer counts) is always allowed; regen the
  * snapshots to ratchet the budget down:
  *
  *   SPARK_GRAFT_PLAN_SNAPSHOT=regen sbt "testOnly graft.PlanDriftSpec"
  *
  * A NEW query missing from a snapshot fails the sweep — regen (and
  * review the new row's counts) in the same commit that adds the query.
  */
class PlanDriftSpec extends SparkTestBase {

  private val snapshots = Seq(
    sf -> "src/test/resources/plan_budget.tsv",
    "/root/testdata/sf0.1" -> "src/test/resources/plan_budget_sf01.tsv",
    "target/sf1" -> "src/test/resources/plan_budget_sf1.tsv")

  private def checkOrRegen(dataDir: String, snapshotPath: String): Unit = {
    val regen = sys.env.get("SPARK_GRAFT_PLAN_SNAPSHOT").contains("regen")
    val sweep = PlanSweep(dataDir)
    val errored = sweep.collect { case (n, Left(err)) => s"$n: $err" }
    assert(errored.isEmpty, s"plan sweep errors:\n${errored.mkString("\n")}")
    val live = sweep.collect { case (n, Right(f)) =>
      (n, (f.exchanges, f.sortMergeJoins, f.cartesians)) }
    if (regen) {
      val body = live.map { case (n, (ex, smj, cp)) =>
        s"$n\t$ex\t$smj\t$cp" }.sorted.mkString("", "\n", "\n")
      Files.createDirectories(Paths.get(snapshotPath).getParent)
      Files.write(Paths.get(snapshotPath), body.getBytes("UTF-8"))
      info(s"regenerated $snapshotPath (${live.size} queries)")
    } else {
      assert(Files.exists(Paths.get(snapshotPath)),
        s"missing $snapshotPath — regen with SPARK_GRAFT_PLAN_SNAPSHOT=regen")
      val budget = Files.readAllLines(Paths.get(snapshotPath)).asScala
        .filter(_.nonEmpty).map { l =>
          val c = l.split("\t")
          c(0) -> (c(1).toInt, c(2).toInt, c(3).toInt)
        }.toMap
      val violations = live.flatMap { case (n, (ex, smj, cp)) =>
        budget.get(n) match {
          case None => Some(s"$n: not in $snapshotPath — regen to add it")
          case Some((bex, bsmj, bcp)) =>
            val over = Seq(
              if (ex > bex) Some(s"exchanges $ex>$bex") else None,
              if (smj > bsmj) Some(s"sort-merge joins $smj>$bsmj") else None,
              if (cp > bcp) Some(s"cartesians $cp>$bcp") else None).flatten
            if (over.isEmpty) None
            else Some(s"$n: plan drifted (${over.mkString(", ")})")
        }
      }
      assert(violations.isEmpty,
        s"\n${violations.size} plan-drift violations:\n${
          violations.mkString("\n")}")
    }
  }

  test("per-query plan counts do not exceed the committed budget (sf0.001)") {
    checkOrRegen(snapshots.head._1, snapshots.head._2)
  }

  test("per-query plan counts do not exceed the committed budget (sf0.1)") {
    // Opt-in (ADVICE r10): the sweep executes the whole registry against
    // 10x data and dominates default `sbt test` wall time. Judge/CI runs
    // enable it; the sf0.001 leg above always runs.
    assume(sys.env.get("SPARK_GRAFT_PLAN_SF01").contains("1"),
      "sf0.1 plan sweep is opt-in: set SPARK_GRAFT_PLAN_SF01=1")
    checkOrRegen(snapshots(1)._1, snapshots(1)._2)
  }

  test("per-query plan counts do not exceed the committed budget (sf1)") {
    // Opt-in (VERDICT r10 task 7): the r10 ladder caught two
    // broadcast→cartesian demotions that were invisible below sf1
    // (estimator-driven, the q_periodogram class); this leg makes that
    // class fail a gated test instead of waiting for the next manual
    // ladder. The GenData fixture is (re)generated on demand — ~10x
    // sf0.1 data, so the sweep takes tens of minutes; enable it for
    // judge/CI ladder sessions only.
    assume(sys.env.get("SPARK_GRAFT_PLAN_SF1").contains("1"),
      "sf1 plan sweep is opt-in: set SPARK_GRAFT_PLAN_SF1=1")
    val dir = snapshots(2)._1
    if (!Files.exists(Paths.get(s"$dir/lineitem.parquet")))
      GenData.write(spark, dir, 10)
    checkOrRegen(dir, snapshots(2)._2)
  }

  test("the guard actually catches a deliberately worsened plan") {
    import org.apache.spark.sql.functions._
    val good = Tables.load(spark, sf, "lineitem")
      .groupBy("l_returnflag").agg(sum(col("l_quantity")).as("s"))
    val gex = PlanFacts.initial(good.queryExecution).exchanges
    assert(gex >= 1, // the aggregation's own EnsureRequirements exchange
      s"initial plan shows no exchange for a groupBy — guard is vacuous")
    // the same query with a gratuitous repartition — one extra exchange,
    // exactly the drift class the budget must trip on
    val bad = Tables.load(spark, sf, "lineitem")
      .repartition(16, col("l_partkey"))
      .groupBy("l_returnflag").agg(sum(col("l_quantity")).as("s"))
    val bex = PlanFacts.initial(bad.queryExecution).exchanges
    assert(bex > gex,
      s"planted repartition did not raise the exchange count ($bex vs $gex)")
  }
}
