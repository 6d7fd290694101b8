package graft

import graft.ml.{AlsEngine, Antidote, Baseline, Ratings}
import graft.operators.MfQueries
import org.apache.spark.sql.functions._

/** `q_antidote_eval`'s local residue algebra against the Spark and
  * BigInt forms it replaces, and an upper bound on the Spark jobs of the
  * antidote readouts, so a new pre-pass fails here rather than only
  * showing in a benchmark. */
class AntidoteQuerySpec extends SparkTestBase {

  test("the closed-form user-residue histogram equals the Spark count") {
    val fixtureMax = Antidote.userStatsCached(spark, sf).maxUserId
    for (maxUserId <- Seq(fixtureMax, 3000000000L);
         kT <- Seq(1L, 15L, 999L, 1000L, 1001L, 2500L)) {
      val want = new Array[Long](1000)
      spark.range(1, kT + 1)
        .select(((col("id") + maxUserId) * 2654435761L % 1000).as("ra"))
        .groupBy("ra").count().collect()
        .foreach(r => want(r.getLong(0).toInt) = r.getLong(1))
      assert(MfQueries.userResidues(kT, maxUserId).toSeq == want.toSeq,
        s"k̃ = $kT, max user id $maxUserId")
    }
    // past Long range both fail, as ANSI arithmetic does
    val huge = 4000000000L
    intercept[ArithmeticException](MfQueries.userResidues(15L, huge))
    intercept[ArithmeticException](spark.range(1, 16)
      .select(((col("id") + huge) * 2654435761L % 1000).as("ra"))
      .collect())
  }

  test("the Long residue means equal the BigInt ones on the fixture's items") {
    val hI = new Array[Long](1000)
    Ratings.viewCached(spark, sf).select("item_id").distinct()
      .groupBy((col("item_id") * 40503L % 1000).as("si")).count().collect()
      .foreach(r => hI(r.getLong(0).toInt) = r.getLong(1))
    val mItems = Antidote.userStatsCached(spark, sf).nItems
    val g6 = (0 until 1000).map(m =>
      (2L * (999 + 4 * m) * 1000000L + 999) / 1998)
    val want = (0 until 1000).map { ra =>
      var acc = BigInt(0)
      for (si <- 0 until 1000 if hI(si) > 0)
        acc += BigInt(hI(si)) * g6((ra + si) % 1000)
      (BigDecimal(acc) / (BigDecimal(mItems) * 1000000)).toDouble
    }
    val got = MfQueries.residueMeans(hI, mItems)
    assert(got.map(java.lang.Double.doubleToRawLongBits).toSeq ==
      want.map(java.lang.Double.doubleToRawLongBits))
  }

  test("the antidote readouts stay within their Spark job budgets") {
    // the state a serve call finds after a build: the memoized view, its
    // scalars and baseline, and the base model (which holds R's half of
    // every [R; X] train key)
    SharedBuild.clearAll()
    Ratings.viewCached(spark, sf)
    Antidote.userStatsCached(spark, sf)
    Baseline.polRmseCached(spark, sf)
    AlsEngine.trainCachedOnRatingsView(spark, sf)
    // measured at sf0.001; they were 7, 23 and 27 with the schema,
    // histogram and digest pre-passes these queries no longer run
    val budgets = Seq(MfQueries.qAntidoteInit -> 5,
      MfQueries.qAntidoteEval -> 12, MfQueries.qAntidoteStep -> 19)
    for ((q, budget) <- budgets) {
      val n = JobCount.jobs(spark)(q.run(spark, sf).collect())
      info(s"${q.name}: $n jobs")
      assert(n <= budget, s"${q.name} ran $n jobs, budget $budget")
    }
    SharedBuild.clearAll()
  }
}
