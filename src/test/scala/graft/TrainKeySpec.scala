package graft

import graft.ml.{AlsEngine, Antidote, Ratings}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Alg. 1's [R; X] train keys, combined from the halves' digest rows:
  * the combined row is the union pass's row, the U_grp trace after a
  * sweep runs no digest pass, and one changed X cell misses. */
class TrainKeySpec extends SparkTestBase {

  private def ratings: DataFrame = Ratings.viewCached(spark, sf)
  private val digestFrame = "AlsEngine$.digestBounds"

  test("the combined key of two frames equals digestBounds of their union") {
    import org.scalacheck.{Gen, Test}
    import org.scalacheck.Prop.forAll
    // a few ids, so halves overlap in ids and repeat whole rows
    val cell = for {
      u <- Gen.chooseNum(1L, 6L)
      i <- Gen.chooseNum(1L, 4L)
      r <- Gen.oneOf(1.0, 2.5, 3.1, 4.75, 5.0)
    } yield (u, i, r)
    val half = for {
      cells <- Gen.listOfN(6, cell).flatMap(cs =>
        Gen.someOf(cs ++ cs.take(2)).map(_.toSeq))
      longIds <- Gen.oneOf(true, false)
      doubleRating <- Gen.oneOf(true, false)
    } yield (cells, longIds, doubleRating)
    def frame(h: (Seq[(Long, Long, Double)], Boolean, Boolean)): DataFrame = {
      val (cells, longIds, doubleRating) = h
      val idType = if (longIds) LongType else IntegerType
      val schema = StructType(Seq(StructField("user_id", idType),
        StructField("item_id", idType),
        StructField("rating", if (doubleRating) DoubleType else FloatType)))
      def id(v: Long): Any = if (longIds) v else v.toInt
      val rows = cells.map { case (u, i, r) =>
        Row(id(u), id(i), if (doubleRating) r else r.toFloat) }
      spark.createDataFrame(java.util.Arrays.asList[Row](rows: _*), schema)
    }
    val prop = forAll(half, half) { (a, b) =>
      val (union, combined) = AlsEngine.unionDigest(frame(a), frame(b))
      val types = Seq("user_id", "item_id", "rating")
        .map(c => union.schema(c).dataType)
      combined.toSeq == AlsEngine.digestBounds(union, types).toSeq
    }
    val result = Test.check(
      Test.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(result.passed, result.status)
  }

  test("the U_grp trace after a sweep runs no AlsEngine.digestBounds job") {
    SharedBuild.clearAll()
    operators.MfQueries.warmSweep(spark, sf)
    val digestJobs = JobCount.jobsUnder(spark, digestFrame) {
      operators.MfQueries.qAntidoteTraceGrp.run(spark, sf).collect(); ()
    }
    assert(digestJobs == 0)
    SharedBuild.clearAll()
  }

  test("changing one X cell misses the train memo") {
    SharedBuild.clearAll()
    val cfg = AlsEngine.Config(maxIter = 2)
    val x0 = Antidote.initHeuristic(spark, ratings, 0.01,
      Antidote.userStats(ratings), None)
    val m = AlsEngine.trainAugmented(ratings, x0, cfg)
    assert(AlsEngine.trainAugmented(ratings, x0, cfg) eq m)

    val first = x0.orderBy("user_id", "item_id").head()
    val changed = x0.withColumn("rating",
      when(col("user_id") === first.getLong(0) &&
        col("item_id") === first.getLong(1), col("rating") * 0.5 + 0.25)
        .otherwise(col("rating")))
    val other = AlsEngine.trainAugmented(ratings, changed, cfg)
    assert(!(other eq m))

    // the same cells as a keyed checkpoint: its observed half is the row
    // a pass computes, so the train hits with no digest job
    val cp = AlsEngine.keyedCheckpoint(changed)
    var hit: org.apache.spark.ml.recommendation.ALSModel = null
    assert(JobCount.jobsUnder(spark, digestFrame) {
      hit = AlsEngine.trainAugmented(ratings, cp, cfg)
    } == 0)
    assert(hit eq other)
    SharedBuild.clearAll()
  }
}
