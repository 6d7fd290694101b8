package graft

import graft.ml.{AlsEngine, Antidote, Metric, Ratings}
import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** The unfairness step memo: a hit replays the stepped iteration bit for
  * bit without running its jobs; any input the step reads misses. */
class StepMemoSpec extends SparkTestBase {

  // the memo's view, re-read after every clearAll(): a frame held across
  // one would lose its cache and recompute, and a recomputed view's row
  // order can change the float sums of the trains that read it
  private def ratings: DataFrame = Ratings.viewCached(spark, sf)
  private def groups: DataFrame = Tables.load(spark, sf, "customer")
    .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("grp"))
  private val cfg = AlsEngine.Config(maxIter = 2)
  private lazy val stats = Antidote.userStats(ratings)
  private def x0: DataFrame =
    Antidote.initHeuristic(spark, ratings, 0.01, stats, None)

  private def jobsUnder(frame: String)(f: => Unit): Int =
    JobCount.jobsUnder(spark, frame)(f)

  private val stepFrame = "Antidote$.stepEvaluated"

  private def run(metric: Metric, steps: Int)
      : (Seq[Row], Seq[Antidote.TracePoint]) = {
    val (x, trace) = Antidote.optimize(spark, ratings, x0, steps, stats,
      cfg, eta = 1e4, metric = metric)
    (x.orderBy("user_id", "item_id").collect().toSeq, trace)
  }

  /** The α-sweep's shape: train [R; X₀], then step that model. */
  private def sweepStep(metric: Metric): DataFrame = {
    val m0 = AlsEngine.train(ratings.unionByName(x0), cfg)
    Antidote.step(spark, ratings, x0, m0, stats, cfg, eta = 1e4,
      metric = metric)
  }

  for ((label, metric) <- Seq(
      "U_ind" -> (() => Metric.IndividualUnfairness),
      "U_grp" -> (() => Metric.GroupUnfairness(groups, "BUILDING",
        "MACHINERY")))) {
    test(s"$label: optimize after a sweep-shaped step equals a cold run bit for bit and skips the stepped iteration") {
      SharedBuild.clearAll()
      var cold: (Seq[Row], Seq[Antidote.TracePoint]) = null
      val coldSteps = jobsUnder(stepFrame) { cold = run(metric(), 2) }
      assert(cold._2.length == 3 && cold._1.nonEmpty)

      SharedBuild.clearAll()
      sweepStep(metric())
      var warm: (Seq[Row], Seq[Antidote.TracePoint]) = null
      val warmSteps = jobsUnder(stepFrame) { warm = run(metric(), 2) }
      assert(warm._2 == cold._2, s"trace ${warm._2} vs cold ${cold._2}")
      assert(warm._1 == cold._1, "final X differs from the cold run's")
      assert(warmSteps > 0 && warmSteps < coldSteps,
        s"step jobs: warm $warmSteps, cold $coldSteps")

      // T = 1: iteration 0 is the only step, so the hit runs no step job
      SharedBuild.clearAll()
      sweepStep(metric())
      assert(jobsUnder(stepFrame) { run(metric(), 1) } == 0)
      SharedBuild.clearAll()
      assert(jobsUnder(stepFrame) { run(metric(), 1) } > 0)
    }
  }

  test("changing eta, swapping the group labels or another groups frame misses") {
    SharedBuild.clearAll()
    val m0 = AlsEngine.train(ratings.unionByName(x0), cfg)
    def stepJobs(eta: Double, g: DataFrame, a: String, b: String): Int =
      jobsUnder(stepFrame) {
        Antidote.step(spark, ratings, x0, m0, stats, cfg, eta = eta,
          metric = Metric.GroupUnfairness(g, a, b))
      }
    assert(stepJobs(1e4, groups, "BUILDING", "MACHINERY") > 0)
    // a separately loaded, semantically equal groups frame hits
    assert(stepJobs(1e4, groups, "BUILDING", "MACHINERY") == 0)
    assert(stepJobs(2e4, groups, "BUILDING", "MACHINERY") > 0)
    assert(stepJobs(1e4, groups, "MACHINERY", "BUILDING") > 0)
    assert(stepJobs(1e4, groups.filter(col("user_id") % 2 === 0),
      "BUILDING", "MACHINERY") > 0)
    // U_ind on the same model is its own entry too
    assert(jobsUnder(stepFrame) {
      Antidote.step(spark, ratings, x0, m0, stats, cfg, eta = 1e4,
        metric = Metric.IndividualUnfairness)
    } > 0)
    SharedBuild.clearAll()
  }

  test("the step memo's cap evicts the oldest entry and frees its checkpoint") {
    SharedBuild.clearAll()
    val sc = spark.sparkContext
    val m0 = AlsEngine.train(ratings.unionByName(x0), cfg)
    def stepIds(eta: Double): Set[Int] = {
      val x1 = Antidote.step(spark, ratings, x0, m0, stats, cfg, eta = eta,
        metric = Metric.IndividualUnfairness)
      x1.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
        .toSet
    }
    val ids = (1 to 5).map(i => stepIds(1e3 * i))
    assert(ids.forall(_.size == 1) && ids.flatten.distinct.size == 5, ids)
    val persisted = sc.getPersistentRDDs.keySet.toSet
    assert((ids.head & persisted).isEmpty, "the evicted checkpoint is alive")
    assert(!ids.head.exists(SharedBuild.owns))
    assert(ids.tail.flatten.forall(id =>
      persisted.contains(id) && SharedBuild.owns(id)))
    assert(Antidote.stepMemo.ownedIds == ids.tail.flatten.toSet)
    SharedBuild.clearAll()
    assert((ids.flatten.toSet & sc.getPersistentRDDs.keySet.toSet).isEmpty)
  }

  test("the moments memo runs one factorMoments reduction per model, and clearAll drops it") {
    val momentsFrame = "Antidote$.factorMoments"
    SharedBuild.clearAll()
    val m0 = AlsEngine.train(ratings.unionByName(x0), cfg)
    // an evaluation and then a polarization step of the same model
    assert(jobsUnder(momentsFrame) {
      Antidote.evaluate(m0, ratings, Metric.Polarization)
    } > 0)
    assert(jobsUnder(momentsFrame) {
      Antidote.step(spark, ratings, x0, m0, stats, cfg, eta = 1e4)
    } == 0)
    // two q_antidote_step runs step the one memoized model
    def antidoteStep(): Unit = {
      operators.MfQueries.qAntidoteStep.run(spark, sf).collect(); ()
    }
    assert(jobsUnder(momentsFrame)(antidoteStep()) > 0)
    assert(jobsUnder(momentsFrame)(antidoteStep()) == 0)
    // a model no memo owns keeps its factors across clearAll(), so only
    // the moments entry goes
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val raw = new org.apache.spark.ml.recommendation.ALS()
      .setRank(2).setMaxIter(1).setSeed(1L)
      .setUserCol("user_id").setItemCol("item_id").setRatingCol("rating")
      .fit(ratings)
    val rawBlocks = sc.getPersistentRDDs.keySet.toSet -- before
    assert(jobsUnder(momentsFrame)(Antidote.factorMoments(raw)) > 0)
    assert(jobsUnder(momentsFrame)(Antidote.factorMoments(raw)) == 0)
    SharedBuild.clearAll()
    assert(jobsUnder(momentsFrame)(Antidote.factorMoments(raw)) > 0)
    SharedBuild.clearAll()
    rawBlocks.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
  }

  test("a train-memo plan hit runs no digest pass; rand(), one changed " +
      "rating and an evicted entry still run it") {
    val digestFrame = "AlsEngine$.digestBounds"
    SharedBuild.clearAll()
    val m = AlsEngine.train(ratings.unionByName(x0), cfg)

    // a separately built, semantically equal deterministic frame: the
    // uncached view's plan and a fresh X₀ frame
    def rebuilt: DataFrame = Ratings.view(spark, sf).unionByName(x0)
    var hit: ALSModel = null
    assert(jobsUnder(digestFrame) { hit = AlsEngine.train(rebuilt, cfg) } == 0)
    assert(hit eq m)

    // rand() makes the plan nondeterministic: every call runs the pass,
    // and the content key still finds the model
    def noisy: DataFrame = rebuilt.withColumn("noise", rand(7L))
    for (_ <- 1 to 2) {
      var r: ALSModel = null
      assert(jobsUnder(digestFrame) { r = AlsEngine.train(noisy, cfg) } > 0)
      assert(r eq m)
    }

    // one changed rating misses and fits: the train memo hands out one
    // instance per key, so a new instance is a new fit
    val first = x0.orderBy("user_id", "item_id").head()
    val changed = rebuilt.withColumn("rating",
      when(col("user_id") === first.getLong(0) &&
        col("item_id") === first.getLong(1), col("rating") * 0.5 + 0.25)
        .otherwise(col("rating")))
    var other: ALSModel = null
    assert(jobsUnder(digestFrame) { other = AlsEngine.train(changed, cfg) } > 0)
    assert(!(other eq m))

    // sixteen other trains of the same frame evict m's entry (cap 16): the
    // plan still finds the digest row, but the call re-runs the pass and
    // refits
    (1 to 16).foreach(i => AlsEngine.train(rebuilt,
      AlsEngine.Config(rank = 2, maxIter = 1, seed = i.toLong)))
    var refit: ALSModel = null
    assert(jobsUnder(digestFrame) { refit = AlsEngine.train(rebuilt, cfg) } > 0)
    assert(!(refit eq m))
    SharedBuild.clearAll()
  }
}
