package graft

import graft.ml.{AlsEngine, Antidote, Metric, Ratings}
import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  SortMergeJoinExec}
import org.apache.spark.sql.functions._

/** One Alg. 1 model's passes: fenced ALS factor frames carry measured
  * sizes (so the planner broadcasts them at fixture scale and falls back
  * to shuffle joins when told not to broadcast), the one-action model
  * evaluation equals the metrics and step constants computed separately,
  * and the fence leaves no cache behind. */
class Alg1PassSpec extends SparkTestBase {

  private lazy val ratings = Ratings.viewCached(spark, sf)
  private lazy val groups = Tables.load(spark, sf, "customer")
    .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("grp"))

  /** A model of [R; X] with a hash-random antidote block, so U_a is not
    * empty. */
  private lazy val model: ALSModel = AlsEngine.train(
    ratings.unionByName(Antidote.init(spark, ratings, 0.01,
      Antidote.userStats(ratings))),
    AlsEngine.Config(maxIter = 2))

  private def initialPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** The RDD ids of the LogicalRDD leaves behind the model's factors. */
  private def factorIds(m: ALSModel): Set[Int] =
    Seq(m.userFactors, m.itemFactors).flatMap(_.queryExecution.analyzed
      .collect { case l: LogicalRDD => l.rdd.id }).toSet

  private def readsFactors(p: SparkPlan, ids: Set[Int]): Boolean =
    p.collect { case s: RDDScanExec => s }.exists(s => ids.contains(s.rdd.id))

  test("fenced factor frames report measured sizes, not the unknown estimate") {
    for (f <- Seq(model.userFactors, model.itemFactors)) {
      val st = f.queryExecution.optimizedPlan.stats
      assert(st.rowCount.contains(BigInt(f.count())), s"$st")
      assert(st.sizeInBytes < BigInt(10L * 1024 * 1024), s"$st")
    }
  }

  test("predictKnown broadcasts the factor sides at sf0.001 and shuffles when broadcasts are off") {
    val ids = factorIds(model)
    val plan = initialPlan(AlsEngine.predictKnown(model, ratings))
    assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty, plan)
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.size == 2 && bhj.forall(j => readsFactors(j.right, ids)), plan)
    val factorShuffles = plan.collect { case e: ShuffleExchangeExec => e }
      .filter(e => readsFactors(e, ids))
    assert(factorShuffles.isEmpty, plan)

    val key = "spark.sql.autoBroadcastJoinThreshold"
    val before = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val off = initialPlan(AlsEngine.predictKnown(model, ratings))
      assert(off.collect { case j: SortMergeJoinExec => j }.size == 2, off)
      assert(off.collect { case j: BroadcastHashJoinExec => j }.isEmpty, off)
    } finally spark.conf.set(key, before)
  }

  test("the one-action evaluation equals the separately computed metrics and step constants") {
    val mx = Antidote.userStats(ratings).maxUserId
    val sq = (col("p") - col("rating")) * (col("p") - col("rating"))
    val (a, b) = ("BUILDING", "MACHINERY")
    val l = col("l_u")
    def byGroup(lu: DataFrame) = lu.agg(
      abs(avg(when(col("grp") === a, l)) - avg(when(col("grp") === b, l))),
      avg(when(col("grp") === a, l)), avg(when(col("grp") === b, l)),
      count(when(col("grp") === a, lit(1))),
      count(when(col("grp") === b, lit(1)))).head()
    def close(v: Double, want: Double): Unit =
      assert(math.abs(v - want) <= 1e-12 * want, s"$v vs $want")
    val ua = model.userFactors.filter(col("id") > mx).collect().toSeq
      .map(r => (r.getInt(0).toLong, r.getSeq[Float](1).map(_.toDouble)))
    assert(ua.nonEmpty)

    // separately: one action per value, over the very frames the fused
    // action read (cached when a step follows, so both read the same
    // partitions)
    val metrics = Seq(Metric.Polarization, Metric.IndividualUnfairness,
      Metric.GroupUnfairness(groups, a, b))
    for (metric <- metrics; stepping <- Seq(None, Some(mx))) {
      val ev = Antidote.evaluateModel(model, ratings, metric, stepping)
      try {
        val ls = ev.loss
        close(ls.rmse, ev.pred.agg(sqrt(avg(sq))).head().getDouble(0))
        assert(ev.point.rmse == BigDecimal(ls.rmse)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, metric)
        val ind = ev.lu.agg(var_pop(l), avg(l), count(lit(1))).head()
        assert(ls.indUnfairness == ind.getDouble(0), metric)
        assert(ls.lBar == ind.getDouble(1) && ls.n == ind.getLong(2), metric)
        metric match {
          case Metric.Polarization =>
            assert(ev.point.objective == Antidote.polarization(model))
          case Metric.IndividualUnfairness =>
            assert(ev.point.objective == ind.getDouble(0))
          case _: Metric.GroupUnfairness =>
            val grp = byGroup(ev.lu)
            assert(ev.point.objective == grp.getDouble(0))
            assert(ls.lA == grp.getDouble(1) && ls.lB == grp.getDouble(2))
            assert(ls.nA == grp.getLong(3) && ls.nB == grp.getLong(4))
        }
        val wantUa = if (stepping.nonEmpty &&
          metric != Metric.Polarization) ua else Nil
        assert(ls.ua.map { case (id, u) => (id, u.toSeq) } == wantUa, metric)
      } finally ev.unpersist()
    }

    val pred = AlsEngine.predictKnown(model, ratings)
    val lu = pred.groupBy("user_id").agg(avg(sq).as("l_u"))
      .join(groups, Seq("user_id"), "left")
    val all = Antidote.evaluateAll(model, ratings, groups, a, b)
    all.values.foreach(p => close(p.rmse,
      pred.agg(sqrt(avg(sq))).head().getDouble(0)))
    assert(all("ind_unfairness").objective ==
      lu.agg(var_pop(l)).head().getDouble(0))
    assert(all("grp_unfairness").objective == byGroup(lu).getDouble(0))
    assert(all("polarization").objective == Antidote.polarization(model))
  }

  test("a train leaves persisted exactly the checkpoints its memo owns") {
    val aug = ratings.unionByName(Antidote.init(spark, ratings, 0.02,
      Antidote.userStats(ratings)))
    val sc = spark.sparkContext
    def cfg(iters: Int) = AlsEngine.Config(maxIter = iters, seed = 7L)
    // explicit fits on both sides of the checkpoint rule (MLlib's
    // checkpoints stay on past 10 iterations), and an implicit fit, which
    // persists its own per-iteration factors
    val fits: Seq[(String, () => ALSModel)] = Seq(
      "explicit, 2 iterations" -> (() => AlsEngine.train(aug, cfg(2))),
      "explicit, 12 iterations" -> (() => AlsEngine.train(aug, cfg(12))),
      "implicit, 2 iterations" -> (() => AlsEngine.trainImplicit(aug, cfg(2))))
    for ((label, fit) <- fits) {
      val before = sc.getPersistentRDDs.keySet.toSet
      val m = fit()
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      assert(added == factorIds(m),
        s"$label: added $added, factors ${factorIds(m)}")
      assert(added.forall(SharedBuild.owns), s"$label: $added not owned")
    }
  }

  test("factors equal a default-configured MLlib fit bit for bit") {
    val sc = spark.sparkContext
    // a checkpoint dir, so the reference checkpoints at its default
    // interval as MLlib does once one is set
    if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir("target/checkpoints")
    val prepared = ratings.select(col("user_id").cast("int").as("user"),
      col("item_id").cast("int").as("item"),
      col("rating").cast("float").as("rating"))
    def bits(f: DataFrame): Seq[(Int, Seq[Int])] = f.collect().toSeq
      .map(r => (r.getInt(0),
        r.getSeq[Float](1).map(java.lang.Float.floatToRawIntBits)))
      .sortBy(_._1)
    for (iters <- Seq(3, 12)) {
      val cfg = AlsEngine.Config(maxIter = iters, seed = 11L)
      val m = AlsEngine.train(ratings, cfg)
      val before = sc.getPersistentRDDs.keySet.toSet
      val ref = new org.apache.spark.ml.recommendation.ALS()
        .setRank(cfg.rank).setRegParam(cfg.regParam).setMaxIter(iters)
        .setSeed(cfg.seed)
        .setUserCol("user").setItemCol("item").setRatingCol("rating")
        .setColdStartStrategy("drop")
        .fit(prepared)
      try {
        assert(bits(m.userFactors) == bits(ref.userFactors), s"$iters")
        assert(bits(m.itemFactors) == bits(ref.itemFactors), s"$iters")
      } finally (sc.getPersistentRDDs.keySet.toSet -- before).foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
    }
  }
}
