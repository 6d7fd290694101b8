package graft

import graft.ml.{AlsEngine, Antidote, Baseline, Metric, Ratings}
import org.apache.spark.sql.functions._

/** MF-family semantics that can't be DuckDB-checked: ALS correctness vs a
  * closed form, antidote descent, metric invariants (SURVEY §5.3-5.4). */
class MfSpec extends SparkTestBase {

  test("ALS recovers a rank-1 fully-observed matrix (closed form)") {
    import spark.implicits._
    val a = (1 to 10).map(_.toDouble / 3)
    val b = (1 to 8).map(_.toDouble / 5)
    val cells = for (u <- a.indices; i <- b.indices)
      yield (u.toLong, i.toLong, a(u) * b(i))
    val ratings = cells.toDF("user_id", "item_id", "rating")
    val model = AlsEngine.train(ratings,
      AlsEngine.Config(rank = 2, regParam = 0.01, maxIter = 20, seed = 42))
    val rmse = AlsEngine.rmse(model, ratings).head().getDouble(0)
    assert(rmse < 0.05, s"rank-1 rmse $rmse")
  }

  test("ALS on the ratings view beats the baseline predictor's RMSE") {
    val ratings = Ratings.view(spark, sf).cache()
    val baseRmse = Baseline.rmse(Baseline.predictions(ratings))
      .head().getDouble(0)
    val model = AlsEngine.train(ratings)
    val alsRmse = AlsEngine.rmse(model, ratings).head().getDouble(0)
    assert(alsRmse < baseRmse, s"als $alsRmse vs baseline $baseRmse")
  }

  test("implicit ALS: observed pairs score above unobserved on average") {
    import spark.implicits._
    val ratings = Ratings.view(spark, sf)
    val model = AlsEngine.trainImplicit(ratings)
    assert(model.userFactors.count() > 0 && model.itemFactors.count() > 0)
    // implicit factors model PREFERENCE: the mean predicted score on
    // observed (user, item) pairs must exceed the mean on a disjoint
    // deterministic sample of unobserved pairs
    val obs = ratings.select(col("user_id").cast("int").as("user"),
      col("item_id").cast("int").as("item"))
    val users = obs.select("user").distinct()
    val items = obs.select("item").distinct()
    val candidate = users.crossJoin(items)
      .filter((col("user") * 31 + col("item")) % 17 === 0)
      .join(obs, Seq("user", "item"), "left_anti")
    def meanScore(pairs: org.apache.spark.sql.DataFrame): Double =
      model.transform(pairs).agg(avg(col("prediction")))
        .head().getDouble(0)
    val mObs = meanScore(obs)
    val mUnobs = meanScore(candidate)
    assert(mObs > mUnobs,
      s"observed mean $mObs should exceed unobserved mean $mUnobs")
  }

  test("held-out protocol: hash split disjoint+total, ALS and baseline test-RMSE sane") {
    val ratings = Ratings.view(spark, sf).cache()
    val (tr, te) = Baseline.holdoutSplit(ratings)
    val (nTr, nTe, nAll) = (tr.count(), te.count(), ratings.count())
    assert(nTr + nTe == nAll, s"split not a partition: $nTr + $nTe != $nAll")
    assert(nTe > 0 && nTr > nTe, s"split skew: train $nTr test $nTe")
    // content-hash split ⇒ ~80/20; allow wide slack for small fixtures
    val frac = nTr.toDouble / nAll
    assert(frac > 0.7 && frac < 0.9, s"train fraction $frac")
    val baseHold = graft.ml.Baseline.holdoutRmse(ratings).head()
    val baseRmse = baseHold.getDouble(0)
    assert(baseHold.getLong(1) == nTe)
    assert(baseRmse > 0 && baseRmse < 2.0, s"baseline held-out rmse $baseRmse")
    // ALS fit on train only, scored on the unseen cells (cold-start rows
    // dropped by the model's drop strategy)
    val model = AlsEngine.train(tr)
    val alsRmse = AlsEngine.rmse(model, te).head().getDouble(0)
    assert(!alsRmse.isNaN && alsRmse > 0 && alsRmse < 2.0,
      s"ALS held-out rmse $alsRmse")
  }

  test("fold-in: training users' folded factors reproduce model factors " +
    "and predictions") {
    import org.apache.spark.sql.functions._
    val ratings = Ratings.view(spark, sf).cache()
    val model = AlsEngine.train(ratings)
    val slice = ratings.filter(col("user_id") % 10 === 3)
    val folded = AlsEngine.foldInUsers(model, slice)
    // ALS's final half-step solves user factors exactly from item factors
    // (same ridge system fold-in solves), so folded factors of TRAINING
    // users must match the model's own — up to the model's float storage.
    val uf = model.userFactors.select(col("id").cast("long").as("user_id"),
      col("features").as("mf"))
    val maxDiff = folded.join(uf, "user_id")
      .select(aggregate(zip_with(col("features"), col("mf"),
          (a, b) => abs(a - b.cast("double"))),
        lit(0.0), (acc, v) => greatest(acc, v)).as("d"))
      .agg(max(col("d"))).head.getDouble(0)
    assert(maxDiff < 1e-4,
      s"fold-in factor deviates from model factor by $maxDiff")
    // predictions through the folded factors match model.transform
    val fp = AlsEngine.foldInPredict(model, slice)
      .select(col("user_id"), col("item_id"), col("p").as("fp"))
    val mp = AlsEngine.predictKnown(model, slice)
      .select(col("user_id"), col("item_id"), col("p").as("mp"))
    val maxPredDiff = fp.join(mp, Seq("user_id", "item_id"))
      .agg(max(abs(col("fp") - col("mp")))).head.getDouble(0)
    assert(maxPredDiff < 1e-3,
      s"fold-in prediction deviates by $maxPredDiff")
  }

  test("antidote init: budget size, id range, ratings within [1,5]") {
    val ratings = Ratings.view(spark, sf).cache()
    val x = Antidote.init(spark, ratings, 0.01, Antidote.userStats(ratings))
      .cache()
    val nUsers = ratings.select("user_id").distinct().count()
    val nItems = ratings.select("item_id").distinct().count()
    assert(x.count() == math.ceil(0.01 * nUsers).toLong * nItems)
    assert(x.filter(col("rating") < 1 || col("rating") > 5).count() == 0)
    val maxReal = ratings.agg(max("user_id")).head().getLong(0)
    assert(x.agg(min("user_id")).head().getLong(0) > maxReal)
  }

  test("heuristic init (paper 4.3): deterministic, in-range, beats hash-random at equal budget") {
    val ratings = Ratings.view(spark, sf).cache()
    val cfg = AlsEngine.Config(maxIter = 5)
    // alpha = 0.05: at the fixture scale the 0.01 budget is ~1 user and
    // init quality disappears into ALS noise; 0.05 gives a clear signal
    val stats = Antidote.userStats(ratings)
    val heu = Antidote.initHeuristic(spark, ratings, 0.05, stats, None)
      .cache()
    val rnd = Antidote.init(spark, ratings, 0.05, stats).cache()
    // same budget shape as the hash-random init, ratings in range
    assert(heu.count() == rnd.count())
    assert(heu.filter(col("rating") < 1 || col("rating") > 5).count() == 0)
    // deterministic: identical rows across two derivations at different
    // shuffle parallelism (round-6 absorbs the avg merge order)
    val conf = spark.conf
    val orig = conf.get("spark.sql.shuffle.partitions")
    val a = try {
      conf.set("spark.sql.shuffle.partitions", "5")
      Antidote.initHeuristic(spark, ratings, 0.05, stats, None)
        .orderBy("user_id", "item_id").collect().map(_.toString).toSeq
    } finally conf.set("spark.sql.shuffle.partitions", orig)
    val b = heu.orderBy("user_id", "item_id").collect().map(_.toString).toSeq
    assert(a == b, "heuristic init not partitioning-invariant")
    // equal GD budget (one projected step each): the warm start must do
    // at least as well on the objective as hash-random init
    def objAfter(x0: org.apache.spark.sql.DataFrame): Double = {
      val x1 = Antidote.step(spark, ratings, x0,
        AlsEngine.train(ratings.unionByName(x0), cfg), stats, cfg, eta = 1e4)
      Antidote.polarization(AlsEngine.train(ratings.unionByName(x1), cfg))
    }
    val heuObj = objAfter(heu)
    val rndObj = objAfter(rnd)
    assert(heuObj <= rndObj * 1.0001,
      s"heuristic-init objective $heuObj > hash-random $rndObj")
  }

  test("projected GD step stays in [1,5] and does not increase polarization") {
    val ratings = Ratings.view(spark, sf).cache()
    val cfg = AlsEngine.Config(maxIter = 5)
    val stats = Antidote.userStats(ratings)
    val x0 = Antidote.init(spark, ratings, 0.01, stats).cache()
    val before = Antidote.polarization(
      AlsEngine.train(ratings.unionByName(x0), cfg))
    val x1 = Antidote.step(spark, ratings, x0,
      AlsEngine.train(ratings.unionByName(x0), cfg), stats, cfg, eta = 1e4)
      .cache()
    assert(x1.filter(col("rating") < 1 || col("rating") > 5).count() == 0)
    assert(x1.count() == x0.count())
    val after = Antidote.polarization(
      AlsEngine.train(ratings.unionByName(x1), cfg))
    assert(after <= before * 1.05,
      s"polarization went $before -> $after")
  }

  test("Alg 1 loop: objective trace is non-increasing over 3 iterations") {
    val ratings = Ratings.view(spark, sf).cache()
    val cfg = AlsEngine.Config(maxIter = 5)
    val stats = Antidote.userStats(ratings)
    val (_, trace) = Antidote.optimize(spark, ratings,
      Antidote.init(spark, ratings, 0.01, stats), 3, stats, cfg, eta = 1e4)
    assert(trace.length == 4)
    trace.map(_.objective).sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * 1.05, s"objective rose: $trace")
    }
    assert(trace.last.objective <= trace.head.objective,
      s"no net improvement: $trace")
    // the trace carries BOTH curves of the paper's figure: metric + rmse
    assert(trace.forall(p => p.rmse > 0 && p.rmse.isFinite), s"$trace")
  }

  test("U_ind antidote: objective non-increasing over 3 iterations") {
    val ratings = Ratings.view(spark, sf).cache()
    val cfg = AlsEngine.Config(maxIter = 5)
    val stats = Antidote.userStats(ratings)
    val (x, trace) = Antidote.optimize(spark, ratings,
      Antidote.init(spark, ratings, 0.01, stats), 3, stats, cfg,
      eta = 1e4, metric = ml.Metric.IndividualUnfairness)
    assert(x.filter(col("rating") < 1 || col("rating") > 5).count() == 0)
    assert(trace.length == 4)
    trace.map(_.objective).sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * 1.05, s"U_ind rose: $trace")
    }
    assert(trace.last.objective <= trace.head.objective,
      s"no net U_ind improvement: $trace")
  }

  test("U_grp antidote: objective non-increasing over 3 iterations") {
    val ratings = Ratings.view(spark, sf).cache()
    val cfg = AlsEngine.Config(maxIter = 5)
    // A grouping with a STRUCTURAL loss gap (median split on the initial
    // per-user ALS loss): market segments are random w.r.t. loss, so their
    // gap is refit noise and no optimizer can descend it monotonically.
    val stats = Antidote.userStats(ratings)
    val model0 = AlsEngine.train(
      ratings.unionByName(Antidote.init(spark, ratings, 0.01, stats)), cfg)
    val lu = AlsEngine.predictKnown(model0, ratings)
      .groupBy("user_id")
      .agg(avg((col("p") - col("rating")) * (col("p") - col("rating")))
        .as("l_u"))
    val medLoss = lu.agg(percentile(col("l_u"), lit(0.5))).head().getDouble(0)
    val groups = lu.select(col("user_id"),
      when(col("l_u") > medLoss, "HI").otherwise("LO").as("grp"))
    val (x, trace) = Antidote.optimize(spark, ratings,
      Antidote.init(spark, ratings, 0.01, stats), 3, stats, cfg,
      eta = 1e4,
      metric = ml.Metric.GroupUnfairness(groups, "HI", "LO"))
    assert(x.filter(col("rating") < 1 || col("rating") > 5).count() == 0)
    assert(trace.length == 4)
    trace.map(_.objective).sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * 1.05, s"U_grp rose: $trace")
    }
    assert(trace.last.objective <= trace.head.objective,
      s"no net U_grp improvement: $trace")
  }

  test("q_antidote_trace_ind: T+1 rows, non-increasing U_ind, finite rmse") {
    val rows = operators.MfQueries.qAntidoteTraceInd.run(spark, sf)
      .orderBy("iter").collect()
    info(rows.map(_.toString).mkString("trace rows: ", " | ", ""))
    assert(rows.length == 3) // T = 2 steps -> init + 2 trace points
    val objs = rows.map(_.getDouble(1))
    objs.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a * 1.05, s"U_ind rose: ${objs.mkString(",")}")
    }
    assert(objs.last <= objs.head,
      s"no net U_ind improvement: ${objs.mkString(",")}")
    assert(rows.map(_.getDouble(2)).forall(r => r > 0 && r < 2.0))
  }

  test("delimited ratings loader parses ::-separated MovieLens lines") {
    val dir = "target/tmp/ratings_dat"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/ratings.dat"),
      "1::10::4.5::978300760\n2::20::3.0::978302109\n1::20::5.0::978301968\n"
        .getBytes("UTF-8"))
    val df = Ratings.loadDelimited(spark, dir)
    assert(df.schema.fieldNames.toSeq ==
      Seq("user_id", "item_id", "rating", "ts"))
    assert(df.count() == 3)
    assert(df.filter(col("user_id") === 1 && col("item_id") === 10 &&
      col("rating") === 4.5 && col("ts") === 978300760L).count() == 1)
  }

  test("plain train fails loudly on ids beyond Int range") {
    import spark.implicits._
    val ratings = Seq((5000000000L, 1L, 3.0), (2L, 2L, 4.0))
      .toDF("user_id", "item_id", "rating")
    val e = intercept[IllegalArgumentException] {
      AlsEngine.train(ratings, AlsEngine.Config(rank = 2, maxIter = 1))
    }
    assert(e.getMessage.contains("trainCompacted"), e.getMessage)
  }

  test("train and trainImplicit fail loudly on empty ratings input") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long, Double)]
      .toDF("user_id", "item_id", "rating")
    val e1 = intercept[IllegalArgumentException] {
      AlsEngine.train(empty, AlsEngine.Config(rank = 2, maxIter = 1))
    }
    assert(e1.getMessage.contains("empty ratings"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      AlsEngine.trainImplicit(empty, AlsEngine.Config(rank = 2, maxIter = 1))
    }
    assert(e2.getMessage.contains("empty ratings"), e2.getMessage)
  }

  test("id compaction trains ALS over Long ids beyond Int range") {
    import spark.implicits._
    val big = 5000000000L // > 2^31: the plain Int cast would corrupt these
    val cells = for (u <- 0 until 10; i <- 0 until 8)
      yield (big + u * 1000L, big * 2 + i * 77L, ((u * i) % 5 + 1).toDouble)
    val ratings = cells.toDF("user_id", "item_id", "rating")
    val (model, uf, itf) =
      AlsEngine.trainCompacted(ratings, AlsEngine.Config(rank = 2, maxIter = 5))
    assert(model.rank == 2)
    assert(uf.count() == 10 && itf.count() == 8)
    // factor frames are re-keyed to the ORIGINAL Long ids
    assert(uf.agg(min("user_id")).head().getLong(0) == big)
    assert(itf.agg(min("item_id")).head().getLong(0) == big * 2)
    assert(uf.schema("features").dataType.isInstanceOf[
      org.apache.spark.sql.types.ArrayType])
  }

  test("metric invariants: perfect predictor, constant matrix, symmetry") {
    import spark.implicits._
    val pred = Seq((1L, 1L, 3.0, 3.0), (1L, 2L, 4.0, 4.0),
      (2L, 1L, 2.0, 2.0), (2L, 2L, 5.0, 5.0))
      .toDF("user_id", "item_id", "rating", "p")
    assert(Baseline.rmse(pred).head().getDouble(0) == 0.0)

    val const = Seq((1L, 1L, 3.0, 2.5), (2L, 1L, 4.0, 2.5),
      (1L, 2L, 1.0, 2.5), (2L, 2L, 2.0, 2.5))
      .toDF("user_id", "item_id", "rating", "p")
    assert(Baseline.polarization(const).head().getDouble(0) == 0.0)

    val cust = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val g1 = Baseline.groupUnfairness(pred, cust, "BUILDING", "MACHINERY")
      .head().getDouble(0)
    val g2 = Baseline.groupUnfairness(pred, cust, "MACHINERY", "BUILDING")
      .head().getDouble(0)
    assert(g1 == g2) // symmetric under group swap

    // The §3 metrics on a small fully observed matrix, 3 users × 2 items,
    // scored by a rank-1 model with user factors (1, 2, 3) and item
    // factors (1, 2), so p(u, i) = u·v:
    //   user  ratings  predictions  squared errors  ℓ_u  group
    //   1     (1, 3)   (1, 2)       (0, 1)          1/2  BUILDING
    //   2     (2, 4)   (2, 4)       (0, 0)          0    BUILDING
    //   3     (5, 6)   (3, 6)       (4, 0)          2    MACHINERY
    // RMSE = √((0 + 1 + 0 + 0 + 4 + 0) / 6) = √(5/6) ≈ 0.912871.
    // Polarization = mean over items of the across-user variance of p:
    //   item 1: var(1, 2, 3) = 2/3; item 2: var(2, 4, 6) = 8/3; mean 5/3.
    // U_ind = var(1/2, 0, 2) = (1/4 + 0 + 4)/3 − (5/6)² = 13/18.
    // U_grp = |mean(1/2, 0) − mean(2)| = |1/4 − 2| = 7/4.
    // Every cell is observed, so the known-cell polarization (Baseline)
    // and the all-pairs closed form (Antidote) agree.
    val (rmse, pol, uInd, uGrp) =
      (math.sqrt(5.0 / 6), 5.0 / 3, 13.0 / 18, 7.0 / 4)
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ratings = Seq((1L, 1L, 1.0), (1L, 2L, 3.0), (2L, 1L, 2.0),
      (2L, 2L, 4.0), (3L, 1L, 5.0), (3L, 2L, 6.0))
      .toDF("user_id", "item_id", "rating")
    val model = org.apache.spark.ml.recommendation.ToyAlsModel(1,
      Seq((1, Seq(1f)), (2, Seq(2f)), (3, Seq(3f))).toDF("id", "features"),
      Seq((1, Seq(1f)), (2, Seq(2f))).toDF("id", "features"))
    val segs = Seq((1L, "BUILDING"), (2L, "BUILDING"), (3L, "MACHINERY"))
    val scored = AlsEngine.predictKnown(model, ratings)
    def one(df: org.apache.spark.sql.DataFrame): Double =
      df.head().getDouble(0)
    assert(one(Baseline.rmse(scored)) == round6(rmse))
    assert(one(Baseline.polarization(scored)) == round6(pol))
    assert(one(Baseline.individualUnfairness(scored)) == round6(uInd))
    assert(one(Baseline.groupUnfairness(scored,
      segs.toDF("c_custkey", "c_mktsegment"), "BUILDING", "MACHINERY"))
      == round6(uGrp))

    val loss = Antidote.evaluateModel(model, ratings,
      Metric.GroupUnfairness(segs.toDF("user_id", "grp"),
        "BUILDING", "MACHINERY"), None).loss
    assert(math.abs(loss.rmse - rmse) < 1e-12, s"rmse ${loss.rmse}")
    assert(loss.rmse6 == round6(rmse))
    assert(math.abs(loss.indUnfairness - uInd) < 1e-12,
      s"U_ind ${loss.indUnfairness}")
    assert(math.abs(loss.grpUnfairness - uGrp) < 1e-12,
      s"U_grp ${loss.grpUnfairness}")
    assert(math.abs(Antidote.polarization(model) - pol) < 1e-9)
  }

  test("antidote rating formula lands in [1,5] for any non-negative ids") {
    import org.scalacheck.Gen
    import org.scalacheck.Prop.forAll
    import org.scalatest.matchers.should.Matchers._
    val ids = Gen.chooseNum(0L, 2000000L)
    val prop = forAll(ids, ids) { (u, i) =>
      val h = (u * 2654435761L + i * 40503L) % 1000
      val r = 1 + 4.0 * h / 999.0
      r >= 1.0 && r <= 5.0
    }
    prop.check(_.withMinSuccessfulTests(500))
  }

  test("decimal aggregation is invariant to partition count") {
    // the determinism contract's core claim: exact decimal sums make
    // results independent of parallelism / reduction order
    val li = Tables.load(spark, sf, "lineitem")
    def run(parts: Int) = li.repartition(parts)
      .groupBy("l_returnflag")
      .agg(org.apache.spark.sql.functions.sum(
        graft.Dsl.dec2(col("l_quantity"))).as("s"))
      .orderBy("l_returnflag").collect().toSeq
    assert(run(1) == run(7) && run(7) == run(32))
  }

  test("set-operation algebra and dedup idempotence") {
    val c = Tables.load(spark, sf, "customer").select("c_nationkey")
    assert(c.except(c).count() == 0)
    val s = Tables.load(spark, sf, "supplier").select("s_nationkey")
    assert(c.unionAll(s.toDF("c_nationkey")).count() == c.count() + s.count())
    val e = Tables.load(spark, sf, "events")
    val d1 = e.dropDuplicates("user_id", "event_type")
    assert(d1.dropDuplicates("user_id", "event_type").count() == d1.count())
  }

  test("q_mf_topk_recs_ann agrees with recommendForAllUsers at fixture scale") {
    // At fixture scale the adaptive index has 4 lists and nProbe covers
    // all of them, so the ANN path scores the full catalog with exact
    // double dots — agreement with MLlib's float-BLAS cartesian should
    // be near-total (measured 1.0/1.0; the margin absorbs float-vs-
    // double near-ties, not a recall shortfall).
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("user_id", "rank", "item_id").collect()
        .map(r => (r.getLong(0), r.getAs[Number](1).intValue, r.getLong(2)))
    val e = rows(operators.MfQueries.qMfTopkRecs.run(spark, sf))
    val a = rows(operators.MfQueries.qMfTopkRecsAnn.run(spark, sf))
    assert(e.map(_._1).toSet == a.map(_._1).toSet,
      "ANN path must cover exactly the users the exact path covers")
    val eTop = e.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    val aTop = a.filter(_._2 == 1).map(t => t._1 -> t._3).toMap
    val agree = eTop.count { case (u, i) => aTop.get(u).contains(i) }
      .toDouble / eTop.size
    assert(agree >= 0.95, s"top-1 agreement $agree")
    val eSet = e.map(t => (t._1, t._3)).toSet
    val aSet = a.map(t => (t._1, t._3)).toSet
    val recall = (eSet & aSet).size.toDouble / eSet.size
    assert(recall >= 0.9, s"recall@3 $recall")
  }

  test("q_mf_item_sim: 5 ranked similar items per seed, scores in [-1,1]") {
    val rows = operators.MfQueries.qMfItemSim.run(spark, sf).collect()
    assert(rows.length == 25)
    val bySeed = rows.groupBy(_.getLong(0))
    assert(bySeed.size == 5)
    bySeed.values.foreach { g =>
      assert(g.map(_.getInt(3)).sorted.toSeq == (1 to 5))
      // ranked by score desc within a seed
      val scores = g.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(scores.sliding(2).forall(s => s.length < 2 || s(0) >= s(1)))
      g.foreach { r =>
        assert(r.getDouble(2) >= -1.0001 && r.getDouble(2) <= 1.0001)
        assert(r.getLong(1) != r.getLong(0))
      }
    }
  }

  test("q_rec_coverage invariants: bounded coverage and concentration") {
    val Array(r) = operators.MfQueries.qRecCoverage.run(spark, sf).collect()
    val (nUsers, nCatalog, nRec) = (r.getLong(0), r.getLong(1), r.getLong(2))
    val (cov, share) = (r.getDouble(3), r.getDouble(4))
    assert(nUsers > 0 && nCatalog > 0 && nRec > 0 && nRec <= nCatalog)
    assert(cov > 0.0 && cov <= 1.0)
    assert(share > 0.0 && share <= 1.0)
    // distinct recommended items can't exceed the recommendation slots:
    // at most min(3, items rated) per user
    val slots = graft.ml.Ratings.view(spark, sf)
      .groupBy("user_id").count().collect()
      .map(r2 => math.min(3L, r2.getLong(1))).sum
    assert(slots >= nRec)
  }

  test("item-support cap: capped antidote still reduces U_grp vs alpha=0") {
    // VERDICT r10 task 4: the §4.3 top-M-items cap bounds the ALS train
    // input (X becomes k̃×M) — this pins that the SPARSE antidote still
    // descends the metric, so the cap is a scale knob, not a lobotomy.
    val ratings = Ratings.viewCached(spark, sf)
    val cfg = AlsEngine.Config(maxIter = 3)
    val groups = Tables.load(spark, sf, "customer")
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("grp"))
    val metric = Metric.GroupUnfairness(groups, "BUILDING", "MACHINERY")
    val nItems = ratings.select("item_id").distinct().count()
    val cap = math.max(1, (nItems / 2).toInt)
    // cap machinery: top-M support set has exactly M items, and the
    // capped init rates exactly k̃·M cells inside [1,5]
    assert(Antidote.topSupportItems(ratings, cap).count() == cap)
    val stats = Antidote.userStats(ratings)
    val x0 = Antidote.initHeuristic(spark, ratings, 0.05, stats, Some(cap))
    val nUsers = ratings.select("user_id").distinct().count()
    assert(x0.count() == math.ceil(0.05 * nUsers).toLong * cap)
    assert(x0.filter(col("rating") < 1 || col("rating") > 5).count() == 0)
    // autoCap: dense at the fixture scale, capped once k̃·m > maxCells
    assert(Antidote.autoCap(stats, 0.05, Antidote.maxAntidoteCells).isEmpty)
    assert(Antidote.autoCap(stats, 0.05, maxCells = cap).nonEmpty)
    // the deployed shape (one GD step + refit) still improves the metric
    val x1 = Antidote.step(spark, ratings, x0,
      AlsEngine.train(ratings.unionByName(x0), cfg), stats, cfg, eta = 1e4,
      metric = metric)
    val capped = AlsEngine.train(ratings.unionByName(x1), cfg)
    val base = AlsEngine.trainCachedOnRatingsView(spark, sf)
    val uCap = Antidote.evaluate(capped, ratings, metric).objective
    val u0 = Antidote.evaluate(base, ratings, metric).objective
    info(s"U_grp base=$u0 capped(M=$cap)=$uCap")
    assert(uCap < u0,
      s"capped antidote did not reduce U_grp: $u0 -> $uCap (M=$cap)")
  }

  test("q_antidote_figure: U_grp decreases at alpha=0.05, deltas consistent") {
    val rows = operators.MfQueries.qAntidoteFigure.run(spark, sf)
      .orderBy("alpha").collect()
    info(rows.map(_.toString).mkString("figure rows: ", " | ", ""))
    assert(rows.length == 3)
    val byAlpha = rows.map(r => r.getDouble(0) ->
      (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    // the baseline row carries zero deltas by construction
    val (u0, r0, d0, c0) = byAlpha(0.0)
    assert(d0 == 0.0 && c0 == 0.0)
    // the paper's headline claim: antidote data at the 5% budget REDUCES
    // group unfairness vs the un-augmented model
    val (u5, r5, d5, c5) = byAlpha(0.05)
    assert(u5 < u0, s"U_grp did not decrease at alpha=0.05: $u0 -> $u5")
    // delta columns are exactly the row-vs-baseline differences (6 dp)
    assert(math.abs(d5 - (u5 - u0)) < 2e-6, s"delta mismatch: $d5 vs ${u5 - u0}")
    assert(math.abs(c5 - (r5 - r0)) < 2e-6, s"cost mismatch: $c5 vs ${r5 - r0}")
    // and the figure is a pure projection of the memoized sweep rows
    val sweep = operators.MfQueries.qAntidoteSweepAls.run(spark, sf)
      .filter(org.apache.spark.sql.functions.col("metric") === "grp_unfairness")
      .orderBy("alpha").collect()
    assert(sweep.map(_.getDouble(2)).toSeq == rows.map(_.getDouble(1)).toSeq,
      "figure U_grp column diverges from the sweep's grp_unfairness rows")
  }
}
