package graft.operators

import graft.Q
import graft.Dsl._
import graft.ml.{AlsEngine, Antidote, Baseline, Metric, Ratings}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, IntegerType, LongType, StringType}

/** §2.J — the reference's core MF / societal-metric / antidote family,
  * over the derived ratings view (FIXTURES.md). Metric queries use the
  * deterministic closed-form baseline predictor so they stay
  * DuckDB-checkable; ALS-dependent queries are rows-only here and
  * semantically tested in the ScalaTest suite (RMSE thresholds, objective
  * descent).
  */
object MfQueries {

  private def withRatings(sql: String): String =
    s"WITH ${Ratings.cte},\n${Baseline.cte}\n$sql"

  val qRatingsView = Q(
    "q_ratings_view",
    s"""WITH ${Ratings.cte}
       |SELECT user_id, item_id, rating FROM ratings
       |ORDER BY user_id, item_id""".stripMargin) { (s, d) =>
    Ratings.view(s, d).orderBy("user_id", "item_id")
  }

  /** Wide-form pivot of the ratings matrix (the reference's D2 pivot) for
    * a FIXED small item slice — the dense user×item materialization is
    * deliberately bounded to the named columns, never all m. */
  val qRatingsPivot = Q(
    "q_ratings_pivot",
    s"""WITH ${Ratings.cte}
       |SELECT user_id,
       |  ROUND(avg(CASE WHEN item_id = 1 THEN rating END), 6) AS i1,
       |  ROUND(avg(CASE WHEN item_id = 2 THEN rating END), 6) AS i2,
       |  ROUND(avg(CASE WHEN item_id = 3 THEN rating END), 6) AS i3,
       |  ROUND(avg(CASE WHEN item_id = 4 THEN rating END), 6) AS i4,
       |  ROUND(avg(CASE WHEN item_id = 5 THEN rating END), 6) AS i5
       |FROM ratings GROUP BY user_id ORDER BY user_id""".stripMargin) {
    (s, d) =>
      Ratings.view(s, d)
        .groupBy("user_id")
        .pivot("item_id", Seq(1, 2, 3, 4, 5))
        .agg(round(avg(col("rating")), 6))
        .toDF("user_id", "i1", "i2", "i3", "i4", "i5")
        .orderBy("user_id")
  }

  /** Factor-matrix row counts are deterministic (every user/item with a
    * rating gets a factor row); factor VALUES are impl-dependent and
    * tested out-of-band. */
  val qMfAlsTrain = Q(
    "q_mf_als_train",
    s"""WITH ${Ratings.cte}
       |SELECT count(DISTINCT user_id) AS n_user_factors,
       |  count(DISTINCT item_id) AS n_item_factors, 8 AS rank
       |FROM ratings""".stripMargin) { (s, d) =>
    val model = AlsEngine.trainCachedOnRatingsView(s, d)
    val spark = s
    import spark.implicits._
    Seq((model.userFactors.count(), model.itemFactors.count(), model.rank))
      .toDF("n_user_factors", "n_item_factors", "rank")
  }

  val qMfPredict = Q.noOracle("q_mf_predict") { (s, d) =>
    val ratings = Ratings.view(s, d)
    AlsEngine.predictKnown(AlsEngine.trainCachedOnRatingsView(s, d), ratings)
      .select(col("user_id"), col("item_id"), round(col("p"), 4).as("p"))
      .orderBy("user_id", "item_id")
  }

  /** The reference's user-facing op (paper §5): top-k recommendations per
    * user — `recommendForAllUsers` never materializes the dense R̂. */
  val qMfTopkRecs = Q.noOracle("q_mf_topk_recs") { (s, d) =>
    val model = AlsEngine.trainCachedOnRatingsView(s, d)
    model.recommendForAllUsers(3)
      .select(col("user").cast("long").as("user_id"),
        posexplode(col("recommendations")).as(Seq("rank", "rec")))
      .select(col("user_id"), (col("rank") + 1).as("rank"),
        col("rec.item").cast("long").as("item_id"))
      .orderBy("user_id", "rank")
  }

  /** Trained-IVF index over the ALS ITEM factors, memoized per
    * (session, dir) via SimSearch's index cache (dataKey suffixed so it
    * can never collide with the embeddings-table indexes; the memo owns
    * the index's checkpoint blocks). List count scales with
    * the catalog — ~500 items per list, clamped [4, 4096] — so the
    * per-user candidate scan stays O(nProbe × 500) items as the catalog
    * grows: the property that turns the dense user×item cross into a
    * linear-in-users serving pass. Billed as the bench's
    * `warm:item_ivf` line. */
  private def itemFactorFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    AlsEngine.trainCachedOnRatingsView(s, d).itemFactors
      .select(col("id").cast(LongType).as("vec_id"),
        transform(col("features"), x => x.cast("double")).as("embedding"))

  private def itemIvfLists(nItems: Long): Int =
    math.max(4, math.min(4096, math.round(nItems / 500.0).toInt))

  private[graft] def itemIvf(s: org.apache.spark.sql.SparkSession,
      d: String): (graft.llm.SimSearch.IvfIndex, Int) = {
    val items = itemFactorFrame(s, d)
    val nLists = itemIvfLists(items.count())
    (graft.llm.SimSearch.ivfIndexGemmCached(items, d + "#item_factors",
      nLists, lloydIters = 2), nLists)
  }

  def warmItemIvf(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    itemIvf(s, d); ()
  }

  /** ANN-backed per-user top-k recommendations — the SCALE form of
    * `q_mf_topk_recs`: MLlib's `recommendForAllUsers` scores every
    * user against every item (a blocked cartesian — the registry's one
    * remaining cartesian, 94× at the sf0.1→sf1 decade), while this path
    * probes a trained-IVF index over the item factors (sampled-Lloyd
    * training + gemm assignment, built once as `warm:item_ivf`) so each
    * user scores only nProbe lists of ~500 candidates. Scoring is
    * [[graft.llm.SimSearch.mipsGemmTopKAll]]: probe lists ranked by max
    * centroid dot against the broadcast centroid matrix (narrow), then
    * blocked matrix work per probed list (the recommendForAllUsers
    * design restricted to nProbe lists), merged map-side so the only
    * data-sized shuffle carries factor rows, never scored candidates.
    * At fixture scales nProbe covers every list, so the candidate set
    * is the full catalog and the ranking is exhaustive; MfSpec pins
    * agreement vs `recommendForAllUsers` there and GenData ladder rows
    * bound the scaling. ALS-dependent floats → rows-only; the exact
    * `q_mf_topk_recs` stays registered as the paper-fidelity variant. */
  val qMfTopkRecsAnn = Q.noOracle("q_mf_topk_recs_ann") { (s, d) =>
    val (index, nLists) = itemIvf(s, d)
    val probes = AlsEngine.trainCachedOnRatingsView(s, d).userFactors
      .select(col("id").cast(LongType).as("probe_id"),
        transform(col("features"), x => x.cast("double")).as("probe_e"))
    graft.llm.SimSearch.mipsGemmTopKAll(index, probes, k = 3,
      nProbe = math.min(nLists, 8))
      .select(col("probe_id").as("user_id"), col("rk").as("rank"),
        col("vec_id").as("item_id"))
      .orderBy("user_id", "rank")
  }

  /** Item-item similarity from the ALS item factors (the other classic
    * rec-sys deliverable beside per-user top-k: "customers who bought X
    * also bought"): top-5 most similar items per seed item by factor
    * cosine. The k×rank factor table is tiny relative to the corpus that
    * trained it — similarity runs on factors, never on the ratings
    * matrix, so this is broadcast-probe TakeOrdered per seed at any
    * scale. Rows-only (ALS-dependent); invariants in MfSpec. */
  val qMfItemSim = Q.noOracle("q_mf_item_sim") { (s, d) =>
    val model = AlsEngine.trainCachedOnRatingsView(s, d)
    val f = model.itemFactors
      .select(col("id").cast("long").as("item_id"),
        col("features").as("f"))
    val seeds = f.orderBy("item_id").limit(5)
      .select(col("item_id").as("seed_id"), col("f").as("seed_f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("seed_id")
      .orderBy(col("score").desc, col("item_id"))
    f.crossJoin(broadcast(seeds))
      .filter(col("item_id") =!= col("seed_id"))
      .select(col("seed_id"), col("item_id"),
        graft.functions.VectorFunctions.cosine4(col("f"),
          col("seed_f")).as("score"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select("seed_id", "item_id", "score", "rk")
      .orderBy("seed_id", "rk")
  }

  /** ALS fold-in (cold-start path): per-user factors for a "newly
    * arrived" user slice solved from the trained model's item factors
    * alone (AlsEngine.foldInUsers — one user-keyed ridge aggregate, no
    * retrain), evaluated as per-user prediction RMSE on the slice's known
    * cells. Rows-only (factor values are ALS-dependent); the
    * reproduces-model-factors property is pinned in MfSpec. */
  val qMfFoldin = Q.noOracle("q_mf_foldin") { (s, d) =>
    val model = AlsEngine.trainCachedOnRatingsView(s, d)
    val slice = Ratings.view(s, d).filter(col("user_id") % 10 === 3)
    AlsEngine.foldInPredict(model, slice)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ratings"),
        round(sqrt(avg((col("rating") - col("p")) *
          (col("rating") - col("p")))), 4).as("rmse_foldin"))
      .orderBy("user_id")
      .limit(50)
  }

  val qMetricRmse = Q(
    "q_metric_rmse",
    withRatings(
      "SELECT ROUND(sqrt(avg((rating - p) * (rating - p))), 6) AS rmse FROM pred")) {
    (s, d) => Baseline.rmse(Baseline.predictions(Ratings.view(s, d)))
  }

  val qMetricPolarization = Q(
    "q_metric_polarization",
    withRatings(
      """SELECT ROUND(avg(v), 6) AS polarization FROM
        |  (SELECT var_pop(p) AS v FROM pred GROUP BY item_id) iv""".stripMargin)) {
    (s, d) => Baseline.polarization(Baseline.predictions(Ratings.view(s, d)))
  }

  val qMetricIndUnfairness = Q(
    "q_metric_ind_unfairness",
    withRatings(
      "SELECT ROUND(var_pop(l_u), 6) AS ind_unfairness FROM uerr")) { (s, d) =>
    Baseline.individualUnfairness(Baseline.predictions(Ratings.view(s, d)))
  }

  val qMetricGrpUnfairness = Q(
    "q_metric_grp_unfairness",
    withRatings(
      """SELECT ROUND(abs(
        |  avg(CASE WHEN c_mktsegment = 'BUILDING' THEN l_u END) -
        |  avg(CASE WHEN c_mktsegment = 'MACHINERY' THEN l_u END)), 6)
        |  AS grp_unfairness
        |FROM uerr JOIN customer ON user_id = c_custkey""".stripMargin)) {
    (s, d) =>
      Baseline.groupUnfairness(
        Baseline.predictions(Ratings.view(s, d)),
        t(s, d, "customer"), "BUILDING", "MACHINERY")
  }

  /** Each user's top-3 observed items under the baseline predictor
    * (user_id, item_id), ranked by item mean, then item id: the
    * baseline score (user_mean + item_mean) / 2 shifts all of one user's
    * items by the same constant, so the item mean alone ranks them. */
  private def baselineTop3(ratings: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val itemScore = ratings.groupBy("item_id").agg(
      (sum(col("rating").cast(DecimalType(9, 6))).cast(DoubleType) /
        count(lit(1))).as("item_mean"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("item_mean").desc, col("item_id"))
    ratings.join(itemScore, "item_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("user_id", "item_id")
  }

  /** DuckDB twin of [[baselineTop3]]: the im and recs CTEs over the
    * `ratings` CTE. */
  private val baselineTop3Cte =
    """im AS (
      |  SELECT item_id,
      |    CAST(SUM(CAST(rating AS DECIMAL(9,6))) AS DOUBLE) / count(*)
      |      AS item_mean
      |  FROM ratings GROUP BY 1),
      |recs AS (
      |  SELECT user_id, item_id FROM (
      |    SELECT r.user_id, r.item_id,
      |      row_number() OVER (PARTITION BY r.user_id
      |        ORDER BY im.item_mean DESC, r.item_id) AS rk
      |    FROM ratings r JOIN im ON r.item_id = im.item_id) z
      |  WHERE rk <= 3)""".stripMargin

  /** Recommendation-quality profile of the baseline predictor: each user's
    * top-3 OBSERVED items re-ranked by predicted score, then catalog
    * coverage and top-10 concentration of the recommended slots — the
    * rec-sys eval battery (paper §5's user-facing deliverable is exactly
    * a per-user top-k) in its scalable form. Ranking over observed items
    * avoids the n×m crossJoin by construction (the D4 anti-pattern); and
    * because the baseline score (user_mean+item_mean)/2 shifts every item
    * of a user by the same constant, ranking by item_mean alone is
    * EXACTLY the baseline-score ranking — item_mean is one double
    * division of an exact decimal sum, so the sort key is bit-identical
    * cross-engine. Two shuffles (item agg, user window) + TakeOrdered
    * top-10; the totals are broadcast one-row frames. */
  val qRecCoverage = Q(
    "q_rec_coverage",
    s"""WITH ${Ratings.cte},
       |$baselineTop3Cte,
       |cat AS (SELECT CAST(count(DISTINCT item_id) AS BIGINT) AS n_catalog,
       |               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
       |        FROM ratings),
       |ri AS (SELECT CAST(count(DISTINCT item_id) AS BIGINT) AS n_rec_items,
       |              CAST(count(*) AS BIGINT) AS n_slots FROM recs),
       |t10 AS (SELECT CAST(sum(c) AS BIGINT) AS top10_slots FROM (
       |  SELECT item_id, count(*) AS c FROM recs GROUP BY 1
       |  ORDER BY c DESC, item_id LIMIT 10) z)
       |SELECT n_users, n_catalog, n_rec_items,
       |  ROUND(CAST(n_rec_items AS DOUBLE) / n_catalog, 6) AS coverage,
       |  ROUND(CAST(top10_slots AS DOUBLE) / n_slots, 6) AS top10_share
       |FROM cat, ri, t10""".stripMargin) { (s, d) =>
    val r = Ratings.view(s, d)
    val recs = baselineTop3(r)
    val cat = r.agg(countDistinct(col("item_id")).as("n_catalog"),
      countDistinct(col("user_id")).as("n_users"))
    val ri = recs.agg(countDistinct(col("item_id")).as("n_rec_items"),
      count(lit(1)).as("n_slots"))
    val t10 = recs.groupBy("item_id").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("item_id")).limit(10)
      .agg(sum(col("c")).as("top10_slots"))
    cat.crossJoin(ri).crossJoin(t10)
      .select(col("n_users"), col("n_catalog"), col("n_rec_items"),
        round(col("n_rec_items").cast(DoubleType) / col("n_catalog"), 6)
          .as("coverage"),
        round(col("top10_slots").cast(DoubleType) / col("n_slots"), 6)
          .as("top10_share"))
  }

  /** DuckDB block generating the antidote rows for a budget; `sfx` keeps
    * per-alpha CTE names distinct. Mirrors Antidote.init exactly. */
  private def antidoteCte(alpha: Double, sfx: String): String =
    s"""srs$sfx AS (SELECT s FROM generate_series(1, 100000) t(s), stats
       |  WHERE s <= CAST(ceil($alpha * n) AS BIGINT)),
       |antidote$sfx AS (
       |  SELECT mx + s AS user_id, item_id,
       |    ROUND(1 + 4 * (((mx + s) * 2654435761 + item_id * 40503) % 1000)
       |          / 999.0, 6) AS rating
       |  FROM stats, items, srs$sfx)""".stripMargin

  private val statsCte =
    """stats AS (SELECT count(DISTINCT user_id) AS n, max(user_id) AS mx
      |          FROM ratings),
      |items AS (SELECT DISTINCT item_id FROM ratings)""".stripMargin

  val qAntidoteInit = Q(
    "q_antidote_init",
    s"""WITH ${Ratings.cte},
       |$statsCte,
       |${antidoteCte(0.01, "a")}
       |SELECT user_id, item_id, rating FROM ratings
       |UNION ALL SELECT user_id, item_id, rating FROM antidotea
       |ORDER BY user_id, item_id""".stripMargin) { (s, d) =>
    val ratings = Ratings.view(s, d)
    ratings.unionByName(
      Antidote.init(s, ratings, 0.01, Antidote.userStatsCached(s, d)))
      .orderBy("user_id", "item_id")
  }

  /** Held-out evaluation (the paper's actual protocol — WSDM'19 §5
    * evaluates on a test split, not train cells): deterministic
    * hash-80/20 split of the known cells, baseline means fit on train
    * only, RMSE on the unseen 20% with global-mean cold-start backoff.
    * The ALS variant of the same protocol is asserted in MfSpec. */
  val qMetricRmseHoldout = Q(
    "q_metric_rmse_holdout",
    s"""WITH ${Ratings.cte},
       |sp AS (
       |  SELECT user_id, item_id, rating,
       |    CAST(concat('0x', substr(md5(concat(user_id, ':', item_id)),
       |      1, 15)) AS BIGINT) % 10 < 8 AS is_train
       |  FROM ratings),
       |gm AS (SELECT avg(rating) AS g FROM sp WHERE is_train),
       |um2 AS (SELECT user_id, avg(rating) AS mu FROM sp
       |        WHERE is_train GROUP BY 1),
       |im2 AS (SELECT item_id, avg(rating) AS mi FROM sp
       |        WHERE is_train GROUP BY 1)
       |SELECT ROUND(sqrt(avg((rating - p) * (rating - p))), 6)
       |    AS rmse_holdout,
       |  count(*) AS n_test
       |FROM (
       |  SELECT te.rating,
       |    (coalesce(um2.mu, gm.g) + coalesce(im2.mi, gm.g)) / 2 AS p
       |  FROM sp te CROSS JOIN gm
       |  LEFT JOIN um2 ON te.user_id = um2.user_id
       |  LEFT JOIN im2 ON te.item_id = im2.item_id
       |  WHERE NOT te.is_train) q""".stripMargin) { (s, d) =>
    Baseline.holdoutRmse(Ratings.view(s, d))
  }

  val qAntidoteStep = Q.noOracle("q_antidote_step") { (s, d) =>
    val ratings = Ratings.viewCached(s, d)
    val stats = Antidote.userStatsCached(s, d)
    // X₀ materialized once: the train, the step's pass over X₀ and the
    // result all read it, where its plan re-derives the item list on
    // every read. The checkpoint's job also observes X₀'s half of the
    // train key, so with R's half known the train runs no digest pass.
    val x0 = AlsEngine.keyedCheckpoint(Antidote.init(s, ratings, 0.01, stats))
    // 5 ALS sweeps are plenty for the V the gradient linearizes around
    val cfg = AlsEngine.Config(maxIter = 5)
    val model = AlsEngine.trainAugmented(ratings, x0, cfg)
    Antidote.step(s, ratings, x0, model, stats, cfg)
      .orderBy("user_id", "item_id")
  }

  private def evalBlock(sfx: String): String =
    s"""aug$sfx AS (SELECT * FROM ratings
       |  UNION ALL SELECT * FROM antidote$sfx),
       |um$sfx AS (SELECT user_id, avg(rating) AS mu FROM aug$sfx GROUP BY 1),
       |im$sfx AS (SELECT item_id, avg(rating) AS mi FROM aug$sfx GROUP BY 1),
       |pred$sfx AS (
       |  SELECT r.user_id, r.item_id, r.rating, (um$sfx.mu + im$sfx.mi) / 2 AS p
       |  FROM aug$sfx r
       |  JOIN um$sfx ON r.user_id = um$sfx.user_id
       |  JOIN im$sfx ON r.item_id = im$sfx.item_id)""".stripMargin

  private def evalSelect(alpha: Double, sfx: String): String =
    s"""SELECT CAST($alpha AS DOUBLE) AS alpha,
       |  (SELECT ROUND(avg(v), 6) FROM
       |     (SELECT var_pop(p) AS v FROM pred GROUP BY item_id) t) AS pol_before,
       |  (SELECT ROUND(avg(v), 6) FROM
       |     (SELECT var_pop(p) AS v FROM pred$sfx GROUP BY item_id) t)
       |    AS pol_after,
       |  (SELECT ROUND(sqrt(avg((rating - p) * (rating - p))), 6) FROM pred)
       |    AS rmse_before,
       |  (SELECT ROUND(sqrt(avg((rating - p) * (rating - p))), 6) FROM pred$sfx)
       |    AS rmse_after""".stripMargin

  /** Deterministic end-to-end antidote evaluation: baseline-predictor
    * metrics before vs after appending the (deterministic) antidote init
    * at budgets α ∈ {0.01, 0.05}. */
  val qAntidoteEval = Q(
    "q_antidote_eval",
    s"""WITH ${Ratings.cte},
       |${Baseline.cte},
       |$statsCte,
       |${antidoteCte(0.01, "a")},
       |${evalBlock("a")},
       |${antidoteCte(0.05, "b")},
       |${evalBlock("b")}
       |${evalSelect(0.01, "a")}
       |UNION ALL
       |${evalSelect(0.05, "b")}
       |ORDER BY alpha""".stripMargin) { (s, d) =>
    // The "before" metrics are the memoized baseline-predictor scalars
    // shared with q_metric_* (same pass, same rounding). The "after"
    // metrics for BOTH budgets derive from ONE fact pass: antidote users
    // are new ids (disjoint from real users) rating every item, so per
    // augmented matrix, real users keep their base mean mu and only the
    // item means shift — every per-(budget, item) moment of the predictor
    // p = (mu + mi)/2 and of the squared error then falls out of the base
    // per-item frame (n, Σr, Σr², Σmu, Σmu², Σr·mu — computed once,
    // item-dimension-sized, fenced) combined with the budget's tiny
    // antidote-side sums. The old shape paid the user-groupBy, item-
    // groupBy, two fact joins and the metric pass once PER budget; at
    // 100 TB this is the difference between k+1 fact passes for k budgets
    // and exactly one.
    val ratings = Ratings.viewCached(s, d)
    val (polB, rmseB) = Baseline.polRmseCached(s, d)
    val stats = Antidote.userStatsCached(s, d)
    val r = col("rating")
    val umB = ratings.groupBy("user_id").agg(avg(r).as("mu"))
    // one row per rated item, with its item residue si
    val base = ratings.join(umB, "user_id")
      .groupBy("item_id")
      .agg(count(lit(1)).as("n"), sum(r).as("sr"), sum(r * r).as("sr2"),
        sum(col("mu")).as("smu"), sum(col("mu") * col("mu")).as("smu2"),
        sum(r * col("mu")).as("srmu"))
      .withColumn("si", col("item_id") * 40503L % 1000)
      .localCheckpoint() // fence: the histogram and the final sums read it
    // Antidote-side sums in CLOSED FORM — O(items), independent of the
    // k̃×m synthetic matrix: x_ai = round6(1 + 4·((a·C₁ + i·C₂) mod
    // 1000)/999) depends only on the RESIDUE PAIR (r_a, s_i) mod 1000,
    // so per-item sums over all k̃ synthetic users collapse to a
    // 1000-residue convolution of the user-residue histogram with the
    // exact micro-integer cell table g6 (no .5 rounding boundaries
    // exist: (999+4m)·10⁶/999 has fractional part k/999, never 1/2).
    // At 100 TB this turns the evaluation's dominant term from α·n·m
    // synthetic cells into one ≤1000-row broadcast join for all budgets.
    val hI = new Array[Long](1000)
    base.groupBy("si").count().collect()
      .foreach(row => hI(row.getLong(0).toInt) = row.getLong(1))
    val muR = residueMeans(hI, stats.nItems)
    val budgets = Seq(0.01, 0.05)
    val antRows = budgets.flatMap { alpha =>
      val kT = math.ceil(alpha * stats.nUsers).toLong
      val hU = userResidues(kT, stats.maxUserId)
      // per-item-residue antidote sums over all k̃ users
      (0 until 1000).map { si =>
        var sx6 = BigInt(0); var sx12 = BigInt(0)
        var smua = 0.0; var smua2 = 0.0; var sxmua6 = 0.0
        for (ra <- 0 until 1000 if hU(ra) > 0) {
          val g = g6((ra + si) % 1000)
          sx6 += BigInt(hU(ra)) * g
          sx12 += BigInt(hU(ra)) * g * g
          smua += hU(ra) * muR(ra)
          smua2 += hU(ra) * muR(ra) * muR(ra)
          sxmua6 += hU(ra) * g.toDouble * muR(ra)
        }
        (alpha, kT, si.toLong, BigDecimal(sx6).toDouble / 1e6,
          BigDecimal(sx12).toDouble / 1e12, smua, smua2, sxmua6 / 1e6)
      }
    }
    val spark = s
    import spark.implicits._
    val ant = broadcast(antRows.toDF(
      "alpha", "ka", "asi", "sx", "sx2", "smua", "smua2", "sxmua"))
    val nAll = col("n") + col("ka")
    val mi = (col("sr") + col("sx")) / nAll
    val sp = (col("smu") + col("smua") + nAll * mi) / 2
    val sp2 = (col("smu2") + col("smua2")
      + lit(2) * mi * (col("smu") + col("smua")) + nAll * mi * mi) / 4
    val se = (col("sr2") - col("srmu") - mi * col("sr")
        + (col("smu2") + lit(2) * mi * col("smu") + col("n") * mi * mi) / 4) +
      (col("sx2") - col("sxmua") - mi * col("sx")
        + (col("smua2") + lit(2) * mi * col("smua") + col("ka") * mi * mi) / 4)
    // both budgets' final sums in one aggregate grouped by α
    val after = base.join(ant, col("si") === col("asi"))
      .select(col("alpha"), (sp2 / nAll - (sp / nAll) * (sp / nAll)).as("v"),
        se.as("se"), nAll.as("n_all"))
      .groupBy("alpha")
      .agg(round(avg(col("v")), 6).as("pol"),
        round(sqrt(sum(col("se")) / sum(col("n_all"))), 6).as("rmse"))
      .collect()
      .map(row => row.getDouble(0) -> (row.getDouble(1), row.getDouble(2)))
      .toMap
    budgets.map { alpha =>
      val (polA, rmseA) = after(alpha)
      (alpha, polB, polA, rmseB, rmseA)
    }.toDF("alpha", "pol_before", "pol_after", "rmse_before", "rmse_after")
      .orderBy("alpha")
  }

  /** round6(1 + 4·m/999)·10⁶ for each cell residue m, exactly. */
  private val g6 = (0 until 1000).map(m =>
    (2L * (999 + 4 * m) * 1000000L + 999) / 1998)

  /** The histogram of the synthetic users' residues
    * r_a = ((id + maxUserId)·2654435761) mod 1000 over ids 1..k̃, with
    * no Spark job. r_a has period 1000 in the id, so each of ids 1..1000 stands
    * for ⌊k̃/1000⌋ full periods plus one more when it is among the first
    * k̃ mod 1000. The products use Long arithmetic that fails on overflow,
    * as ANSI Spark's does, and (id + maxUserId)·C is largest in magnitude
    * at an end of the id range. */
  private[graft] def userResidues(kT: Long, maxUserId: Long): Array[Long] = {
    val c = 2654435761L
    Seq(1L, kT).foreach(id =>
      Math.multiplyExact(Math.addExact(id, maxUserId), c))
    val (full, rest) = (kT / 1000, kT % 1000)
    val hU = new Array[Long](1000)
    for (id <- 1L to math.min(kT, 1000L)) {
      val ra = ((id + maxUserId) * c % 1000).toInt
      hU(ra) += full + (if (id <= rest) 1 else 0)
    }
    hU
  }

  /** mu_a by user residue: the synthetic user's mean rating over the
    * item-residue histogram `hI` of `mItems` items. Each residue's sum
    * Σ_si hI(si)·g6(·) is at most mItems·5·10⁶, so it is exact in Long;
    * the division stays in BigDecimal. */
  private[graft] def residueMeans(hI: Array[Long], mItems: Long)
      : Array[Double] = {
    val div = BigDecimal(mItems) * 1000000
    Array.tabulate(1000) { ra =>
      var acc = 0L
      for (si <- 0 until 1000 if hI(si) > 0)
        acc = Math.addExact(acc,
          Math.multiplyExact(hI(si), g6((ra + si) % 1000)))
      (BigDecimal(acc) / div).toDouble
    }
  }

  /** The reference's native ingestion path: ::-separated MovieLens-style
    * lines with an explicit schema (D1). The fixture content is a fixed
    * literal, so the oracle is the same rows as VALUES. */
  val qSourceDelimited = Q(
    "q_source_delimited",
    """SELECT CAST(u AS BIGINT) AS user_id, CAST(i AS BIGINT) AS item_id,
      |  CAST(r AS DOUBLE) AS rating, CAST(t AS BIGINT) AS ts
      |FROM (VALUES (1, 10, 4.5, 978300760), (1, 20, 5.0, 978301968),
      |             (2, 20, 3.0, 978302109)) v(u, i, r, t)
      |ORDER BY user_id, item_id""".stripMargin) { (s, _) =>
    val dir = "target/tmp/q_source_delimited"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/ratings.dat"),
      ("1::10::4.5::978300760\n1::20::5.0::978301968\n" +
        "2::20::3.0::978302109\n").getBytes("UTF-8"))
    Ratings.loadDelimited(s, dir).orderBy("user_id", "item_id")
  }

  /** ALS over a >2^31 id space through the dense-rank id dictionaries:
    * the oracle checks the factor frames are re-keyed to the ORIGINAL
    * shifted Long ids with one factor row per distinct id. */
  val qMfCompactTrain = Q(
    "q_mf_compact_train",
    s"""WITH ${Ratings.cte}
       |SELECT count(DISTINCT user_id) AS n_user_factors,
       |  count(DISTINCT item_id) AS n_item_factors,
       |  CAST(min(user_id) + 5000000000 AS BIGINT) AS min_user_id,
       |  CAST(max(item_id) + 6000000000 AS BIGINT) AS max_item_id
       |FROM ratings""".stripMargin) { (s, d) =>
    val shifted = Ratings.view(s, d).select(
      (col("user_id") + 5000000000L).as("user_id"),
      (col("item_id") + 6000000000L).as("item_id"), col("rating"))
    val (_, uf, itf) =
      AlsEngine.trainCompacted(shifted, AlsEngine.Config(maxIter = 3))
    uf.agg(count(lit(1)).as("n_user_factors"),
        min(col("user_id")).as("min_user_id"))
      .crossJoin(itf.agg(count(lit(1)).as("n_item_factors"),
        max(col("item_id")).as("max_item_id")))
      .select("n_user_factors", "n_item_factors", "min_user_id",
        "max_item_id")
  }

  /** Memoized (α, metric, objective, rmse) sweep rows per sfDir: the sweep
    * retrains ALS once per nonzero budget (the paper's Alg. 1 cost
    * structure), so the two registered readouts of it — the full sweep
    * table and the Figure-style group-unfairness projection — must share
    * one computation. 9 driver-side scalar rows. */
  private val sweeps =
    graft.SharedBuild[String, Seq[(Double, String, Double, Double)]]()()

  /** Build the sweep memo eagerly — the bench's `warm:antidote_sweep` line,
    * so the ~4 ALS retrains the optimized sweep intrinsically costs are
    * billed once, up front, instead of to whichever of the sweep/figure
    * readouts the registry iteration order happens to run first. */
  def warmSweep(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    sweepRows(s, d); ()
  }

  private def sweepRows(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[(Double, String, Double, Double)] =
    sweeps(d) {
      // viewCached, not view().cache(): a second cache() of the identical
      // plan dedupes onto the memo's entry with a CacheManager WARN and
      // leaves an unpaired cache registration behind
      val ratings = Ratings.viewCached(s, d)
      val cfg = AlsEngine.Config(maxIter = 3)
      val gap = segmentGap(s, d)
      // Scratch policy is scale-derived from the same threshold both
      // ways (ScratchGc): at big rungs each train's shuffle scratch is
      // tens of GB, so budgets run SEQUENTIALLY with eager GC between
      // trains (peak scratch = one live train — the r14 sf10 wall fix);
      // at bench rungs scratch is MBs, the GCs are pure pause, and the
      // three INDEPENDENT budgets overlap as concurrent jobs (guide
      // §2.6 — a 10-block ALS leaves most of local[32] idle).
      val nRatings = ratings.count()
      // the view's scalars, once for all budgets (autoCap, init, step)
      val stats = Antidote.userStatsCached(s, d)
      val sequentialBudgets = nRatings >= graft.ScratchGc.minRows
      def budgetRows(alpha: Double): Seq[(Double, String, Double, Double)] = {
        // α = 0 is the un-augmented baseline — share the memoized model
        // with the other MF queries instead of re-training it. Nonzero
        // budgets deploy the paper's OPTIMIZED antidote: §4.3 heuristic
        // warm start, then one projected-GD step on the group-unfairness
        // gradient (Alg. 1 with T=1), then the final re-factorization —
        // two ALS trains per budget. The sweep plots what a deployed
        // antidote achieves per budget, not what random filler does
        // (hash-random filler INCREASES U_grp at the fixture scale).
        val model =
          if (alpha == 0.0) AlsEngine.trainCachedOnRatingsView(s, d)
          else {
            // §4.3 item-support cap (VERDICT r10 task 4): dense X while
            // k̃·m fits (every oracle/fixture scale — bit-identical to
            // the uncapped sweep there), top-M-items support beyond, so
            // the α=0.05 branch's ALS input stays bounded at sf1+.
            val cap = Antidote.autoCap(stats, alpha, Antidote.maxAntidoteCells)
            // cached once, as optimize caches its X₀: the digest pass over
            // X₀, the train's fit and the step all read it
            val x0 = Antidote.initHeuristic(s, ratings, alpha, stats, cap)
              .cache()
            // Train [R; X0] explicitly (content-digest memoized and
            // lineage-fenced inside AlsEngine.trainAugmented) and hand the
            // step that model, mirroring optimize's iteration shape. The step
            // returns a local checkpoint, which fences the GD step's
            // lineage (which holds a whole ALS train) out of the FINAL
            // train's — without it both trains' shuffle files stay
            // referenced simultaneously. x1 is budget-sized (k̃ × m,
            // support-capped), so the fence materializes a bounded frame.
            // Part of the sf10 finding: the sweep died on single-box
            // scratch (> 64 GB) because consumed shuffles of earlier
            // trains stayed live.
            val x1 = try {
              val model0 = AlsEngine.trainAugmented(ratings, x0, cfg)
              Antidote.step(s, ratings, x0, model0, stats, cfg, eta = 1e4,
                metric = gap)
            } finally x0.unpersist()
            // x1 is materialized, so the heuristic-init and GD-step
            // trains behind it are now dead references — reclaim
            // their shuffle files BEFORE the final train writes its
            // own. Without this mid-α GC the within-budget peak is
            // ~3 trains' scratch, which is exactly the r14-measured
            // sf10 wall (44.8 GB against ~50 GB free): the end-of-α
            // GC below fires too late to bound the peak. Scale-gated
            // (ScratchGc): at bench rungs the pause costs more than
            // the MBs it frees.
            graft.ScratchGc.maybe(nRatings)
            // The final train memoizes + fences inside trainAugmented
            // (evaluation then runs against MB-sized checkpointed
            // factors while the train's shuffles are already
            // reclaimable — peak scratch stays "one live train").
            val m = AlsEngine.trainAugmented(ratings, x1, cfg)
            graft.ScratchGc.maybe(nRatings)
            m
          }
        val rows = Antidote.evaluateAll(model, ratings, gap.groups, gap.a,
            gap.b)
          .toSeq.map { case (name, tp) =>
            (alpha, name, tp.objective, tp.rmse) }
        // this α's model and trains are now dead references; a GC here
        // lets ContextCleaner reclaim their shuffle files before the
        // next α trains (Spark's own periodicGC fires only every 2 min
        // — too slow to keep peak scratch at one train's footprint).
        // Scale-gated like the mid-α GC above.
        if (alpha != 0.0) graft.ScratchGc.maybe(nRatings)
        rows
      }
      val budgets = Seq(0.0, 0.01, 0.05)
      if (sequentialBudgets) budgets.flatMap(budgetRows)
      else {
        // Independent budgets as concurrent jobs (guide §2.6): each
        // budget's chain is internally sequential, the three chains
        // share no state beyond memoized immutable inputs, and every
        // value is a seeded/deterministic computation — overlap changes
        // wall-clock, never results. Output order is pinned by mapping
        // over the ordered budget list.
        graft.Concurrently(budgets.size)(
          budgets.map(a => () => budgetRows(a))).flatten
      }
    }

  /** ALS-backed metric-vs-budget sweep (the paper's figure-level
    * deliverable): ALL THREE societal metrics + RMSE of the re-factorized
    * model at α ∈ {0, 0.01, 0.05} — one ALS train per budget, reused for
    * every metric. ALS-dependent values → rows-only here; the
    * gradient-descent traces over iterations are property-tested in
    * MfSpec. */
  val qAntidoteSweepAls = Q.noOracle("q_antidote_sweep_als") { (s, d) =>
    val spark = s
    import spark.implicits._
    sweepRows(s, d).toDF("alpha", "metric", "objective", "rmse")
      .select(col("alpha"), col("metric"),
        round(col("objective"), 6).as("objective"),
        round(col("rmse"), 6).as("rmse"))
      .orderBy("alpha", "metric")
  }

  /** The paper's headline Figure readout: group unfairness vs antidote
    * budget α, with the RMSE accuracy cost alongside — one row per budget,
    * each with its delta against the un-augmented α = 0 baseline. A
    * projection of the memoized sweep (zero extra ALS trains); rows-only
    * under the driver, semantics (U_grp decreases at α = 0.05) pinned in
    * MfSpec. */
  val qAntidoteFigure = Q.noOracle("q_antidote_figure") { (s, d) =>
    val spark = s
    import spark.implicits._
    val rows = sweepRows(s, d).filter(_._2 == "grp_unfairness")
    val (baseU, baseR) = rows.find(_._1 == 0.0)
      .map(r => (r._3, r._4))
      .getOrElse(sys.error("sweep is missing the α=0 baseline row"))
    rows.map { case (alpha, _, u, r) =>
      (alpha, u, r, u - baseU, r - baseR)
    }.toDF("alpha", "grp_unfairness", "rmse", "delta_unfairness",
      "rmse_cost")
      .select(col("alpha"),
        round(col("grp_unfairness"), 6).as("grp_unfairness"),
        round(col("rmse"), 6).as("rmse"),
        round(col("delta_unfairness"), 6).as("delta_unfairness"),
        round(col("rmse_cost"), 6).as("rmse_cost"))
      .orderBy("alpha")
  }

  /** The paper's full Alg. 1 procedure as a registered query: T = 3
    * projected-GD iterations of the polarization antidote at α = 0.01,
    * emitting one row per iteration with the objective and the RMSE
    * accuracy cost — the optimization TRACE itself (the sweep/figure
    * readouts deploy only the T = 1 shape). ALS-dependent floats →
    * rows-only under the driver; the non-increasing-objective property is
    * pinned in MfSpec ("Alg 1 loop: objective trace is non-increasing").
    * Cost is intrinsic Alg-1 work: T+1 = 4 seeded ALS re-factorizations
    * (the optimize loop shares each model between its trace point and the
    * next gradient linearization, so no train is paid twice). */
  val qAntidoteTrace = Q.noOracle("q_antidote_trace") { (s, d) =>
    val ratings = Ratings.viewCached(s, d)
    val stats = Antidote.userStatsCached(s, d)
    traceRows(s, ratings, Antidote.init(s, ratings, 0.01, stats), 3, stats,
      Metric.Polarization)
  }

  /** Alg. 1 over the paper's HEADLINE metric: T = 2 projected-GD
    * iterations of the GROUP-unfairness antidote at α = 0.01 (market
    * segments BUILDING vs MACHINERY as the groups), one row per iteration
    * with (U_grp, rmse) — the trace behind the Figure readout, where
    * `q_antidote_trace` covers the polarization objective. Shares the
    * optimize loop's per-iteration model reuse (T+1 = 3 seeded ALS
    * trains, each serving both its trace point and the next gradient
    * linearization) and warm-starts from the §4.3 item-mean heuristic,
    * matching the deployed sweep. ALS-dependent floats → rows-only; the
    * non-increasing-objective property of this exact metric/optimize pair
    * is pinned in MfSpec ("optimize decreases group unfairness"). */
  val qAntidoteTraceGrp = Q.noOracle("q_antidote_trace_grp") { (s, d) =>
    val ratings = Ratings.viewCached(s, d)
    val stats = Antidote.userStatsCached(s, d)
    traceRows(s, ratings,
      Antidote.initHeuristic(s, ratings, 0.01, stats, None), 2, stats,
      segmentGap(s, d))
  }

  /** Alg. 1 over INDIVIDUAL unfairness — the last library Alg-1
    * metric/trace pairing (q_antidote_trace: polarization,
    * q_antidote_trace_grp: U_grp): T = 2 projected-GD iterations of the
    * U_ind antidote at α = 0.01, one row per iteration with (U_ind =
    * Var_u[ℓ_u], rmse). Same shared-model optimize loop (T+1 = 3 seeded
    * ALS trains) and §4.3 heuristic warm start as the grp trace.
    * ALS-dependent floats → rows-only; the non-increasing-objective
    * property of this exact metric/optimize pair is pinned in MfSpec
    * ("U_ind antidote: objective non-increasing"). */
  val qAntidoteTraceInd = Q.noOracle("q_antidote_trace_ind") { (s, d) =>
    val ratings = Ratings.viewCached(s, d)
    val stats = Antidote.userStatsCached(s, d)
    traceRows(s, ratings,
      Antidote.initHeuristic(s, ratings, 0.01, stats, None), 2, stats,
      Metric.IndividualUnfairness)
  }

  /** The antidote family's groups: market segments BUILDING vs MACHINERY
    * of the customers (the ratings' users). */
  private def segmentGap(s: org.apache.spark.sql.SparkSession,
      d: String): Metric.GroupUnfairness =
    Metric.GroupUnfairness(t(s, d, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("grp")),
      "BUILDING", "MACHINERY")

  /** An Alg. 1 trace from `x0` as rows (iter, objective, rmse): `steps`
    * projected-GD iterations at 3 ALS sweeps per train and η = 10⁴. */
  private def traceRows(s: org.apache.spark.sql.SparkSession,
      ratings: org.apache.spark.sql.DataFrame,
      x0: org.apache.spark.sql.DataFrame, steps: Int,
      stats: Antidote.ViewStats, metric: Metric)
      : org.apache.spark.sql.DataFrame = {
    val spark = s
    import spark.implicits._
    val (_, trace) = Antidote.optimize(s, ratings, x0, steps, stats,
      AlsEngine.Config(maxIter = 3), eta = 1e4, metric = metric)
    trace.zipWithIndex.map { case (p, i) =>
      (i.toLong, p.objective, p.rmse)
    }.toDF("iter", "objective", "rmse")
      .select(col("iter"), round(col("objective"), 6).as("objective"),
        round(col("rmse"), 6).as("rmse"))
      .orderBy("iter")
  }

  /** Deterministic negative sampling — the training-example generator
    * every implicit-feedback recommender (BPR, ALS-implicit, two-tower)
    * needs: for each purchasing customer, 4 items they did NOT buy, drawn
    * by content hash so the samples are reproducible across engines, runs
    * and partitionings (no rand()). Candidates are an 8-way oversample
    * (hash(user#j) mod max item key), observed pairs are removed with one
    * user+item anti-join, and the keep-first-4 window partitions BY USER
    * — every stage is an equi-join or bounded window, nothing quadratic.
    * The oversample factor bounds the miss probability: a user would need
    * ≥ 5 of 8 hash draws to land on already-bought items to come up
    * short. */
  val qNegativeSample = Q(
    "q_negative_sample",
    """WITH obs AS (
      |  SELECT DISTINCT o_custkey AS u, l_partkey AS i
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |mx AS (SELECT max(p_partkey) AS maxpk FROM part),
      |cand AS (
      |  SELECT u, j,
      |    1 + CAST(CAST(concat('0x', substr(md5(
      |      concat(CAST(u AS VARCHAR), '#', CAST(j AS VARCHAR))), 1, 15))
      |      AS BIGINT) % maxpk AS BIGINT) AS i
      |  FROM (SELECT DISTINCT u FROM obs) us
      |  CROSS JOIN generate_series(1, 8) AS g(j), mx),
      |neg AS (
      |  SELECT c.u, c.j, c.i FROM cand c
      |  LEFT JOIN obs ON obs.u = c.u AND obs.i = c.i
      |  WHERE obs.u IS NULL),
      |ranked AS (
      |  SELECT u, i,
      |    CAST(row_number() OVER (PARTITION BY u ORDER BY j) AS INT) AS slot
      |  FROM neg)
      |SELECT u, slot, i FROM ranked WHERE slot <= 4
      |ORDER BY u, slot""".stripMargin) { (s, d) =>
    import graft.llm.TextOps.hash60
    val obs = t(s, d, "orders").select(col("o_custkey").as("u"), col("o_orderkey"))
      .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_partkey").as("i")),
        col("l_orderkey") === col("o_orderkey"))
      .select("u", "i").distinct()
    val mx = t(s, d, "part").agg(max(col("p_partkey")).as("maxpk"))
    val cand = obs.select("u").distinct()
      .crossJoin(broadcast(mx))
      .select(col("u"), explode(sequence(lit(1), lit(8))).as("j"), col("maxpk"))
      .select(col("u"), col("j"),
        (lit(1) + hash60(concat(col("u").cast(StringType), lit("#"),
          col("j").cast(StringType))) % col("maxpk")).as("i"))
    val neg = cand.join(obs, Seq("u", "i"), "left_anti")
    val w = Window.partitionBy("u").orderBy("j")
    neg.withColumn("slot", row_number().over(w).cast(IntegerType))
      .filter(col("slot") <= 4)
      .select("u", "slot", "i")
      .orderBy("u", "slot")
  }

  /** NDCG@5 of the POPULARITY baseline ranking (rank a user's items by
    * global rater count — the non-personalized floor every personalized
    * model must beat; the ALS ranking itself is value-dependent and lives
    * out-of-band in MfSpec). Deterministic end-to-end: the ranking sorts
    * on an exact INTEGER key (popularity, item_id), the per-position
    * discounts 1/log₂(pos+1) are hardcoded double literals (identical
    * bits on both engines — no libm ln/log2 call crosses the engine
    * boundary), and both the ≤5-term per-user DCG sums and the final
    * per-user NDCG mean are quantize-then-summed at 10⁻⁹. The user
    * window is user-keyed; popularity is one item-keyed aggregate. */
  val qNdcg = Q(
    "q_ndcg",
    s"""WITH ${Ratings.cte},
       |pop AS (SELECT item_id, count(*) AS n_raters FROM ratings GROUP BY 1),
       |ranked AS (
       |  SELECT r.user_id, r.rating,
       |    row_number() OVER (PARTITION BY r.user_id
       |      ORDER BY p.n_raters DESC, r.item_id) AS pos,
       |    row_number() OVER (PARTITION BY r.user_id
       |      ORDER BY r.rating DESC, r.item_id) AS ipos
       |  FROM ratings r JOIN pop p ON r.item_id = p.item_id),
       |disc AS (
       |  SELECT * FROM (VALUES (1, 1.0), (2, 0.6309297535714575), (3, 0.5),
       |    (4, 0.43067655807339306), (5, 0.38685280723454163)) d(pos, w)),
       |dcg AS (
       |  SELECT user_id, sum(CASE WHEN dw.w IS NOT NULL THEN
       |      CAST(ROUND(rating * dw.w * 1000000000) AS HUGEINT)
       |      ELSE CAST(0 AS HUGEINT) END) AS dcg9,
       |    sum(CASE WHEN iw.w IS NOT NULL THEN
       |      CAST(ROUND(rating * iw.w * 1000000000) AS HUGEINT)
       |      ELSE CAST(0 AS HUGEINT) END) AS idcg9
       |  FROM ranked
       |  LEFT JOIN disc dw ON ranked.pos = dw.pos
       |  LEFT JOIN disc iw ON ranked.ipos = iw.pos
       |  GROUP BY user_id)
       |SELECT count(*) AS n_users,
       |  ROUND(CAST(sum(CAST(ROUND(CAST(dcg9 AS DOUBLE)
       |      / CAST(idcg9 AS DOUBLE) * 1000000000) AS HUGEINT)) AS DOUBLE)
       |    / 1000000000 / count(*), 6) AS mean_ndcg
       |FROM dcg""".stripMargin) { (s, d) =>
    val big38 = DecimalType(38, 0)
    val ratings = Ratings.view(s, d)
    val pop = ratings.groupBy("item_id").agg(count(lit(1)).as("n_raters"))
    val wPop = Window.partitionBy("user_id")
      .orderBy(col("n_raters").desc, col("item_id"))
    val wIdeal = Window.partitionBy("user_id")
      .orderBy(col("rating").desc, col("item_id"))
    val ranked = ratings.join(pop, "item_id")
      .withColumn("pos", row_number().over(wPop))
      .withColumn("ipos", row_number().over(wIdeal))
    import s.implicits._
    val disc = Seq((1, 1.0), (2, 0.6309297535714575), (3, 0.5),
      (4, 0.43067655807339306), (5, 0.38685280723454163)).toDF("dpos", "w")
    def q9(w: Column): Column =
      sum(when(w.isNotNull,
        round(col("rating") * w * 1000000000).cast(big38))
        .otherwise(lit(0).cast(big38)))
    val dcg = ranked
      .join(broadcast(disc.select(col("dpos").as("pd"), col("w").as("wd"))),
        col("pos") === col("pd"), "left")
      .join(broadcast(disc.select(col("dpos").as("pi"), col("w").as("wi"))),
        col("ipos") === col("pi"), "left")
      .groupBy("user_id")
      .agg(q9(col("wd")).as("dcg9"), q9(col("wi")).as("idcg9"))
    dcg.agg(count(lit(1)).as("n_users"),
      round(sum(round(col("dcg9").cast(DoubleType)
          / col("idcg9").cast(DoubleType) * 1000000000).cast(big38))
        .cast(DoubleType) / 1000000000 / count(lit(1)), 6).as("mean_ndcg"))
  }

  /** Popularity bias of the co-occurrence recommender: mean catalog
    * popularity of each item's top-5 co-purchased recommendations vs the
    * catalog mean — the lift > 1 readout quantifying how much a
    * neighborhood recommender amplifies already-popular items (the
    * long-tail fairness axis next to q_rec_coverage and q_gini). The
    * co-occurrence table is the bounded q_item_cooccur equi-join, the
    * top-5 window runs per item on that bounded table, and popularity is
    * one exact distinct-orders count; doubles appear only in the final
    * one-row lift expression. */
  val qPopBias = Q(
    "q_pop_bias",
    s"""WITH ${PairStore.coPairsSymCte("pairs")},
      |pop AS (
      |  SELECT l_partkey, count(DISTINCT l_orderkey) AS p
      |  FROM lineitem GROUP BY 1),
      |recs AS (
      |  SELECT pa, pb,
      |    row_number() OVER (PARTITION BY pa ORDER BY w DESC, pb) AS rk
      |  FROM pairs),
      |top5 AS (SELECT pa, pb FROM recs WHERE rk <= 5),
      |cat AS (
      |  SELECT CAST(sum(p) AS BIGINT) AS sp, count(*) AS np FROM pop)
      |SELECT count(*) AS n_recs, count(DISTINCT t.pa) AS n_items,
      |  ROUND(CAST(sum(pp.p) AS DOUBLE) / count(*), 6) AS mean_rec_pop,
      |  ROUND(CAST(max(c.sp) AS DOUBLE) / max(c.np), 6) AS mean_cat_pop,
      |  ROUND((CAST(sum(pp.p) AS DOUBLE) / count(*))
      |    / (CAST(max(c.sp) AS DOUBLE) / max(c.np)), 6) AS pop_lift
      |FROM top5 t JOIN pop pp ON t.pb = pp.l_partkey
      |CROSS JOIN cat c""".stripMargin) { (s, d) =>
    // r14: pairs and popularity both derive from the shared PairStore —
    // the private fact self-join + distinct this query re-ran is the
    // store's build. coPairsSym IS the pa ≠ pb raw pair-count matrix, and
    // per-part distinct-order counts are a groupBy over the store's
    // deduped (ok, pk) cells — exact integers both ways, same values.
    val pairs = PairStore.coPairsSym(s, d)
    val pop = PairStore.liCounts(s, d)
      .groupBy(col("pk").as("l_partkey")).agg(count(lit(1)).as("p"))
    val w = Window.partitionBy("pa").orderBy(col("w").desc, col("pb"))
    val top5 = pairs.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5).select("pa", "pb")
    val cat = pop.agg(sum("p").cast("long").as("sp"),
      count(lit(1)).as("np"))
    top5.join(pop.withColumnRenamed("l_partkey", "pk"),
        col("pb") === col("pk"))
      .crossJoin(broadcast(cat))
      .agg(count(lit(1)).as("n_recs"),
        countDistinct(col("pa")).as("n_items"),
        round(sum(col("p")).cast(DoubleType) / count(lit(1)), 6)
          .as("mean_rec_pop"),
        round(max(col("sp")).cast(DoubleType) / max(col("np")), 6)
          .as("mean_cat_pop"),
        round((sum(col("p")).cast(DoubleType) / count(lit(1)))
          / (max(col("sp")).cast(DoubleType) / max(col("np"))), 6)
          .as("pop_lift"))
  }

  /** Item-based collaborative-filtering recommendations: top-3 unseen
    * items per user scored by summed co-occurrence weight with the user's
    * purchase history — the neighborhood recommender the MF family is
    * benchmarked against (and the source of the popularity bias q_pop_bias
    * measures). Candidate generation is the bounded co-occurrence
    * equi-join (user-history ⋈ item-item edges — never user × catalog);
    * owned items drop via anti-join; a 20-user probe slice bounds the
    * output (full materialization is the same plan without the probe
    * filter, which Spark pushes through the history join). The
    * co-occurrence weights are the symmetric closure of the shared
    * PairStore's raw pair counts ([[PairStore.coPairsSym]]). */
  val qUserRecsCf = Q(
    "q_user_recs_cf",
    s"""WITH ui AS (
      |  SELECT DISTINCT o_custkey AS u, l_partkey AS item
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |${PairStore.coPairsSymCte("co")},
      |cand AS (
      |  SELECT ui.u, co.pb AS item, CAST(sum(co.w) AS BIGINT) AS score
      |  FROM ui JOIN co ON ui.item = co.pa
      |  WHERE ui.u <= 20
      |  GROUP BY ui.u, co.pb),
      |fresh AS (
      |  SELECT c.u, c.item, c.score FROM cand c
      |  LEFT JOIN ui o ON c.u = o.u AND c.item = o.item
      |  WHERE o.item IS NULL),
      |recs AS (
      |  SELECT u, item, score,
      |    row_number() OVER (PARTITION BY u ORDER BY score DESC, item)
      |      AS rk
      |  FROM fresh)
      |SELECT u AS user_id, rk, item, score FROM recs WHERE rk <= 3
      |ORDER BY user_id, rk""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
    val ui = t(s, d, "orders").select("o_orderkey", "o_custkey")
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("item"))
      .distinct()
    val co = PairStore.coPairsSym(s, d)
    val cand = ui.filter(col("u") <= 20)
      .join(co, col("item") === col("pa"))
      .groupBy(col("u"), col("pb").as("item"))
      .agg(sum(col("w")).cast("long").as("score"))
    val fresh = cand.join(ui, Seq("u", "item"), "left_anti")
    val w = Window.partitionBy("u").orderBy(col("score").desc, col("item"))
    fresh.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("u").as("user_id"), col("rk"), col("item"), col("score"))
      .orderBy("user_id", "rk")
  }

  /** Exposure concentration of the co-occurrence recommender: Gini (plus
    * top-item share) over how many users each item is recommended to, on
    * a fixed 500-user panel of q_user_recs_cf's top-3 recs — the
    * popularity-bias governance readout (q_pop_bias measures the
    * CATALOG's skew; this measures what the RECOMMENDER amplifies, the
    * number a diversity re-ranker like q_mmr_select is deployed to
    * lower). Exposure counts are exact integers; the Gini rank pass is
    * GlobalRank over the bounded exposed-item panel (never an
    * unpartitioned data-sized window); G = (2Σi·eᵢ − (n+1)Σe)/(n·Σe)
    * from exact DECIMAL(38)/HUGEINT sums with one final division.
    * Candidate generation keeps each item's TOP-32 co-occurrence
    * neighbors (weight-desc, deterministic tiebreak) — the standard
    * production neighbor cap that bounds the candidate join at
    * catalog×32 regardless of basket skew. */
  val qRecGini = Q(
    "q_rec_gini",
    s"""WITH ui AS (
      |  SELECT DISTINCT o_custkey AS u, l_partkey AS item
      |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      |${PairStore.coPairsSymCte("co0")},
      |co AS (
      |  SELECT pa, pb, w FROM (
      |    SELECT pa, pb, w,
      |      row_number() OVER (PARTITION BY pa ORDER BY w DESC, pb)
      |        AS nrk
      |    FROM co0) t WHERE nrk <= 32),
      |cand AS (
      |  SELECT ui.u, co.pb AS item, CAST(sum(co.w) AS BIGINT) AS score
      |  FROM ui JOIN co ON ui.item = co.pa
      |  WHERE ui.u <= 500
      |  GROUP BY ui.u, co.pb),
      |fresh AS (
      |  SELECT c.u, c.item, c.score FROM cand c
      |  LEFT JOIN ui o ON c.u = o.u AND c.item = o.item
      |  WHERE o.item IS NULL),
      |recs AS (
      |  SELECT u, item FROM (
      |    SELECT u, item,
      |      row_number() OVER (PARTITION BY u ORDER BY score DESC, item)
      |        AS rk
      |    FROM fresh) r WHERE rk <= 3),
      |expo AS (SELECT item, count(*) AS e FROM recs GROUP BY item),
      |rk AS (
      |  SELECT e, row_number() OVER (ORDER BY e, item) AS i,
      |    count(*) OVER () AS n
      |  FROM expo),
      |g AS (
      |  SELECT max(n) AS n, sum(CAST(e AS HUGEINT)) AS te,
      |    sum(CAST(i AS HUGEINT) * e) AS ie, max(e) AS mx
      |  FROM rk)
      |SELECT CAST(n AS BIGINT) AS n_items, CAST(te AS BIGINT) AS n_slots,
      |  ROUND((2 * CAST(ie AS DOUBLE) - (CAST(n AS DOUBLE) + 1)
      |      * CAST(te AS DOUBLE))
      |    / (CAST(n AS DOUBLE) * CAST(te AS DOUBLE)), 6) AS gini,
      |  ROUND(CAST(mx AS DOUBLE) / CAST(te AS DOUBLE), 6) AS top1_share
      |FROM g""".stripMargin) { (s, d) =>
    val li = t(s, d, "lineitem").select("l_orderkey", "l_partkey")
    val ui = t(s, d, "orders").select("o_orderkey", "o_custkey")
      .join(li, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("u"), col("l_partkey").as("item"))
      .distinct()
    val co0 = PairStore.coPairsSym(s, d)
    // fence the PANEL-sized ownership frame: it feeds both the candidate
    // join and the anti-join, and without the fence each consumer replays
    // the fact-table join + distinct
    val uiP = ui.filter(col("u") <= 500).localCheckpoint()
    // cap BELOW the panel restriction: the top-32 window partitions by
    // pa, so semi-joining co to the panel's owned items first keeps every
    // surviving pa-partition intact (identical ranks) while the window
    // ranks only the panel's neighbor lists instead of the whole catalog
    val paPanel = uiP.select(col("item").as("pa")).distinct()
    val wn = Window.partitionBy("pa").orderBy(col("w").desc, col("pb"))
    val co = co0.join(broadcast(paPanel), Seq("pa"), "left_semi")
      .withColumn("nrk", row_number().over(wn))
      .filter(col("nrk") <= 32).drop("nrk")
    val cand = uiP
      .join(co, col("item") === col("pa"))
      .groupBy(col("u"), col("pb").as("item"))
      .agg(sum(col("w")).cast(LongType).as("score"))
    // anti-join against the panel slice only — cand rows are all panel
    // users, so the full ownership frame adds nothing but build size
    val fresh = cand.join(uiP, Seq("u", "item"), "left_anti")
    val w = Window.partitionBy("u").orderBy(col("score").desc, col("item"))
    // fence the bounded exposed-item panel: GlobalRank is two-pass and
    // would otherwise replay the whole rec pipeline per pass
    val expo = fresh.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .groupBy("item").agg(count(lit(1)).as("e"))
      .localCheckpoint()
    val (rk, nItems) = graft.plans.GlobalRank.withGlobalRowNumber(
      expo, "i", 8, col("e"), col("item"))
    val big38 = DecimalType(38, 0)
    val g = rk.agg(sum(col("e").cast(big38)).as("te"),
      sum((col("i").cast(big38) * col("e")).cast(big38)).as("ie"),
      max(col("e")).as("mx"))
    val nD = nItems.toDouble
    g.select(lit(nItems).as("n_items"),
      col("te").cast(LongType).as("n_slots"),
      round((lit(2) * col("ie").cast(DoubleType)
          - (lit(nD) + 1) * col("te").cast(DoubleType))
        / (lit(nD) * col("te").cast(DoubleType)), 6).as("gini"),
      round(col("mx").cast(DoubleType) / col("te").cast(DoubleType), 6)
        .as("top1_share"))
  }

  /** Bias-baseline recommender (the classic μ + b_u + b_i predictor the
    * MF literature reports against): global mean, per-item bias, then
    * per-user residual bias, clamped predictions, train RMSE — the
    * sanity floor every ALS run must beat (compare q_metric_rmse).
    * Every mean feeds from 10⁻⁶-quantized exact integer sums (ratings
    * are already round-6), every residual re-quantizes before its sum,
    * and the clamp/RMSE are fixed-op-order final expressions — so the
    * whole chain is reduction-order-proof on both engines. */
  val qRatingBaseline = Q(
    "q_rating_baseline",
    s"""WITH ${Ratings.cte},
       |r6 AS (
       |  SELECT user_id, item_id,
       |    CAST(ROUND(rating * 1000000) AS BIGINT) AS r6 FROM ratings),
       |g AS (
       |  SELECT ROUND(CAST(sum(r6) AS DOUBLE) / count(*) / 1000000, 6)
       |    AS mu FROM r6),
       |bi AS (
       |  SELECT item_id,
       |    ROUND(CAST(sum(r.r6) AS DOUBLE) / count(*) / 1000000
       |      - max(g.mu), 6) AS b_i
       |  FROM r6 r CROSS JOIN g GROUP BY item_id),
       |dev AS (
       |  SELECT r.user_id,
       |    CAST(ROUND((CAST(r.r6 AS DOUBLE) / 1000000 - g.mu - b.b_i)
       |      * 1000000) AS BIGINT) AS d6
       |  FROM r6 r JOIN bi b ON r.item_id = b.item_id CROSS JOIN g),
       |bu AS (
       |  SELECT user_id,
       |    ROUND(CAST(sum(d6) AS DOUBLE) / count(*) / 1000000, 6) AS b_u
       |  FROM dev GROUP BY user_id),
       |p AS (
       |  SELECT r.r6,
       |    LEAST(5.0, GREATEST(1.0, g.mu + u.b_u + b.b_i)) AS pred
       |  FROM r6 r JOIN bi b ON r.item_id = b.item_id
       |  JOIN bu u ON r.user_id = u.user_id CROSS JOIN g),
       |e AS (
       |  SELECT CAST(ROUND((CAST(r6 AS DOUBLE) / 1000000 - pred)
       |    * (CAST(r6 AS DOUBLE) / 1000000 - pred) * 1000000) AS BIGINT)
       |    AS sq6 FROM p)
       |SELECT max(g.mu) AS mu, count(*) AS n,
       |  ROUND(sqrt(CAST(sum(sq6) AS DOUBLE) / 1000000 / count(*)), 6)
       |    AS rmse_baseline
       |FROM e CROSS JOIN g""".stripMargin) { (s, d) =>
    val r6 = Ratings.view(s, d).select(col("user_id"), col("item_id"),
      round(col("rating") * 1000000L).cast("long").as("r6"))
    val g = r6.agg(round(sum(col("r6")).cast(DoubleType) / count(lit(1))
      / 1000000L, 6).as("mu"))
    val bi = r6.crossJoin(broadcast(g))
      .groupBy("item_id")
      .agg(round(sum(col("r6")).cast(DoubleType) / count(lit(1)) / 1000000L
        - max(col("mu")), 6).as("b_i"))
    val dev = r6.join(bi, Seq("item_id")).crossJoin(broadcast(g))
      .select(col("user_id"),
        round((col("r6").cast(DoubleType) / 1000000L - col("mu")
          - col("b_i")) * 1000000L).cast("long").as("d6"))
    val bu = dev.groupBy("user_id")
      .agg(round(sum(col("d6")).cast(DoubleType) / count(lit(1))
        / 1000000L, 6).as("b_u"))
    val p = r6.join(bi, Seq("item_id")).join(bu, Seq("user_id"))
      .crossJoin(broadcast(g))
      .select(col("r6"),
        least(lit(5.0), greatest(lit(1.0),
          col("mu") + col("b_u") + col("b_i"))).as("pred"))
    val e = p.select(
      round((col("r6").cast(DoubleType) / 1000000L - col("pred"))
        * (col("r6").cast(DoubleType) / 1000000L - col("pred"))
        * 1000000L).cast("long").as("sq6"))
    e.crossJoin(broadcast(g))
      .agg(max(col("mu")).as("mu"), count(lit(1)).as("n"),
        round(sqrt(sum(col("sq6")).cast(DoubleType) / 1000000L
          / count(lit(1))), 6).as("rmse_baseline"))
  }

  /** Implicit-feedback ALS (Hu-Koren-Volinsky) on the ratings view read
    * as CONFIDENCE — the no-explicit-ratings variant every view/click
    * pipeline actually trains. Factor geometry (not reconstruction
    * error) is the contract, so semantic checks live in MfSpec
    * (observed pairs score above unobserved on average); the registry
    * row is the deterministic factor-count summary. */
  val qMfImplicitTrain = Q.noOracle("q_mf_implicit_train") { (s, d) =>
    val spark = s
    import spark.implicits._
    val model = AlsEngine.trainImplicit(Ratings.view(s, d))
    Seq((model.userFactors.count(), model.itemFactors.count(), model.rank))
      .toDF("n_user_factors", "n_item_factors", "rank")
  }

  /** Intra-list diversity of the q_rec_coverage top-3 recommendation
    * lists: per-user average pairwise item dissimilarity, where two
    * recommended parts are fully dissimilar (1) when they share neither
    * brand nor type, half (0.5) when they share one, 0 when both — the
    * "did we recommend three flavors of the same thing" metric that
    * complements q_novelty_recs (novel ≠ diverse). Dissimilarities are
    * exact ·10⁴ integers; the per-user mean is an integer DIV over the
    * 3-pair bounded list, so the corpus mean is a reduction-order-proof
    * integer sum. Part attributes join via broadcast (dimension table). */
  val qIldRecs = Q(
    "q_ild_recs",
    s"""WITH ${Ratings.cte},
       |$baselineTop3Cte,
       |ri AS (
       |  SELECT recs.user_id, recs.item_id, p_brand, p_type
       |  FROM recs JOIN part ON recs.item_id = p_partkey),
       |pairs AS (
       |  SELECT a.user_id,
       |    (CASE WHEN a.p_brand = b.p_brand THEN 0 ELSE 5000 END)
       |    + (CASE WHEN a.p_type = b.p_type THEN 0 ELSE 5000 END) AS d4
       |  FROM ri a JOIN ri b
       |    ON a.user_id = b.user_id AND a.item_id < b.item_id),
       |pu AS (
       |  SELECT user_id, sum(d4) // count(*) AS ild4
       |  FROM pairs GROUP BY user_id)
       |SELECT CAST(count(*) AS BIGINT) AS n_users,
       |  ROUND(CAST(sum(ild4) AS DOUBLE) / count(*) / 10000, 6)
       |    AS mean_ild,
       |  CAST(sum(CASE WHEN ild4 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_monoculture
       |FROM pu""".stripMargin) { (s, d) =>
    val r = Ratings.view(s, d)
    val recs = baselineTop3(r)
    val ri = recs.join(broadcast(t(s, d, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_type"))),
        col("item_id") === col("p_partkey"))
      .select("user_id", "item_id", "p_brand", "p_type")
    val a = ri.select(col("user_id"), col("item_id").as("ia"),
      col("p_brand").as("ba"), col("p_type").as("ta"))
    val b = ri.select(col("user_id").as("ub"), col("item_id").as("ib"),
      col("p_brand").as("bb"), col("p_type").as("tb"))
    val pairs = a.join(b,
        col("user_id") === col("ub") && col("ia") < col("ib"))
      .select(col("user_id"),
        (when(col("ba") === col("bb"), 0).otherwise(5000)
          + when(col("ta") === col("tb"), 0).otherwise(5000)).as("d4"))
    val pu = pairs.groupBy("user_id")
      .agg(expr("sum(d4) DIV count(*)").as("ild4"))
    pu.agg(count(lit(1)).cast(org.apache.spark.sql.types.LongType)
        .as("n_users"),
      round(sum(col("ild4")).cast(DoubleType) / count(lit(1)) / 10000, 6)
        .as("mean_ild"),
      sum(when(col("ild4") === 0, 1).otherwise(0))
        .cast(org.apache.spark.sql.types.LongType).as("n_monoculture"))
  }

  val all: Seq[Q] = Seq(
    qMfImplicitTrain, qIldRecs,
    qNdcg, qPopBias, qUserRecsCf, qRatingBaseline,
    qRatingsView, qRatingsPivot, qMfAlsTrain, qMfPredict, qMfTopkRecs,
    qMfTopkRecsAnn, qMfItemSim, qMfFoldin,
    qMetricRmse, qMetricPolarization, qMetricIndUnfairness,
    qMetricGrpUnfairness, qMetricRmseHoldout, qRecCoverage,
    qAntidoteInit, qAntidoteStep, qAntidoteEval,
    qSourceDelimited, qMfCompactTrain, qAntidoteSweepAls, qAntidoteFigure,
    qAntidoteTrace, qAntidoteTraceGrp, qAntidoteTraceInd, qNegativeSample,
    qRecGini)
}
