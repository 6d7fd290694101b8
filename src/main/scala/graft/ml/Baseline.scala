package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic closed-form baseline predictor and the paper's three
  * societal metrics computed on KNOWN cells.
  *
  * pred(u,i) = (user_mean(u) + item_mean(i)) / 2 — closed form, no
  * iteration, cross-engine reproducible; it plays the role of R̂ in the
  * metric definitions so the metric queries stay DuckDB-checkable (the
  * ALS-based R̂ is impl-dependent and is tested out-of-band).
  *
  * Metrics over known cells only: never materializes the dense n×m matrix,
  * so every aggregation is linear in |ratings| and shuffles on bounded
  * keys (user_id / item_id) — the 100 TB-safe formulation.
  */
object Baseline {

  /** ratings(user_id, item_id, rating) → (user_id, item_id, rating, p). */
  def predictions(ratings: DataFrame): DataFrame = {
    val um = ratings.groupBy("user_id").agg(avg("rating").as("mu"))
    val im = ratings.groupBy("item_id").agg(avg("rating").as("mi"))
    ratings.join(um, "user_id").join(im, "item_id")
      .withColumn("p", (col("mu") + col("mi")) / 2)
      .select("user_id", "item_id", "rating", "p")
  }

  /** Per-user mean squared error ℓ_u (paper §3.2). */
  def userLoss(pred: DataFrame): DataFrame =
    pred.groupBy("user_id")
      .agg(avg((col("rating") - col("p")) * (col("rating") - col("p")))
        .as("l_u"))

  /** Global RMSE over known cells, rounded 6 dp. */
  def rmse(pred: DataFrame): DataFrame =
    pred.agg(round(
      sqrt(avg((col("rating") - col("p")) * (col("rating") - col("p")))), 6)
      .as("rmse"))

  /** Polarization: mean over items of var_pop across users of predictions
    * (paper §3.2 — the pairwise-distance form is proportional to this). */
  def polarization(pred: DataFrame): DataFrame =
    pred.groupBy("item_id").agg(var_pop(col("p")).as("v"))
      .agg(round(avg(col("v")), 6).as("polarization"))

  /** Individual unfairness: variance across users of ℓ_u. */
  def individualUnfairness(pred: DataFrame): DataFrame =
    userLoss(pred).agg(round(var_pop(col("l_u")), 6).as("ind_unfairness"))

  /** Group unfairness: |mean ℓ_u in group A − mean ℓ_u in group B|. */
  def groupUnfairness(pred: DataFrame, customer: DataFrame,
      groupA: String, groupB: String): DataFrame = {
    val losses = userLoss(pred)
      .join(customer.select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("grp")), "user_id")
    losses.agg(round(abs(
      avg(when(col("grp") === groupA, col("l_u"))) -
        avg(when(col("grp") === groupB, col("l_u")))), 6)
      .as("grp_unfairness"))
  }

  /** Deterministic 80/20 held-out split of the known cells: a cell goes
    * to train iff md5("user:item") lands under 8/10 — content-addressed
    * (the q_split_train_test idiom applied to the ratings matrix), so the
    * split is identical across engines, runs, and partitionings. This is
    * the paper's actual evaluation protocol (WSDM'19 §5 evaluates RMSE on
    * a held-out test set, not on training cells).
    *
    * Scale note: the returned frames are lazy filters over `ratings`;
    * downstream consumers that aggregate several times (holdoutRmse's
    * three mean tables) re-derive the input per branch. When `ratings` is
    * itself an expensive derivation, persist (or write out) the two
    * slices once before evaluating — the registered oracle query skips
    * that deliberately to stay a self-contained plan at fixture scale. */
  def holdoutSplit(ratings: DataFrame): (DataFrame, DataFrame) = {
    val key = concat(col("user_id").cast("string"), lit(":"),
      col("item_id").cast("string"))
    val isTrain = graft.llm.TextOps.hash60(key) % 10 < 8
    (ratings.filter(isTrain), ratings.filter(!isTrain))
  }

  /** Score arbitrary (user, item, rating) cells with means fit on `train`
    * ONLY; users/items unseen in train back off to the global train mean
    * (standard cold-start fallback — every test cell stays scored). The
    * global mean is a one-row broadcast; the mean tables join on their
    * natural keys. */
  def predictionsFrom(train: DataFrame, cells: DataFrame): DataFrame = {
    val g = train.agg(avg("rating").as("g"))
    val um = train.groupBy("user_id").agg(avg("rating").as("mu"))
    val im = train.groupBy("item_id").agg(avg("rating").as("mi"))
    cells.crossJoin(broadcast(g))
      .join(um, Seq("user_id"), "left")
      .join(im, Seq("item_id"), "left")
      .withColumn("p",
        (coalesce(col("mu"), col("g")) + coalesce(col("mi"), col("g"))) / 2)
      .select("user_id", "item_id", "rating", "p")
  }

  /** Held-out RMSE: fit the baseline on the 80% train slice, evaluate on
    * the unseen 20%. Returns (rmse_holdout, n_test). */
  def holdoutRmse(ratings: DataFrame): DataFrame = {
    val (tr, te) = holdoutSplit(ratings)
    predictionsFrom(tr, te).agg(
      round(sqrt(avg((col("rating") - col("p")) * (col("rating") - col("p")))),
        6).as("rmse_holdout"),
      count(lit(1)).as("n_test"))
  }

  /** Polarization + RMSE in ONE shuffle (per-item partial aggregates,
    * then a constant-size final reduce): at scale this halves the passes
    * over pred vs computing the two metrics separately. */
  def polarizationAndRmse(pred: DataFrame): DataFrame =
    pred.groupBy("item_id")
      .agg(var_pop(col("p")).as("v"),
        count(lit(1)).as("n"),
        sum((col("rating") - col("p")) * (col("rating") - col("p"))).as("se"))
      .agg(round(avg(col("v")), 6).as("polarization"),
        round(sqrt(sum(col("se")) / sum(col("n"))), 6).as("rmse"))

  /** Memoized (polarization, rmse) of the baseline predictor per
    * (session, sfDir) — the antidote evaluation's before-metrics need
    * these exact scalars more than once per run. Values come from
    * `polarizationAndRmse`, i.e. already rounded to 6 dp with the same
    * arithmetic the oracle uses. Assumes the data under `sfDir` is
    * immutable for the session (fixture layout).
    * The standalone q_metric_* queries deliberately recompute via
    * `Ratings.view` — they are the oracle-checked definitions and must
    * stay self-contained plans. */
  private val polRmses = graft.SharedBuild[
    (org.apache.spark.sql.SparkSession, String), (Double, Double)]()()

  def polRmseCached(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): (Double, Double) =
    polRmses((spark, sfDir)) {
      val r = polarizationAndRmse(
        predictions(Ratings.viewCached(spark, sfDir))).head()
      (r.getDouble(0), r.getDouble(1))
    }

  /** DuckDB CTEs mirroring predictions/userLoss — appended after
    * Ratings.cte in oracle SQL. */
  val cte: String =
    """um AS (SELECT user_id, avg(rating) AS mu FROM ratings GROUP BY 1),
      |im AS (SELECT item_id, avg(rating) AS mi FROM ratings GROUP BY 1),
      |pred AS (
      |  SELECT r.user_id, r.item_id, r.rating, (um.mu + im.mi) / 2 AS p
      |  FROM ratings r
      |  JOIN um ON r.user_id = um.user_id
      |  JOIN im ON r.item_id = im.item_id),
      |uerr AS (
      |  SELECT user_id, avg((rating - p) * (rating - p)) AS l_u
      |  FROM pred GROUP BY 1)""".stripMargin
}
