package graft.ml

import breeze.linalg.{DenseMatrix, DenseVector}
import org.apache.spark.ml.recommendation.ALSModel
import org.apache.spark.sql.{Column, DataFrame, Encoder, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Antidote-data generation (paper §4, Alg. 1): append a small budget of
  * synthetic users whose ratings are optimized by projected gradient
  * descent to reduce a societal metric (polarization here) of the
  * re-factorized matrix.
  *
  * Division of labor mirrors the paper and is the 100 TB-safe split:
  *  - Spark (distributed): ratings assembly, ALS re-training, factor
  *    moment aggregates (ū, S — k and k×k reductions over n users).
  *  - Driver (Breeze): everything sized by the antidote budget —
  *    X is k̃×m with k̃ = ⌈α·n⌉ (tens to hundreds of rows), and the
  *    gradient needs V (m×k) which is item-dimension-sized, not
  *    data-sized. For very large m, the V·(…) products block over item
  *    ranges; the fixtures never need that path.
  */
object Antidote {

  /** Deterministic hash-pseudo-random init in [1,5] (no rand(): the same
    * arithmetic formula runs in the DuckDB oracle — SURVEY §7.4.4). */
  def ratingFormula(userId: Column, itemId: Column): Column =
    round(lit(1) + lit(4) *
      ((userId * lit(2654435761L) + itemId * lit(40503L)) % 1000) / lit(999.0), 6)

  /** The per-view scalars the antidote paths read: the real user count
    * (k̃ = ⌈α·n_users⌉), the largest real user id (synthetic ids start
    * above it, and the unfairness step finds the antidote users' factors
    * by it) and the item count (the [[autoCap]] policy). */
  final case class ViewStats(nUsers: Long, maxUserId: Long, nItems: Long)

  /** [[ViewStats]] in one aggregate — computed once per view and passed
    * to every init, step and [[optimize]] call. */
  def userStats(ratings: DataFrame): ViewStats = {
    val row = ratings.agg(countDistinct(col("user_id")),
      max(col("user_id")), countDistinct(col("item_id"))).head()
    ViewStats(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  private val viewStatsMemo =
    graft.SharedBuild[(SparkSession, String), ViewStats]()()

  /** [[userStats]] of the memoized ratings view, memoized per (session,
    * dir) like the view itself: the sweep and every antidote query of a
    * session read the same three scalars. */
  def userStatsCached(spark: SparkSession, sfDir: String): ViewStats =
    viewStatsMemo((spark, sfDir))(
      userStats(Ratings.viewCached(spark, sfDir)))

  /** Item-support cap (paper §4.3 / SCALE.md sf10 forecast): restrict
    * each synthetic user's support to the `m` MOST-RATED items (ties
    * broken by item_id for determinism). The paper's X is dense k̃×m —
    * α·n·m cells, QUADRATIC in the catalog (306 M augmented rows at sf1
    * α = 0.05, 30 B at sf10 α = 0.01) — and the ONLY data-sized consumer
    * of X is the ALS re-train (the gradient/metric algebra is
    * closed-form over k-dim moments). Capping the support to the
    * highest-support items keeps the antidote rows where they touch the
    * most real users' ridge solves, which is where the per-item
    * linearization ∂v_j/∂X_aj = M_j⁻¹ u_a has the most leverage per
    * cell. TakeOrderedAndProject top-M — no global sort. */
  def topSupportItems(ratings: DataFrame, m: Int): DataFrame =
    ratings.groupBy("item_id").agg(count(lit(1)).as("__n"))
      .orderBy(col("__n").desc, col("item_id"))
      .limit(m).select("item_id")

  /** Auto-size the cap so the antidote block contributes at most
    * `maxCells` rows to the ALS train input: None (dense X, the paper's
    * exact form) while k̃·m fits, top-⌊maxCells/k̃⌋ items beyond.
    * [[maxAntidoteCells]] keeps the fixture scales exactly dense (sf0.1:
    * k̃·m ≈ 55 k) and bounds sf1 α = 0.05 (k̃ ≈ 7.5 k) to ~2 M antidote
    * cells. */
  def autoCap(stats: ViewStats, alpha: Double, maxCells: Long): Option[Int] = {
    val kTilde = math.ceil(alpha * stats.nUsers).toLong
    if (kTilde <= 0 || kTilde * stats.nItems <= maxCells) None
    else Some(math.max(1L, maxCells / kTilde).toInt)
  }

  /** [[autoCap]]'s bound on the antidote block's ALS input rows. */
  val maxAntidoteCells: Long = 2000000L

  /** The k̃ = ⌈α·n_users⌉ synthetic users (ids above the largest real id)
    * crossed with `items`, which carries the columns each rates. */
  private def syntheticUsers(spark: SparkSession, alpha: Double,
      stats: ViewStats, items: DataFrame): DataFrame =
    spark.range(1, math.ceil(alpha * stats.nUsers).toLong + 1)
      .select((lit(stats.maxUserId) + col("id")).as("user_id"))
      .crossJoin(broadcast(items))

  /** k̃ synthetic users × all items, rated by [[ratingFormula]]. */
  def init(spark: SparkSession, ratings: DataFrame, alpha: Double,
      stats: ViewStats): DataFrame =
    syntheticUsers(spark, alpha, stats, ratings.select("item_id").distinct())
      .select(col("user_id"), col("item_id"),
        ratingFormula(col("user_id"), col("item_id")).as("rating"))

  /** Heuristic antidote initializer (paper §4.3's cheap alternative to
    * gradient search): each of the k̃ synthetic users rates every item at
    * the item's MEAN observed rating (clipped to [1,5], rounded 6 dp so
    * the frame is reproducible across engines and partitionings). Rating
    * at the consensus pulls the re-factorization toward the mean
    * prediction, which shrinks prediction variance — i.e. it descends
    * polarization before any ALS-in-the-loop gradient step, at the cost
    * of ONE item-mean aggregate. Pass it as [[optimize]]'s X₀ for the
    * warm start.
    *
    * With `itemCap` (the §4.3 item-support cap, see [[topSupportItems]] /
    * [[autoCap]]) the synthetic users rate only the top-`itemCap` items by
    * support — X becomes k̃×M instead of k̃×m, bounding the ALS re-train
    * input (the only data-sized consumer of X) at any scale. None is the
    * paper's dense X. */
  def initHeuristic(spark: SparkSession, ratings: DataFrame, alpha: Double,
      stats: ViewStats, itemCap: Option[Int]): DataFrame = {
    val means = ratings.groupBy("item_id")
      .agg(round(least(lit(5.0), greatest(lit(1.0), avg(col("rating")))), 6)
        .as("rating"))
    val itemMeans = itemCap
      .map(m => means.join(topSupportItems(ratings, m), "item_id"))
      .getOrElse(means)
    syntheticUsers(spark, alpha, stats, itemMeans)
      .select(col("user_id"), col("item_id"), col("rating"))
  }

  /** Per-model memo of [[factorMoments]] (optimization r14): one Alg-1
    * polarization iteration computes the SAME model's moments twice —
    * the trace point's `polarization(model)` and the next
    * `polarizationStep(model)` — and the baseline/metric queries re-read
    * the memoized base model's moments per query. The moments are one
    * deterministic k+k² reduction per model; keying on the model instance
    * (the train memos return one instance per model) dedupes the
    * recomputation. At most 16 entries, like the train memo; the entries
    * hold driver-side k×k matrices, no blocks. */
  private val momentsMemo = graft.SharedBuild[ALSModel, Moments](cap = 16)()

  /** The user-factor count n, the mean user factor ū and the mean
    * outer-product second moment S = E[u uᵀ]. */
  final case class Moments(n: Double, uBar: DenseVector[Double],
      s: DenseMatrix[Double])

  /** [[Moments]] computed distributedly (k and k² cells — constant-size
    * reductions), memoized per model instance. */
  def factorMoments(model: ALSModel): Moments =
    momentsMemo(model)(factorMomentsUncached(model))

  private def factorMomentsUncached(model: ALSModel): Moments =
    momentsOf(momentSums(model).head(), model.rank)

  /** The one-row aggregate [[Moments]] reads over the user factors
    * (id INT, features ARRAY<FLOAT>): the count, then each coordinate's
    * sum and each upper-triangle product's sum. */
  private def momentSums(model: ALSModel): DataFrame = {
    val k = model.rank
    def e(i: Int): Column =
      element_at(col("features"), i + 1).cast(DoubleType)
    model.userFactors.select(
      (Seq(count(lit(1)).cast(DoubleType).as("n")) ++
        (0 until k).map(i => sum(e(i)).as(s"m$i")) ++
        (for (i <- 0 until k; j <- i until k) yield
          sum(e(i) * e(j)).as(s"s${i}_$j"))): _*)
  }

  /** The model's [[Moments]], summed in one action with `other`, a
    * one-row aggregate (a union of the two aggregates, each summing as it
    * does alone), and filed in the memo; with `other`'s row. */
  private def factorMomentsWith(model: ALSModel, other: DataFrame)
      : (Moments, Row) = {
    val rows = momentSums(model)
      .unionByName(other, allowMissingColumns = true).collect()
    val (others, sums) = rows.partition(r => r.isNullAt(r.fieldIndex("n")))
    (momentsMemo(model)(momentsOf(sums.head, model.rank)), others.head)
  }

  private def momentsOf(sums: Row, k: Int): Moments = {
    val n = sums.getDouble(0)
    val uBar = DenseVector.tabulate(k)(i => sums.getDouble(1 + i) / n)
    val s = DenseMatrix.zeros[Double](k, k)
    var idx = 1 + k
    for (i <- 0 until k; j <- i until k) {
      val v = sums.getDouble(idx) / n
      s(i, j) = v; s(j, i) = v
      idx += 1
    }
    Moments(n, uBar, s)
  }

  /** Polarization of the model's predictions over ALL (user,item) pairs in
    * closed form: (1/m) Σ_i [v_iᵀ S v_i − (ūᵀ v_i)²] — no n×m
    * materialization (SURVEY §2.J / D4). Fully distributed: S and ū are
    * k×k / k driver broadcasts and the per-item quadratic form is a
    * codegen'd column over itemFactors (no m×k collect — at large m the
    * old driver-side loop was the bottleneck of the Alg-1 trace). */
  def polarization(model: ALSModel): Double = {
    val Moments(_, uBar, s) = factorMoments(model)
    val k = model.rank
    def e(i: Int): Column =
      element_at(col("features"), i + 1).cast(DoubleType)
    // v'Sv over the symmetric S: diagonal terms once, off-diagonal twice.
    val quad = (for (i <- 0 until k; j <- i until k) yield
      e(i) * e(j) * lit(if (i == j) s(i, j) else 2.0 * s(i, j)))
      .reduce(_ + _)
    val mean = (0 until k).map(i => e(i) * lit(uBar(i))).reduce(_ + _)
    model.itemFactors
      .agg(avg(quad - mean * mean).as("polarization"))
      .head().getDouble(0)
  }

  /** One point of the Alg-1 trace: the optimized societal metric plus the
    * accuracy cost (RMSE on the real known cells) — the paper's
    * metric-vs-budget deliverable needs both. */
  final case class TracePoint(objective: Double, rmse: Double)

  /** The chosen metric evaluated on the ALS model, plus RMSE over the real
    * ratings — all distributed (driver sees two scalars). */
  def evaluate(model: ALSModel, ratings: DataFrame,
      metric: Metric): TracePoint =
    evaluateModel(model, ratings, metric, None).point

  /** All three societal metrics + RMSE from ONE action over the known
    * cells (plus polarization's constant-size factor-moment reduction) —
    * what a metric-vs-budget sweep should call instead of three separate
    * `evaluate`s re-deriving predictions each time. The loss action and
    * polarization share nothing but the model, so they run as concurrent
    * jobs. */
  def evaluateAll(model: ALSModel, ratings: DataFrame, groups: DataFrame,
      a: String, b: String): Map[String, TracePoint] = {
    val lu = losses(AlsEngine.predictKnown(model, ratings))
      .join(groups, Seq("user_id"), "left")
    val Seq(Left(ls), Right(pol)) = graft.Concurrently(2)(
      Seq[() => Either[LossStats, Double]](
        () => Left(evaluateLosses(lu, Some((a, b)), None)),
        () => Right(polarization(model))))
    Map(
      "polarization" -> TracePoint(pol, ls.rmse),
      "ind_unfairness" -> TracePoint(ls.indUnfairness, ls.rmse),
      "grp_unfairness" -> TracePoint(ls.grpUnfairness, ls.rmse))
  }

  /** Per-user ALS loss ℓ_u = mean squared error over the user's known
    * cells, with the cell count (needed by the gradient chain rule) and
    * the squared-error sum (RMSE is √(Σ sse / Σ n_u)). */
  private def losses(pred: DataFrame): DataFrame = {
    val sq = (col("p") - col("rating")) * (col("p") - col("rating"))
    pred.groupBy("user_id")
      .agg(avg(sq).as("l_u"), count(lit(1)).as("n_u"), sum(sq).as("sse"))
  }

  /** Everything one model's evaluation and the next step read off the
    * per-user loss frame: RMSE (unrounded and rounded to 6 dp), U_ind and
    * the U_ind step's ℓ̄ and n, U_grp and its step's per-group mean loss
    * and count (NaN / 0 without groups), and the antidote factor block
    * U_a in the factor frame's row order (empty unless asked for). */
  private[graft] final case class LossStats(rmse: Double, rmse6: Double,
      indUnfairness: Double, lBar: Double, n: Long, grpUnfairness: Double,
      lA: Double, lB: Double, nA: Long, nB: Long,
      ua: Seq[(Long, Array[Double])])

  /** [[LossStats]] from ONE action: one aggregate over `lu` (carrying a
    * `grp` column when `groupLabels` is set), followed by the rows of
    * `ua` (the antidote users' factors) when it is given — a union, so
    * the action returns the aggregate's one row and then each antidote
    * user's factor in the factor frame's row order, with no broadcast
    * job. */
  private def evaluateLosses(lu: DataFrame,
      groupLabels: Option[(String, String)],
      ua: Option[DataFrame]): LossStats = {
    val l = col("l_u")
    val rmse = sqrt(sum(col("sse")) / sum(col("n_u")))
    val base = Seq(rmse.as("rmse"), round(rmse, 6).as("rmse6"),
      var_pop(l).as("ind"), avg(l).as("l_bar"), count(lit(1)).as("n"))
    val byGroup = groupLabels.toSeq.flatMap { case (a, b) =>
      Seq(avg(when(col("grp") === a, l)).as("l_a"),
        avg(when(col("grp") === b, l)).as("l_b"),
        count(when(col("grp") === a, lit(1))).as("n_a"),
        count(when(col("grp") === b, lit(1))).as("n_b"))
    }
    val aggCols = base ++ byGroup
    val stats = lu.agg(aggCols.head, aggCols.tail: _*)
    val rows = ua.fold(stats)(u => stats.unionByName(
      u.select(col("id").cast(LongType).as("ua_id"), col("features")),
      allowMissingColumns = true)).collect()
    val row = rows.head
    val (lA, lB) =
      if (groupLabels.isEmpty) (Double.NaN, Double.NaN)
      else (row.getAs[Double]("l_a"), row.getAs[Double]("l_b"))
    LossStats(row.getAs[Double]("rmse"), row.getAs[Double]("rmse6"),
      row.getAs[Double]("ind"), row.getAs[Double]("l_bar"),
      row.getAs[Long]("n"), math.abs(lA - lB), lA, lB,
      if (groupLabels.isEmpty) 0L else row.getAs[Long]("n_a"),
      if (groupLabels.isEmpty) 0L else row.getAs[Long]("n_b"),
      rows.toSeq.filter(r => ua.nonEmpty && !r.isNullAt(r.fieldIndex("ua_id")))
        .map(r => (r.getAs[Long]("ua_id"),
          r.getAs[Seq[Float]]("features").map(_.toDouble).toArray)))
  }

  /** One model's known-cell pass and its one evaluation action. Under
    * U_grp the loss frame carries each user's `grp`. When a gradient step
    * follows (`antidoteAbove` = the largest real user id, unfairness
    * metrics only), the per-user loss frame is cached for the step to
    * read, the prediction frame also carries each cell's user factor `u`,
    * and the action also collects U_a (the factors of the users above
    * that id). The prediction frame is not cached: the step re-runs its
    * broadcast joins, which costs less than caching an R-sized frame with
    * an array column did. [[unpersist]] frees the loss frame. */
  private[graft] final class ModelEval(val pred: DataFrame, val lu: DataFrame,
      val point: TracePoint, val loss: LossStats) {
    def unpersist(): Unit = lu.unpersist()
  }

  private[graft] def evaluateModel(model: ALSModel, ratings: DataFrame,
      metric: Metric, antidoteAbove: Option[Long]): ModelEval = {
    val stepping = antidoteAbove.filter(_ => metric != Metric.Polarization)
    val known = AlsEngine.predictKnown(model, ratings)
    // joined on the INT factor id, so the plan reuses the prediction's
    // own broadcast of the user factors
    val pred = if (stepping.isEmpty) known else known
      .join(model.userFactors.as("uf"),
        col("user_id").cast(IntegerType) === col("uf.id"))
      .select(col("user_id"), col("item_id"), col("rating"), col("p"),
        col("uf.features").as("u"))
    val labels = metric match {
      case Metric.GroupUnfairness(groups, a, b) => Some((groups, a, b))
      case _ => None
    }
    val lu = labels.fold(losses(known)) { case (groups, _, _) =>
      losses(known).join(groups, Seq("user_id"), "left") }
    if (stepping.nonEmpty) lu.cache()
    val ls = evaluateLosses(lu, labels.map(g => (g._2, g._3)),
      stepping.map(mx => model.userFactors.filter(col("id") > mx)))
    val obj = metric match {
      case Metric.Polarization => polarization(model)
      case Metric.IndividualUnfairness => ls.indUnfairness
      case _: Metric.GroupUnfairness => ls.grpUnfairness
    }
    new ModelEval(pred, lu, TracePoint(obj, ls.rmse6), ls)
  }

  /** Full Alg. 1 loop from the antidote block `x0` ([[init]] or
    * [[initHeuristic]]): `steps` projected-GD iterations, each
    * re-factorizing [R; X] and descending the chosen metric. Returns the
    * final X and the (objective, rmse) trace — one point per model, so
    * metric-vs-budget AND rmse-vs-budget curves fall out of one run.
    *
    * Each iteration trains ONE ALS model on [R; X_t] and shares it between
    * the trace evaluation and the gradient linearization of the next step
    * (ALS is seeded, so the step's model would be bit-identical anyway) —
    * halving the loop's dominant cost vs the naive train-per-call shape.
    * Per model, one cached known-cell pass feeds ONE evaluation action
    * (trace point, step constants and U_a together) and the step's one
    * materialization. Under U_ind / U_grp each step reads through
    * [[stepUnfairness]]'s memo, so an iteration another caller already
    * stepped (the sweep's α = 0.01 branch is the U_grp trace's iteration
    * 0) costs no job; the returned X is then the memo's checkpoint. */
  def optimize(spark: SparkSession, ratings: DataFrame, x0: DataFrame,
      steps: Int, stats: ViewStats,
      cfg: AlsEngine.Config = AlsEngine.Config(), eta: Double = 1e4,
      metric: Metric = Metric.Polarization): (DataFrame, Seq[TracePoint]) = {
    var x = x0.cache()
    val trace = Seq.newBuilder[TracePoint]
    for (t <- 0 to steps) {
      val model = AlsEngine.trainAugmented(ratings, x, cfg)
      if (t == steps) trace += evaluate(model, ratings, metric)
      else {
        val next = metric match {
          case Metric.Polarization =>
            val ev = evaluateModel(model, ratings, metric, None)
            trace += ev.point
            val next = polarizationStep(spark, x, cfg, eta, model).cache()
            // fill the cache (one job; a count would add an aggregation
            // stage) before unpersisting the predecessor
            next.foreachPartition((_: Iterator[Row]) => ())
            next
          case m =>
            val (point, next) = stepUnfairness(ratings, x, cfg, eta, m,
              model, stats.maxUserId)
            trace += point
            next
        }
        // a no-op on the memo's checkpoints: only cache() registers a frame
        // with the CacheManager
        x.unpersist()
        x = next
      }
    }
    (x, trace.result())
  }

  /** One projected-GD step on X (Alg. 1) for the chosen metric, then
    * box-project into [1,5]. Returns the updated antidote rows. The step
    * linearizes around `model`, the ALS train of [R; X].
    *
    * The unfairness steps read through [[stepUnfairness]]'s memo and
    * return its local checkpoint, which the memo owns: callers must not
    * free it. */
  def step(spark: SparkSession, ratings: DataFrame, x: DataFrame,
      model: ALSModel, stats: ViewStats,
      cfg: AlsEngine.Config = AlsEngine.Config(), eta: Double = 1.0,
      metric: Metric = Metric.Polarization): DataFrame = metric match {
    case Metric.Polarization => polarizationStep(spark, x, cfg, eta, model)
    case m =>
      stepUnfairness(ratings, x, cfg, eta, m, model, stats.maxUserId)._2
  }

  /** The inputs one unfairness step reads besides X, which the model
    * pins: the train memo returns one model instance per content digest
    * of [R; X], so with R fixed the model fixes X. The model compares by
    * identity, the ratings and `groups` frames by semantic equality of
    * their analyzed plans ([[graft.SharedBuild.SamePlan]]), the labels, η
    * and the ALS config by value. U_ind carries no groups. */
  private[graft] final case class StepKey(model: ALSModel,
      ratings: graft.SharedBuild.SamePlan,
      groups: Option[graft.SharedBuild.SamePlan],
      labels: Option[(String, String)], eta: Double, cfg: AlsEngine.Config)

  /** Per-model memo of the unfairness step: the model's trace point and
    * the projected X_{t+1} as a local checkpoint the memo owns. The
    * sweep's α = 0.01 branch and `q_antidote_trace_grp` step the same
    * model 0, so the trace reads its iteration-0 point and X₁ from here.
    * Polarization steps have no cross-query reuse and are not memoized.
    * At most 4 entries (each X is at most [[maxAntidoteCells]] rows under
    * [[autoCap]]); evicted and cleared entries free their checkpoint. In
    * the bench's order the sweep adds two entries (α = 0.01 and 0.05)
    * and the polarization trace none, so the α = 0.01 entry is still
    * there when the U_grp trace reads it. */
  private[graft] val stepMemo =
    graft.SharedBuild[StepKey, (TracePoint, DataFrame)](cap = 4)(v =>
      graft.SharedBuild.frames(v._2))

  /** One U_ind / U_grp step on `model` = the train of [R; x]: its trace
    * point under `metric` and X_{t+1}, memoized per model. */
  private def stepUnfairness(ratings: DataFrame, x: DataFrame,
      cfg: AlsEngine.Config, eta: Double, metric: Metric,
      model: ALSModel, maxUserId: Long): (TracePoint, DataFrame) = {
    val (groups, labels) = metric match {
      case Metric.GroupUnfairness(g, a, b) => (Some(g), Some((a, b)))
      case _ => (None, None)
    }
    stepMemo(StepKey(model, new graft.SharedBuild.SamePlan(ratings),
        groups.map(new graft.SharedBuild.SamePlan(_)), labels, eta, cfg))(
      stepEvaluated(ratings, x, cfg, eta, metric, model, maxUserId))
  }

  /** [[stepUnfairness]]'s build: the model's one evaluation action, then
    * the step materialized as a local checkpoint, which also fences the
    * step's lineage (which holds a whole ALS train) out of the next
    * train's, so the two trains' shuffle files are never referenced at
    * the same time. The checkpoint's job also observes X_{t+1}'s half of
    * the next train's key ([[AlsEngine.keyedCheckpoint]]). The cached
    * per-user loss frame is freed once the new rows are materialized. */
  private def stepEvaluated(ratings: DataFrame, x: DataFrame,
      cfg: AlsEngine.Config, eta: Double, metric: Metric,
      model: ALSModel, maxUserId: Long): (TracePoint, DataFrame) = {
    val ev = evaluateModel(model, ratings, metric, Some(maxUserId))
    try (ev.point, AlsEngine.keyedCheckpoint(
      unfairnessStep(x, cfg, eta, metric, model, ev)))
    finally ev.unpersist()
  }

  /** Polarization step: descend through the ridge closed form
    * u_a = (VᵀV + λ·m·I)⁻¹ Vᵀ x_a (V fixed), then box-project into
    * [1,5].
    *
    * The m-dimensional chain ∂U/∂x_a = V A⁻¹ Vᵀ · (2/(m·n))(V u_a − V ū)
    * collapses to V·w_a with w_a = (2/(m·n)) A⁻¹ B (u_a − ū), B = VᵀV —
    * so the driver only ever touches k-dim/k×k quantities; X itself and
    * every item-dimension product stay DISTRIBUTED (Vᵀx_a is a broadcast
    * join + groupBy, the update x−η·v_i·w_a a zip_with). This is what
    * makes the step valid at 100 TB (and ~3× faster than a driver
    * round-trip of X even at sf0.1). */
  private def polarizationStep(spark: SparkSession, x: DataFrame,
      cfg: AlsEngine.Config, eta: Double, model: ALSModel): DataFrame = {
    import spark.implicits._
    val k = cfg.rank

    // B = VᵀV — k×k reduction over item factors via the typed Gram
    // aggregator (partial-aggregates map-side; merges associatively). n
    // (the user-factor count) rides on the moments, m on the Gram
    // reduction: no separate count actions, and moments the memo lacks
    // are summed in the Gram's action.
    val f = col("features")
    val gram = udaf(new graft.functions.GramAggregator(k),
      ExpressionEncoder[Seq[Float]]())
    val gramSums = model.itemFactors.agg(gram(f).as("g"),
      count(lit(1)).as("m"))
    val (moments, gm) = momentsMemo.get(model) match {
      case Some(known) => (known, gramSums.head())
      case None => factorMomentsWith(model, gramSums)
    }
    val Moments(nTot, uBar, _) = moments
    val tri = gm.getSeq[Double](gm.fieldIndex("g"))
    val m = gm.getAs[Long]("m").toDouble
    val b = DenseMatrix.zeros[Double](k, k)
    var idx = 0
    for (i <- 0 until k; j <- i until k) {
      b(i, j) = tri(idx); b(j, i) = tri(idx)
      idx += 1
    }
    val a = b + (DenseMatrix.eye[Double](k) * (cfg.regParam * m))

    // t_a = Vᵀ x_a per antidote user: broadcast-join X with item factors,
    // aggregate k weighted sums — result is k̃×k, tiny on the driver.
    val vdf = model.itemFactors
      .select(col("id").as("item_idx"), col("features"))
    val xi = x.select(col("user_id"), col("item_id"),
      col("item_id").cast(IntegerType).as("item_idx"),
      col("rating").cast(DoubleType).as("rating"))
    val tRows = xi.join(broadcast(vdf), "item_idx")
      .groupBy("user_id")
      .agg(sum(col("rating") * element_at(f, 1).cast(DoubleType)).as("t0"),
        (1 until k).map(i => sum(col("rating") *
          element_at(f, i + 1).cast(DoubleType)).as(s"t$i")): _*)
      .collect()

    val c = 2.0 / (m * nTot)
    val wRows = tRows.map { r =>
      val t = DenseVector.tabulate(k)(i => r.getDouble(1 + i))
      val ua = a \ t                       // ridge closed form
      val wa = (a \ (b * (ua - uBar))) * c // gradient coefficients
      (r.getLong(0), wa.toArray.toSeq)
    }.toSeq
    val wdf = wRows.toDF("user_id", "w")

    // Distributed update + box projection: x ← clip(x − η·(v_i·w_a), 1, 5).
    val dot = aggregate(
      zip_with(col("features"), col("w"), (p, q) => p.cast(DoubleType) * q),
      lit(0.0), (acc, v) => acc + v)
    xi.join(broadcast(vdf), "item_idx")
      .join(broadcast(wdf), "user_id")
      .select(col("user_id"), col("item_id"),
        round(least(lit(5.0), greatest(lit(1.0),
          col("rating") - lit(eta) * dot)), 6).as("rating"))
  }

  /** Unfairness step (paper Alg. 1 for U_ind / U_grp): the antidote data
    * reaches the REAL users' losses through the item factors, so the
    * linearization goes through ALS's item-side ridge stage with user
    * factors fixed:
    *
    *   v_j = M_j⁻¹ (Σ_{i∈Ω_j} R_ij u_i + Σ_a X_aj u_a),
    *   M_j = Σ_{i∈Ω_j} u_i u_iᵀ + Σ_a u_a u_aᵀ + λ(n_j + k̃)I
    *   ⇒ ∂v_j/∂X_aj = M_j⁻¹ u_a.
    *
    * With per-user loss ℓ_i and metric-specific ∂U/∂ℓ_i =: d_i, the chain
    * collapses to ∂U/∂X_aj = g_jᵀ M_j⁻¹ u_a with
    * g_j = Σ_{i∈Ω_j} (2 d_i/|Ω_i|)(p_ij − R_ij) u_i.
    *
    * Distribution of labor: per-item B_j/g_j/n_j and the k×k solve
    * M_j⁻¹ g_j are ONE groupBy(item) through [[UnfairnessItemSolve]]
    * (genuine per-key linear algebra, the documented typed-aggregator
    * exception), run INSIDE the cluster; the only driver-held state
    * is the k̃×k antidote factor block and its k×k Gram — budget-sized,
    * independent of n, m, and |ratings|. */
  private def unfairnessStep(x: DataFrame, cfg: AlsEngine.Config,
      eta: Double, metric: Metric, model: ALSModel,
      ev: ModelEval): DataFrame = {
    val k = cfg.rank

    // Antidote factor block U_a (k̃×k — budget-sized driver state),
    // collected by the model's evaluation action.
    val uaRows = ev.loss.ua
    val kTilde = uaRows.length
    val sa = DenseMatrix.zeros[Double](k, k)
    uaRows.foreach { case (_, u) =>
      for (i <- 0 until k; j <- 0 until k) sa(i, j) += u(i) * u(j)
    }

    // Per-user metric weight d_i = ∂U/∂ℓ_i, from the evaluation's
    // constant-size scalars over the cached per-user loss frame.
    val ls = ev.loss
    val dDf = metric match {
      case Metric.IndividualUnfairness =>
        val (lBar, n) = (ls.lBar, ls.n.toDouble)
        ev.lu.select(col("user_id"), col("n_u"),
          ((col("l_u") - lBar) * (2.0 / n)).as("d_u"))
      case Metric.GroupUnfairness(_, a, b) =>
        // Descend (ℓ̄_A − ℓ̄_B)² rather than |ℓ̄_A − ℓ̄_B|: identical descent
        // direction, but the magnitude is ∝ the current gap, so steps
        // self-damp near Δ = 0 instead of oscillating across the zero
        // crossing the way the constant-magnitude sign(Δ) weight does.
        val delta = ls.lA - ls.lB
        val (na, nb) = (ls.nA.toDouble, ls.nB.toDouble)
        ev.lu.select(col("user_id"), col("n_u"),
          when(col("grp") === a, 2.0 * delta / na)
            .when(col("grp") === b, -2.0 * delta / nb)
            .otherwise(0.0).as("d_u"))
      case Metric.Polarization =>
        throw new IllegalArgumentException("use polarizationStep")
    }

    // Cells with error, weight, and the rating user's factor vector (the
    // prediction pass carries it).
    val cells = ev.pred
      .join(dDf, "user_id")
      .select(col("item_id"),
        ((col("p") - col("rating")) * col("d_u") * lit(2.0) / col("n_u"))
          .as("wgt"),
        col("u"))

    // One shuffle on item_id: per item, B_j, g_j and n_j summed by one
    // kernel, which then solves w_j = M_j⁻¹ g_j.
    val solve = udaf(new UnfairnessItemSolve(k, sa.toArray, cfg.regParam,
      kTilde), ExpressionEncoder[(Double, Seq[Float])]())
    val solved = cells.groupBy("item_id")
      .agg(solve(col("wgt"), col("u")).as("w"))

    // grad_aj = u_aᵀ w_j; projected update stays fully distributed (items
    // without real cells keep their rating: left join + zero gradient).
    // X meets the solve result in a join co-partitioned on item_id: the
    // solve's size is unknown until it runs, and materializing it first
    // so the planner could broadcast it cost more jobs than it saved.
    // X's shuffle on item_id sets X_{t+1}'s row layout, which the next
    // ALS train reads. u_a comes from the user factors on the cells' join
    // key, so the plan reuses the cells' broadcast of them (a float
    // widened to double: the same values U_a holds).
    val dot = coalesce(aggregate(
      zip_with(col("ua.features"), col("w"), (p, q) => p * q),
      lit(0.0), (acc, v) => acc + v), lit(0.0))
    x.select(col("user_id"), col("item_id"),
        col("rating").cast(DoubleType).as("rating"))
      .join(solved, Seq("item_id"), "left")
      .join(model.userFactors.as("ua"),
        col("user_id").cast(IntegerType) === col("ua.id"))
      .select(col("user_id"), col("item_id"),
        round(least(lit(5.0), greatest(lit(1.0),
          col("rating") - lit(eta) * dot)), 6).as("rating"))
  }
}

/** [[Antidote]]'s per-item unfairness kernel. Over one item j's cells
  * (wgt_i, u_i) it sums, in one double buffer, the upper triangle of
  * B_j = Σ u_i u_iᵀ, the k-vector g_j = Σ wgt_i u_i and the count n_j,
  * then solves w_j = M_j⁻¹ g_j with M_j = S_a + B_j + λ(n_j + k̃)I
  * (`sa` is S_a = Σ_a u_a u_aᵀ column-major). Each cell adds the same
  * float-to-double products, in row order, that one SQL `sum` per cell
  * of B_j and g_j adds, and partial buffers merge in the order the
  * shuffle delivers them, as those sums' partials do — so every sum, and
  * the solve, keeps its bits. */
private[ml] final class UnfairnessItemSolve(k: Int, sa: Array[Double],
    lam: Double, kTilde: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      (Double, Seq[Float]), Array[Double], Seq[Double]] {

  private val tri = k * (k + 1) / 2

  override def zero: Array[Double] = new Array[Double](tri + k + 1)

  override def reduce(buf: Array[Double], cell: (Double, Seq[Float]))
      : Array[Double] = {
    val (wgt, u) = cell
    var idx = 0
    for (i <- 0 until k; j <- i until k) {
      buf(idx) += u(i).toDouble * u(j).toDouble
      idx += 1
    }
    for (i <- 0 until k) buf(tri + i) += wgt * u(i).toDouble
    buf(tri + k) += 1
    buf
  }

  override def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
    for (i <- a.indices) a(i) += b(i)
    a
  }

  override def finish(buf: Array[Double]): Seq[Double] = {
    val m = new DenseMatrix[Double](k, k, sa.clone())
    var idx = 0
    for (i <- 0 until k; j <- i until k) {
      m(i, j) += buf(idx); if (i != j) m(j, i) += buf(idx)
      idx += 1
    }
    for (i <- 0 until k) m(i, i) += lam * (buf(tri + k).toLong + kTilde)
    val w = m \ DenseVector(buf.slice(tri, tri + k))
    w.toArray.toSeq
  }

  override def bufferEncoder: Encoder[Array[Double]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
}
