package graft.ml

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{CurrentDate,
  CurrentTimestampLike, LocalTimestamp}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Matrix-factorization engine: MLlib blocked ALS, the distributed
  * counterpart of the reference's per-user/per-item ridge loop (paper
  * §3.1 masked least squares — identical objective, block-parallel
  * solver).
  */
object AlsEngine {

  case class Config(rank: Int = 8, regParam: Double = 0.1, maxIter: Int = 10,
      seed: Long = 42L)

  /** Memoized model per (session, sfDir, cfg): the train/predict/metric
    * queries all need the identical deterministic model — retraining per
    * query would triple the ALS cost in a bench run. Assumes immutable
    * fixture data under sfDir; [[clearCache]] resets. Bench bills the
    * first training as its own `warm:` line (see Bench.scala). Keyed by
    * session as well as dir: the model's factor frames belong to the
    * session that trained it, so a later session on the same dir must
    * retrain, not inherit frames from a stopped context.
    *
    * The memoized model is lineage-FENCED
    * ([[org.apache.spark.ml.recommendation.GraftAlsLineage.fence]]):
    * factor values are bit-identical, but the factors are re-rooted on
    * localCheckpoints so the memo stops pinning the training job's
    * shuffle files for the whole session (~15–20 GB at sf10 — the r14
    * sweep-wall finding). The memo owns the checkpoint blocks, so the
    * bench's per-query release pass cannot free a truncated-lineage frame
    * mid-run. */
  private def factorBlocks(m: ALSModel): graft.SharedBuild.Owned =
    graft.SharedBuild.frames(m.userFactors, m.itemFactors)

  private val models = graft.SharedBuild[
    (org.apache.spark.sql.SparkSession, String, Config), ALSModel]()(
    factorBlocks)

  def trainCachedOnRatingsView(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, cfg: Config = Config()): ALSModel =
    models((spark, sfDir, cfg)) {
      // built here, not through the train memo: this memo alone owns the
      // base model's two factor checkpoints, so the train memo's cap can
      // never free them under a live entry
      val view = Ratings.viewCached(spark, sfDir)
      val (_, n) = digestBounds(view, "train")
      val m = fit(view, cfg, None, n)
      // the unfenced model and its train shuffles are now dead
      // references — reclaim the scratch before the next consumer
      // piles its own on top (scale-gated: at bench rungs the scratch
      // is MBs and the forced full GC costs more than it frees)
      graft.ScratchGc.maybe(n)
      m
    }

  /** Drop memoized models (cold benchmarking / data changed) and hand
    * their checkpoint blocks back to the storage layer. */
  def clearCache(): Unit = { models.clear(); trains.clear(); digests.clear() }

  /** Content-digest-keyed memo of seeded trains (optimization r14): the
    * antidote family trains several BIT-IDENTICAL models per run — the
    * sweep's α=0.01 heuristic-init train is also the grp and ind traces'
    * iteration-0 model, and the sweep's post-GD α=0.01 train re-appears
    * as the grp trace's iteration-1 model (each site builds the same
    * augmented frame from the same memoized ratings view and the same
    * deterministic antidote expressions, and ALS is seeded). Keying on
    * the input's content digest — two independent 64-bit hash sums plus
    * count and id bounds, folded into the bounds aggregate train()
    * already pays — shares one train across those sites with zero
    * numerics risk: a false hit needs a 128-bit digest collision between
    * different rating multisets. Hits return the lineage-FENCED model
    * (values bit-identical; see [[GraftAlsLineage]]), so memo entries
    * hold MB-sized checkpoints, never training shuffles. Two different
    * keys train concurrently (the sweep's independent budgets overlap
    * under guide §2.6's independent-jobs rule); at most 16 entries, and
    * evicted and cleared entries hand their checkpoint blocks back. */
  private type TrainKey = (org.apache.spark.sql.SparkSession, String,
    Long, Long, Long, java.math.BigDecimal, java.math.BigDecimal, Config)

  private val trains =
    graft.SharedBuild[TrainKey, ALSModel](cap = 16)(factorBlocks)

  /** The [[digestBounds]] row each trained frame was first keyed by,
    * found by the frame's analyzed plan (a semantic-hash bucket, then
    * `sameSemantics`). A frame whose plan is here and whose train entry
    * is still in [[trains]] gets its fenced model with no Spark job: the
    * Alg. 1 trace re-trains [R; X₀] and [R; X₁] the α-sweep already
    * trained, over the same cached view and the step memo's X₁.
    *
    * Why a plan hit cannot be false: equal analyzed plans read the same
    * sources through the same expressions. The sources are immutable
    * fixture files and local checkpoints (a checkpoint leaf compares by
    * its RDD instance, whose blocks never change and whose lineage is
    * cut, so it cannot be recomputed into other rows), so a plan that
    * holds only deterministic expressions yields the same row multiset
    * every time it runs — the same content digest, so the same key the
    * digest pass would compute. Every `SharedBuild` memo keyed on
    * (session, dir) already rests on the immutable-files half of this.
    * Row ORDER may differ between runs of one plan (a cached and an
    * uncached read), but the content key ignores order too, so a plan hit
    * returns exactly the model a content hit would. [[replayable]] keeps
    * the other plans, and a hit whose train entry the cap has evicted,
    * on the digest pass with its id-range and empty-input checks. The
    * entries hold analyzed plans and digest rows only, no blocks. */
  private val digests =
    graft.SharedBuild[graft.SharedBuild.SamePlan, Row](cap = 16)()

  /** Whether a rerun of the frame's plan must yield its rows again: no
    * nondeterministic expression (`rand()`, `monotonically_increasing_id`,
    * …) and no reading of the clock, which an analyzed plan holds
    * unevaluated. */
  private def replayable(df: DataFrame): Boolean = {
    val p = df.queryExecution.analyzed
    p.deterministic && !p.exists(_.expressions.exists(_.exists {
      case _: CurrentTimestampLike | _: CurrentDate | _: LocalTimestamp => true
      case _ => false
    }))
  }

  /** Size ALS's block count to the input: MLlib's default of 10 blocks
    * packs ~n/10 ratings into each in-block's primitive arrays, which at
    * 300 M+ augmented ratings (the antidote's dense k̃×m matrix at sf1)
    * overflows a single JVM during the java-serialized block shuffle —
    * the round-10 scale-ladder's one measured OOM. ~2 M ratings per
    * block bounds per-block state regardless of input size. Block count
    * CHANGES the seeded factor initialization, so it must stay at the
    * MLlib default for every fixture-scale input (≤ 20 M keeps all
    * driver SFs at 10 blocks) or the oracle-pinned model hashes would
    * drift. */
  private def sizedBlocks(n: Long): Int =
    math.max(10, math.min(256, (n / 2000000L).toInt))

  /** The two content-digest columns of [[digestBounds]]: independent
    * 64-bit hash streams over the CANONICAL cell types (long ids, float
    * rating — what ALS actually consumes), summed as DECIMAL(38,0) so
    * the fold is order-independent and can never overflow. */
  private def digestCols: Seq[Column] = {
    val dec38 = DecimalType(38, 0)
    val u = col("user_id").cast(LongType)
    val i = col("item_id").cast(LongType)
    val r = col("rating").cast(FloatType)
    Seq(sum(xxhash64(u, i, r).cast(dec38)),
      sum(xxhash64(lit(1L), r, i, u).cast(dec38)))
  }

  /** One pass over the input: id bounds + count (the preexisting range
    * check) plus the two train-memo digest sums. */
  private def digestBounds(ratings: DataFrame, what: String)
      : (Row, Long) = {
    val aggCols = Seq(
      max(abs(col("user_id").cast(LongType))),
      max(abs(col("item_id").cast(LongType))),
      count(lit(1))) ++ digestCols
    val bounds = ratings.agg(aggCols.head, aggCols.tail: _*).head()
    // max over zero rows is SQL NULL — getLong(0) would NPE with a
    // message pointing nowhere; fail with the actual problem instead.
    require(bounds.getLong(2) > 0, s"AlsEngine.$what: empty ratings input")
    require(bounds.getLong(0) <= Int.MaxValue &&
      bounds.getLong(1) <= Int.MaxValue,
      s"ids exceed Int range (user ${bounds.getLong(0)}, item " +
        s"${bounds.getLong(1)}) — use AlsEngine.trainCompacted")
    (bounds, bounds.getLong(2))
  }

  private def memoKey(ratings: DataFrame, bounds: Row,
      kind: String, cfg: Config): TrainKey =
    (ratings.sparkSession, kind, bounds.getLong(0), bounds.getLong(1),
      bounds.getLong(2), bounds.getDecimal(3), bounds.getDecimal(4), cfg)

  /** Train on ratings(user_id BIGINT, item_id BIGINT, rating DOUBLE).
    * ALS wants int ids; ids outside Int range FAIL LOUDLY here (the cast
    * would otherwise wrap silently) — route big id spaces through
    * `trainCompacted`. */
  def train(ratings: DataFrame, cfg: Config = Config()): ALSModel =
    memoized(ratings, cfg, None)

  /** Implicit-feedback ALS (Hu-Koren-Volinsky): the rating column is a
    * CONFIDENCE signal, not a value to reproduce — the factorization fits
    * binary preference weighted by 1 + α·confidence. The variant every
    * view/click/dwell pipeline uses when no explicit ratings exist; same
    * id contract and determinism (fixed seed) as `train`. */
  def trainImplicit(ratings: DataFrame, cfg: Config = Config(),
      alpha: Double = 1.0): ALSModel =
    memoized(ratings, cfg, Some(alpha))

  /** The one train body: a frame already trained under this plan
    * returns its memoized model ([[digests]]); otherwise one bounds+digest
    * pass (id-range check, block sizing and the memo key), then the
    * fenced [[fit]] through the train memo. `implicitAlpha` selects
    * implicit feedback. */
  private def memoized(ratings: DataFrame, cfg: Config,
      implicitAlpha: Option[Double]): ALSModel = {
    val kind = implicitAlpha.fold("explicit")(a => s"implicit:$a")
    val plan = Option.when(replayable(ratings))(
      new graft.SharedBuild.SamePlan(ratings))
    plan.flatMap(digests.get)
      .flatMap(b => trains.get(memoKey(ratings, b, kind, cfg)))
      .getOrElse {
        val (bounds, n) = digestBounds(ratings,
          implicitAlpha.fold("train")(_ => "trainImplicit"))
        plan.foreach(p => digests(p)(bounds))
        trains(memoKey(ratings, bounds, kind, cfg))(
          fit(ratings, cfg, implicitAlpha, n))
      }
  }

  /** The seeded ALS fit of `n` ratings, lineage-fenced. */
  private def fit(ratings: DataFrame, cfg: Config,
      implicitAlpha: Option[Double], n: Long): ALSModel = {
    val blocks = sizedBlocks(n)
    // ALS's iterative lineage needs periodic checkpoints (checkpointInterval
    // is silently a no-op without a checkpoint dir) — without this, deep
    // iteration counts overflow task stacks on serialization.
    val sc = ratings.sparkSession.sparkContext
    if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir("target/checkpoints")
    val prepared = ratings.select(
      col("user_id").cast(IntegerType).as("user"),
      col("item_id").cast(IntegerType).as("item"),
      col("rating").cast(FloatType).as("rating"))
    val als = new ALS()
      .setRank(cfg.rank)
      .setRegParam(cfg.regParam)
      .setMaxIter(cfg.maxIter)
      .setSeed(cfg.seed)
      .setNumUserBlocks(blocks).setNumItemBlocks(blocks)
      .setUserCol("user").setItemCol("item").setRatingCol("rating")
      .setColdStartStrategy("drop")
    org.apache.spark.ml.recommendation.GraftAlsLineage.fence(
      implicitAlpha.fold(als)(a => als.setImplicitPrefs(true).setAlpha(a))
        .fit(prepared))
  }

  /** Stable dense id dictionary: original id → contiguous INT index,
    * assigned in id order via the two-pass range-partitioned global row
    * number (no single-task window, no driver collect). The compaction
    * seam for id spaces beyond 2^31 — MLlib ALS requires Int ids, and the
    * plain cast in `train` silently corrupts larger keys. */
  def idDictionary(df: DataFrame, idCol: String, nParts: Int = 32): DataFrame = {
    val (ranked, n) = graft.plans.GlobalRank.withGlobalRowNumber(
      df.select(col(idCol)).distinct(), "__idx", nParts, col(idCol))
    require(n <= Int.MaxValue, s"distinct $idCol count $n exceeds Int range")
    ranked.select(col(idCol), (col("__idx") - 1).cast(IntegerType).as("idx"))
  }

  /** Train over arbitrary Long id spaces: compact user/item ids through
    * dense dictionaries, fit ALS on the Int indexes, and re-key the factor
    * frames back to the ORIGINAL ids. Returns (model, userFactorsById,
    * itemFactorsById) where the factor frames carry `user_id` / `item_id`
    * BIGINT columns. */
  def trainCompacted(ratings: DataFrame, cfg: Config = Config())
      : (ALSModel, DataFrame, DataFrame) = {
    // r15: the two dictionaries are each consumed twice (compaction
    // join + factor re-key), and every consumption re-ran the GlobalRank
    // bucketed pass; their builds are independent chains of small eager
    // jobs that serialized. One
    // localCheckpoint each (dictionary-sized: one row per distinct id —
    // exactly what a production compaction materializes) and the two
    // builds overlap as concurrent jobs (guide §1.2, §2.6). Values are
    // unchanged: the dictionaries are deterministic and the checkpoint
    // only fences lineage.
    val Seq(uDict, iDict) = graft.Concurrently(2)(Seq("user_id", "item_id")
      .map(c => () => idDictionary(ratings, c).localCheckpoint()))
    val compacted = ratings
      .join(uDict.withColumnRenamed("idx", "__u"), "user_id")
      .join(iDict.withColumnRenamed("idx", "__i"), "item_id")
      .select(col("__u").cast(LongType).as("user_id"),
        col("__i").cast(LongType).as("item_id"), col("rating"))
    val model = train(compacted, cfg)
    val uf = model.userFactors
      .join(uDict, model.userFactors("id") === uDict("idx"))
      .select(col("user_id"), col("features"))
    val itf = model.itemFactors
      .join(iDict, model.itemFactors("id") === iDict("idx"))
      .select(col("item_id"), col("features"))
    (model, uf, itf)
  }

  /** Fold-in: factors for NEW users from a trained model's item factors,
    * without retraining — the cold-start path of a production recommender
    * (ALS retrains nightly; sessions that arrived since fold in live).
    * Solves the same per-user ridge system ALS's user half-step solves,
    * with MLlib's ALS-WR weighting (λ scaled by the user's rating count):
    *
    *   u_a = (YᵀY + λ n_a I)⁻¹ Yᵀ r_a   over the items Y the user rated
    *
    * Distributed shape: broadcast-join ratings with item factors, ONE
    * user-keyed aggregate of the rank×rank upper triangle + rank-vector
    * right-hand side (bounded payload per user regardless of history),
    * then a typed map solves the tiny system per user — the same
    * per-key-ridge pattern as Antidote's item-side step. Users whose
    * final ALS half-step computed user factors reproduce the model's own
    * factors to float precision (pinned in MfSpec).
    *
    * Returns (user_id BIGINT, features ARRAY<DOUBLE>). */
  def foldInUsers(model: ALSModel, ratings: DataFrame,
      regParam: Double = Config().regParam): DataFrame = {
    val spark = ratings.sparkSession
    import spark.implicits._
    val k = model.rank
    val vdf = model.itemFactors.select(col("id").as("item_idx"),
      col("features").as("u"))
    val cells = ratings.select(
        col("user_id").cast(LongType).as("user_id"),
        col("item_id").cast(IntegerType).as("item_idx"),
        col("rating").cast(DoubleType).as("rating"))
      .join(broadcast(vdf), "item_idx")
    def e(i: Int): Column = element_at(col("u"), i + 1).cast(DoubleType)
    val triNames = for (i <- 0 until k; j <- i until k) yield s"b${i}_$j"
    val aggCols =
      (for (i <- 0 until k; j <- i until k)
        yield sum(e(i) * e(j)).as(s"b${i}_$j")) ++
      (0 until k).map(i => sum(col("rating") * e(i)).as(s"g$i")) :+
      count(lit(1)).as("na")
    val userAgg = cells.groupBy("user_id").agg(aggCols.head, aggCols.tail: _*)
    userAgg.select(col("user_id"),
        array(triNames.map(col): _*).as("btri"),
        array((0 until k).map(i => col(s"g$i")): _*).as("g"),
        col("na"))
      .as[(Long, Seq[Double], Seq[Double], Long)]
      .map { case (user, bTri, gv, na) =>
        val m = breeze.linalg.DenseMatrix.zeros[Double](k, k)
        var idx = 0
        for (i <- 0 until k; j <- i until k) {
          m(i, j) += bTri(idx); if (i != j) m(j, i) += bTri(idx)
          idx += 1
        }
        for (i <- 0 until k) m(i, i) += regParam * na
        val u = m \ breeze.linalg.DenseVector(gv.toArray)
        (user, u.toArray.toSeq)
      }
      .toDF("user_id", "features")
  }

  /** Fold-in predictions on known cells: dot(folded user factor, item
    * factor) per rated cell — broadcast item factors, one zip_with/
    * aggregate dot, no shuffle beyond the user-keyed factor join. */
  def foldInPredict(model: ALSModel, ratings: DataFrame,
      regParam: Double = Config().regParam): DataFrame = {
    val uf = foldInUsers(model, ratings, regParam)
    val vdf = model.itemFactors.select(col("id").as("item_idx"),
      col("features").as("v"))
    ratings.select(col("user_id").cast(LongType).as("user_id"),
        col("item_id").cast(IntegerType).as("item_idx"),
        col("rating").cast(DoubleType).as("rating"))
      .join(broadcast(vdf), "item_idx")
      .join(uf, "user_id")
      .select(col("user_id"), col("item_idx").cast(LongType).as("item_id"),
        col("rating"),
        aggregate(zip_with(col("features"), col("v"),
            (p, q) => p * q.cast(DoubleType)),
          lit(0.0), (acc, v) => acc + v).as("p"))
  }

  /** Predictions for the known cells (long form — never the dense n×m). */
  def predictKnown(model: ALSModel, ratings: DataFrame): DataFrame =
    model.transform(ratings.select(
      col("user_id").cast(IntegerType).as("user"),
      col("item_id").cast(IntegerType).as("item"),
      col("rating").cast(FloatType).as("rating")))
      .select(col("user").cast(LongType).as("user_id"),
        col("item").cast(LongType).as("item_id"),
        col("rating").cast(DoubleType).as("rating"),
        col("prediction").cast(DoubleType).as("p"))

  /** RMSE of the model on the given cells. */
  def rmse(model: ALSModel, ratings: DataFrame): DataFrame =
    predictKnown(model, ratings)
      .agg(round(sqrt(avg((col("rating") - col("p")) *
        (col("rating") - col("p")))), 6).as("rmse"))
}
