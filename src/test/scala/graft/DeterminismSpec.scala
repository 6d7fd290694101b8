package graft

import graft.operators._

/** The driver's correctness gate hashes results cell-by-cell, so every
  * registered query must produce IDENTICAL rows regardless of physical
  * parallelism. This spec re-runs the historically sensitive queries
  * (double aggregation order, windows, argmin ties, global rank) under
  * two different shuffle parallelisms and requires exact equality —
  * the regression guard for the determinism contract (SURVEY §7.4).
  */
class DeterminismSpec extends SparkTestBase {

  private val sensitive = Seq(
    Aggregates.qAggGroupby, Aggregates.qAggRollup,
    Windows.qWindowRunning, Windows.qWindowNtile, Windows.qTopkPerGroup,
    Windows.qSessionizeBatch, Windows.qFunnelStages,
    Windows.qWinsorize, Windows.qCohortRetention, Windows.qLatestSnapshot,
    Windows.qDecayAvg, Aggregates.qRevenueShare,
    LlmQueries.qTfidfTopTerms, LlmQueries.qTokenRarity,
    LlmQueries.qKmeansAssign, LlmQueries.qPackSequences,
    LlmQueries.qChunkDocs,
    // analytics family: global running sums (KS), percentile cuts,
    // iterated double sums (pagerank), window-tie merges, TWAP reductions
    AnalyticsQueries.qKsTest, AnalyticsQueries.qQuantileBuckets,
    AnalyticsQueries.qPagerank, AnalyticsQueries.qMergeUpsert,
    AnalyticsQueries.qTimeWeightedAvg,
    // corr(): co-moment merge order is partitioning-dependent; the
    // round-6 mask must absorb it at any parallelism
    AnalyticsQueries.qCorrMatrix,
    // round 7: global running sum (sweep-line), iterated label joins,
    // banded minhash candidate generation, ranked-recs tie handling
    AnalyticsQueries.qIntervalOverlap, AnalyticsQueries.qCcLabelprop,
    LlmQueries.qDedupMinhashDet, MfQueries.qRecCoverage,
    PipelineQueries.qTableChecksum, LlmQueries.qDedupClustersDet,
    StreamingQueries.qStreamTopk, PipelineQueries.qFreshnessAudit,
    AnalyticsQueries.qItemCooccur, AnalyticsQueries.qTriangleCount,
    PipelineQueries.qKmvDistinct, LlmQueries.qEmbedOutlier,
    LlmQueries.qDedupContainment,
    // round 7 (cont.): GlobalRank-quartile scoring, exact-int rule
    // scores, rank×value integer sums, wide-decimal moment sums
    AnalyticsQueries.qRfm, AnalyticsQueries.qAssocRules,
    AnalyticsQueries.qGini, AnalyticsQueries.qAutocorr,
    LlmQueries.qPmiBigrams, LlmQueries.qCrossvalFolds,
    AnalyticsQueries.qDegreeHist,
    MfQueries.qNegativeSample, AnalyticsQueries.qRollingSlope,
    PipelineQueries.qCompactionPlan,
    AnalyticsQueries.qSpearman, AnalyticsQueries.qChangepoint,
    AnalyticsQueries.qMannwhitney, AnalyticsQueries.qHhi,
    AnalyticsQueries.qTtestWelch, AnalyticsQueries.qCramersV,
    AnalyticsQueries.qMutualInfo, AnalyticsQueries.qPareto,
    PipelineQueries.qTargetEncode, PipelineQueries.qWoeIv,
    PipelineQueries.qPsi,
    AnalyticsQueries.qAnova, AnalyticsQueries.qCuped,
    AnalyticsQueries.qDwellTime, AnalyticsQueries.qGraph2hop,
    LlmQueries.qZipf, LlmQueries.qBm25, LlmQueries.qMixWeights,
    EvalQueries.qAuc, EvalQueries.qLiftDeciles,
    AnalyticsQueries.qDecompose, LlmQueries.qDocEntropy,
    PipelineQueries.qSkewAudit,
    MfQueries.qNdcg, AnalyticsQueries.qStreak, AnalyticsQueries.qTopnShift,
    LlmQueries.qMediaDedup,
    // round 8: quantized-reciprocal rank sums, 1e-9-quantized JS terms,
    // percentile-cut broadcast scaling, ppm-integer calibration bins
    EvalQueries.qMrr, EvalQueries.qCalibration, LlmQueries.qJsDivergence,
    AnalyticsQueries.qOutlierIqr, Windows.qRobustScale,
    LlmQueries.qPerplexity, EvalQueries.qIpsEstimate,
    AnalyticsQueries.qChurnLabel, AnalyticsQueries.qAbSrm,
    AnalyticsQueries.qTheilSen, AnalyticsQueries.qJaccardNeighbors,
    PipelineQueries.qTCloseness, LlmQueries.qReadability,
    LlmQueries.qEmbedNorms, LlmQueries.qDedupRateBySource,
    Windows.qSessionStats, LlmQueries.qNgramNovelty, LlmQueries.qContextFit,
    LlmQueries.qQuantileNorm, LlmQueries.qNearDupEval,
    LlmQueries.qDedupThresholdSweep, AnalyticsQueries.qAbPower,
    LlmQueries.qCohensKappa, LlmQueries.qEssWeights,
    // round 7 second batch: AP@k integer-DIV sums, pairwise concordance
    // counts, exact-integer max deviations, 1e-9-quantized ln terms,
    // top-5 windowed recs + distinct popularity counts
    EvalQueries.qMapAtK, AnalyticsQueries.qKendallTau,
    AnalyticsQueries.qGrubbs, AnalyticsQueries.qDiffInDiff,
    AnalyticsQueries.qAdamicAdar, MfQueries.qPopBias,
    // round 7 third batch: user-keyed lag windows, bounded-grid
    // interpolation, run-length signs, wedge-closure counts, GlobalRank
    // checkpoint sums
    PipelineQueries.qLagFeatures, AnalyticsQueries.qResampleInterp,
    AnalyticsQueries.qRunsTest, AnalyticsQueries.qClusteringCoeff,
    LlmQueries.qTypeTokenRatio, LlmQueries.qVocabGrowth,
    // round 7 fourth batch: DIV-quantized hazard increments, lag-gap
    // windows, co-occurrence rec scoring ties, cross-multiplied CDF sums
    AnalyticsQueries.qHazardRate, AnalyticsQueries.qOrderGapStats,
    AnalyticsQueries.qBasketStats, AnalyticsQueries.qDisorderAudit,
    MfQueries.qUserRecsCf, LlmQueries.qEmdSources,
    // round 7 fifth batch: stacked-feature moment sums, nearest-rank
    // selections, rolling integer co-moments, HITS path counts,
    // inverted-index intersections
    EvalQueries.qFeatureCorrTarget, AnalyticsQueries.qPercentileProfile,
    AnalyticsQueries.qNewVsReturning, AnalyticsQueries.qRollingCorr,
    AnalyticsQueries.qHitsRank, LlmQueries.qSourceOverlap,
    // round 7 sixth batch: quantized bias-baseline chains, first-sale
    // conditional splits, segment-keyed growth lags
    MfQueries.qRatingBaseline, AnalyticsQueries.qColdStartItems,
    AnalyticsQueries.qMomGrowth,
    // round 7 seventh batch: quantized log-odds ranks, shingle tf-idf
    // integer dots, running-max attribution windows
    LlmQueries.qLogOddsTerms, LlmQueries.qTfidfCosinePairs,
    AnalyticsQueries.qConversionLag,
    // round 7 eighth batch: quantized MAPE terms, pooled-moment effect
    // sizes, GlobalRank deciles, FK-chain semi-join counts, exact-log2
    // buckets
    AnalyticsQueries.qForecastSnaive, AnalyticsQueries.qEffectSize,
    AnalyticsQueries.qLorenzCurve, PipelineQueries.qErasureAudit,
    LlmQueries.qShingleDfProfile,
    // round 7 ninth batch: integer-DIV rank fusion over TakeOrdered
    // sets, argmin cluster assignment + cosine verdicts, HOF integer
    // fertility sums
    LlmQueries.qRrfFusion, LlmQueries.qSemdedup,
    LlmQueries.qTokenizerFertility,
    // round 7 tenth batch: suffix-sum at-risk grids + DECIMAL(38) DIV
    // terms, integer BH step-up, closed-form CUSUM prefix windows,
    // hash-Poisson resample weights, quantized-ln co-moments
    AnalyticsQueries.qLogrankTest, AnalyticsQueries.qFdrBh,
    AnalyticsQueries.qCusum, AnalyticsQueries.qBootstrapCi,
    AnalyticsQueries.qPriceElasticity,
    // round 7 eleventh batch: iterative peel sweeps, customer-partition
    // lag ledgers, struct-sorted SAX folds
    AnalyticsQueries.qKcore, AnalyticsQueries.qGrowthAccounting,
    AnalyticsQueries.qSaxSymbols,
    // round 7 twelfth batch: depth-grid RBO integer terms, bounded
    // k-list silhouette sorts, chained stage-join funnels
    LlmQueries.qRankOverlap, LlmQueries.qSilhouette,
    AnalyticsQueries.qFunnelWindowed,
    // round 7 thirteenth batch: largest-remainder integer allocation,
    // content-hash keeper argmax, minimax PAV lattice
    PipelineQueries.qNeymanAlloc, LlmQueries.qDedupCanonical,
    EvalQueries.qIsotonic,
    // round 7 fourteenth batch: pre-quantized llr running sums, seeded
    // teleport iterations, hash-PRNG noise, mod-bucket collision counts
    AnalyticsQueries.qSprt, AnalyticsQueries.qPpr,
    PipelineQueries.qDpCount, LlmQueries.qFeatureHashing,
    // round 7 fifteenth batch: 4th-moment DECIMAL(38) sums, median-
    // centered integer ANOVA, GlobalRank per-group trim offsets
    StatQueries.qJarqueBera, StatQueries.qLevene,
    StatQueries.qTrimmedMean,
    // round 7 sixteenth batch: per-group/pooled co-moment splits,
    // vertex-keyed degree joins over a unioned edge list
    StatQueries.qSimpsons, StatQueries.qAssortativity,
    // round 7 seventeenth batch: source-keyed shingle df aggs,
    // ·10⁹-quantized information terms over windowed rec candidates
    CurationQueries.qBoilerplate, CurationQueries.qNoveltyRecs,
    // round 7 eighteenth batch: ·10⁹ entropy terms, ·10⁶ stratum
    // round-sums, nine-way DECIMAL(38) co-moment single pass
    AnalyticsQueries.qTheilsU, StatQueries.qCmhTest,
    StatQueries.qPartialCorr,
    // round 7 nineteenth batch: windowed KM crossings, ·10³ index
    // terms, day-domain count moments, hash-seeded mask explodes
    AnalyticsQueries.qSurvivalMedian, AnalyticsQueries.qPriceIndex,
    StatQueries.qDispersion, CurationQueries.qMaskPlan,
    // round 7 twentieth batch: composite-rank decile picks, stacked
    // frequency windows, first-token entropy quantization
    StatQueries.qQqDeciles, StatQueries.qNearZeroVar,
    StatQueries.qFirstTokenDist,
    // round 7 twenty-first batch: global-rank KW, quantized-log Hill,
    // integer-weight EWMA, top-k skipgram ordering
    StatQueries.qKruskalWallis, StatQueries.qHillTail,
    StatQueries.qEwmaChart, CurationQueries.qSkipgramCooccur,
    // round 7 twenty-second batch: block-rank Friedman, co-moment
    // Granger/Ljung-Box assemblies, quantized Cook's-D TakeOrdered
    StatQueries.qFriedman, StatQueries.qGranger,
    StatQueries.qLjungBox, StatQueries.qCooksDistance,
    // round 7 twenty-third batch: integer-p9 step-down, quantized
    // power iteration, caliper-cell means, KN continuation counts
    StatQueries.qHolmBonferroni, StatQueries.qExtremeValue,
    StatQueries.qCemMatch, StatQueries.qMarkovEntropy,
    CurationQueries.qKneserNey,
    // round 7 twenty-fourth batch: composite-rank GAUC, count-of-count
    // spectra, integer BT iterations, lag-join variance ratios
    EvalQueries.qAucByGroup, CurationQueries.qGoodTuring,
    StatQueries.qVarianceRatio, StatQueries.qRichClub,
    StatQueries.qBradleyTerry,
    // round 7 twenty-fifth batch: quantized SHAP TakeOrdered, hash-split
    // A/A panel, centroid-blocked cross-lingual pairs
    ExplainQueries.qShapLinear, ExplainQueries.qFeatureImportance,
    ExplainQueries.qRidgePath, StatQueries.qAaCalibration,
    CurationQueries.qCrosslingualDups,
    // round 7 twenty-sixth batch: rounded-residual integer sums (DW/BP),
    // GlobalRank signed ranks, quantized ln/χ² panel terms, bounded
    // pair-max drawdown, rolling integer band sums
    DiagQueries.qDurbinWatson, DiagQueries.qBreuschPagan,
    DiagQueries.qChowTest, DiagQueries.qBartlett, DiagQueries.qChi2Gof,
    DiagQueries.qWilcoxonSigned, DiagQueries.qMaxDrawdown,
    DiagQueries.qRsi, DiagQueries.qBollinger, DiagQueries.qPacf,
    // round 7 twenty-seventh batch: cumulative decile panels, DECIMAL(38)
    // CDF-gap argmax, ·10⁶ bin terms, xlx collocation ranks, cluster-
    // blocked train×test verdicts, vertex-keyed degree joins, planted-
    // jitter bucket cumulatives
    EvalQueries.qPrCurve, EvalQueries.qKsModel, EvalQueries.qBrierDecomp,
    LlmQueries.qLlrBigrams, LlmQueries.qHapaxRatio,
    LlmQueries.qDecontaminateEmbed,
    AnalyticsQueries.qPrefAttach, AnalyticsQueries.qAvgNbrDegree,
    PipelineQueries.qDpSum, PipelineQueries.qWatermarkPlan,
    // round 7 twenty-eighth batch: median-pivot contingency quantization,
    // one-pass block-flag moments
    StatQueries.qMoodsMedian, StatQueries.qCochranQ,
    // round 7 twenty-ninth batch: quantized ESD argmax rounds, holdout
    // error-term sums, integer RAKE phrase scores
    StatQueries.qAnomalyEsd, EvalQueries.qRegressionMetrics,
    CurationQueries.qRakeKeywords, CurationQueries.qBlocklistAudit,
    // round 7 thirtieth batch: bounded-pool MMR argmax rounds, GlobalRank
    // ntile phase cuts
    LlmQueries.qMmrSelect, LlmQueries.qCurriculumOrder,
    // round 7 thirty-first batch: exact-int prefix/spectral sums,
    // quantized Welch weights, pooled-MSE pair panels
    DiagQueries.qKpssTest, DiagQueries.qPeriodogram,
    DiagQueries.qSpectralEntropy, DiagQueries.qWelchAnova,
    DiagQueries.qTukeyHsd,
    // round 7 thirty-second batch: quantized χ²/entropy cell terms,
    // bounded-grid prefix argmin, co-moment VIF panel, per-user DIV means
    EvalQueries.qChi2FeatureSelect, EvalQueries.qInfoGain,
    EvalQueries.qDecisionStump, EvalQueries.qCramersMatrix,
    EvalQueries.qVif, MfQueries.qIldRecs,
    // round 7 thirty-third batch: fixed-horizon path doubling, per-round
    // re-quantized power iteration, integer walk counts, modularity DIVs
    GraphQueries.qClosenessCentrality, GraphQueries.qEigenvectorCentrality,
    GraphQueries.qKatzCentrality, GraphQueries.qModularityRegions,
    // round 7 thirty-fourth batch: cell-grid pair products, quantized
    // user-entropy sums, GlobalRank deciles, quantized smoothing weights
    ProfileQueries.qCIndex, ProfileQueries.qUserEntropy,
    ProfileQueries.qExpSmooth, ProfileQueries.qKendallW,
    // round 7 thirty-fifth batch: z-score quantization, quantized HOF
    // audits, integer PageRank rounds on the vocab graph
    LlmQueries.qBurrowsDelta, LlmQueries.qEmbedQuantizeAudit,
    LlmQueries.qTextrank, PipelineQueries.qDpHistogram,
    // round 7 thirty-sixth batch: integer decomposition variances,
    // sorted-window medians, cell-grid pair scores, blocking pair counts
    DiagQueries.qDecompStrength, DiagQueries.qHampelFilter,
    StatQueries.qGehanWilcoxon, StatQueries.qMixRateDecomp,
    PipelineQueries.qBlockingStats,
    // round 7 thirty-seventh batch: decimal step-up compares, rolling
    // burn windows, integer effect rankings, exact-DIV MASE
    StatQueries.qBenjaminiYekutieli, StatQueries.qBurnRate,
    StatQueries.qDeltaAttribution, StatQueries.qForecastMase,
    // round 7 thirty-eighth batch: quantized residual screens, ppm
    // profile distances, within-transform panels, selectivity ratios
    DiagQueries.qResidualOutliers, DiagQueries.qYearSimilarity,
    StatQueries.qPanelFe, PipelineQueries.qSelectivityCorr,
    Relational.qJoinAsofFwd,
    // round 7 thirty-ninth batch: split anti-joins, offset-DIV
    // centroids, run-length islands
    LlmQueries.qNgramCoverage, LlmQueries.qTokenRuns,
    LlmQueries.qCentroidDrift,
    // round 7 fortieth batch: quantized segment SSE argmins, sweep-line
    // running sums, per-priority rank percentiles
    DiagQueries.qChangepointTwo, ProfileQueries.qConcurrencyProfile,
    ProfileQueries.qCycleTime,
    // round 7 forty-first batch: per-dim quantized moments, fenced
    // factorial cells, integer trend scores
    LlmQueries.qEmbedDimStats, LlmQueries.qChunkDedup,
    StatQueries.qTwoWayAnova, StatQueries.qPropTrend,
    // round 7 forty-second batch: GlobalRank rank diffs, seeded
    // sign-flip fan-outs, ppm IRLS weights
    StatQueries.qXiCorrelation, StatQueries.qPermutationTest,
    StatQueries.qHuberLocation,
    // round 7 forty-third batch: quantized rank-regression coords,
    // shrinkage integer DIVs
    StatQueries.qWeibullFit, StatQueries.qEbShrinkage,
    // round 8 first batch: quantized-ln NMI cells over the centroid
    // argmin partition, type-keyed trigram interpolation log sums
    LlmQueries.qClusterPurity, LlmQueries.qTrigramLm,
    // round 8 second batch: dual-window rank intersection counts
    LlmQueries.qAnnRecall,
    // round 8 third batch: fenced multi-detector set unions, quantized
    // exponential-mechanism weights over the bounded candidate grid
    LlmQueries.qDedupDetectorOverlap, PipelineQueries.qDpQuantile,
    // round 8 fourth batch: trailing-window islands, integer power
    // rounds with DECIMAL(38) Rayleigh sums
    AnalyticsQueries.qRateBursts, LlmQueries.qEmbedAnisotropy)

  test("sensitive queries are exactly invariant to shuffle parallelism") {
    val conf = spark.conf
    val orig = conf.get("spark.sql.shuffle.partitions")
    try {
      // memoized views/models/stores materialize under the FIRST conf
      // and would silently defeat the sweep for any query that touches
      // them — clear every memo at each flip so every derivation is under
      // its own conf
      def clearMemos(): Unit = SharedBuild.clearAll()
      sensitive.foreach { q =>
        conf.set("spark.sql.shuffle.partitions", "5")
        clearMemos()
        val a = q.run(spark, sf).collect().map(_.toString).toSeq
        conf.set("spark.sql.shuffle.partitions", "13")
        clearMemos()
        val b = q.run(spark, sf).collect().map(_.toString).toSeq
        assert(a == b, s"${q.name}: results differ across partitionings")
        assert(a.nonEmpty, s"${q.name}: empty result")
      }
    } finally conf.set("spark.sql.shuffle.partitions", orig)
  }
}
